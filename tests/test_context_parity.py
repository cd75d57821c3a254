"""One document, read the same through every mode's Python context.

A two-argument validator on ``meta.lang`` and an autoValue on ``copy``
report what ``field()``, ``sibling_field()`` and ``parent_field()`` return
for the document ``{"meta": {"lang": "en"}, "title": "x"}``, held as a
typed row, as a JSON document (validator only: JSON documents are not
cleaned) and as modifier rows (``$set meta {"lang": "en"}``, ``$set title
"x"``).  Every mode must read the same values, and a validator on the
object key ``meta`` must get the same object.
"""

import json

import pytest

from simpl_schema_spark.cleaning import clean
from simpl_schema_spark.jsondoc import validate_json_column
from simpl_schema_spark.modifiers import clean_modifier_table, validate_modifier_table
from simpl_schema_spark.schema import SimpleSchema
from simpl_schema_spark.validation import violations_table

MOD_DDL = "doc_id bigint, op string, key_path string, value string, upsert boolean"

VALIDATOR_READS = {"lang": "en", "sibling": "en", "parent": {"lang": "en"}, "title": "x"}
AUTO_VALUE_READS = {"lang": "en", "sibling": "x", "parent": None}


def _schema():
    # local closures: cloudpickle ships them by value to the executors
    def probe_validator(value, ctx):
        import json as _j

        return _j.dumps({
            "lang": ctx.field("meta.lang"),
            "sibling": ctx.sibling_field("lang"),
            "parent": ctx.parent_field(),
            "title": ctx.field("title"),
        }, sort_keys=True)

    def probe_auto_value(ctx):
        import json as _j

        return _j.dumps({
            "lang": ctx.field("meta.lang"),
            "sibling": ctx.sibling_field("title"),
            "parent": ctx.parent_field(),
        }, sort_keys=True)

    def echo(value):
        import json as _j

        return _j.dumps(value, sort_keys=True)

    opt = {"optional": True}
    return SimpleSchema({
        "meta": {"type": dict, "custom": echo, **opt},
        "meta.lang": {"type": str, "custom": probe_validator, **opt},
        "title": {"type": str, **opt},
        "copy": {"type": str, "autoValue": probe_auto_value, **opt},
    })


@pytest.fixture(scope="module")
def schema():
    return _schema()


def _mods(spark):
    return spark.createDataFrame(
        [(1, "$set", "meta", '{"lang": "en"}', False), (1, "$set", "title", '"x"', False)],
        MOD_DDL,
    )


def _validator_reads(spark, schema, key):
    """Mode → what the validator on ``key`` reported."""
    typed = spark.createDataFrame(
        [(1, {"lang": "en"}, "x", None)],
        "doc_id bigint, meta struct<lang: string>, title string, copy string",
    )
    docs = spark.createDataFrame(
        [(1, '{"meta": {"lang": "en"}, "title": "x"}')], "doc_id bigint, json_blob string"
    )
    out = {}
    for mode, df in [
        ("typed", violations_table(typed, schema, id_cols=["doc_id"])),
        ("json", validate_json_column(docs, schema)),
        ("modifier", validate_modifier_table(_mods(spark), schema)),
    ]:
        got = [json.loads(r.type) for r in df.collect() if r.name == key]
        assert len(got) == 1, (mode, got)
        out[mode] = got[0]
    return out


def test_validator_reads_the_same_in_every_mode(spark, schema):
    got = _validator_reads(spark, schema, "meta.lang")
    assert got == dict.fromkeys(got, VALIDATOR_READS)


def test_object_value_is_the_same_in_every_mode(spark, schema):
    # a typed struct value reaches the validator as a dict, as a JSON
    # object does in the token modes
    got = _validator_reads(spark, schema, "meta")
    assert got == dict.fromkeys(got, {"lang": "en"})


def test_auto_value_reads_the_same_in_every_mode(spark, schema):
    typed = spark.createDataFrame(
        [({"lang": "en"}, "x", None)], "meta struct<lang: string>, title string, copy string"
    )
    (row,) = clean(typed, schema).collect()
    added = [
        (r.op, json.loads(r.value))
        for r in clean_modifier_table(_mods(spark), schema).collect()
        if r.key_path == "copy"
    ]
    assert [op for op, _ in added] == ["$set"]
    got = {"typed": json.loads(row.copy), "modifier": json.loads(added[0][1])}
    assert got == dict.fromkeys(got, AUTO_VALUE_READS)


def test_default_value_function_runs_on_the_context():
    # the autoValue a defaultValue synthesizes reads the same context
    from simpl_schema_spark.compiler.validators import FieldContext
    from simpl_schema_spark.schema.definition import default_auto_value_function

    fn = default_auto_value_function(7)
    doc = FieldContext("n", None, {})
    assert fn(doc) == 7
    assert fn(FieldContext("n", 3, {})) is doc.UNCHANGED
    row = {"a": {"x": 1}}
    assert fn(FieldContext("a.n", None, row, operator="$set")) == 7
    assert fn(FieldContext("b.n", None, row, operator="$set")) is doc.UNCHANGED
    upsert = FieldContext("b.n", None, row, operator="$set", is_upsert=True)
    assert fn(upsert) == {"$setOnInsert": 7}
    assert fn(FieldContext("n", None, {}, operator="$pull")) is doc.UNCHANGED


def test_auto_values_write_the_same_in_both_cleaning_modes(spark):
    # one document cleaned as a typed row and as non-upsert $set rows:
    # a defaultValue inside an object, a defaultValue inside array items
    # and a Python autoValue on array items write the same values.  A
    # typed NULL is the modifier's absent key (columnar null is unset)
    def upper(ctx):
        return ctx.value.upper() if ctx.is_set else ctx.UNCHANGED

    opt = {"optional": True}
    ss = SimpleSchema({
        "obj": {"type": dict, **opt},
        "obj.a": {"type": float, **opt},
        "obj.b": {"type": float, "defaultValue": 10, **opt},
        "items": {"type": SimpleSchema.Array, **opt},
        "items.$": {"type": dict},
        "items.$.state": {"type": str, "defaultValue": "new", **opt},
        "items.$.n": {"type": SimpleSchema.Integer, **opt},
        "tags": {"type": SimpleSchema.Array, **opt},
        "tags.$": {"type": str, "autoValue": upper},
    })
    doc = {
        "obj": {"a": 1.0, "b": None},
        "items": [{"state": "old", "n": 1}, {"state": None, "n": 2}],
        "tags": ["a", "b"],
    }
    typed = spark.createDataFrame(
        [doc],
        "obj struct<a: double, b: double>, "
        "items array<struct<state: string, n: bigint>>, tags array<string>",
    )
    typed_out = clean(typed, ss).collect()[0].asDict(recursive=True)

    def present(v):
        if isinstance(v, dict):
            return {k: present(x) for k, x in v.items() if x is not None}
        return [present(x) for x in v] if isinstance(v, list) else v

    mods = spark.createDataFrame(
        [(1, "$set", k, json.dumps(present(v)), False) for k, v in doc.items()], MOD_DDL
    )
    rows = clean_modifier_table(mods, ss).collect()
    assert {r.op for r in rows} == {"$set"}
    mod_out = {r.key_path: json.loads(r.value) for r in rows}
    assert mod_out == present(typed_out) == {
        "obj": {"a": 1, "b": 10},
        "items": [{"state": "old", "n": 1}, {"state": "new", "n": 2}],
        "tags": ["A", "B"],
    }

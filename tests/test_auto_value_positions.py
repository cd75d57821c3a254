"""AutoValues at their positions: the one modifier-mode walker and the
document-mode writers.

Modifier mode runs every autoValue, a defaultValue's synthesized one
included, at the positions of its key (getPositionsForAutoValue.ts:43-148)
and writes each result as AutoValueRunner.ts:100-147 does.  The cases
here pin the outcomes that the walker settles the same way for every key,
where the engine once had a walker per kind of key:

- a position holds a value (``is_set``) wherever its entry carries one,
  ``$unset``'s ``""`` included;
- ``ctx.unset()`` removes the value, and a returned value is then set;
- a key under an array runs at an entry of its own key under any
  operator, as a top-level key does;
- a nested key runs inside the ``$set`` object of its parent, and an
  entry that creates the key leaves it no would-be position;
- ``@spark_auto_value`` fns are skipped on every key.

Document mode: an opaque Python autoValue may return an object for a
struct column.
"""

import json

import pytest
from pyspark.sql import functions as F

from simpl_schema_spark.cleaning import clean, spark_auto_value
from simpl_schema_spark.modifiers import clean_modifier_table
from simpl_schema_spark.schema import SimpleSchema

MOD_DDL = "doc_id bigint, op string, key_path string, value string, upsert boolean"


def _cleaned(spark, rows, ss):
    out = clean_modifier_table(spark.createDataFrame(rows, MOD_DDL), ss)
    return sorted((r.doc_id, r.op, r.key_path, r.value) for r in out.collect())


class TestOneRuleForEveryKey:
    def test_spark_auto_value_is_skipped_on_every_key(self, spark):
        # a Column-valued fn has no typed row to run over in modifier mode
        @spark_auto_value
        def stamp(ctx):
            return F.lit("x")

        ss = SimpleSchema(
            {
                "name": {"type": str, "optional": True},
                "s": {"type": str, "optional": True, "autoValue": stamp},
                "tags": {"type": SimpleSchema.Array, "optional": True},
                "tags.$": {"type": str, "autoValue": stamp},
            }
        )
        rows = [(1, "$set", "name", '"a"', False), (1, "$push", "tags", '"b"', False)]
        assert _cleaned(spark, rows, ss) == [
            (1, "$push", "tags", '"b"'),
            (1, "$set", "name", '"a"'),
        ]

    def test_unset_entry_holds_a_value(self, spark):
        # $unset's "" is a value at the key (reference isSet = value !==
        # undefined): the fn sees it set, under $unset
        def probe(ctx):
            return json.dumps([ctx.is_set, ctx.value, ctx.operator])

        ss = SimpleSchema(
            {
                "s": {"type": str, "optional": True, "autoValue": probe},
                "items": {"type": SimpleSchema.Array, "optional": True},
                "items.$": {"type": dict},
                "items.$.t": {"type": str, "optional": True, "autoValue": probe},
            }
        )
        got = _cleaned(
            spark,
            [(1, "$unset", "s", '""', False), (1, "$unset", "items.0.t", '""', False)],
            ss,
        )
        want = json.dumps(json.dumps([True, "", "$unset"]))
        assert got == [(1, "$set", "items.0.t", want), (1, "$set", "s", want)]

    def test_value_returned_after_unset_is_set(self, spark):
        def replace(ctx):
            if ctx.value == "old":
                ctx.unset()
                return "new"
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "s": {"type": str, "optional": True, "autoValue": replace},
                "tags": {"type": SimpleSchema.Array, "optional": True},
                "tags.$": {"type": str, "autoValue": replace},
            }
        )
        got = _cleaned(
            spark,
            [
                (1, "$set", "s", '"old"', False),
                (1, "$push", "tags", '{"$each": ["old", "keep"]}', False),
                (2, "$set", "tags", '["old"]', False),
            ],
            ss,
        )
        assert got == [
            (1, "$push", "tags", '{"$each": ["new", "keep"]}'),
            (1, "$set", "s", '"new"'),
            (2, "$set", "tags", '["new"]'),
        ]

    def test_item_key_runs_at_its_entry_under_any_operator(self, spark):
        def double(ctx):
            return ctx.value * 2 if ctx.is_set else ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "items": {"type": SimpleSchema.Array, "optional": True},
                "items.$": {"type": dict},
                "items.$.n": {"type": SimpleSchema.Integer, "optional": True, "autoValue": double},
                "n": {"type": SimpleSchema.Integer, "optional": True, "autoValue": double},
            }
        )
        got = _cleaned(
            spark, [(1, "$inc", "items.0.n", "2", False), (1, "$inc", "n", "3", False)], ss
        )
        assert got == [(1, "$inc", "items.0.n", "4"), (1, "$inc", "n", "6")]

    def test_nested_key_runs_inside_its_parents_set_object(self, spark):
        def probe(ctx):
            if ctx.is_set:
                return ctx.UNCHANGED
            return ctx.sibling_field("a") + "!"

        ss = SimpleSchema(
            {
                "o": {"type": dict, "optional": True},
                "o.a": {"type": str, "optional": True},
                "o.b": {"type": str, "optional": True, "autoValue": probe},
            }
        )
        got = _cleaned(spark, [(1, "$set", "o", '{"a": "x"}', False)], ss)
        assert got == [(1, "$set", "o", '{"a": "x", "b": "x!"}')]

    def test_an_entry_creating_the_key_leaves_no_would_be_position(self, spark):
        def fill(ctx):
            return {"a": "filled"}

        ss = SimpleSchema(
            {
                "o": {"type": dict, "optional": True, "autoValue": fill},
                "o.a": {"type": str, "optional": True},
            }
        )
        rows = [(1, "$set", "o.a", '"x"', False)]
        assert _cleaned(spark, rows, ss) == [(1, "$set", "o.a", '"x"')]

    def test_nested_key_of_an_upsert_without_its_parent_does_not_run(self, spark):
        def fill(ctx):
            return "filled"

        ss = SimpleSchema(
            {
                "name": {"type": str, "optional": True},
                "o": {"type": dict, "optional": True},
                "o.a": {"type": str, "optional": True, "autoValue": fill},
            }
        )
        assert _cleaned(spark, [(1, "$set", "name", '"n"', True)], ss) == [
            (1, "$set", "name", '"n"')
        ]
        assert _cleaned(spark, [(1, "$set", "name", '"n"', False)], ss) == [
            (1, "$set", "name", '"n"'),
            (1, "$set", "o.a", '"filled"'),
        ]

    def test_default_fills_each_item_position(self, spark):
        # items.1.state is set; items.0 is an object without it
        ss = SimpleSchema(
            {
                "items": {"type": SimpleSchema.Array, "optional": True},
                "items.$": {"type": dict},
                "items.$.state": {"type": str, "optional": True, "defaultValue": "new"},
            }
        )
        got = _cleaned(
            spark,
            [(1, "$set", "items.1.state", '"old"', False), (1, "$set", "items.0", "{}", False)],
            ss,
        )
        assert got == [(1, "$set", "items.0", '{"state": "new"}'), (1, "$set", "items.1.state", '"old"')]


class TestStructAutoValue:
    @pytest.fixture()
    def df(self, spark):
        return spark.createDataFrame(
            [(1, {"a": 1}), (2, {"a": 2}), (3, {"a": 3}), (4, {"a": 4})],
            "id bigint, o struct<a: bigint>",
        )

    def test_python_auto_value_on_a_struct_key(self, spark, df):
        def fn(ctx):
            a = ctx.value["a"]
            if a == 1:
                return {"a": 7}
            if a == 2:
                return ctx.UNCHANGED
            if a == 3:
                ctx.unset()
                return ctx.UNCHANGED
            return None

        ss = SimpleSchema(
            {
                "id": SimpleSchema.Integer,
                "o": {"type": dict, "optional": True, "autoValue": fn},
                "o.a": {"type": SimpleSchema.Integer, "optional": True},
            }
        )
        out = clean(df, ss)
        assert dict(out.dtypes)["o"] == "struct<a:bigint>"
        got = {r.id: None if r.o is None else r.o.asDict() for r in out.collect()}
        assert got == {1: {"a": 7}, 2: {"a": 2}, 3: None, 4: None}

"""How a JSON token's kind is read, pinned once for both token modes.

Modifier ``$set`` rows and JSON documents read a value through the same
view: the value parsed to a variant, one kind code per value, and typed
reads gated by that code.  Each case below is one value under one key, and
both modes must report the same violation for it.  The variant casts across
kinds (``"12"`` reads as 12.0, ``true`` as 1.0); the kind code keeps those
casts out of the type rules.

A modifier value that does not parse as JSON has no kind: it conforms to no
type, so it reports ``expectedType`` with its text as the value, and
cleaning leaves it as written.  (A JSON document that does not parse
reports one ``malformedJson`` row instead; see ``test_updates_path``.)
"""

import json

import pytest

from simpl_schema_spark.jsondoc import validate_json_column
from simpl_schema_spark.modifiers import clean_modifier_table, validate_modifier_table
from simpl_schema_spark.schema import SimpleSchema

MOD_DDL = "doc_id bigint, op string, key_path string, value string, upsert boolean"
DATE = "2020-01-02T00:00:00.000Z"


def _schema():
    opt = {"optional": True}
    return SimpleSchema(
        {
            "i": {"type": SimpleSchema.Integer, "max": 1000, **opt},
            "n": {"type": float, **opt},
            "b": {"type": bool, **opt},
            "s": {"type": str, **opt},
            "d": {"type": SimpleSchema.Date, **opt},
            "o": {"type": dict, **opt},
            "o.k": {"type": str, **opt},
            "a": {"type": SimpleSchema.Array, **opt},
            "a.$": {"type": str, **opt},
        }
    )


#: (key, value as written, the (type, value) of the key's violation or None)
CASES = [
    # cross-kind: the variant would cast these, the kind code does not
    ("i", '"12"', ("expectedType", "12")),
    ("i", "true", ("expectedType", "true")),
    ("n", '"1.5"', ("expectedType", "1.5")),
    ("b", "12", ("expectedType", "12")),
    ("b", '"true"', ("expectedType", "true")),
    ("s", "12", ("expectedType", "12")),
    ("s", "false", ("expectedType", "false")),
    ("a", '"[1]"', ("expectedType", "[1]")),
    ("o", "[1]", ("expectedType", "[1]")),
    # the same kinds as written
    ("i", "12", None),
    ("n", "1.5", None),
    ("b", "true", None),
    ("s", '"12"', None),
    ("a", '["x"]', None),
    ("o", '{"k": "x"}', None),
    # whitespace around the token
    ("i", "  12  ", None),
    ("s", ' "x" ', None),
    ("b", " false ", None),
    ("i", ' "12" ', ("expectedType", "12")),
    # big integers read as numbers, past the 64-bit range too
    ("i", "12345678901234567890", ("maxNumber", "12345678901234567890")),
    ("n", "123456789012345678901234567890", None),
    ("i", "3.5", ("noDecimal", "3.5")),
    # extended-JSON dates: an object with a $date member, wherever it is;
    # a date is not an Object
    ("d", f'{{"$date": "{DATE}"}}', None),
    ("d", f'{{"x": 1, "$date": "{DATE}"}}', None),
    ("d", f'"{DATE}"', ("expectedType", DATE)),
    ("d", '{"x": 1}', ("expectedType", '{"x": 1}')),
    ("o", f'{{"$date": "{DATE}"}}', ("expectedType", f'{{"$date": "{DATE}"}}')),
]

#: modifier rows only: (op, key, value as written, the violation or None)
MOD_ONLY = [
    # $currentDate takes true or {"$type": "date"} and checks `now`
    ("$currentDate", "d", "true", None),
    ("$currentDate", "d", '{"$type": "date"}', None),
    ("$currentDate", "d", '{"$type": "timestamp"}', ("expectedType", '{"$type": "timestamp"}')),
    # $each must hold an array; a non-array reports nothing.  It is found
    # wherever it stands among the $push sub-operators
    ("$push", "a", '{"$each": 5}', None),
    ("$push", "a", '{"$each": ["x", 5]}', ("expectedType", "5")),
    ("$push", "a", '{"$slice": 3, "$each": [5]}', ("expectedType", "5")),
    # malformed values have no kind
    ("$set", "i", "1.", ("expectedType", "1.")),
    ("$set", "s", '"abc', ("expectedType", '"abc')),
    ("$set", "o", '{"b": ', ("expectedType", '{"b":')),
]


def _got(df, cases) -> dict:
    """Case number → (type, value) of the violation on the case's key."""
    out = {}
    for r in df.collect():
        if r.name == cases[r.doc_id][-3]:
            assert r.doc_id not in out, f"case {r.doc_id}: more than one violation"
            out[r.doc_id] = (r.type, r.value)
    return out


def _want(cases) -> dict:
    return {i: c[-1] for i, c in enumerate(cases) if c[-1] is not None}


def _display(value: str):
    """What a JSON document shows for a value: its variant's JSON."""
    return json.dumps(json.loads(value), separators=(",", ":"))


@pytest.fixture(scope="module")
def schema():
    return _schema()


def test_modifier_set_rows(spark, schema):
    rows = [(i, "$set", k, v, False) for i, (k, v, _) in enumerate(CASES)]
    got = _got(validate_modifier_table(spark.createDataFrame(rows, MOD_DDL), schema), CASES)
    assert got == _want(CASES)


def test_json_documents(spark, schema):
    docs = [(i, f'{{"{k}": {v}}}') for i, (k, v, _) in enumerate(CASES)]
    df = spark.createDataFrame(docs, "doc_id bigint, json_blob string")
    got = _got(validate_json_column(df, schema), CASES)
    # a document shows non-strings as its variant's JSON, a modifier row
    # as written; the two agree on every case but the spacing
    want = {
        i: (t, v if CASES[i][1].strip().startswith('"') else _display(CASES[i][1]))
        for i, (t, v) in _want(CASES).items()
    }
    assert got == want


def test_modifier_only_tokens(spark, schema):
    rows = [(i, op, k, v, False) for i, (op, k, v, _) in enumerate(MOD_ONLY)]
    got = _got(validate_modifier_table(spark.createDataFrame(rows, MOD_DDL), schema), MOD_ONLY)
    assert got == _want(MOD_ONLY)


def test_modifier_cleaning(spark, schema):
    rows = [
        # a pushed extended-JSON date is a scalar, converted toward the item type
        (0, "$push", "a", f'{{"$date": "{DATE}"}}', False),
        # a malformed value has no kind: cleaning leaves it as written
        (1, "$set", "s", '"abc', False),
    ]
    out = clean_modifier_table(spark.createDataFrame(rows, MOD_DDL), schema)
    assert [(r.op, r.value) for r in out.orderBy("doc_id").collect()] == [
        ("$push", f'"{DATE}"'),
        ("$set", '"abc'),
    ]


def test_date_under_object_key_reports_the_same_violations(spark, schema):
    # an extended-JSON date is not an object: a document reports no
    # keyNotInSchema for its `$date` member, like the `$set` row
    value = f'{{"$date": "{DATE}"}}'
    mods = spark.createDataFrame([(0, "$set", "o", value, False)], MOD_DDL)
    docs = spark.createDataFrame([(0, f'{{"o": {value}}}')], "doc_id bigint, json_blob string")

    def violations(df):
        return sorted((r.name, r.type) for r in df.collect())

    got_mods = violations(validate_modifier_table(mods, schema))
    assert violations(validate_json_column(docs, schema)) == got_mods == [("o", "expectedType")]

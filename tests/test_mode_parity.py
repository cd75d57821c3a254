"""One schema, one seeded record set, several input shapes.

The same records are validated as a typed table (``with_violations``), as
JSON documents (``validate_json_column``) and, for scalar keys, as ``$set``
modifier rows (``validate_modifier_table``); the violation rows must agree
field for field: ``(doc_id, name, type, value, dataType, min, max, regExp,
minCount, maxCount)`` as multisets.  Typed tables and JSON documents go
through one key traversal, so their comparison also covers arrays of
objects, a required key under an optional object, and Python (one- and
two-argument) and ``@spark_rule`` validators on top-level and item keys.

Mode-specific rules, left out of the comparison:

- Per-row type mismatches (``expectedType``): a typed column's dtype is fixed
  at compile time, so the records are well-typed.  Per-row type checks of
  JSON tokens are covered in ``test_jsondoc.py`` / ``test_modifiers.py``.
- NaN and ±Infinity exist only in typed columns; none are generated.
- ``required``: ``$set`` rows carry no absent keys (a null field gets no
  row), so ``required`` is compared between the typed and JSON modes only.
- A whole-array ``$set`` checks the array's own rules (minCount/maxCount)
  but not its items; modifier mode validates items on concrete-index rows
  (``tags.0``), so the ``$set`` form carries one ``tags.<i>`` row per item.
  Modifier rows are not compared on the validator schema: they keep a
  forest of their own per generic key.
- Modifier rows report an array's payload as the token was written, so the
  ``$set`` tokens are compact JSON (the JSON-document mode re-serializes
  its extraction, the typed mode renders ``to_json``).
- JSON documents re-serialize their parsed value, so a float with an
  integral value is reported as ``40`` (as JS shows it) where typed doubles
  and ``$set`` tokens show ``40.0``; number payloads are compared as
  numbers between the typed and JSON modes.
- KEY_NOT_IN_SCHEMA: no extra keys are generated; the typed table's
  ``doc_id`` column is ignored with ``extra_key_policy="ignore"``.  A typed
  table checks its top-level columns only, a JSON document every declared
  object, array items included.
"""

import datetime as dt
import json
import random
import re
from collections import Counter

from pyspark.sql import functions as F

from simpl_schema_spark.compiler.compile import spark_rule
from simpl_schema_spark.errors import ErrorTypes
from simpl_schema_spark.jsondoc import validate_json_column
from simpl_schema_spark.modifiers import validate_modifier_table
from simpl_schema_spark.schema import SimpleSchema
from simpl_schema_spark.validation import violations_table

UTC = dt.timezone.utc
FIELDS = ["doc_id", "name", "type", "value", "dataType", "min", "max",
          "regExp", "minCount", "maxCount"]
DDL = ("doc_id bigint, name string, color string, qty bigint, step double, "
       "score double, temp double, flag boolean, seen timestamp, "
       "tags array<string>")


def schema() -> SimpleSchema:
    return SimpleSchema(
        {
            "name": {"type": str, "min": 2, "max": 8, "regEx": re.compile(r"^[a-z]+$")},
            "color": {"type": str, "optional": True,
                      "allowedValues": ["red", "green", "blue"]},
            "qty": {"type": SimpleSchema.Integer, "min": 1, "max": 50},
            "step": {"type": SimpleSchema.Integer, "optional": True,
                     "min": 0, "exclusiveMin": True, "max": 10, "exclusiveMax": True},
            "score": {"type": float, "min": 0.5, "max": 1.0},
            "temp": {"type": float, "optional": True,
                     "min": -10.5, "exclusiveMin": True, "max": 40.0, "exclusiveMax": True},
            "flag": {"type": bool},
            "seen": {"type": SimpleSchema.Date, "optional": True,
                     "min": dt.datetime(2024, 1, 1, tzinfo=UTC),
                     "max": dt.datetime(2025, 1, 1, tzinfo=UTC)},
            "tags": {"type": SimpleSchema.Array, "optional": True,
                     "minCount": 1, "maxCount": 3},
            "tags.$": {"type": str, "max": 5},
        }
    )


def records(seed: int = 11, n: int = 200) -> list[dict]:
    rng = random.Random(seed)

    def maybe(value, p_null=0.1):
        return None if rng.random() < p_null else value

    def word(lo, hi, alphabet="abcdefghij"):
        return "".join(rng.choice(alphabet) for _ in range(rng.randint(lo, hi)))

    out = []
    for i in range(n):
        out.append({
            "doc_id": i,
            "name": maybe(word(1, 10, "abcdefgXY1")),
            "color": maybe(rng.choice(["red", "green", "blue", "pink", "Red"]), 0.3),
            "qty": maybe(rng.randint(-5, 60)),
            "step": maybe(rng.choice([0.0, 10.0, 5.0, 2.5, -1.0, 9.0, 3.0, 12.5]), 0.3),
            "score": maybe(round(rng.uniform(0.0, 1.5), 2)),
            "temp": maybe(rng.choice([-10.5, 40.0, round(rng.uniform(-15, 45), 1)]), 0.3),
            "flag": maybe(rng.random() < 0.5),
            "seen": maybe(dt.datetime(2023, 6, 1, tzinfo=UTC)
                          + dt.timedelta(seconds=rng.randint(0, 730 * 86400)), 0.3),
            "tags": maybe([word(1, 7) for _ in range(rng.randint(0, 4))], 0.3),
        })
    return out


def _token(value) -> str:
    if isinstance(value, dt.datetime):
        return json.dumps({"$date": value.strftime("%Y-%m-%dT%H:%M:%SZ")})
    return json.dumps(value, separators=(",", ":"))


def _rows(df) -> Counter:
    return Counter(tuple(r[c] for c in FIELDS) for r in df.collect())


_NUMBER_RULES = {
    ErrorTypes.MIN_NUMBER, ErrorTypes.MAX_NUMBER, ErrorTypes.MIN_NUMBER_EXCLUSIVE,
    ErrorTypes.MAX_NUMBER_EXCLUSIVE, ErrorTypes.MUST_BE_INTEGER,
}


def _numbers_as_numbers(rows: Counter) -> Counter:
    out: Counter = Counter()
    for k, n in rows.items():
        out[k[:3] + (float(k[3]),) + k[4:] if k[2] in _NUMBER_RULES else k] += n
    return out


def _without_required(rows: Counter) -> Counter:
    return Counter({k: n for k, n in rows.items() if k[2] != ErrorTypes.REQUIRED})


def test_typed_json_and_set_rows_agree(spark):
    ss = schema()
    recs = records()
    keys = [k for k in recs[0] if k != "doc_id"]

    typed_df = spark.createDataFrame([tuple(r[c] for c in ["doc_id"] + keys) for r in recs], DDL)
    typed = _rows(violations_table(typed_df, ss, id_cols=["doc_id"], extra_key_policy="ignore"))

    docs = [
        (r["doc_id"], "{" + ",".join(
            f"{json.dumps(k)}:{_token(r[k])}" for k in keys if r[k] is not None
        ) + "}")
        for r in recs
    ]
    json_df = spark.createDataFrame(docs, "doc_id bigint, json_blob string")
    from_json = _rows(validate_json_column(json_df, ss))

    mods = []
    for r in recs:
        for k in keys:
            if r[k] is None:
                continue
            mods.append((r["doc_id"], "$set", k, _token(r[k]), False))
            if k == "tags":
                mods += [(r["doc_id"], "$set", f"tags.{i}", _token(t), False)
                         for i, t in enumerate(r[k])]
    mods_df = spark.createDataFrame(
        mods, "doc_id bigint, op string, key_path string, value string, upsert boolean"
    )
    from_set = _rows(validate_modifier_table(mods_df, ss))

    # the records exercise every rule family of the schema
    seen_types = {k[2] for k in typed}
    assert seen_types >= {
        ErrorTypes.REQUIRED, ErrorTypes.MAX_STRING, ErrorTypes.MIN_STRING,
        ErrorTypes.FAILED_REGULAR_EXPRESSION, ErrorTypes.VALUE_NOT_ALLOWED,
        ErrorTypes.MIN_NUMBER, ErrorTypes.MAX_NUMBER,
        ErrorTypes.MIN_NUMBER_EXCLUSIVE, ErrorTypes.MAX_NUMBER_EXCLUSIVE,
        ErrorTypes.MUST_BE_INTEGER, ErrorTypes.MIN_DATE, ErrorTypes.MAX_DATE,
        ErrorTypes.MIN_COUNT, ErrorTypes.MAX_COUNT,
    }, seen_types
    assert _numbers_as_numbers(from_json) == _numbers_as_numbers(typed)
    assert from_set == _without_required(typed)


def test_float_bound_payloads_render_like_js(spark):
    """Bound payloads are JS-rendered in every mode: ``1``, not ``1.0``."""
    ss = SimpleSchema({"score": {"type": float, "max": 1.0}})
    typed = spark.createDataFrame([(0, 2.5)], "doc_id bigint, score double")
    docs = spark.createDataFrame([(0, '{"score": 2.5}')], "doc_id bigint, json_blob string")
    mods = spark.createDataFrame(
        [(0, "$set", "score", "2.5", False)],
        "doc_id bigint, op string, key_path string, value string, upsert boolean",
    )
    got = [
        [(r.name, r.type, r.value, r.max) for r in df.collect()]
        for df in (
            violations_table(typed, ss, id_cols=["doc_id"], extra_key_policy="ignore"),
            validate_json_column(docs, ss),
            validate_modifier_table(mods, ss),
        )
    ]
    assert got == [[("score", ErrorTypes.MAX_NUMBER, "2.5", "1")]] * 3


@spark_rule
def _not_zero(value, ctx):
    return F.when(value == 0, F.lit("notAllowed"))


def validator_schema() -> SimpleSchema:
    # the Python validators are defined here so the UDFs pickle them by value
    def _odd(v):
        return "notAllowed" if v is not None and v % 2 else None

    def _no_admin(v):
        return "notAllowed" if v == "admin" else None

    def _end_after_start(v, ctx):
        start = ctx.field("start")
        return "minNumber" if v is not None and start is not None and v < start else None

    return SimpleSchema(
        {
            "user": {"type": str, "custom": _no_admin},
            "start": {"type": SimpleSchema.Integer},
            "end": {"type": SimpleSchema.Integer, "optional": True, "custom": _end_after_start},
            "qty": {"type": SimpleSchema.Integer, "optional": True, "custom": _not_zero},
            "meta": {"type": dict, "optional": True},
            "meta.k": {"type": str},
            "items": {"type": SimpleSchema.Array, "optional": True},
            "items.$": dict,
            "items.$.n": {"type": SimpleSchema.Integer, "max": 5, "custom": _odd},
        }
    )


def validator_records(seed: int = 5, n: int = 120) -> list[dict]:
    rng = random.Random(seed)

    def maybe(value, p_null=0.15):
        return None if rng.random() < p_null else value

    def item():
        return None if rng.random() < 0.1 else {"n": maybe(rng.randint(0, 9))}

    return [
        {
            "doc_id": i,
            "user": maybe(rng.choice(["admin", "bob", "eve"])),
            "start": maybe(rng.randint(0, 10)),
            "end": maybe(rng.randint(0, 10), 0.3),
            "qty": maybe(rng.randint(0, 3), 0.3),
            "meta": maybe({"k": maybe("v", 0.4)}, 0.4),
            "items": maybe([item() for _ in range(rng.randint(0, 3))], 0.3),
        }
        for i in range(n)
    ]


def _json_doc(r: dict) -> str:
    return json.dumps({k: v for k, v in r.items() if k != "doc_id" and v is not None})


def test_typed_and_json_agree_with_validators_and_arrays_of_objects(spark):
    ss = validator_schema()
    recs = validator_records()
    typed_df = spark.createDataFrame(
        [tuple(r.values()) for r in recs],
        "doc_id bigint, user string, start bigint, end bigint, qty bigint, "
        "meta struct<k: string>, items array<struct<n: bigint>>",
    )
    typed = _rows(violations_table(typed_df, ss, id_cols=["doc_id"], extra_key_policy="ignore"))
    docs = spark.createDataFrame(
        [(r["doc_id"], _json_doc(r)) for r in recs], "doc_id bigint, json_blob string"
    )
    from_json = _rows(validate_json_column(docs, ss))

    names = {(k[1].split(".")[0], k[2]) for k in typed}
    assert names >= {
        ("user", ErrorTypes.REQUIRED), ("user", ErrorTypes.VALUE_NOT_ALLOWED),
        ("end", ErrorTypes.MIN_NUMBER), ("qty", ErrorTypes.VALUE_NOT_ALLOWED),
        ("meta", ErrorTypes.REQUIRED), ("items", ErrorTypes.MAX_NUMBER),
        ("items", ErrorTypes.VALUE_NOT_ALLOWED), ("items", ErrorTypes.REQUIRED),
    }, names
    assert from_json == typed


def _typed_and_json(spark, ss, ddl, rows, docs):
    typed = violations_table(
        spark.createDataFrame(rows, ddl), ss, id_cols=["doc_id"], extra_key_policy="ignore"
    )
    blobs = spark.createDataFrame(
        [(row[0], doc) for row, doc in zip(rows, docs)], "doc_id bigint, json_blob string"
    )
    return [
        sorted((r.doc_id, r.name, r.type) for r in df.collect())
        for df in (typed, validate_json_column(blobs, ss))
    ]


class TestOneTraversal:
    """Outcomes the shared traversal settles for JSON documents as for
    typed tables."""

    def test_keys_under_arrays_of_objects(self, spark):
        ss = SimpleSchema(
            {"items": SimpleSchema.Array, "items.$": dict, "items.$.n": {"type": int, "max": 5}}
        )
        typed, docs = _typed_and_json(
            spark, ss, "doc_id bigint, items array<struct<n: bigint>>",
            [(0, [{"n": 9}, {"n": 2}])], ['{"items": [{"n": 9}, {"n": 2, "x": 1}]}'],
        )
        assert typed == [(0, "items.0.n", "maxNumber")]
        # an undeclared member is found in a document only
        assert docs == typed + [(0, "items.1.x", "keyNotInSchema")]

    def test_null_element_of_an_array_of_objects_reports_nothing(self, spark):
        ss = SimpleSchema({"items": SimpleSchema.Array, "items.$": dict, "items.$.n": int})
        typed, docs = _typed_and_json(
            spark, ss, "doc_id bigint, items array<struct<n: bigint>>",
            [(0, [{"n": 1}, None])], ['{"items": [{"n": 1}, null]}'],
        )
        assert typed == docs == []

    def test_missing_any_key_is_required(self, spark):
        ss = SimpleSchema({"a": SimpleSchema.Any, "b": {"type": str, "optional": True}})
        typed, docs = _typed_and_json(
            spark, ss, "doc_id bigint, a string, b string", [(0, None, "x")], ['{"b": "x"}'],
        )
        assert typed == docs == [(0, "a", "required")]

    def test_required_under_optional_object_in_every_mode(self, spark):
        # an upsert creates only the objects its keys reach: `meta.k` is
        # required where `meta` is created, as in a typed row or a document
        ss = SimpleSchema(
            {"name": str, "meta": {"type": dict, "optional": True}, "meta.k": str,
             "meta.lang": {"type": str, "optional": True}}
        )
        typed, docs = _typed_and_json(
            spark, ss, "doc_id bigint, name string, meta struct<k: string, lang: string>",
            [(1, "ab", None), (2, "ab", {"k": None, "lang": "en"})],
            ['{"name": "ab"}', '{"name": "ab", "meta": {"lang": "en"}}'],
        )
        mods = spark.createDataFrame(
            [(1, "$set", "name", '"ab"', True),
             (2, "$set", "meta.lang", '"en"', True), (2, "$set", "name", '"ab"', True)],
            "doc_id bigint, op string, key_path string, value string, upsert boolean",
        )
        upserts = sorted((r.doc_id, r.name, r.type) for r in validate_modifier_table(mods, ss).collect())
        assert typed == docs == upserts == [(2, "meta.k", "required")]

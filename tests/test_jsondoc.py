"""Dynamic JSON document mode (validateField.ts:262-279 per-row key scan)."""

import pytest

from simpl_schema_spark.jsondoc import validate_json_column
from simpl_schema_spark.schema import SimpleSchema


def run(spark, rows, ss):
    df = spark.createDataFrame([(i, r) for i, r in enumerate(rows)],
                               "doc_id bigint, json_blob string")
    out = validate_json_column(df, ss)
    return sorted((r.doc_id, r.name, r.type) for r in out.collect())


def schema():
    return SimpleSchema(
        {
            "name": {"type": str, "min": 2},
            "age": {"type": int, "min": 0, "max": 130, "optional": True},
            "lang": {"type": str, "optional": True, "allowedValues": ["en", "de"]},
            "meta": {"type": dict, "optional": True},
            "meta.k": {"type": str, "optional": True},
            "bag": {"type": dict, "optional": True, "blackbox": True},
            "tags": {"type": SimpleSchema.Array, "optional": True, "maxCount": 2},
            "tags.$": str,
        }
    )


class TestJsonDocMode:
    def test_valid_doc(self, spark):
        assert run(spark, ['{"name": "ok", "age": 4}'], schema()) == []

    def test_required_missing_and_null(self, spark):
        got = run(spark, ['{"age": 4}', '{"name": null}'], schema())
        assert got == [(0, "name", "required"), (1, "name", "required")]

    def test_type_mismatch(self, spark):
        got = run(spark, ['{"name": 5}'], schema())
        assert got == [(0, "name", "expectedType")]

    def test_value_rules(self, spark):
        got = run(
            spark,
            ['{"name": "x"}', '{"name": "ok", "age": 999}',
             '{"name": "ok", "lang": "xx"}'],
            schema(),
        )
        assert got == [
            (0, "name", "minString"),
            (1, "age", "maxNumber"),
            (2, "lang", "notAllowed"),
        ]

    def test_unknown_key_per_row(self, spark):
        got = run(spark, ['{"name": "ok", "zzz": 1}'], schema())
        assert got == [(0, "zzz", "keyNotInSchema")]

    def test_unknown_nested_key(self, spark):
        got = run(spark, ['{"name": "ok", "meta": {"k": "v", "bad": 1}}'], schema())
        assert got == [(0, "meta.bad", "keyNotInSchema")]

    def test_blackbox_subtree_free(self, spark):
        assert run(
            spark, ['{"name": "ok", "bag": {"anything": [1, {"x": 2}]}}'], schema()
        ) == []

    def test_array_count(self, spark):
        got = run(spark, ['{"name": "ok", "tags": ["a","b","c"]}'], schema())
        assert got == [(0, "tags", "maxCount")]

    def test_heterogeneous_batch(self, spark):
        # the motivating case: one column, rows with different shapes
        got = run(
            spark,
            ['{"name": "ok"}',
             '{"name": "ok", "extra": true, "age": "nan"}'],
            schema(),
        )
        assert got == [
            (1, "age", "expectedType"),
            (1, "extra", "keyNotInSchema"),
        ]

    def test_array_item_checks(self, spark):
        # per-element item checks with concrete-index names
        got = run(
            spark,
            ['{"name": "ok", "tags": ["fine", 5]}',
             '{"name": "ok", "tags": ["a", "b"]}'],
            schema(),
        )
        assert got == [(0, "tags.1", "expectedType")]

    def test_array_item_and_count_together(self, spark):
        got = run(
            spark, ['{"name": "ok", "tags": [1, "a", "b"]}'], schema()
        )
        assert got == [(0, "tags", "maxCount"), (0, "tags.0", "expectedType")]


class TestJsonRobustness:
    def test_malformed_json_single_violation(self, spark):
        # truncated / invalid JSON must not kill the job (try_parse_json):
        # exactly one malformedJson row, no spurious required cascade
        got = run(
            spark,
            ['{"name": "ok"', 'not json at all', '{"name": "ok"}'],
            schema(),
        )
        assert got == [
            (0, "$", "malformedJson"),
            (1, "$", "malformedJson"),
        ]

    def test_callable_optional_evaluated(self, spark):
        # callable optional follows the fixed-column compiler: bool(optional())
        ss = SimpleSchema(
            {
                "a": {"type": str, "optional": lambda: True},
                "b": {"type": str, "optional": lambda: False},
            }
        )
        got = run(spark, ["{}"], ss)
        assert got == [(0, "b", "required")]


class TestJsonCustomValidators:
    """Custom validators over json_blob columns (reference runs the full
    validator chain regardless of document shape, validateField.ts:192-226)."""

    def test_python_field_validator(self, spark):
        def no_admin(v):
            if v == "admin":
                return "notAllowed"
            return None

        ss = SimpleSchema({"user": {"type": str, "custom": no_admin}})
        got = run(spark, ['{"user": "admin"}', '{"user": "bob"}'], ss)
        assert got == [(0, "user", "notAllowed")]

    def test_python_validator_runs_when_absent(self, spark):
        # custom validators run even when the key is missing (fixed-column
        # compiler parity: custom runs on !isSet)
        def must_exist(v):
            return "required" if v is None else None

        ss = SimpleSchema(
            {"x": {"type": str, "optional": True, "custom": must_exist}}
        )
        got = run(spark, ["{}"], ss)
        assert got == [(0, "x", "required")]

    def test_cross_field_context(self, spark):
        def end_after_start(v, ctx):
            start = ctx.field("start")
            if v is not None and start is not None and v < start:
                return "minNumber"
            return None

        ss = SimpleSchema(
            {
                "start": {"type": int},
                "end": {"type": int, "custom": end_after_start},
            }
        )
        got = run(
            spark,
            ['{"start": 5, "end": 3}', '{"start": 1, "end": 3}'],
            ss,
        )
        assert got == [(0, "end", "minNumber")]

    def test_spark_rule_field_validator(self, spark):
        from pyspark.sql import functions as F
        from simpl_schema_spark.compiler.compile import spark_rule

        @spark_rule
        def even_only(value, ctx):
            return F.when(value % 2 != 0, F.lit("notAllowed"))

        ss = SimpleSchema({"n": {"type": int, "custom": even_only}})
        got = run(spark, ['{"n": 3}', '{"n": 4}'], ss)
        assert got == [(0, "n", "notAllowed")]

    def test_python_item_validator(self, spark):
        def no_empty(v):
            return "minString" if v == "" else None

        ss = SimpleSchema(
            {
                "tags": {"type": SimpleSchema.Array},
                "tags.$": {"type": str, "custom": no_empty},
            }
        )
        got = run(spark, ['{"tags": ["ok", "", "also"]}'], ss)
        assert got == [(0, "tags.1", "minString")]

    def test_item_builtin_and_custom_coalesce(self, spark):
        # one error per concrete element key: builtin expectedType wins on
        # element 0, custom fires on element 1
        def no_empty(v):
            return "minString" if v == "" else None

        ss = SimpleSchema(
            {
                "tags": {"type": SimpleSchema.Array},
                "tags.$": {"type": str, "custom": no_empty},
            }
        )
        got = run(spark, ['{"tags": [7, ""]}'], ss)
        assert got == [
            (0, "tags.0", "expectedType"),
            (0, "tags.1", "minString"),
        ]

    def test_custom_skips_malformed_doc(self, spark):
        def boom(v):
            return "notAllowed"

        ss = SimpleSchema({"x": {"type": str, "optional": True, "custom": boom}})
        got = run(spark, ['{"x": '], ss)
        assert got == [(0, "$", "malformedJson")]


class TestRequiredUnderOptionalObject:
    """A required key under an optional object is required only where the
    object is there, in JSON documents as in typed tables."""

    def test_same_as_typed_table(self, spark):
        from simpl_schema_spark.validation import violations_table

        ss = SimpleSchema(
            {
                "name": {"type": str, "min": 2},
                "meta": {"type": dict, "optional": True},
                "meta.k": {"type": str},
            }
        )
        typed = spark.createDataFrame(
            [(0, "ab", None), (1, "ab", None), (2, "ab", {"k": None}), (3, "ab", {"k": "v"})],
            "doc_id bigint, name string, meta struct<k: string>",
        )
        docs = [
            '{"name": "ab"}',
            '{"name": "ab", "meta": null}',
            '{"name": "ab", "meta": {}}',
            '{"name": "ab", "meta": {"k": "v"}}',
        ]
        table = violations_table(typed, ss, id_cols=["doc_id"], extra_key_policy="ignore")
        got_typed = sorted((r.doc_id, r.name, r.type) for r in table.collect())
        assert run(spark, docs, ss) == got_typed == [(2, "meta.k", "required")]


class TestJsonArraysOfObjects:
    """Keys under arrays of objects, checked by the typed tables' traversal."""

    def test_python_item_validator_at_depth(self, spark):
        # the validator's results are zipped into the lambdas level by
        # level; a value that is no array, where the schema has one, is
        # skipped like a NULL array
        def odd(v):
            return "notAllowed" if isinstance(v, int) and v % 2 else None

        ss = SimpleSchema(
            {
                "items": SimpleSchema.Array,
                "items.$": dict,
                "items.$.tags": {"type": SimpleSchema.Array, "optional": True},
                "items.$.tags.$": {"type": int, "custom": odd},
            }
        )
        got = run(
            spark,
            ['{"items": [{"tags": [2, 3]}, {"tags": 5}, {"tags": [7, "x"]}, {}]}',
             '{"items": []}', '{"items": [null]}'],
            ss,
        )
        assert got == [
            (0, "items.0.tags.1", "notAllowed"),
            (0, "items.1.tags", "expectedType"),
            (0, "items.2.tags.0", "notAllowed"),
            (0, "items.2.tags.1", "expectedType"),
        ]

"""Update-modifier validation parity tests.

Cases drawn from the reference's per-op matrices
(/root/reference/test/SimpleSchema_type.tests.ts describe blocks per type ×
{$set, $setOnInsert-upsert, $push}, test/SimpleSchema_required.tests.ts:177+).
Long-format encoding per FIXTURES.md F6.
"""

import json

import pytest

from simpl_schema_spark.modifiers import validate_modifier_table
from simpl_schema_spark.schema import SimpleSchema

MOD_DDL = "doc_id bigint, op string, key_path string, value string, upsert boolean"


def schema():
    return SimpleSchema(
        {
            "requiredString": str,
            "optionalString": {"type": str, "optional": True, "min": 2},
            "count": {"type": int, "min": 0, "max": 10},
            "tags": {"type": SimpleSchema.Array, "optional": True, "maxCount": 3},
            "tags.$": {"type": str, "max": 5},
            "when": {"type": SimpleSchema.Date, "optional": True},
            "lang": {"type": str, "optional": True, "allowedValues": ["en", "de"]},
        }
    )


def run(spark, rows, ss=None):
    df = spark.createDataFrame(rows, MOD_DDL)
    out = validate_modifier_table(df, ss or schema())
    return sorted(
        (r.doc_id, r.name, r.type) for r in out.collect()
    )


def mod(doc_id, op, key, value, upsert=False):
    return (doc_id, op, key, json.dumps(value) if not isinstance(value, str) or True else value, upsert)


class TestSet:
    def test_valid_set(self, spark):
        assert run(spark, [
            (1, "$set", "requiredString", '"hi"', False),
            (1, "$set", "count", "5", False),
        ]) == []

    def test_set_null_required(self, spark):
        # $set: {requiredString: null} ⇒ required
        assert run(spark, [(1, "$set", "requiredString", "null", False)]) == [
            (1, "requiredString", "required")
        ]

    def test_set_null_optional_ok(self, spark):
        assert run(spark, [(1, "$set", "optionalString", "null", False)]) == []

    def test_set_wrong_type(self, spark):
        assert run(spark, [(1, "$set", "requiredString", "5", False)]) == [
            (1, "requiredString", "expectedType")
        ]

    def test_set_bounds(self, spark):
        assert run(spark, [(1, "$set", "count", "11", False)]) == [
            (1, "count", "maxNumber")
        ]
        assert run(spark, [(1, "$set", "count", "-1", False)]) == [
            (1, "count", "minNumber")
        ]

    def test_set_integer_check(self, spark):
        assert run(spark, [(1, "$set", "count", "5.5", False)]) == [
            (1, "count", "noDecimal")
        ]

    def test_set_allowed_values(self, spark):
        assert run(spark, [(1, "$set", "lang", '"xx"', False)]) == [
            (1, "lang", "notAllowed")
        ]

    def test_set_min_string(self, spark):
        assert run(spark, [(1, "$set", "optionalString", '"x"', False)]) == [
            (1, "optionalString", "minString")
        ]

    def test_set_whole_array(self, spark):
        assert run(spark, [(1, "$set", "tags", '["a","b","c","d"]', False)]) == [
            (1, "tags", "maxCount")
        ]

    def test_set_array_item_by_index(self, spark):
        # $set {'tags.0': 'toolong'} validates against the item definition
        assert run(spark, [(1, "$set", "tags.0", '"toolooong"', False)]) == [
            (1, "tags.0", "maxString")
        ]

    def test_set_date_extended_json(self, spark):
        assert run(spark, [(1, "$set", "when", '{"$date":"2020-01-01T00:00:00Z"}', False)]) == []
        assert run(spark, [(1, "$set", "when", '"not a date"', False)]) == [
            (1, "when", "expectedType")
        ]


class TestUnsetRename:
    def test_unset_required(self, spark):
        assert run(spark, [(1, "$unset", "requiredString", '""', False)]) == [
            (1, "requiredString", "required")
        ]

    def test_unset_optional_ok(self, spark):
        assert run(spark, [(1, "$unset", "optionalString", '""', False)]) == []

    def test_unset_unknown_key_no_violation(self, spark):
        # no KEY_NOT_IN_SCHEMA for unknown keys being unset
        # (validateField.ts:265-270)
        assert run(spark, [(1, "$unset", "zzz", '""', False)]) == []

    def test_rename_required(self, spark):
        assert run(spark, [(1, "$rename", "requiredString", '"other"', False)]) == [
            (1, "requiredString", "required")
        ]


class TestInc:
    def test_inc_skips_bounds(self, spark):
        # type checked, min/max skipped (checkNumberValue.ts:20,36)
        assert run(spark, [(1, "$inc", "count", "50", False)]) == []
        assert run(spark, [(1, "$inc", "count", "-50", False)]) == []

    def test_inc_type_checked(self, spark):
        assert run(spark, [(1, "$inc", "count", '"nope"', False)]) == [
            (1, "count", "expectedType")
        ]


class TestPush:
    def test_push_item_validated(self, spark):
        assert run(spark, [(1, "$push", "tags", '"ok"', False)]) == []
        assert run(spark, [(1, "$push", "tags", '"toolooong"', False)]) == [
            (1, "tags", "maxString")
        ]

    def test_add_to_set_same_handling(self, spark):
        assert run(spark, [(1, "$addToSet", "tags", '"toolooong"', False)]) == [
            (1, "tags", "maxString")
        ]

    def test_push_each(self, spark):
        rows = [(1, "$push", "tags", '{"$each": ["ok", "toolooong", "fine!"]}', False)]
        got = run(spark, rows)
        assert got == [(1, "tags", "maxString")]

    def _each_and_single(self, spark, ss, key, elements):
        """Violations of one ``$each`` push, and of each element pushed
        alone — the two must agree element by element."""
        def rows(values):
            df = spark.createDataFrame(
                [(i, "$push", key, v, False) for i, v in enumerate(values)], MOD_DDL
            )
            return validate_modifier_table(df, ss).collect()

        each = '{"$each": [' + ", ".join(elements) + "]}"
        got = sorted((r.name, r.type, r.value) for r in rows([each]))
        single = sorted((r.name, r.type, r.value) for r in rows(elements))
        return got, single

    def test_each_elements_of_another_type_than_a_string_item(self, spark):
        ss = SimpleSchema(
            {
                "tags": {"type": SimpleSchema.Array, "optional": True},
                "tags.$": {"type": str, "max": 3},
            }
        )
        got, single = self._each_and_single(spark, ss, "tags", ["1", '"toolong"'])
        assert got == [("tags", "expectedType", "1"), ("tags", "maxString", "toolong")]
        assert got == single

    def test_each_elements_of_another_type_than_an_integer_item(self, spark):
        ss = SimpleSchema(
            {
                "nums": {"type": SimpleSchema.Array, "optional": True},
                "nums.$": {"type": SimpleSchema.Integer, "max": 5},
            }
        )
        got, single = self._each_and_single(spark, ss, "nums", ['"7"', "2.5", "9", "true"])
        assert got == [
            ("nums", "expectedType", "7"),
            ("nums", "expectedType", "true"),
            ("nums", "maxNumber", "9"),
            ("nums", "noDecimal", "2.5"),
        ]
        assert got == single

    def test_pull_pop_skipped(self, spark):
        assert run(spark, [
            (1, "$pull", "tags", '"whatever-even-invalid"', False),
            (1, "$pop", "tags", "1", False),
        ]) == []

    def test_pushall_unsupported(self, spark):
        assert run(spark, [(1, "$pushAll", "tags", '["a"]', False)]) == [
            (1, "tags", "unsupportedOperator")
        ]


class TestCurrentDate:
    def test_true_form(self, spark):
        assert run(spark, [(1, "$currentDate", "when", "true", False)]) == []

    def test_type_date_form(self, spark):
        assert run(spark, [(1, "$currentDate", "when", '{"$type":"date"}', False)]) == []

    def test_min_checked_against_now(self, spark):
        import datetime

        ss = SimpleSchema(
            {
                "when": {
                    "type": SimpleSchema.Date,
                    "optional": True,
                    "max": datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc),
                }
            }
        )
        # now > 2020-01-01 ⇒ maxDate
        assert run(spark, [(1, "$currentDate", "when", "true", False)], ss) == [
            (1, "when", "maxDate")
        ]


class TestKeyNotInSchema:
    def test_unknown_set_key(self, spark):
        assert run(spark, [(1, "$set", "nope", '"x"', False)]) == [
            (1, "nope", "keyNotInSchema")
        ]

    def test_blackbox_subkeys_allowed(self, spark):
        ss = SimpleSchema(
            {"bb": {"type": dict, "optional": True, "blackbox": True}}
        )
        # $set/$push into blackbox subkeys are valid
        # (test/SimpleSchema_blackbox.tests.ts:29-58)
        assert run(spark, [
            (1, "$set", "bb.foo", '"x"', False),
            (1, "$push", "bb.arr", '"y"', False),
        ], ss) == []

    def test_bad_operator(self, spark):
        assert run(spark, [(1, "set", "requiredString", '"x"', False)]) == [
            (1, "requiredString", "notAModifierOperator")
        ]


class TestUpsert:
    def test_upsert_injects_required(self, spark):
        # upsert $set of only optionalString ⇒ requiredString + count required
        got = run(spark, [(1, "$set", "optionalString", '"ok"', True)])
        assert got == [
            (1, "count", "required"),
            (1, "requiredString", "required"),
        ]

    def test_upsert_satisfied_keys_not_injected(self, spark):
        got = run(spark, [
            (1, "$set", "requiredString", '"ok"', True),
            (1, "$setOnInsert", "count", "5", True),
        ])
        assert got == []

    def test_upsert_null_set_still_required(self, spark):
        got = run(spark, [
            (1, "$set", "requiredString", "null", True),
            (1, "$set", "count", "5", True),
        ])
        # explicit null fires per-row required; injection also sees it unset
        assert (1, "requiredString", "required") in got
        assert (1, "count", "required") not in got

    def test_non_upsert_no_injection(self, spark):
        assert run(spark, [(1, "$set", "optionalString", '"ok"', False)]) == []

    def test_ancestor_creating_key_satisfies_parent(self, spark):
        ss = SimpleSchema(
            {
                "a": {"type": dict},
                "a.b": str,
            }
        )
        # $set {'a.b': 'x'} on upsert ⇒ don't require 'a'
        got = run(spark, [(1, "$set", "a.b", '"x"', True)], ss)
        assert got == []


class TestCleanModifiers:
    def _clean(self, spark, rows, ss=None, **opts):
        from simpl_schema_spark.modifiers import clean_modifier_table

        df = spark.createDataFrame(rows, MOD_DDL)
        out = clean_modifier_table(df, ss or schema(), **opts)
        return sorted(
            (r.doc_id, r.op, r.key_path, r.value) for r in out.collect()
        )

    def test_set_empty_string_becomes_unset(self, spark):
        # {$set: {string: ''}} → {$unset: {string: ''}} (clean.tests.ts)
        got = self._clean(spark, [(1, "$set", "optionalString", '""', False)])
        assert got == [(1, "$unset", "optionalString", '""')]

    def test_trim_inside_set_value(self, spark):
        got = self._clean(spark, [(1, "$set", "requiredString", '"  hi  "', False)])
        assert got == [(1, "$set", "requiredString", '"hi"')]

    def test_whitespace_only_trims_then_unsets(self, spark):
        got = self._clean(spark, [(1, "$set", "requiredString", '"   "', False)])
        assert got == [(1, "$unset", "requiredString", '""')]

    def test_autoconvert_string_to_number(self, spark):
        got = self._clean(spark, [(1, "$set", "count", '"7"', False)])
        assert got == [(1, "$set", "count", "7")]

    def test_autoconvert_number_to_string(self, spark):
        got = self._clean(spark, [(1, "$set", "requiredString", "5", False)])
        assert got == [(1, "$set", "requiredString", '"5"')]

    def test_filter_unknown_key_dropped(self, spark):
        got = self._clean(spark, [
            (1, "$set", "nope", '"x"', False),
            (1, "$set", "count", "3", False),
        ])
        assert got == [(1, "$set", "count", "3")]

    def test_unset_values_not_cleaned(self, spark):
        got = self._clean(spark, [(1, "$unset", "anything", '"  x  "', False)])
        assert got == [(1, "$unset", "anything", '"  x  "')]

    def test_pull_values_cleaned_toward_item_def(self, spark):
        # reference operatorsToIgnoreValue is only $unset/$currentDate
        # (clean.ts:11) — $pull scalars ARE trimmed/converted toward the
        # item def (clean.tests.ts:706 trim sweep)
        got = self._clean(spark, [(1, "$pull", "tags", '"  raw  "', False)])
        assert got == [(1, "$pull", "tags", '"raw"')]

    def test_pull_query_objects_untouched(self, spark):
        got = self._clean(spark, [(1, "$pull", "tags", '{"$in": ["  x  "]}', False)])
        assert got == [(1, "$pull", "tags", '{"$in": ["  x  "]}')]

    def test_clean_then_validate_roundtrip(self, spark):
        from simpl_schema_spark.modifiers import (
            clean_modifier_table,
            validate_modifier_table,
        )

        df = spark.createDataFrame(
            [(1, "$set", "count", '" 5 "', False)], MOD_DDL
        )
        cleaned = clean_modifier_table(df, schema())
        out = validate_modifier_table(cleaned, schema())
        assert out.collect() == []


class TestObjectValuedSet:
    """Object-valued $set recursion (reference doValidation.ts:64-70 →
    validateField object recursion): descendant keys of the object value are
    validated; missing non-optional children fire required; unknown present
    children fire keyNotInSchema."""

    def _schema(self):
        return SimpleSchema(
            {
                "a": {"type": dict},
                "a.b": str,
                "a.n": {"type": int, "optional": True, "max": 10},
                "a.c": {"type": dict, "optional": True},
                "a.c.d": {"type": str, "max": 3},
            }
        )

    def test_valid_object_set(self, spark):
        assert run(spark, [(1, "$set", "a", '{"b": "x"}', False)], self._schema()) == []

    def test_child_value_checked(self, spark):
        got = run(spark, [(1, "$set", "a", '{"b": "x", "n": 99}', False)], self._schema())
        assert got == [(1, "a.n", "maxNumber")]

    def test_child_wrong_type(self, spark):
        got = run(spark, [(1, "$set", "a", '{"b": 5}', False)], self._schema())
        assert got == [(1, "a.b", "expectedType")]

    def test_missing_required_child(self, spark):
        got = run(spark, [(1, "$set", "a", '{"n": 3}', False)], self._schema())
        assert got == [(1, "a.b", "required")]

    def test_explicit_null_required_child(self, spark):
        got = run(spark, [(1, "$set", "a", '{"b": null}', False)], self._schema())
        assert got == [(1, "a.b", "required")]

    def test_unknown_child_flagged(self, spark):
        got = run(spark, [(1, "$set", "a", '{"b": "x", "zzz": 1}', False)], self._schema())
        assert got == [(1, "a.zzz", "keyNotInSchema")]

    def test_nested_object_recursion(self, spark):
        # a.c present as object → its children validate (two levels deep)
        got = run(
            spark,
            [(1, "$set", "a", '{"b": "x", "c": {"d": "toolong"}}', False)],
            self._schema(),
        )
        assert got == [(1, "a.c.d", "maxString")]

    def test_nested_object_missing_required_grandchild(self, spark):
        got = run(
            spark, [(1, "$set", "a", '{"b": "x", "c": {}}', False)], self._schema()
        )
        assert got == [(1, "a.c.d", "required")]

    def test_blackbox_object_not_recursed(self, spark):
        ss = SimpleSchema({"meta": {"type": dict, "blackbox": True, "optional": True}})
        assert run(spark, [(1, "$set", "meta", '{"anything": [1,2]}', False)], ss) == []

    def test_upsert_no_duplicate_required_on_explicit_null(self, spark):
        # explicit null under upsert: required exactly ONCE (per-row rule),
        # not injected a second time
        got = run(spark, [(1, "$set", "requiredString", "null", True)])
        # 'count' (also non-optional, never set) is injected; requiredString
        # must appear exactly once
        assert got == [(1, "count", "required"), (1, "requiredString", "required")]

    def test_object_set_satisfies_upsert_children(self, spark):
        ss = SimpleSchema({"a": {"type": dict}, "a.b": str})
        got = run(spark, [(1, "$set", "a", '{"b": "x"}', True)], ss)
        assert got == []


class TestObjectValuedSetCleaning:
    """clean() recursion into object-valued $set values (clean.ts transforms
    run on every node, incl. inside objects)."""

    MOD_DDL = "doc_id bigint, op string, key_path string, value string, upsert boolean"

    def _schema(self):
        return SimpleSchema(
            {
                "a": {"type": dict},
                "a.s": str,
                "a.n": {"type": int, "optional": True},
                "a.keep": {"type": str, "optional": True, "trim": False},
                "a.c": {"type": dict, "optional": True},
                "a.c.d": {"type": str, "optional": True},
            }
        )

    def _clean(self, spark, value, **opts):
        import json as _json
        from simpl_schema_spark.modifiers import clean_modifier_table

        df = spark.createDataFrame([(1, "$set", "a", value, False)], self.MOD_DDL)
        out = clean_modifier_table(df, self._schema(), **opts).collect()
        return _json.loads(out[0].value) if out else None

    def test_trim_inside_object(self, spark):
        got = self._clean(spark, '{"s": "  hi  "}')
        assert got == {"s": "hi"}

    def test_trim_false_child_respected(self, spark):
        got = self._clean(spark, '{"s": "x", "keep": "  raw  "}')
        assert got == {"s": "x", "keep": "  raw  "}

    def test_autoconvert_inside_object(self, spark):
        got = self._clean(spark, '{"s": 5, "n": "7"}')
        assert got == {"s": "5", "n": 7}

    def test_empty_string_child_removed(self, spark):
        got = self._clean(spark, '{"s": "ok", "n": 1, "c": {"d": "  "}}')
        assert got == {"s": "ok", "n": 1, "c": {}}

    def test_unknown_child_filtered(self, spark):
        got = self._clean(spark, '{"s": "ok", "zzz": 1}')
        assert got == {"s": "ok"}

    def test_nested_object_cleaned(self, spark):
        got = self._clean(spark, '{"s": "ok", "c": {"d": "  deep  "}}')
        assert got == {"s": "ok", "c": {"d": "deep"}}

    def test_escaping_preserved_inside_object(self, spark):
        got = self._clean(spark, '{"s": "  say \\"hi\\" \\\\ there  "}')
        assert got == {"s": 'say "hi" \\ there'}

    def test_clean_then_validate_object(self, spark):
        from simpl_schema_spark.modifiers import (
            clean_modifier_table,
            validate_modifier_table,
        )

        df = spark.createDataFrame(
            [(1, "$set", "a", '{"s": "  ok  ", "n": "3"}', False)], self.MOD_DDL
        )
        cleaned = clean_modifier_table(df, self._schema())
        assert validate_modifier_table(cleaned, self._schema()).collect() == []


class TestMalformedObjectTokens:
    """Truncated '{...' values pass the cheap shape check but must not kill
    the job (try_parse_json): validation skips child expansion; clean returns
    the token untouched."""

    def _schema(self):
        return SimpleSchema(
            {
                "a": {"type": dict},
                "a.b": str,
            }
        )

    def test_validate_malformed_object_no_crash(self, spark):
        got = run(spark, [(1, "$set", "a", '{"b": ', False)], self._schema())
        # no child expansion from the unparseable token, and no exception
        assert all(name != "a.b" for (_, name, _t) in got)

    def test_clean_malformed_object_untouched(self, spark):
        from simpl_schema_spark.modifiers import clean_modifier_table

        df = spark.createDataFrame(
            [(1, "$set", "a", '{"b": ', False)], MOD_DDL
        )
        out = clean_modifier_table(df, self._schema()).collect()
        assert out[0].value == '{"b": '


class TestModifierCustomValidators:
    """Custom validators run in modifier mode too (validateField.ts:192-226
    applies the full chain to affected keys)."""

    def test_python_field_validator(self, spark):
        def no_admin(v):
            return "notAllowed" if v == "admin" else None

        ss = SimpleSchema({"user": {"type": str, "custom": no_admin}})
        got = run(spark, [(1, "$set", "user", '"admin"', False),
                          (2, "$set", "user", '"bob"', False)], ss)
        assert got == [(1, "user", "notAllowed")]

    def test_spark_rule_validator(self, spark):
        from pyspark.sql import functions as F
        from simpl_schema_spark.compiler.compile import spark_rule

        @spark_rule
        def even_only(value, ctx):
            return F.when(value % 2 != 0, F.lit("notAllowed"))

        ss = SimpleSchema({"n": {"type": int, "custom": even_only}})
        got = run(spark, [(1, "$set", "n", "3", False),
                          (2, "$inc", "n", "4", False)], ss)
        assert got == [(1, "n", "notAllowed")]

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
            [(1, "$set", "start", "5", False), (1, "$set", "end", "3", False),
             (2, "$set", "start", "1", False), (2, "$set", "end", "3", False)],
            ss,
        )
        assert got == [(1, "end", "minNumber")]

    def test_item_validator_on_push_and_index(self, spark):
        def no_empty(v):
            return "minString" if v == "" else None

        ss = SimpleSchema(
            {
                "tags": {"type": SimpleSchema.Array, "optional": True},
                "tags.$": {"type": str, "custom": no_empty},
            }
        )
        got = run(
            spark,
            [(1, "$push", "tags", '""', False),
             (2, "$set", "tags.0", '""', False),
             (3, "$push", "tags", '"ok"', False)],
            ss,
        )
        assert got == [(1, "tags", "minString"), (2, "tags.0", "minString")]

    def test_item_validator_each(self, spark):
        def no_empty(v):
            return "minString" if v == "" else None

        ss = SimpleSchema(
            {
                "tags": {"type": SimpleSchema.Array, "optional": True},
                "tags.$": {"type": str, "custom": no_empty},
            }
        )
        got = run(
            spark,
            [(1, "$push", "tags", '{"$each": ["ok", "", "x", ""]}', False)],
            ss,
        )
        assert got == [(1, "tags", "minString"), (1, "tags", "minString")]

    def test_builtin_wins_then_custom(self, spark):
        def custom(v):
            return "custom" if v == "zz" else None

        ss = SimpleSchema(
            {"s": {"type": str, "max": 4, "custom": custom}}
        )
        got = run(spark, [(1, "$set", "s", '"toolong"', False),
                          (2, "$set", "s", '"zz"', False)], ss)
        assert got == [(1, "s", "maxString"), (2, "s", "custom")]

    def test_type_sensitive_validator_not_fed_other_keys(self, spark):
        # regression: the pandas UDF is evaluated for EVERY row (ArrowEval
        # extraction), so without in-UDF masking a numeric validator would
        # receive the string value from the note row and raise
        def positive_int(v):
            if v is not None and v < 1:
                return "minNumber"
            return None

        ss = SimpleSchema(
            {
                "note": {"type": str, "optional": True},
                "n": {"type": int, "optional": True, "custom": positive_int},
            }
        )
        got = run(
            spark,
            [(1, "$set", "note", '"hello"', False),
             (1, "$set", "n", "0", False),
             (2, "$set", "note", '"world"', False)],
            ss,
        )
        assert got == [(1, "n", "minNumber")]

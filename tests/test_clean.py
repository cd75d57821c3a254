"""clean() golden input→output pairs, ported from the reference's
getTest(given, expected) pattern (/root/reference/test/clean.tests.ts:209+,
test/clean/defaultValue.tests.ts) adapted to columnar form."""

import datetime
import json

import pytest

from pyspark.sql import functions as F

from simpl_schema_spark.schema import SimpleSchema
from simpl_schema_spark.cleaning import JS_WS, clean, js_trim, spark_auto_value
from simpl_schema_spark.modifiers import clean_modifier_table
from simpl_schema_spark.pipeline import clean_and_validate

UTC = datetime.timezone.utc


def _one(df):
    return df.collect()[0].asDict(recursive=True)


class TestAutoConvert:
    def test_string_number_to_double(self, spark):
        # {string: '1'} stays string for String type; {number: '1'} → 1
        ss = SimpleSchema({"number": {"type": float, "optional": True}})
        df = spark.createDataFrame([{"number": "1"}], "number string")
        out = clean(df, ss)
        assert dict(out.dtypes)["number"] == "double"
        assert _one(out)["number"] == 1.0

    def test_number_to_string(self, spark):
        # {string: 1} → {string: '1'}  (clean.tests.ts golden pair)
        ss = SimpleSchema({"string": {"type": str, "optional": True}})
        df = spark.createDataFrame([{"string": 1.0}], "string double")
        assert _one(clean(df, ss))["string"] == "1"
        df = spark.createDataFrame([{"string": 1.5}], "string double")
        assert _one(clean(df, ss))["string"] == "1.5"

    def test_bool_to_string(self, spark):
        ss = SimpleSchema({"string": {"type": str, "optional": True}})
        df = spark.createDataFrame([{"string": True}], "string boolean")
        assert _one(clean(df, ss))["string"] == "true"

    def test_string_true_false_to_boolean(self, spark):
        ss = SimpleSchema({"b": {"type": bool, "optional": True}})
        df = spark.createDataFrame(
            [{"b": "true"}, {"b": "FALSE"}, {"b": "nope"}], "b string"
        )
        vals = [r.b for r in clean(df, ss).collect()]
        assert vals == [True, False, None]

    def test_number_to_boolean(self, spark):
        ss = SimpleSchema({"b": {"type": bool, "optional": True}})
        df = spark.createDataFrame([{"b": 0}, {"b": 2}], "b bigint")
        assert [r.b for r in clean(df, ss).collect()] == [False, True]

    def test_string_to_date(self, spark):
        ss = SimpleSchema({"d": {"type": SimpleSchema.Date, "optional": True}})
        df = spark.createDataFrame([{"d": "2013-01-01"}], "d string")
        out = clean(df, ss)
        assert dict(out.dtypes)["d"] == "timestamp"
        assert _one(out)["d"] == datetime.datetime(2013, 1, 1)

    def test_epoch_ms_number_to_date(self, spark):
        ss = SimpleSchema({"d": {"type": SimpleSchema.Date, "optional": True}})
        ms = 1357016400000  # 2013-01-01T05:00:00Z
        df = spark.createDataFrame([{"d": ms}], "d bigint")
        out = _one(clean(df, ss))
        assert out["d"] == datetime.datetime(2013, 1, 1, 5, 0, 0)

    def test_scalar_wrapped_into_array(self, spark):
        ss = SimpleSchema(
            {"arr": {"type": SimpleSchema.Array, "optional": True}, "arr.$": {"type": str}}
        )
        df = spark.createDataFrame([{"arr": "x"}], "arr string")
        out = clean(df, ss)
        assert dict(out.dtypes)["arr"] == "array<string>"
        assert _one(out)["arr"] == ["x"]

    def test_whitespace_only_string_to_number_is_zero(self, spark):
        # JS quirk: Number('   ') === 0
        ss = SimpleSchema({"n": {"type": float, "optional": True}})
        df = spark.createDataFrame([{"n": "   "}], "n string")
        assert _one(clean(df, ss))["n"] == 0.0

    def test_no_convert_when_autoconvert_off(self, spark):
        ss = SimpleSchema({"n": {"type": float, "optional": True}})
        df = spark.createDataFrame([{"n": "1"}], "n string")
        out = clean(df, ss, auto_convert=False)
        assert dict(out.dtypes)["n"] == "string"


class TestTrimAndEmptyStrings:
    def test_trim(self, spark):
        ss = SimpleSchema({"s": {"type": str, "optional": True}})
        df = spark.createDataFrame([{"s": "  hi  "}], "s string")
        assert _one(clean(df, ss))["s"] == "hi"

    def test_js_whitespace_set(self, spark):
        # NBSP + BOM are trimmed by JS trim() but not Spark F.trim
        ss = SimpleSchema({"s": {"type": str, "optional": True}})
        df = spark.createDataFrame([{"s": " ﻿ x  "}], "s string")
        assert _one(clean(df, ss))["s"] == "x"

    def test_trim_false_respected(self, spark):
        ss = SimpleSchema({"s": {"type": str, "optional": True, "trim": False}})
        df = spark.createDataFrame([{"s": "  hi  "}], "s string")
        assert _one(clean(df, ss))["s"] == "  hi  "

    def test_whitespace_only_trims_to_removed(self, spark):
        # whitespace-only strings trim to '' and are removed
        # (test/clean.tests.ts:230-233)
        ss = SimpleSchema({"s": {"type": str, "optional": True}})
        df = spark.createDataFrame([{"s": "    "}], "s string")
        assert _one(clean(df, ss))["s"] is None

    def test_empty_string_removed(self, spark):
        ss = SimpleSchema({"s": {"type": str, "optional": True}})
        df = spark.createDataFrame([{"s": ""}], "s string")
        assert _one(clean(df, ss))["s"] is None

    def test_empty_string_kept_when_option_off(self, spark):
        ss = SimpleSchema({"s": {"type": str, "optional": True}})
        df = spark.createDataFrame([{"s": ""}], "s string")
        assert _one(clean(df, ss, remove_empty_strings=False))["s"] == ""

    def test_trim_inside_array_items(self, spark):
        ss = SimpleSchema(
            {"a": {"type": SimpleSchema.Array, "optional": True}, "a.$": {"type": str}}
        )
        df = spark.createDataFrame([{"a": [" x ", ""]}], "a array<string>")
        assert _one(clean(df, ss))["a"] == ["x", None]

    def test_remove_nulls_from_arrays(self, spark):
        ss = SimpleSchema(
            {"a": {"type": SimpleSchema.Array, "optional": True}, "a.$": {"type": str}}
        )
        df = spark.createDataFrame([{"a": [" x ", ""]}], "a array<string>")
        out = _one(clean(df, ss, remove_nulls_from_arrays=True))
        assert out["a"] == ["x"]


class TestJsTrimSet:
    """``js_trim`` strips exactly the JS WhiteSpace ∪ LineTerminator set
    from both ends, like ``String.prototype.trim``: every case is checked
    against Python ``s.strip(JS_WS)``, as a typed column and as a ``$set``
    token."""

    KEPT = "\u0085\u180e\u200b"  # Unicode spaces JS does not trim

    def _cases(self):
        cases = [c + c + "a" + c + "b" + c for c in JS_WS]  # interior kept
        cases += [k + "x" + k for k in self.KEPT]
        cases += [
            JS_WS + "\U0001F600 x \U0001F600" + JS_WS,  # surrogate pairs
            "\ufeff\U0001F600",
            "",
            JS_WS,
            " \u0085 ",
        ]
        return cases

    def test_set_is_the_js_set(self):
        assert sorted(map(ord, JS_WS)) == [
            *range(0x09, 0x0E), 0x20, 0xA0, 0x1680, *range(0x2000, 0x200B),
            0x2028, 0x2029, 0x202F, 0x205F, 0x3000, 0xFEFF,
        ]

    def test_js_trim_matches_python_strip(self, spark):
        cases = self._cases()
        df = spark.createDataFrame(list(enumerate(cases)), "i int, s string")
        got = {r.i: r.t for r in df.select("i", js_trim(F.col("s")).alias("t")).collect()}
        assert got == {i: s.strip(JS_WS) for i, s in enumerate(cases)}

    def test_typed_column(self, spark):
        cases = self._cases()
        ss = SimpleSchema({"i": int, "s": {"type": str, "optional": True}})
        df = spark.createDataFrame(list(enumerate(cases)), "i bigint, s string")
        got = {r.i: r.s for r in clean(df, ss).collect()}
        # removeEmptyStrings: a string that trims to "" becomes NULL
        assert got == {i: s.strip(JS_WS) or None for i, s in enumerate(cases)}

    def test_set_token(self, spark):
        cases = self._cases()
        ss = SimpleSchema({"s": {"type": str, "optional": True}})
        rows = [(i, "$set", "s", json.dumps(s), False) for i, s in enumerate(cases)]
        df = spark.createDataFrame(
            rows, "doc_id bigint, op string, key_path string, value string, upsert boolean"
        )
        got = {
            r.doc_id: (r.op, json.loads(r.value))
            for r in clean_modifier_table(df, ss).collect()
        }
        # removeEmptyStrings: a string that trims to "" moves to $unset
        assert got == {
            i: ("$set", s.strip(JS_WS)) if s.strip(JS_WS) else ("$unset", "")
            for i, s in enumerate(cases)
        }


class TestFilter:
    def test_unknown_column_dropped(self, spark):
        # filter of unknown 'admin' key (test/clean.tests.ts)
        ss = SimpleSchema({"a": {"type": str, "optional": True}})
        df = spark.createDataFrame([{"a": "x", "admin": True}], "a string, admin boolean")
        out = clean(df, ss)
        assert out.columns == ["a"]

    def test_unknown_nested_field_dropped(self, spark):
        ss = SimpleSchema({"o": {"type": dict, "optional": True}, "o.x": str})
        df = spark.createDataFrame(
            [{"o": {"x": "keep", "zap": 1}}], "o struct<x:string, zap:bigint>"
        )
        out = clean(df, ss)
        assert out.schema["o"].dataType.fieldNames() == ["x"]

    def test_blackbox_content_kept(self, spark):
        ss = SimpleSchema({"bb": {"type": dict, "optional": True, "blackbox": True}})
        df = spark.createDataFrame(
            [{"bb": {"anything": "goes"}}], "bb struct<anything:string>"
        )
        out = clean(df, ss)
        assert _one(out)["bb"] == {"anything": "goes"}

    def test_filter_off_keeps_unknown(self, spark):
        ss = SimpleSchema({"a": {"type": str, "optional": True}})
        df = spark.createDataFrame([{"a": "x", "admin": True}], "a string, admin boolean")
        out = clean(df, ss, filter=False)
        assert set(out.columns) == {"a", "admin"}


class TestAutoValues:
    def test_default_value_applied_when_unset(self, spark):
        ss = SimpleSchema({"s": {"type": str, "optional": True, "defaultValue": "d"}})
        df = spark.createDataFrame([{"s": None}, {"s": "x"}], "s string")
        assert [r.s for r in clean(df, ss).collect()] == ["d", "x"]

    def test_default_value_in_nested_struct(self, spark):
        ss = SimpleSchema(
            {
                "o": {"type": dict, "optional": True},
                "o.b": {"type": bool, "optional": True, "defaultValue": False},
            }
        )
        df = spark.createDataFrame([{"o": {"b": None}}], "o struct<b:boolean>")
        assert _one(clean(df, ss))["o"] == {"b": False}

    def test_spark_auto_value(self, spark):
        @spark_auto_value
        def updated_at(ctx):
            return F.lit("2020-01-01")

        ss = SimpleSchema(
            {
                "s": {"type": str, "optional": True},
                "u": {"type": str, "optional": True, "autoValue": updated_at},
            }
        )
        df = spark.createDataFrame([{"s": "x", "u": None}], "s string, u string")
        assert _one(clean(df, ss))["u"] == "2020-01-01"

    def test_auto_values_off(self, spark):
        ss = SimpleSchema({"s": {"type": str, "optional": True, "defaultValue": "d"}})
        df = spark.createDataFrame([{"s": None}], "s string")
        assert _one(clean(df, ss, get_auto_values=False))["s"] is None


class TestCleanAndValidate:
    def test_conversion_failure_reports_original_value(self, spark):
        ss = SimpleSchema({"n": {"type": float}})
        df = spark.createDataFrame([{"n": "abc"}, {"n": "42"}], "n string")
        out = clean_and_validate(df, ss).orderBy("n").collect()
        by_val = {r.n: [v.asDict() for v in r.violations] for r in out}
        assert by_val[42.0] == []
        bad = by_val[None]
        assert [(v["name"], v["type"], v["value"], v["dataType"]) for v in bad] == [
            ("n", "expectedType", "abc", "Number")
        ]

    def test_whitespace_required_string_fails_after_clean(self, spark):
        # '   ' trims to '' → removed → required fires (composed semantics)
        ss = SimpleSchema({"s": {"type": str}})
        df = spark.createDataFrame([{"s": "   "}], "s string")
        vs = clean_and_validate(df, ss).collect()[0].violations
        assert [(v["name"], v["type"]) for v in vs] == [("s", "required")]

    def test_clean_fixes_validation(self, spark):
        ss = SimpleSchema({"n": {"type": int, "min": 10}})
        df = spark.createDataFrame([{"n": " 12 "}], "n string")
        row = clean_and_validate(df, ss).collect()[0]
        assert row.violations == [] and row.n == 12.0

    def test_missing_required_still_fires(self, spark):
        ss = SimpleSchema({"n": {"type": float}})
        df = spark.createDataFrame([{"n": None}], "n string")
        vs = clean_and_validate(df, ss).collect()[0].violations
        assert [(v["name"], v["type"]) for v in vs] == [("n", "required")]

    def test_doc_validators_run_on_the_cleaned_document(self, spark):
        # validator({clean: true}) runs doc validators after the field
        # rules, on the cleaned document
        def same(doc):
            if doc.get("a") != doc.get("b"):
                return [{"name": "b", "type": "mismatch"}]
            return []

        ss = SimpleSchema({"a": str, "b": str})
        ss.add_doc_validator(same)
        df = spark.createDataFrame([(1, " x ", "x"), (2, "x", "y")], "i int, a string, b string")
        out = clean_and_validate(df, ss, extra_key_policy="ignore", filter=False)
        got = {r.i: [(v.name, v.type) for v in r.violations] for r in out.collect()}
        assert got == {1: [], 2: [("b", "mismatch")]}

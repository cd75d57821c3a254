"""Schema/global/doc validators (V9/V10) + exporters (S9)."""

import re

import pytest

from pyspark.sql import functions as F

from simpl_schema_spark.compiler import spark_rule
from simpl_schema_spark.schema import SimpleSchema, oneOf
from simpl_schema_spark.schema.exporters import to_json_schema, to_spark_struct

from helpers import expect_errors, expect_valid, run_validation


class TestSchemaLevelValidators:
    def test_schema_validator_applies_to_all_keys(self, spark):
        @spark_rule
        def no_banana(value, ctx):
            return F.when(
                value.cast("string") == "banana", F.lit("noBanana")
            )

        ss = SimpleSchema(
            {"a": {"type": str, "optional": True}, "b": {"type": str, "optional": True}}
        )
        ss.add_validator(no_banana)
        expect_errors(
            spark,
            ss,
            "a string, b string",
            {"a": "banana", "b": "ok"},
            [("a", "noBanana")],
        )

    def test_doc_validator(self, spark):
        # cross-field: password2 must equal password
        # (reference test/SimpleSchema_custom.tests.ts:9-21 pattern)
        def passwords_match(doc):
            if doc.get("password") != doc.get("password2"):
                return [{"name": "password2", "type": "passwordMismatch"}]
            return []

        ss = SimpleSchema(
            {
                "password": {"type": str, "optional": True},
                "password2": {"type": str, "optional": True},
            }
        )
        ss.add_doc_validator(passwords_match)
        vs = run_validation(
            spark, ss, "password string, password2 string",
            [{"password": "a", "password2": "b"}],
        )[0]
        assert [(v["name"], v["type"]) for v in vs] == [
            ("password2", "passwordMismatch")
        ]
        vs = run_validation(
            spark, ss, "password string, password2 string",
            [{"password": "a", "password2": "a"}],
        )[0]
        assert vs == []


class TestJsonSchemaExport:
    def test_basic_export(self):
        ss = SimpleSchema(
            {
                "name": {"type": str, "min": 2, "max": 10},
                "age": {"type": int, "min": 0, "max": 130, "optional": True},
                "score": {"type": float, "exclusiveMin": True, "min": 0.0},
                "active": bool,
                "tags": {"type": SimpleSchema.Array, "minCount": 1, "optional": True},
                "tags.$": {"type": str, "allowedValues": ["x", "y"]},
                "meta": {"type": dict, "optional": True, "blackbox": True},
            }
        )
        js = to_json_schema(ss, id="doc")
        assert js["$id"] == "doc"
        assert js["$schema"].endswith("2020-12/schema")
        props = js["properties"]
        assert props["name"] == {"type": "string", "minLength": 2, "maxLength": 10}
        assert props["age"] == {"type": "integer", "minimum": 0, "maximum": 130}
        assert props["score"] == {"type": "number", "exclusiveMinimum": 0.0}
        assert props["active"] == {"type": "boolean"}
        assert props["tags"]["type"] == "array"
        assert props["tags"]["minItems"] == 1
        assert props["tags"]["items"][0] == {"type": "string", "enum": ["x", "y"]}
        assert props["meta"]["additionalProperties"] is True
        assert sorted(js["required"]) == ["active", "name", "score"]

    def test_one_of_becomes_any_of(self):
        ss = SimpleSchema({"v": {"type": oneOf(str, int), "optional": True}})
        js = to_json_schema(ss)
        assert js["properties"]["v"] == {
            "anyOf": [{"type": "string"}, {"type": "integer"}]
        }

    def test_regex_pattern(self):
        ss = SimpleSchema({"k": {"type": str, "regEx": re.compile("^a+$")}})
        assert to_json_schema(ss)["properties"]["k"]["pattern"] == "/^a+$/"

    def test_default_value_exported(self):
        ss = SimpleSchema({"k": {"type": str, "defaultValue": "d"}})
        assert to_json_schema(ss)["properties"]["k"]["default"] == "d"


class TestSparkStructExport:
    def test_struct_export(self):
        sub = SimpleSchema({"x": str})
        ss = SimpleSchema(
            {
                "s": str,
                "n": float,
                "i": int,
                "b": bool,
                "d": {"type": SimpleSchema.Date},
                "bin": {"type": SimpleSchema.Binary},
                "arr": [int],
                "obj": {"type": dict},
                "obj.inner": str,
                "sub": {"type": sub},
            }
        )
        st = to_spark_struct(ss)
        assert st.simpleString() == (
            "struct<s:string,n:double,i:bigint,b:boolean,d:timestamp,"
            "bin:binary,arr:array<bigint>,obj:struct<inner:string>,"
            "sub:struct<x:string>>"
        )

    def test_roundtrip_validates_clean(self, spark):
        ss = SimpleSchema({"s": str, "n": {"type": int, "optional": True}})
        st = to_spark_struct(ss)
        df = spark.createDataFrame([("a", 1)], st)
        vs = run_validation(spark, ss, st, [{"s": "a", "n": 1}])[0]
        assert vs == []


class TestValidatorMemoKeys:
    """The compiled forests are held by the content-keyed compile cache
    (``compiler/memo.py``), whose key includes the active validator
    functions.  Replacing a global validator must rebuild them even when
    the new function lands at the address (the ``id``) of the one it
    replaces."""

    @staticmethod
    def _rule(tag):
        @spark_rule
        def rule(value, ctx):
            return F.when(value.cast("string") == "banana", F.lit(tag))

        return rule

    def _swap_and_check(self, run):
        import gc

        saved = list(SimpleSchema._global_validators)
        try:
            for tag in ("first", "second", "third"):
                # drop the old function before making the new one, so the
                # new one may take its memory and id
                SimpleSchema._global_validators[:] = saved
                gc.collect()
                SimpleSchema._global_validators.append(self._rule(tag))
                assert run() == [tag]
        finally:
            SimpleSchema._global_validators[:] = saved

    def test_typed_table(self, spark):
        from simpl_schema_spark.validation import with_violations

        ss = SimpleSchema({"a": {"type": str, "optional": True}})
        df = spark.createDataFrame([("banana",)], "a string")
        self._swap_and_check(
            lambda: [v.type for r in with_violations(df, ss).collect() for v in r.violations]
        )

    def test_modifier_rows(self, spark):
        from simpl_schema_spark.modifiers import validate_modifier_table

        ss = SimpleSchema({"a": {"type": str, "optional": True}})
        df = spark.createDataFrame(
            [(1, "$set", "a", '"banana"', False)],
            "doc_id bigint, op string, key_path string, value string, upsert boolean",
        )
        self._swap_and_check(
            lambda: [r.type for r in validate_modifier_table(df, ss).collect()]
        )

    def test_json_documents(self, spark):
        from simpl_schema_spark.jsondoc import validate_json_column

        ss = SimpleSchema({"a": {"type": str, "optional": True}})
        df = spark.createDataFrame([(1, '{"a": "banana"}')], "doc_id bigint, json_blob string")
        self._swap_and_check(
            lambda: [r.type for r in validate_json_column(df, ss).collect()]
        )

"""Function-valued definition props (reference SimpleSchema.ts:55-67,
397-421): allowedValues/min/max/optional/label etc. may be callables,
resolved with a context at definition-resolution (our compile) time."""

from simpl_schema_spark.schema import SimpleSchema


class TestFunctionProps:
    def test_min_max_as_functions(self):
        ss = SimpleSchema(
            {"n": {"type": int, "min": lambda ctx: 5, "max": lambda ctx: 10}}
        )
        alt = ss.resolved_alternatives("n")[0]
        assert alt["min"] == 5 and alt["max"] == 10

    def test_optional_as_function(self):
        ss = SimpleSchema({"k": {"type": str, "optional": lambda ctx: True}})
        d = ss.get_definition("k")
        assert d["optional"] is True

    def test_required_function_inverted_to_optional(self):
        ss = SimpleSchema({"k": {"type": str, "required": lambda: False}})
        d = ss.get_definition("k")
        assert d["optional"] is True

    def test_allowed_values_as_function(self):
        ss = SimpleSchema(
            {"k": {"type": str, "allowedValues": lambda ctx: ["a", "b"]}}
        )
        alt = ss.resolved_alternatives("k")[0]
        assert alt["allowedValues"] == ["a", "b"]

    def test_label_as_function(self):
        ss = SimpleSchema({"k": {"type": str, "label": lambda: "Dyn"}})
        assert ss.label("k") == "Dyn"

    def test_context_exposes_key(self):
        seen = {}

        def min_fn(ctx):
            seen["key"] = ctx.key
            return 1

        ss = SimpleSchema({"k": {"type": int, "min": min_fn, "optional": True}})
        ss.resolved_alternatives("k")
        assert seen["key"] == "k"


class TestFunctionPropsAcrossModes:
    """Function-valued props resolve the same way in every validation mode:
    ``max`` gives a ``maxString`` with the resolved bound, and a function
    ``optional`` is called with its context."""

    @staticmethod
    def _props():
        return {
            "k": {"type": str, "max": lambda ctx: 3},
            "o": {"type": str, "optional": lambda ctx: True},
        }

    def test_typed_subschema_keys(self, spark):
        from simpl_schema_spark.validation import violations_table

        ss = SimpleSchema({"doc": {"type": SimpleSchema(self._props())}})
        df = spark.createDataFrame(
            [(0, ("abcd", None))], "id bigint, doc struct<k:string,o:string>"
        )
        got = [
            (r.name, r.type, r.max)
            for r in violations_table(
                df, ss, id_cols=["id"], extra_key_policy="ignore"
            ).collect()
        ]
        assert got == [("doc.k", "maxString", "3")]

    def test_json_documents(self, spark):
        from simpl_schema_spark.jsondoc import validate_json_column

        df = spark.createDataFrame(
            [(0, '{"k": "abcd"}')], "doc_id bigint, json_blob string"
        )
        got = [
            (r.name, r.type, r.max)
            for r in validate_json_column(df, SimpleSchema(self._props())).collect()
        ]
        assert got == [("k", "maxString", "3")]

    def test_modifier_rows(self, spark):
        from simpl_schema_spark.modifiers import validate_modifier_table

        df = spark.createDataFrame(
            [(0, "$set", "k", '"abcd"', False), (1, "$unset", "o", '""', False)],
            "doc_id bigint, op string, key_path string, value string, "
            "upsert boolean",
        )
        got = [
            (r.doc_id, r.name, r.type, r.max)
            for r in validate_modifier_table(df, SimpleSchema(self._props())).collect()
        ]
        assert got == [(0, "k", "maxString", "3")]

"""The updates path: modifier validation, modifier cleaning and JSON
documents.

Two kinds of test.  Pins fix behaviour that the single-pass plans must keep:
the upsert required-key injection and the per-document auto-value
resolution.  Plan guards fix the shape of those plans: how many times the
input is scanned and shuffled, how many times each JSON document is parsed,
and that no call leaves a persisted relation behind.
"""

from pyspark.sql import functions as F

from simpl_schema_spark.jsondoc import json_violations_column, validate_json_column
from simpl_schema_spark.modifiers import clean_modifier_table, validate_modifier_table
from simpl_schema_spark.schema import SimpleSchema

MOD_DDL = "doc_id bigint, op string, key_path string, value string, upsert boolean"


def _mods(spark, rows):
    # one partition: collect_list then sees a document's rows in input order
    return spark.createDataFrame(rows, MOD_DDL).coalesce(1)


def _violations(spark, rows, ss):
    out = validate_modifier_table(_mods(spark, rows), ss)
    return sorted((r.doc_id, r.name, r.type) for r in out.collect())


def _cleaned(spark, rows, ss):
    out = clean_modifier_table(_mods(spark, rows), ss)
    return sorted(
        (r.doc_id, r.op, r.key_path, r.value, r.upsert) for r in out.collect()
    )


def _final_plan(df) -> str:
    """Executed physical plan of ``df`` after one collect (AQE's final plan)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


class TestUpsertInjectionPins:
    def test_ancestor_credit_two_levels(self, spark):
        ss = SimpleSchema({"a": dict, "a.b": dict, "a.b.c": str, "t": str})
        got = _violations(spark, [(1, "$set", "a.b.c", '"x"', True)], ss)
        # a and a.b are created by a.b.c; t is injected
        assert got == [(1, "t", "required")]

    def test_ancestor_credit_needs_a_value(self, spark):
        ss = SimpleSchema({"a": dict, "a.b": {"type": str, "optional": True}})
        got = _violations(spark, [(1, "$set", "a.b", "null", True)], ss)
        assert got == [(1, "a", "required")]

    def test_explicit_null_reported_once(self, spark):
        ss = SimpleSchema({"t": str, "n": int})
        got = _violations(
            spark, [(1, "$set", "t", "null", True), (1, "$set", "n", "1", True)], ss
        )
        assert got == [(1, "t", "required")]

    def test_upsert_with_only_inc_rows_gets_no_injection(self, spark):
        ss = SimpleSchema({"t": str, "n": int})
        assert _violations(spark, [(1, "$inc", "n", "1", True)], ss) == []

    def test_non_upsert_never_injected(self, spark):
        ss = SimpleSchema({"t": str, "n": int})
        assert _violations(spark, [(1, "$set", "n", "1", False)], ss) == []

    def test_dollar_keys_never_injected(self, spark):
        ss = SimpleSchema(
            {
                "t": str,
                "items": {"type": SimpleSchema.Array, "optional": True},
                "items.$": dict,
                "items.$.name": str,
            }
        )
        assert _violations(spark, [(1, "$set", "t", '"x"', True)], ss) == []

    def test_expanded_object_children_count_as_present(self, spark):
        ss = SimpleSchema({"a": dict, "a.b": str, "a.c": int})
        got = _violations(spark, [(1, "$set", "a", '{"b": "x", "c": null}', True)], ss)
        # a.c is present (as null): its per-row required fires, no injection
        assert got == [(1, "a.c", "required")]

    def test_documents_are_independent(self, spark):
        ss = SimpleSchema({"t": str, "n": int})
        got = _violations(
            spark,
            [
                (1, "$set", "t", '"x"', True),
                (2, "$set", "n", "1", True),
                (3, "$set", "t", '"y"', False),
            ],
            ss,
        )
        assert got == [(1, "n", "required"), (2, "t", "required")]


class TestAutoValuePins:
    def _schema(self):
        # defined here so the UDF pickles it by value
        def times_ten(ctx):
            if not ctx.is_set:
                return ctx.UNCHANGED
            return ctx.value * 10

        return SimpleSchema(
            {
                "n": {"type": int, "optional": True, "autoValue": times_ten},
                "m": {"type": int, "optional": True},
                "state": {"type": str, "optional": True, "defaultValue": "new"},
            }
        )

    def test_duplicate_rows_dropped_together_first_entry_seen(self, spark):
        got = _cleaned(
            spark,
            [(1, "$set", "n", "1", False), (1, "$set", "n", "2", False)],
            self._schema(),
        )
        assert got == [(1, "$set", "n", "10", False)]

    def test_duplicate_rows_kept_together(self, spark):
        rows = [(1, "$set", "m", "1", False), (1, "$set", "m", "2", False)]
        assert _cleaned(spark, rows, self._schema()) == sorted(rows)

    def test_kept_rows_keep_their_upsert_added_rows_take_the_documents(self, spark):
        got = _cleaned(
            spark,
            [(1, "$set", "m", "1", True), (1, "$inc", "m", "2", False)],
            self._schema(),
        )
        assert got == [
            (1, "$inc", "m", "2", False),
            (1, "$set", "m", "1", True),
            (1, "$setOnInsert", "state", '"new"', True),
        ]

    def test_pseudo_modifier_return_replaces_the_entry(self, spark):
        ss = SimpleSchema(
            {"n": {"type": int, "optional": True, "autoValue": lambda ctx: {"$inc": 1}}}
        )
        got = _cleaned(spark, [(1, "$set", "n", "5", False)], ss)
        assert got == [(1, "$inc", "n", "1", False)]

    def test_unset_removes_the_entry(self, spark):
        def drop(ctx):
            ctx.unset()
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "n": {"type": int, "optional": True, "autoValue": drop},
                "m": {"type": int, "optional": True},
            }
        )
        got = _cleaned(
            spark, [(1, "$set", "n", "5", False), (1, "$set", "m", "1", False)], ss
        )
        assert got == [(1, "$set", "m", "1", False)]

    def test_default_value_only_on_upsert(self, spark):
        got = _cleaned(
            spark,
            [(1, "$set", "m", "1", True), (2, "$set", "m", "1", False)],
            self._schema(),
        )
        assert got == [
            (1, "$set", "m", "1", True),
            (1, "$setOnInsert", "state", '"new"', True),
            (2, "$set", "m", "1", False),
        ]


class TestPlanShape:
    def _mod_schema(self):
        return SimpleSchema(
            {
                "t": {"type": str, "max": 5},
                "n": int,
                "meta": {"type": dict, "optional": True},
                "meta.k": {"type": str, "optional": True},
                "src": {"type": str, "optional": True, "defaultValue": "crawl"},
            }
        )

    def _rows(self, seed):
        return [
            (d, "$set", "t", f'"v{seed}"', d % 2 == 0)
            for d in range(seed, seed + 6)
        ] + [(seed, "$set", "meta", '{"k": "x", "z": 1}', True)]

    def test_validate_modifier_table_has_no_joins_and_one_shuffle(self, spark):
        df = validate_modifier_table(_mods(spark, self._rows(1)), self._mod_schema())
        plan = _final_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") <= 1

    def test_clean_modifier_table_runs_the_udf_once_without_a_cache(self, spark):
        df = clean_modifier_table(_mods(spark, self._rows(1)), self._mod_schema())
        plan = _final_plan(df)
        assert "InMemoryRelation" not in plan
        assert "InMemoryTableScan" not in plan
        assert plan.count("ArrowEvalPython") == 1

    def test_clean_modifier_table_leaves_nothing_persisted(self, spark):
        # start from an empty cache; earlier tests in the session may persist
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        for rdd in jsc.getPersistentRDDs().values():
            rdd.unpersist()
        ss = self._mod_schema()
        for seed in (1, 100):
            assert clean_modifier_table(_mods(spark, self._rows(seed)), ss).collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        assert len(jsc.sc().getRDDStorageInfo()) == 0

    def test_clean_modifier_table_parses_each_value_once(self, spark):
        ss = SimpleSchema(
            {
                "t": str,
                "n": {"type": int, "optional": True},
                "tags": {"type": SimpleSchema.Array, "optional": True},
                "tags.$": str,
                "meta": {"type": dict, "optional": True},
                "meta.k": {"type": str, "optional": True},
                "meta.sub": {"type": dict, "optional": True},
                "meta.sub.x": {"type": int, "optional": True},
            }
        )
        rows = [
            (1, "$set", "t", '" a "', False),
            (1, "$set", "n", '"4"', False),
            (1, "$push", "tags", '{"$each": [" b ", 2]}', False),
            (1, "$addToSet", "tags", "3", False),
            (1, "$set", "meta", '{"k": " c ", "sub": {"x": "5"}, "z": 1}', False),
        ]
        df = clean_modifier_table(_mods(spark, rows), ss, get_auto_values=False)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("parseJson") <= 1
        assert sorted((r.op, r.key_path, r.value) for r in df.collect()) == [
            ("$addToSet", "tags", '"3"'),
            ("$push", "tags", '{"$each": ["b", "2"]}'),
            ("$set", "meta", '{"k": "c", "sub": {"x": 5}}'),
            ("$set", "n", "4"),
            ("$set", "t", '"a"'),
        ]

    def _json_schema(self):
        return SimpleSchema(
            {
                "name": {"type": str, "min": 2},
                "age": {"type": int, "optional": True, "max": 130},
                "meta": {"type": dict, "optional": True},
                "meta.k": {"type": str, "optional": True},
                "tags": {"type": SimpleSchema.Array, "optional": True, "maxCount": 2},
                "tags.$": {"type": str, "max": 3},
            }
        )

    def _docs(self, spark):
        blobs = [
            '{"name": "ok", "age": 200, "tags": ["a", "long", "b"]}',
            '{"meta": {"k": 1, "z": 2}, "x": 1}',
            '{"name": "trunc',
        ]
        return spark.createDataFrame(list(enumerate(blobs)), "doc_id bigint, json_blob string")

    def test_json_documents_are_parsed_once(self, spark):
        df = validate_json_column(self._docs(spark), self._json_schema())
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("parseJson") == 1

    def test_malformed_document_gives_one_row(self, spark):
        df = validate_json_column(self._docs(spark), self._json_schema())
        got = [(r.name, r.type) for r in df.where("doc_id = 2").collect()]
        assert got == [("$", "malformedJson")]

    def test_inline_forest_matches_validate_json_column(self, spark):
        ss = self._json_schema()
        docs = self._docs(spark)
        inline = docs.select(
            "doc_id",
            F.explode(json_violations_column(ss, F.col("json_blob"))).alias("v"),
        ).select("doc_id", "v.*")
        want = sorted(tuple(r) for r in validate_json_column(docs, ss).collect())
        assert sorted(tuple(r) for r in inline.collect()) == want
        assert len(want) > 5

"""Distributed checks (SURVEY §2.6) against pandas/duckdb-style oracles on
driver testdata."""

import math

import pytest

from pyspark.sql import functions as F

from simpl_schema_spark.checks import (
    categorical_counts,
    categorical_drift,
    column_profile,
    dedup_keep_first,
    duplicate_keys,
    numeric_drift_ks,
    numeric_quantile_profile,
    observe_validation_stats,
    referential_violations,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


class TestColumnProfile:
    def test_profile_matches_duckdb(self, spark, docs):
        import duckdb

        prof = {r.column: r for r in column_profile(docs).collect()}
        want = duckdb.sql(
            f"""
            select count(*) n, sum(case when lang is null then 1 else 0 end) n_nulls,
                   min(n_chars) mn, max(n_chars) mx
            from '{SF_DIR}/documents.parquet'
            """
        ).fetchone()
        assert prof["lang"].n_rows == want[0]
        assert prof["lang"].null_count == (want[1] or 0)
        assert prof["n_chars"].min_value == str(want[2])
        assert prof["n_chars"].max_value == str(want[3])

    def test_distinct_approx_close(self, spark, docs):
        prof = {r.column: r for r in column_profile(docs).collect()}
        exact = docs.select("doc_id").distinct().count()
        approx = prof["doc_id"].distinct_approx
        assert abs(approx - exact) / exact < 0.1

    def test_observe_piggybacks(self, spark, docs):
        df, obs = observe_validation_stats(docs, ["lang"], violations_col=None)
        n = df.count()
        assert obs.get["n_rows"] == n
        assert obs.get["lang__nulls"] == docs.where(F.col("lang").isNull()).count()


class TestUniqueness:
    def test_duplicate_keys(self, spark):
        df = spark.createDataFrame(
            [("a",), ("b",), ("a",), ("c",), ("a",)], "k string"
        )
        dups = duplicate_keys(df, ["k"]).collect()
        assert [(r.k, r.dup_count) for r in dups] == [("a", 3)]

    def test_salted_matches_unsalted(self, spark):
        df = spark.createDataFrame(
            [(str(i % 7),) for i in range(100)], "k string"
        )
        plain = {(r.k, r.dup_count) for r in duplicate_keys(df, ["k"]).collect()}
        salted = {
            (r.k, r.dup_count)
            for r in duplicate_keys(df, ["k"], salt_buckets=8).collect()
        }
        assert plain == salted

    def test_dedup_keep_first(self, spark):
        df = spark.createDataFrame(
            [("a", 3, "x3"), ("a", 1, "x1"), ("b", 2, "y2")],
            "k string, ts int, payload string",
        )
        out = {r.k: r.payload for r in dedup_keep_first(df, ["k"], "ts").collect()}
        assert out == {"a": "x1", "b": "y2"}


class TestReferential:
    def test_anti_join(self, spark):
        fact = spark.createDataFrame(
            [("u1", "en"), ("u2", "xx"), ("u3", None)], "url string, lang string"
        )
        dim = spark.createDataFrame([("en",), ("de",)], "lang string")
        bad = referential_violations(fact, dim, "lang").collect()
        assert [r.url for r in bad] == ["u2"]  # nulls are not violations

    def test_tpch_lineitem_orders_clean(self, spark):
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        assert (
            referential_violations(li, orders, "l_orderkey", "o_orderkey").count()
            == 0
        )

    def test_broadcast_in_plan(self, spark):
        fact = spark.createDataFrame([("u1", "en")], "url string, lang string")
        dim = spark.createDataFrame([("en",)], "lang string")
        plan = referential_violations(fact, dim, "lang")._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan


class TestDrift:
    def test_no_drift_against_self(self, spark, docs):
        base = categorical_counts(docs, "lang")
        stat = categorical_drift(docs, base, "lang").collect()[0]
        assert stat.statistic == pytest.approx(0.0, abs=1e-9)

    def test_categorical_drift_detects_shift(self, spark, docs):
        base = categorical_counts(docs, "lang")
        shifted = docs.where(F.col("lang") == "en")
        stat = categorical_drift(shifted, base, "lang").collect()[0]
        assert stat.statistic > 10

    def test_chi2_matches_manual(self, spark):
        cur = spark.createDataFrame(
            [("a",)] * 30 + [("b",)] * 70, "c string"
        )
        base = spark.createDataFrame(
            [("a", 50), ("b", 50)], "category string, cnt bigint"
        )
        stat = categorical_drift(cur, base, "c").collect()[0]
        # expected 50/50 → (30-50)^2/50 + (70-50)^2/50 = 16
        assert stat.statistic == pytest.approx(16.0, rel=1e-6)
        assert stat.dof == 1

    def test_ks_zero_against_self(self, spark, docs):
        base = numeric_quantile_profile(docs, "n_chars")
        ks = numeric_drift_ks(docs, base, "n_chars").collect()[0]
        assert ks.ks_statistic == pytest.approx(0.0, abs=0.02)

    def test_ks_detects_shift(self, spark, docs):
        base = numeric_quantile_profile(docs, "n_chars")
        shifted = docs.select((F.col("n_chars") * 3).alias("n_chars"))
        ks = numeric_drift_ks(shifted, base, "n_chars").collect()[0]
        assert ks.ks_statistic > 0.5


class TestPSIDrift:
    def test_psi_zero_when_identical(self, spark):
        from simpl_schema_spark.checks import (
            categorical_counts,
            categorical_drift_psi,
        )

        df = spark.createDataFrame(
            [("a",)] * 60 + [("b",)] * 40, "c string"
        )
        base = categorical_counts(df, "c")
        r = categorical_drift_psi(df, base, "c").collect()[0]
        assert r.psi == 0.0 and r.n_categories == 2

    def test_psi_detects_shift_and_novel_category(self, spark):
        import math

        from simpl_schema_spark.checks import (
            categorical_counts,
            categorical_drift_psi,
        )

        base_df = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "c string")
        cur_df = spark.createDataFrame(
            [("a",)] * 80 + [("b",)] * 10 + [("z",)] * 10, "c string"
        )
        base = categorical_counts(base_df, "c")
        r = categorical_drift_psi(cur_df, base, "c").collect()[0]
        eps = 1e-4
        expected = sum(
            (pc - pb) * math.log(pc / pb)
            for pc, pb in [(0.8, 0.5), (0.1, 0.5), (0.1, eps)]
        )
        assert abs(r.psi - expected) < 1e-9
        assert r.psi > 0.25  # major shift registers above the usual cutoff


class TestVectorValidation:
    def test_violation_types_and_order(self, spark):
        from simpl_schema_spark.checks import vector_violations

        inf = float("inf")
        nan = float("nan")
        rows = [
            (1, [1.0, 2.0, 3.0]),        # valid
            (2, [1.0, 2.0]),             # wrong dim
            (3, None),                   # null -> wrong dim
            (4, [nan, 1.0, 2.0]),        # non-finite
            (5, [1.0, -inf, 2.0]),       # non-finite
            (6, [0.0, 0.0, 0.0]),        # zero vector
            (7, [nan, 0.0]),             # dim error masks element checks
            (8, [None, 1.0, 2.0]),       # NULL element -> nonFinite
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
        got = {
            r.vec_id: r.type
            for r in vector_violations(df, "v", 3, id_cols=["vec_id"]).collect()
        }
        assert got == {
            2: "expectedDim",
            3: "expectedDim",
            4: "nonFinite",
            5: "nonFinite",
            6: "zeroVector",
            7: "expectedDim",
            8: "nonFinite",
        }

    def test_with_vector_violation_column(self, spark):
        from simpl_schema_spark.checks import with_vector_violation

        df = spark.createDataFrame(
            [(1, [1.0, 0.5]), (2, [1.0])], "vec_id bigint, v array<double>"
        )
        out = {r.vec_id: r.vec_violation
               for r in with_vector_violation(df, "v", 2).collect()}
        assert out == {1: None, 2: "expectedDim"}


class TestSchemaDrift:
    def test_missing_new_and_type_changed(self, spark):
        from pyspark.sql import types as T
        from simpl_schema_spark.checks import schema_drift_violations

        baseline = T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("n", T.LongType()),
                T.StructField("gone", T.StringType()),
            ]
        )
        df = spark.createDataFrame(
            [("u", 1.5, True)], "url string, n double, extra boolean"
        )
        got = {
            r.name: (r.type, r.expected, r.actual)
            for r in schema_drift_violations(df, baseline).collect()
        }
        assert got == {
            "gone": ("missingColumn", "string", None),
            "n": ("typeChanged", "bigint", "double"),
            "extra": ("newColumn", None, "boolean"),
        }

    def test_simpleschema_baseline_and_clean(self, spark):
        from simpl_schema_spark.checks import schema_drift_violations
        from simpl_schema_spark.schema import SimpleSchema

        ss = SimpleSchema({"a": str, "b": {"type": int, "optional": True}})
        df = spark.createDataFrame([("x", 1)], "a string, b bigint")
        assert schema_drift_violations(df, ss).count() == 0


class TestNumericPSI:
    def test_binned_psi_matches_manual(self, spark):
        import math

        from simpl_schema_spark.checks import numeric_drift_psi

        base = spark.createDataFrame([(float(i % 10),) for i in range(100)], "x double")
        cur = spark.createDataFrame([(float(i % 5),) for i in range(100)], "x double")
        r = numeric_drift_psi(cur, base, "x", bin_edges=[0.0, 5.0]).collect()[0]
        # bins: <0 (empty), [0,5), [5,inf): base 50/50, cur 100/0
        eps = 1e-4
        expected = (1.0 - 0.5) * math.log(1.0 / 0.5) + (eps - 0.5) * math.log(eps / 0.5)
        assert abs(r.psi - expected) < 1e-9
        assert (r.n_current, r.n_baseline) == (100, 100)

    def test_bad_edges_raise(self, spark):
        from simpl_schema_spark.checks import numeric_drift_psi

        df = spark.createDataFrame([(1.0,)], "x double")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            numeric_drift_psi(df, df, "x", bin_edges=[3.0, 1.0])


def _exact_ks(cur, base):
    """Two-sample KS statistic in exact rational arithmetic, NULLs dropped."""
    from collections import Counter
    from fractions import Fraction

    cur = [v for v in cur if v is not None]
    base = [v for v in base if v is not None]
    cc, cb = Counter(cur), Counter(base)
    lc = lb = 0
    best = Fraction(0)
    for x in sorted(set(cc) | set(cb)):
        lc, lb = lc + cc[x], lb + cb[x]
        best = max(best, abs(Fraction(lc, len(cur)) - Fraction(lb, len(base))))
    return float(best)


def _clear_storage(spark):
    from simpl_schema_spark import cache

    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    cache.release_tracked()


def _assert_nothing_persisted(spark):
    from simpl_schema_spark import cache

    jsc = spark.sparkContext._jsc
    assert len(jsc.getPersistentRDDs()) == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert cache._TRACKED == []


class TestNumericDriftKsExact:
    """``numeric_drift_ks_exact`` against an exact two-sample KS in Python."""

    def _ks(self, spark, cur, base):
        from simpl_schema_spark.checks import numeric_drift_ks_exact

        c = spark.createDataFrame([(v,) for v in cur], "v bigint")
        b = spark.createDataFrame([(v,) for v in base], "v bigint")
        return numeric_drift_ks_exact(c, b, "v")

    @pytest.mark.parametrize(
        "cur, base",
        [
            ([1, 1, 2, 2, 2, 3], [1, 2, 2, 3, 3, 3, 3]),  # ties
            ([1, 2, 3, 10, 11], [2, 3, 4, 5]),  # values on one side only
            ([1, None, 2, None, 5], [None, 2, 3, 5, 5]),  # NULLs
            (list(range(100)), [v + 30 for v in range(100)]),  # shifted
            ([7] * 5, [7] * 9),  # identical single value
        ],
        ids=["ties", "one_sided_values", "nulls", "shifted", "identical"],
    )
    def test_matches_exact_python(self, spark, cur, base):
        got = self._ks(spark, cur, base).first().ks_statistic
        assert got == pytest.approx(_exact_ks(cur, base), abs=1e-15)

    def test_wide_grid_across_range_partitions(self, spark):
        import random

        rng = random.Random(5)
        cur = [rng.randint(0, 2000) for _ in range(6000)]
        base = [rng.randint(150, 2150) for _ in range(4000)]
        df = self._ks(spark, cur, base)
        assert df.first().ks_statistic == pytest.approx(_exact_ks(cur, base), abs=1e-15)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning(x" in plan
        # the same bits on a rerun, wherever the range partitioner cuts
        assert df.first().ks_statistic == self._ks(spark, cur, base).first().ks_statistic

    def test_persists_and_tracks_nothing(self, spark):
        _clear_storage(spark)
        df = self._ks(spark, [1, 2, 3, 3], [2, 3, 4])
        assert df.first().ks_statistic == pytest.approx(_exact_ks([1, 2, 3, 3], [2, 3, 4]))
        _assert_nothing_persisted(spark)

    def test_warm_call_runs_at_most_eight_jobs(self, spark):
        sc = spark.sparkContext
        self._ks(spark, [1, 2, 3], [2, 3, 4]).first()
        _clear_storage(spark)
        sc.setJobGroup("ks-exact-warm", "numeric_drift_ks_exact")
        try:
            self._ks(spark, [1, 2, 3], [2, 3, 4]).first()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert 0 < len(sc.statusTracker().getJobIdsForGroup("ks-exact-warm")) <= 8

    def test_empty_or_all_null_side_raises(self, spark):
        # a side with no values has n = 0, and ANSI division raises
        for cur, base in (([], [1, 2]), ([1, 2], []), ([None, None], [1, 2])):
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                self._ks(spark, cur, base).first()

    def test_two_empty_sides_give_null(self, spark):
        assert self._ks(spark, [], [None]).first().ks_statistic is None


class TestChecksPersistNothing:
    def test_nightly_job_leaves_no_cache(self, spark):
        """The nightly job's sequence — clean + validate with observed
        stats, uniqueness, referential and both drift checks — leaves no
        persisted RDD, cached relation or tracked DataFrame behind."""
        from simpl_schema_spark.checks import numeric_drift_ks_exact
        from simpl_schema_spark.pipeline import clean_and_validate
        from simpl_schema_spark.schema import SimpleSchema

        _clear_storage(spark)
        pages = spark.createDataFrame(
            [
                (f"http://h{i % 7}.example/{i % 40}", [" en ", "de", "xx", None][i % 4],
                 " t " * (i % 13))
                for i in range(120)
            ],
            "url string, lang string, text string",
        )
        hosts = spark.createDataFrame([(f"h{i}.example",) for i in range(5)], "host string")
        schema = SimpleSchema({
            "url": {"type": str, "max": 30},
            "text": {"type": str, "optional": True},
            "lang": {"type": str, "optional": True, "allowedValues": ["en", "de"]},
        })
        out, obs = observe_validation_stats(clean_and_validate(pages, schema))
        out.where(F.size("violations") > 0).write.format("noop").mode("overwrite").save()
        assert obs.get["n_rows"] == 120
        duplicate_keys(pages, ["url"]).count()
        refs = pages.select(F.regexp_extract("url", "//([^/]+)/", 1).alias("host"))
        referential_violations(refs, hosts, "host").count()
        cur = pages.where(F.col("lang").isNotNull())
        categorical_drift(cur, categorical_counts(cur, "lang"), "lang").first()
        lengths = pages.select(F.length("text").alias("n"))
        numeric_drift_ks_exact(lengths, lengths.where("n > 3"), "n").first()
        _assert_nothing_persisted(spark)

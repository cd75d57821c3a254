"""The compile cache (``compiler/memo.py``), driven through the public entry
points: equal content shares an entry, any change of content, shape or
options is a new one, and the cache stays within its bound."""

import re
import subprocess
import sys
import threading
from pathlib import Path

import pytest

from simpl_schema_spark import jsondoc, modifiers
from simpl_schema_spark.cleaning import clean, clean_with_info
from simpl_schema_spark.compiler import memo
from simpl_schema_spark.compiler.compile import RuleCompiler, compile_violations
from simpl_schema_spark.modifiers import clean_modifier_table, validate_modifier_table
from simpl_schema_spark.pipeline import clean_and_validate
from simpl_schema_spark.schema import SimpleSchema
from simpl_schema_spark.validation import with_violations

MODS_DDL = "doc_id bigint, op string, key_path string, value string, upsert boolean"


@pytest.fixture(autouse=True)
def empty_cache():
    memo._entries.clear()
    yield
    memo._entries.clear()


@pytest.fixture
def builds(monkeypatch):
    """Calls of the forest and modifier-cleaning builders, which run only
    on a miss."""
    counts = {"typed": 0, "json": 0, "modifier": 0, "modifier_clean": 0}

    def counting(name, fn):
        def wrapper(*args, **kwargs):
            counts[name] += 1
            return fn(*args, **kwargs)

        return wrapper

    monkeypatch.setattr(
        RuleCompiler, "violations_column", counting("typed", RuleCompiler.violations_column)
    )
    monkeypatch.setattr(
        jsondoc, "json_violations_column", counting("json", jsondoc.json_violations_column)
    )
    monkeypatch.setattr(
        modifiers, "_modifier_rule_forest", counting("modifier", modifiers._modifier_rule_forest)
    )
    monkeypatch.setattr(
        modifiers, "_modifier_cleaning", counting("modifier_clean", modifiers._modifier_cleaning)
    )
    return counts


def _defs():
    return {
        "a": {"type": str, "max": 3, "regEx": re.compile("^[a-z]+$")},
        "n": {"type": int, "optional": True, "min": 0, "defaultValue": 1},
        "tags": {"type": SimpleSchema.Array, "optional": True},
        "tags.$": str,
    }


def _viols(df):
    return sorted(
        (v.name, v.type, v.max) for r in df.collect() for v in r.violations
    )


class TestSharing:
    def test_equal_content_shares_one_entry(self, spark, builds):
        df = spark.createDataFrame([("abcd", -1)], "a string, n bigint")
        mods = spark.createDataFrame([(1, "$set", "a", '" abcd "', False)], MODS_DDL)
        blobs = spark.createDataFrame([(1, '{"a": "abcd"}')], "doc_id bigint, json_blob string")
        results = []
        for _ in range(2):
            ss = SimpleSchema(_defs())
            results.append((
                _viols(with_violations(df, ss)),
                _viols(clean_and_validate(df, ss)),
                clean_with_info(df, ss)[1],
                sorted(validate_modifier_table(mods, ss).collect()),
                sorted(clean_modifier_table(mods, ss).collect()),
                sorted(jsondoc.validate_json_column(blobs, ss).collect()),
            ))
        # with_violations and clean_and_validate: one forest each
        assert builds == {"typed": 2, "json": 1, "modifier": 1, "modifier_clean": 1}
        first, second = results
        assert first[2] is second[2]
        assert first[:2] + first[3:] == second[:2] + second[3:]
        assert first[0] == [("a", "maxString", "3"), ("n", "minNumber", None)]

    def test_scalar_types_do_not_collide(self, spark):
        df = spark.createDataFrame([(2.0,)], "n double")
        for bound in (1, 1.0):
            ss = SimpleSchema({"n": {"type": float, "max": bound}})
            col, _ = compile_violations(ss, df.schema)
            fresh = _viols(df.withColumn("violations", col))
            assert _viols(with_violations(df, ss)) == fresh
        assert len(memo._entries) == 2

    def test_regex_flags_are_part_of_the_key(self, spark):
        df = spark.createDataFrame([("ABC",)], "a string")
        got = []
        for flags in (0, re.IGNORECASE):
            ss = SimpleSchema({"a": {"type": str, "regEx": re.compile("^[a-z]+$", flags)}})
            col, _ = compile_violations(ss, df.schema)
            fresh = [(v.name, v.type) for r in df.withColumn("v", col).collect() for v in r.v]
            cached = [(v.name, v.type) for r in with_violations(df, ss).collect() for v in r.violations]
            assert cached == fresh
            got.append(cached)
        assert got == [[("a", "regEx")], []]


class TestStaleness:
    def test_function_valued_prop_resolves_on_every_call(self, spark):
        bound = {"max": 5}
        ss = SimpleSchema({"n": {"type": int, "max": lambda: bound["max"]}})
        df = spark.createDataFrame([(3,)], "n bigint")
        assert _viols(with_violations(df, ss)) == []
        bound["max"] = 2
        assert _viols(with_violations(df, ss)) == [("n", "maxNumber", "2")]

    def test_extend_after_compile_rebuilds(self, spark, builds):
        ss = SimpleSchema({"n": {"type": int}})
        df = spark.createDataFrame([(3,)], "n bigint")
        assert _viols(with_violations(df, ss)) == []
        ss.extend({"n": {"max": 2}})
        assert _viols(with_violations(df, ss)) == [("n", "maxNumber", "2")]
        assert builds["typed"] == 2

    def test_clean_options_are_part_of_the_key(self, spark):
        ss = SimpleSchema({"s": str})
        df = spark.createDataFrame([(" x ",)], "s string")
        assert clean(df, ss).first().s == "x"
        assert clean(df, ss, trim_strings=False).first().s == " x "
        assert clean_with_info(df, ss)[1] is not clean_with_info(df, ss, trim_strings=False)[1]


class TestBound:
    def test_least_recently_used_entry_is_evicted(self, spark, builds):
        df = spark.createDataFrame([(1,)], "n bigint")

        def schema(i):
            return SimpleSchema({"n": {"type": int, "max": i}})

        for i in range(memo.MAX_ENTRIES + 1):
            with_violations(df, schema(i))
            assert len(memo._entries) <= memo.MAX_ENTRIES
        assert builds["typed"] == memo.MAX_ENTRIES + 1
        with_violations(df, schema(memo.MAX_ENTRIES))  # newest: still cached
        assert builds["typed"] == memo.MAX_ENTRIES + 1
        with_violations(df, schema(0))  # oldest: evicted, built again
        assert builds["typed"] == memo.MAX_ENTRIES + 2
        assert len(memo._entries) == memo.MAX_ENTRIES


def test_concurrent_callers_get_their_own_entries():
    """Threads that hit, build and evict at once each get the value built
    for their key, and the cache stays within its bound."""
    schemas = [SimpleSchema({"n": {"type": int, "max": i}}) for i in range(memo.MAX_ENTRIES + 16)]
    errors = []

    def worker(seed):
        try:
            for j in range(300):
                i = (seed * 7 + j) % len(schemas)
                got = memo.compiled(schemas[i], "stress", None, (), lambda i=i: i)
                if got != i:
                    errors.append((i, got))
                if len(memo._entries) > memo.MAX_ENTRIES:
                    errors.append(len(memo._entries))
        except Exception as e:  # noqa: BLE001 - reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []


_RESTART = """
import os
os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")
from pyspark.sql import SparkSession
from simpl_schema_spark.schema import SimpleSchema
from simpl_schema_spark.validation import with_violations
from simpl_schema_spark.compiler import memo

def session():
    return (SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false").getOrCreate())

def run(spark):
    df = spark.createDataFrame([(7,)], "n bigint")
    rows = with_violations(df, SimpleSchema({"n": {"type": int, "max": 5}})).collect()
    return [(v.name, v.type) for r in rows for v in r.violations]

spark = session()
before = run(spark)
spark.stop()
spark = session()
after = run(spark)
spark.stop()
assert len(memo._entries) == 1, len(memo._entries)
assert before == after == [("n", "maxNumber")], (before, after)
print("ok")
"""


def test_entry_survives_a_session_restart():
    """A service may stop its session and start another; the Columns an
    entry holds do not belong to either."""
    root = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, "-c", _RESTART], cwd=root, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().endswith("ok")

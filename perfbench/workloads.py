"""The three closed-loop workloads.  Each drives the engine only through its
public functions, called as module attributes so a traced run can wrap them.

A workload has ``setup()`` (repeatable: inputs + expected results),
``prepare(op_id)`` (untimed: the next op's inputs), ``run_op(tr)`` (runs one
op of ``REQUESTS_PER_OP`` requests and returns ``(items, wall seconds, CPU
seconds)`` per request) and ``check()`` (untimed: compares the op's outputs with the
expected results, returning one message per failed request).
"""

from __future__ import annotations

import shutil
import time
from collections import Counter
from pathlib import Path

from pyspark.sql import functions as F

import simpl_schema_spark.cache as cache
import simpl_schema_spark.checks.drift as drift
import simpl_schema_spark.checks.referential as referential
import simpl_schema_spark.checks.stats as stats
import simpl_schema_spark.checks.uniqueness as uniqueness
import simpl_schema_spark.cleaning as cleaning
import simpl_schema_spark.jsondoc as jsondoc
import simpl_schema_spark.modifiers as modifiers
import simpl_schema_spark.pipeline as pipeline
import simpl_schema_spark.validation as validation
from simpl_schema_spark import SimpleSchema

import batches
import gen
import sparkenv
from oracle import HOST_PATTERN

__all__ = ["WORKLOADS"]

#: ops whose counts (py4j calls, plan size, memo hits) the traced run reports
COUNTED_OPS = {"bulk_docs": 1, "small_batches": 1, "updates": 1}


def _diff(what: str, got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    keys = sorted(set(got) | set(want), key=str)
    bad = [f"{k}: got {got.get(k, 0)} want {want.get(k, 0)}" for k in keys
           if got.get(k, 0) != want.get(k, 0)]
    return [f"{what}: " + "; ".join(bad)]


class _Base:
    def __init__(self, spark, work: Path, seed: int, oracle, tr) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.oracle = oracle
        self.tr = tr
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    #: unmeasured ops run before timing starts
    WARMUP_OPS = 1
    REQUESTS_PER_OP = 1

    def prepare(self, op_id: int) -> None:
        pass

    def clocks(self) -> tuple[float, float]:
        """Wall time and the CPU time of every process doing the work."""
        return time.perf_counter(), sparkenv.cpu_seconds(self.jvm_pid)

    def since(self, start: tuple[float, float]) -> tuple[float, float]:
        wall, cpu = self.clocks()
        return wall - start[0], cpu - start[1]


# ---- bulk_docs ----------------------------------------------------------------


class BulkDocs(_Base):
    """The north-rule nightly data-quality job over generated pages."""

    N_DOCS = 50_000
    N_HOSTS = 400

    def setup(self) -> None:
        d = self.work / "bulk"
        if d.exists():
            shutil.rmtree(d)
        d.mkdir(parents=True)
        self.docs_path = d / "docs.parquet"
        self.base_path = d / "baseline.parquet"
        self.hosts_path = d / "hosts.parquet"
        self.sink = d / "violations.parquet"
        gen.write_documents(self.docs_path, self.N_DOCS, self.seed, n_hosts=self.N_HOSTS)
        gen.write_documents(self.base_path, self.N_DOCS // 2, self.seed + 104729, n_hosts=self.N_HOSTS)
        gen.write_hosts(self.hosts_path, self.N_HOSTS, self.seed)

        o = self.oracle
        self.want_viols = o.document_violations(self.docs_path)
        self.want_dups = o.duplicate_urls(self.docs_path)
        self.want_broken = o.broken_host_refs(self.docs_path, self.hosts_path)
        self.want_chi2 = o.lang_chi2(self.docs_path, self.base_path)
        self.want_ks = o.n_chars_ks(self.docs_path, self.base_path)

        spark = self.spark
        self.docs = spark.read.parquet(str(self.docs_path))
        self.hosts = spark.read.parquet(str(self.hosts_path))
        baseline = spark.read.parquet(str(self.base_path))
        # the baseline profile: lang counts collected once, n_chars values
        profile = drift.categorical_counts(baseline.where(F.col("lang").isNotNull()), "lang")
        self.base_counts = spark.createDataFrame(profile.collect(), profile.schema)
        self.base_nchars = baseline.select(F.length("text").alias("n_chars"))

    def run_op(self, tr) -> list[tuple[int, float, float]]:
        t0 = self.clocks()
        spark, docs = self.spark, self.docs
        with tr.span("schema"):
            schema = SimpleSchema(batches.documents_schema_def())

        with tr.step(spark, "pipeline"):
            out = pipeline.clean_and_validate(docs, schema)
            tr.catalyst("pipeline", out)
            out, obs = stats.observe_validation_stats(out)
            (
                out.where(F.size("violations") > 0)
                .select("url", F.explode("violations").alias("v"))
                .select("url", "v.name", "v.type", "v.value")
                .write.mode("overwrite").parquet(str(self.sink))
            )
            self.observed = obs.get

        with tr.step(spark, "checks.uniqueness"):
            self.dups = tuple(
                uniqueness.duplicate_keys(docs, ["url"])
                .agg(F.count(F.lit(1)), F.coalesce(F.sum("dup_count"), F.lit(0)))
                .first()
            )

        with tr.step(spark, "checks.referential"):
            pages = docs.select(F.regexp_extract("url", HOST_PATTERN, 1).alias("host"))
            self.broken = referential.referential_violations(pages, self.hosts, "host").count()

        with tr.step(spark, "checks.drift"):
            cur = docs.where(F.col("lang").isNotNull())
            self.chi2 = tuple(drift.categorical_drift(cur, self.base_counts, "lang").first())
            lengths = docs.select(F.length("text").alias("n_chars"))
            self.ks = drift.numeric_drift_ks_exact(lengths, self.base_nchars, "n_chars").first()[0]
            cache.release_tracked()
        wall, cpu = self.since(t0)
        if tr.enabled:
            self._layers_alone(tr, schema)
        return [(self.N_DOCS, wall, cpu)]

    def _layers_alone(self, tr, schema) -> None:
        """Traced runs only, after the job's timed wall: cleaning, validation
        and the stats observation each run alone over the same parquet,
        beside the fused pipeline."""
        spark, docs = self.spark, self.docs
        with tr.step(spark, "cleaning"):
            cleaned, _ = cleaning.clean_with_info(docs, schema)
            tr.catalyst("cleaning", cleaned)
            cleaned.write.format("noop").mode("overwrite").save()
        with tr.step(spark, "validation"):
            checked = validation.with_violations(docs, schema)
            tr.catalyst("validation", checked)
            checked.write.format("noop").mode("overwrite").save()
        with tr.step(spark, "checks.stats"):
            observed, obs = stats.observe_validation_stats(docs)
            observed.write.format("noop").mode("overwrite").save()
            obs.get  # noqa: B018 - waits for the metrics

    def check(self) -> list[str]:
        got = {
            (r["name"], r["type"]): r["count"]
            for r in self.spark.read.parquet(str(self.sink)).groupBy("name", "type").count().collect()
        }
        bad = _diff("violations", got, self.want_viols)
        total = sum(self.want_viols.values())
        if self.observed.get("n_rows") != self.N_DOCS or self.observed.get("violation_count") != total:
            bad.append(f"observed stats {self.observed} (want n_rows={self.N_DOCS}, violation_count={total})")
        if self.dups != self.want_dups:
            bad.append(f"duplicate urls {self.dups} want {self.want_dups}")
        if self.broken != self.want_broken:
            bad.append(f"broken host refs {self.broken} want {self.want_broken}")
        stat, dof, n_cur = self.chi2
        w_stat, w_dof, w_n = self.want_chi2
        if abs(stat - w_stat) > 1e-9 * max(1.0, w_stat) or (dof, n_cur) != (w_dof, w_n):
            bad.append(f"lang drift {self.chi2} want {self.want_chi2}")
        if abs(self.ks - self.want_ks) > 1e-12:
            bad.append(f"n_chars KS {self.ks} want {self.want_ks}")
        return ["; ".join(bad)] if bad else []


# ---- small_batches ------------------------------------------------------------


class SmallBatches(_Base):
    """Many 50-500-record requests over a seeded pool of schema shapes.  One
    op is one round of ``batches.ROUND`` requests, so every run sends the
    same mix of shapes, sizes and schema reuse."""

    REQUESTS_PER_OP = len(batches.ROUND)

    def setup(self) -> None:
        self.rounds = batches.request_rounds(self.seed)
        self.instances: dict[int, SimpleSchema] = {}

    def prepare(self, op_id: int) -> None:
        self.round = next(self.rounds)

    def run_op(self, tr) -> list[tuple[int, float, float]]:
        samples = []
        self.outputs = []
        for shape, params, key, reuse, records in self.round:
            t0 = self.clocks()
            if reuse:
                schema = self.instances[key]
            else:
                with tr.span("schema"):
                    schema = shape.schema(params)
                self.instances[key] = schema
            with tr.step(self.spark, "pipeline"):
                df = self.spark.createDataFrame(records, shape.ddl(params))
                out = pipeline.clean_and_validate(df, schema)
                tr.catalyst("pipeline", out)
                self.outputs.append(out.collect())
            samples.append((len(records), *self.since(t0)))
        return samples

    def check(self) -> list[str]:
        bad = []
        for (shape, params, _, _, records), rows in zip(self.round, self.outputs):
            got = Counter(
                (v["name"], v["type"]) for r in rows for v in r["violations"]
            )
            bad += _diff(f"{shape.name} request", dict(got), dict(shape.expected(params, records)))
        return bad


# ---- updates --------------------------------------------------------------------


def update_schema() -> SimpleSchema:
    return SimpleSchema(
        {
            "title": {"type": str, "max": 80},
            "status": {"type": str, "allowedValues": ["draft", "live", "archived"]},
            "views": {"type": SimpleSchema.Integer, "min": 0},
            "score": {"type": float, "min": 0, "max": 1},
            "summary": {"type": str, "optional": True},
            "tags": {"type": SimpleSchema.Array, "optional": True, "maxCount": 5},
            "tags.$": {"type": str, "max": 12},
            "meta": {"type": dict, "optional": True},
            "meta.lang": {"type": str, "optional": True},
            "meta.rank": {"type": SimpleSchema.Integer, "optional": True, "min": 0, "max": 100},
            "created": {"type": SimpleSchema.Date, "optional": True},
            "source": {"type": str, "optional": True, "defaultValue": "crawl"},
        }
    )


def json_schema() -> SimpleSchema:
    return SimpleSchema(
        {
            "name": {"type": str, "min": 2},
            "age": {"type": SimpleSchema.Integer, "min": 0, "max": 130, "optional": True},
            "lang": {"type": str, "optional": True, "allowedValues": ["en", "de", "fr"]},
            "meta": {"type": dict, "optional": True},
            "meta.k": {"type": str, "optional": True},
            "bag": {"type": dict, "optional": True, "blackbox": True},
            "tags": {"type": SimpleSchema.Array, "optional": True, "maxCount": 3},
            "tags.$": str,
        }
    )


class Updates(_Base):
    """Batches of MongoDB-style update rows plus heterogeneous JSON docs."""

    N_MODS = 50_000
    N_JSON = 10_000

    def setup(self) -> None:
        d = self.work / "updates"
        if d.exists():
            shutil.rmtree(d)
        d.mkdir(parents=True)
        mods_path, json_path = d / "mods.parquet", d / "json.parquet"
        gen.write_modifiers(mods_path, self.N_MODS, self.seed)
        gen.write_json_docs(json_path, self.N_JSON, self.seed)
        self.want_mod = self.oracle.modifier_violations(mods_path)
        self.want_ops = self.oracle.cleaned_modifier_ops(mods_path)
        self.want_json = self.oracle.json_violations(json_path)
        self.mods = self.spark.read.parquet(str(mods_path))
        self.blobs = self.spark.read.parquet(str(json_path))
        # a service holds its collection's schemas across batches
        self.schema = update_schema()
        self.doc_schema = json_schema()

    def run_op(self, tr) -> list[tuple[int, float, float]]:
        t0 = self.clocks()
        schema, doc_schema = self.schema, self.doc_schema
        with tr.step(self.spark, "modifiers"):
            viols = modifiers.validate_modifier_table(self.mods, schema)
            tr.catalyst("modifiers", viols)
            self.mod_counts = _group_counts(viols, "name", "type")
            cleaned = modifiers.clean_modifier_table(self.mods, schema)
            tr.catalyst("modifiers", cleaned)
            self.op_counts = _group_counts(cleaned, "op")
        with tr.step(self.spark, "jsondoc"):
            jv = jsondoc.validate_json_column(self.blobs, doc_schema)
            tr.catalyst("jsondoc", jv)
            self.json_counts = _group_counts(jv, "name", "type")
        return [(self.N_MODS + self.N_JSON, *self.since(t0))]

    def check(self) -> list[str]:
        bad = (
            _diff("modifier violations", self.mod_counts, self.want_mod)
            + _diff("cleaned modifier ops", {k[0]: v for k, v in self.op_counts.items()}, self.want_ops)
            + _diff("json violations", self.json_counts, self.want_json)
        )
        return ["; ".join(bad)] if bad else []


def _group_counts(df, *cols) -> dict:
    return {tuple(r[c] for c in cols): r["count"] for r in df.groupBy(*cols).count().collect()}


WORKLOADS = {"bulk_docs": BulkDocs, "small_batches": SmallBatches, "updates": Updates}

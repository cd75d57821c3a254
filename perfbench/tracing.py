"""Tracing from outside the engine: spans around the calls into each layer,
py4j round-trip counts, Catalyst phase times, and per-layer stage metrics
from Spark's event log.

Nothing here edits the engine.  ``Tracer.install`` replaces the public
functions (and the compiler entry points they call) with wrappers on their
modules, so every call the benchmark or the engine makes through a module
attribute records a span; ``uninstall`` puts the originals back.  With
tracing off the benchmark uses ``NullTracer`` and no wrapper exists.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import re
import time
from collections import defaultdict
from pathlib import Path
from typing import Any, Callable, Iterable

__all__ = ["LAYERS", "PER_LAYER_METRICS", "NullTracer", "Tracer"]

#: the repo's modules, as layer names
LAYERS = [
    "schema", "compiler", "cleaning", "validation", "pipeline", "modifiers",
    "jsondoc", "checks.stats", "checks.uniqueness", "checks.referential",
    "checks.drift",
]
_PLAN_LAYERS = ["cleaning", "validation", "pipeline", "modifiers", "jsondoc"]
_EXEC_LAYERS = [
    "cleaning", "validation", "pipeline", "checks.stats", "checks.uniqueness",
    "checks.referential", "checks.drift", "modifiers", "jsondoc",
]
#: public functions whose call needs a compiled rule forest (memo base)
_COMPILING_CALLS = {
    "pipeline.clean_and_validate", "validation.with_violations",
    "jsondoc.validate_json_column", "modifiers.validate_modifier_table",
}

PER_LAYER_METRICS: list[tuple[str, str, str]] = (
    [("schema.build_ms", "ms", "lower")]
    + [
        ("compiler.compile_ms", "ms", "lower"),
        ("compiler.py4j_calls", "count", "lower"),
        ("compiler.plan_size", "chars", "lower"),
        ("compiler.memo_hit_ratio", "ratio", "higher"),
    ]
    + [
        (f"{layer}.{m}", unit, "lower")
        for layer in _PLAN_LAYERS
        for m, unit in (("plan_ms", "ms"), ("py4j_calls", "count"), ("catalyst_ms", "ms"))
    ]
    + [
        (f"{layer}.{m}", unit, better)
        for layer in _EXEC_LAYERS
        for m, unit, better in (
            ("exec_s", "s", "lower"),
            ("task_cpu_s", "s", "lower"),
            ("gc_s", "s", "lower"),
            ("core_busy_frac", "ratio", "higher"),
            ("shuffle_write_mb", "MB", "lower"),
        )
    ]
    + [(f"{layer}.errors", "count", "lower") for layer in LAYERS]
)

#: (layer, module, attribute) of every wrapped public function
_PUBLIC = [
    ("pipeline", "simpl_schema_spark.pipeline", "clean_and_validate"),
    ("cleaning", "simpl_schema_spark.pipeline", "clean_with_info"),
    ("cleaning", "simpl_schema_spark.cleaning", "clean_with_info"),
    ("validation", "simpl_schema_spark.validation", "with_violations"),
    ("modifiers", "simpl_schema_spark.modifiers", "validate_modifier_table"),
    ("modifiers", "simpl_schema_spark.modifiers", "clean_modifier_table"),
    ("jsondoc", "simpl_schema_spark.jsondoc", "validate_json_column"),
    ("checks.stats", "simpl_schema_spark.checks.stats", "observe_validation_stats"),
    ("checks.uniqueness", "simpl_schema_spark.checks.uniqueness", "duplicate_keys"),
    ("checks.referential", "simpl_schema_spark.checks.referential", "referential_violations"),
    ("checks.drift", "simpl_schema_spark.checks.drift", "categorical_counts"),
    ("checks.drift", "simpl_schema_spark.checks.drift", "categorical_drift"),
    ("checks.drift", "simpl_schema_spark.checks.drift", "numeric_drift_ks_exact"),
]
#: compiler entry points: each call that runs builds one rule forest
_COMPILERS = [
    ("simpl_schema_spark.compiler.compile", "RuleCompiler.__init__"),
    ("simpl_schema_spark.compiler.compile", "RuleCompiler.violations_column"),
    ("simpl_schema_spark.jsondoc", "json_violations_column"),
    ("simpl_schema_spark.modifiers", "_modifier_rule_forest"),
]
_LAMBDA_SUFFIX = re.compile(r"\b([A-Za-z]+)_\d+\b")
_FOREST_BUILDERS = {"violations_column", "json_violations_column", "_modifier_rule_forest"}


class NullTracer:
    """Tracing off: spans and job groups cost nothing."""

    enabled = False

    def span(self, name: str, **_: Any):
        return contextlib.nullcontext()

    def step(self, spark, layer: str):
        return contextlib.nullcontext()

    def catalyst(self, layer: str, df) -> None:
        pass

    def begin_op(self, op_id: int, *, counted: bool) -> None:
        pass

    def end_op(self) -> None:
        pass


class _Span:
    __slots__ = ("name", "start", "end", "parent", "op", "py4j0", "py4j", "extra")

    def __init__(self, name, parent, op, py4j0):
        self.name, self.parent, self.op, self.py4j0 = name, parent, op, py4j0
        self.start = time.perf_counter()
        self.end = None
        self.py4j = 0
        self.extra: dict[str, Any] = {}


class Tracer:
    """Spans kept in memory, written out by ``write``.  Counts (py4j calls,
    plan size, memo hits) are taken over the first ``counted`` ops, which
    every traced run completes, so they repeat exactly at a fixed seed."""

    enabled = True

    def __init__(self, spark, cores: int) -> None:
        self.spark = spark
        self.cores = cores
        self.spans: list[_Span] = []
        self.stack: list[_Span] = []
        self.op = -1
        self.counted = False
        self.n_ops = 0
        self.n_counted = 0
        self.py4j = 0
        self.catalyst_ms: dict[str, float] = defaultdict(float)
        self.errors: dict[str, int] = defaultdict(int)
        self._restore: list[tuple[Any, str, Any]] = []
        self._forests: list[tuple[_Span, list]] = []

    # ---- ops and spans -----------------------------------------------------

    def begin_op(self, op_id: int, *, counted: bool) -> None:
        self.op = op_id
        self.counted = counted
        if op_id >= 0:
            self.n_ops += 1
            self.n_counted += counted

    @contextlib.contextmanager
    def span(self, name: str, **extra: Any):
        parent = self.stack[-1] if self.stack else None
        s = _Span(name, parent, self.op, self.py4j)
        s.extra.update(extra)
        s.extra["counted"] = self.counted
        self.stack.append(s)
        try:
            yield s
        except Exception:
            self.errors[name] += 1
            raise
        finally:
            s.end = time.perf_counter()
            s.py4j = self.py4j - s.py4j0
            self.stack.pop()
            self.spans.append(s)

    @contextlib.contextmanager
    def step(self, spark, layer: str):
        """Run a step's Spark jobs under the job group ``<layer>`` (warm-up
        jobs under ``warmup``) so the event log attributes them."""
        group = layer if self.op >= 0 else "warmup"
        spark.sparkContext.setJobGroup(group, group)
        try:
            yield
        finally:
            spark.sparkContext.setJobGroup("idle", "idle")

    def catalyst(self, layer: str, df) -> None:
        """Force the physical plan of a layer's output and add its Catalyst
        phase times (analysis + optimization + planning)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        total = 0.0
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                total += opt.get().durationMs()
        if self.op >= 0:
            self.catalyst_ms[layer] += total

    # ---- wrappers ------------------------------------------------------------

    def install(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counting_send(command, *a, **kw):
            # "m\n…" releases garbage-collected JVM references; its timing
            # follows Python's GC, so it is not a round trip of the call
            if not command.startswith("m\n"):
                self.py4j += 1
            return send(command, *a, **kw)

        self._patch(client, "send_command", counting_send)
        for layer, mod, attr in _PUBLIC:
            module = importlib.import_module(mod)
            self._patch(module, attr, self._wrap(layer, getattr(module, attr), f"{mod.rsplit('.', 1)[1]}.{attr}"))
        for mod, path in _COMPILERS:
            owner = importlib.import_module(mod)
            *outer, attr = path.split(".")
            for name in outer:
                owner = getattr(owner, name)
            self._patch(owner, attr, self._wrap_compiler(getattr(owner, attr), attr))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._restore.clear()

    def _patch(self, owner, attr: str, fn) -> None:
        original = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr)
        if not isinstance(owner, type) and attr not in vars(owner):
            original = None  # instance attribute shadowing a method
        self._restore.append((owner, attr, original))
        setattr(owner, attr, fn)

    def _wrap(self, layer: str, fn: Callable, call: str) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, call=call) as s:
                s.extra["compiles"] = 0
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_compiler(self, fn: Callable, attr: str) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            memo = None
            if attr == "_modifier_rule_forest":
                memo = args[0].__dict__.get("_compiled_memo")
                before = len(memo) if memo is not None else 0
            with self.span("compiler", call=attr) as s:
                out = fn(*args, **kwargs)
            built = attr in _FOREST_BUILDERS
            if memo is not None:
                built = len(memo) > before
            if built:
                self._note_forest(s, out)
            return out

        return wrapper

    def _note_forest(self, span: _Span, forest) -> None:
        """Count the compile on every enclosing public call; the forest's
        size is measured by ``end_op``, outside every span."""
        for outer in self.stack:
            if "compiles" in outer.extra:
                outer.extra["compiles"] += 1
        self._forests.append((span, _columns(forest)))

    def end_op(self) -> None:
        """Record each forest built during the op: the length of its SQL
        text, with the JVM-global counter suffix of lambda variable names
        (``x_123``) dropped so the size repeats exactly.  These round trips
        are not counted."""
        saved = self.py4j
        for span, cols in self._forests:
            span.extra["plan_size"] = sum(
                len(_LAMBDA_SUFFIX.sub(r"\1_", c._jc.node().sql())) for c in cols
            )
        self._forests.clear()
        self.py4j = saved

    # ---- metrics -------------------------------------------------------------

    def _outermost(self, name: str) -> list[_Span]:
        out = []
        for s in self.spans:
            if s.name != name or s.op < 0:
                continue
            p = s.parent
            while p is not None and p.name != name:
                p = p.parent
            if p is None:
                out.append(s)
        return out

    def metrics(self, event_log: Path | None) -> dict[str, float]:
        n = max(self.n_ops, 1)
        k = max(self.n_counted, 1)
        m: dict[str, float] = {}
        for layer in ["schema", "compiler"] + _PLAN_LAYERS:
            spans = self._outermost(layer)
            ms = sum(s.end - s.start for s in spans) * 1000.0 / n
            calls = sum(s.py4j for s in spans if s.extra["counted"]) / k
            if layer == "schema":
                m["schema.build_ms"] = ms
            elif layer == "compiler":
                m["compiler.compile_ms"] = ms
                m["compiler.py4j_calls"] = calls
            else:
                m[f"{layer}.plan_ms"] = ms
                m[f"{layer}.py4j_calls"] = calls
                m[f"{layer}.catalyst_ms"] = self.catalyst_ms.get(layer, 0.0) / n
        sizes = [
            s.extra["plan_size"] for s in self.spans
            if s.name == "compiler" and s.op >= 0 and s.extra["counted"]
            and "plan_size" in s.extra
        ]
        m["compiler.plan_size"] = sum(sizes) / len(sizes) if sizes else 0.0
        calls = [
            s for s in self.spans
            if s.op >= 0 and s.extra["counted"] and s.extra.get("call") in _COMPILING_CALLS
            and not _has_ancestor_call(s)
        ]
        hits = sum(1 for s in calls if s.extra["compiles"] == 0)
        m["compiler.memo_hit_ratio"] = hits / len(calls) if calls else 0.0

        stages = _event_log_metrics(event_log) if event_log else {}
        for layer in _EXEC_LAYERS:
            st = stages.get(layer, {})
            wall = st.get("wall_s", 0.0)
            m[f"{layer}.exec_s"] = wall / n
            m[f"{layer}.task_cpu_s"] = st.get("cpu_s", 0.0) / n
            m[f"{layer}.gc_s"] = st.get("gc_s", 0.0) / n
            m[f"{layer}.core_busy_frac"] = (
                st.get("run_s", 0.0) / (wall * self.cores) if wall else 0.0
            )
            m[f"{layer}.shuffle_write_mb"] = st.get("shuffle_bytes", 0) / 2**20 / n
        for layer in LAYERS:
            m[f"{layer}.errors"] = float(self.errors.get(layer, 0))
        return m

    def write(self, path: Path) -> None:
        ids = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "parent": ids.get(id(s.parent)),
                    "op": s.op,
                    "py4j_calls": s.py4j,
                    **{k: v for k, v in s.extra.items() if k != "counted"},
                }) + "\n")


def _has_ancestor_call(span: _Span) -> bool:
    p = span.parent
    while p is not None:
        if p.extra.get("call") in _COMPILING_CALLS:
            return True
        p = p.parent
    return False


def _columns(forest) -> Iterable:
    from pyspark.sql import Column

    if isinstance(forest, Column):
        return [forest]
    if isinstance(forest, dict):
        return [c for v in forest.values() for c in _columns(v)]
    if isinstance(forest, (list, tuple)):
        return [c for v in forest for c in _columns(v)]
    return []


def _event_log_metrics(path: Path) -> dict[str, dict[str, float]]:
    """Per job group: union wall of its jobs, summed task run/CPU/GC time and
    shuffle bytes written.  The log is complete once the session stopped."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes a directory per application holding events_<n>_<app>
    files = sorted(path.rglob("events_*"))
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    job_group[ev["Job ID"]] = group
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_start:
                        intervals[job_group[jid]].append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "")
                    tm = ev.get("Task Metrics") or {}
                    agg = out[group]
                    agg["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    agg["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    agg["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    agg["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    for group, spans in intervals.items():
        spans.sort()
        wall, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    wall += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            wall += cur_e - cur_s
        out[group]["wall_s"] = wall
    return out

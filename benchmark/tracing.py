"""Layer spans and Spark execution counters for the traced run.

Spans come from this benchmark's own code: :func:`instrument` wraps every
public function of each engine layer module (and every module-level alias
of it inside the package) in a span, and :func:`restore` puts the
originals back, so untraced samples run the unmodified program. A span's
self time is its duration minus the time covered by the spans it caused.

Execution counters come from Spark's own status stores, which fill with
the UI disabled: the core store (jobs, stages, task metrics) and the SQL
store (per-plan-node metrics). Queries are tagged with a job group so
jobs can be attributed to the action that ran them.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import re
import sys
import time
from collections import defaultdict

# Engine layer -> module. The span name of a call is its layer's name.
LAYERS = {
    "sources.tables": "thisishappening_spark.sources.tables",
    "sources.tweets_view": "thisishappening_spark.sources.tweets_view",
    "operators.dedup": "thisishappening_spark.operators.dedup",
    "operators.similarity": "thisishappening_spark.operators.similarity",
    "operators.textstats": "thisishappening_spark.operators.textstats",
    "operators.admission": "thisishappening_spark.operators.admission",
    "operators.ingest": "thisishappening_spark.operators.ingest",
    "functions.weights": "thisishappening_spark.functions.weights",
    "functions.geo": "thisishappening_spark.functions.geo",
    "plans.recent_tweets": "thisishappening_spark.plans.recent_tweets",
}
PACKAGE = "thisishappening_spark"
# Functions whose spans get their own name instead of their layer's.
SPAN_NAMES = {
    "load_table": "sources.load_table",
    "invalidate_relation_cache": "sources.invalidate",
}


class Tracer:
    """In-memory span recorder: per-layer self time and call counts, plus
    the relation-cache hit count of ``load_table``."""

    def __init__(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.cache_hits = 0
        self._stack: list[list[float]] = []  # [start, child time]
        self._last_relation: dict[tuple, object] = {}

    def reset(self) -> None:
        self.self_s.clear()
        self.calls.clear()
        self.cache_hits = 0

    def enter(self) -> None:
        self._stack.append([time.perf_counter(), 0.0])

    def exit(self, name: str) -> float:
        start, child = self._stack.pop()
        dur = time.perf_counter() - start
        self.self_s[name] += dur - child
        self.calls[name] += 1
        if self._stack:
            self._stack[-1][1] += dur
        return dur

    def span(self, name: str, fn, *args, **kwargs):
        self.enter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.exit(name)

    def note_relation(self, key: tuple, df: object) -> None:
        """A hit is the identical DataFrame object returned again for the
        same (session, path, table, fan_out) key."""
        if self._last_relation.get(key) is df:
            self.cache_hits += 1
        self._last_relation[key] = df


def _wrap(tracer: Tracer, layer: str, fn):
    span = SPAN_NAMES.get(fn.__name__, layer)
    if span == "sources.load_table":

        @functools.wraps(fn)
        def traced_load(spark, sf_dir, name, fan_out=False):
            df = tracer.span(span, fn, spark, sf_dir, name, fan_out)
            tracer.note_relation((id(spark), os.path.abspath(sf_dir), name, fan_out), df)
            return df

        return traced_load

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        return tracer.span(span, fn, *args, **kwargs)

    return traced


def instrument(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap each layer's public functions wherever the package binds them.
    Returns the patches for :func:`restore`."""
    originals: dict[int, tuple[str, object]] = {}
    for layer, modname in LAYERS.items():
        mod = importlib.import_module(modname)
        for name, fn in vars(mod).items():
            if inspect.isfunction(fn) and fn.__module__ == modname and not name.startswith("_"):
                originals[id(fn)] = (layer, fn)
    wrappers = {key: _wrap(tracer, layer, fn) for key, (layer, fn) in originals.items()}
    patches = []
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PACKAGE or modname.startswith(PACKAGE + ".")):
            continue
        for name, value in list(vars(mod).items()):
            if id(value) in originals and originals[id(value)][1] is value:
                patches.append((mod, name, value))
                setattr(mod, name, wrappers[id(value)])
    return patches


def restore(patches: list[tuple[object, str, object]]) -> None:
    for mod, name, value in patches:
        setattr(mod, name, value)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number (seconds for timings,
    bytes for sizes). Multi-task metrics read ``total (min, med, max ...)``
    on the first line and the values on the next; the total comes first."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


class SparkCounters:
    """Reads Spark's status stores through one JSON round trip each."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._jvm = jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._mapper = mapper
        self._codegen = getattr(
            jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$"
        ).__getattr__("MODULE$")
        self._seen_exec: set[int] = set()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jvm_clock(self) -> dict[str, float]:
        """Cumulative codegen compile time and JVM GC time, in seconds."""
        gc_ms = sum(
            b.getCollectionTime()
            for b in self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        return {"codegen_s": self._codegen.compileTime() / 1e9, "gc_s": gc_ms / 1e3}

    def jobs_and_stages(self) -> tuple[list[dict], dict[int, dict]]:
        jobs = self._json(self._store.jobsList(None))
        default4 = getattr(self._store, "stageList$default$4")()
        stages = self._json(self._store.stageList(None, False, False, default4, None))
        return jobs, {s["stageId"]: s for s in stages if s.get("attemptId", 0) == 0}

    def new_executions(self) -> list[dict]:
        """SQL executions finished since the last call, with their job ids
        and plan-node metrics: [{"jobs": [...], "nodes": [(name, {metric: value})]}]."""
        out = []
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid in self._seen_exec or e.completionTime().isEmpty():
                continue
            self._seen_exec.add(eid)
            values = self._json(self._sql.executionMetrics(eid))
            nodes = []
            for node in self._json(self._sql.planGraph(eid).allNodes()):
                metrics = {
                    m["name"]: parse_metric(values[str(m["accumulatorId"])])
                    for m in node.get("metrics", [])
                    if str(m["accumulatorId"]) in values
                }
                nodes.append((node["name"], metrics))
            jobs = [int(j) for j in self._json(e.jobs())]
            out.append({"jobs": jobs, "nodes": nodes})
        return out


# Queries whose root rows are pairs out of a candidate self-join.
DEDUP_PAIR_QUERIES = {"q_minhash_lsh_pairs", "q_ngram_jaccard_pairs"}
_STAGE_SUMS = {
    "exec.scan_rows": "inputRecords",
    "exec.scan_bytes": "inputBytes",
    "exec.shuffle_write_bytes": "shuffleWriteBytes",
    "exec.shuffle_read_bytes": "shuffleReadBytes",
    "exec.spill_bytes": "diskBytesSpilled",
}


def unit_counters(actions: list[tuple[str, str, float, float]], jobs: list[dict],
                  stages: dict[int, dict], executions: list[dict], cores: int) -> dict[str, float]:
    """Spark execution counters of one traced unit.

    ``actions`` are (job group, operation, start ms, end ms) of the unit's
    actions; ``jobs``, ``stages`` and ``executions`` come from
    :class:`SparkCounters`. Only completed stages count."""
    out = dict.fromkeys(
        ["exec.jobs", "exec.stages", "exec.tasks", "exec.driver_gap_s",
         "exec.scheduler_delay_s", "exec.python_udf_s", *_STAGE_SUMS], 0.0)
    job_group = {j["jobId"]: j.get("jobGroup") for j in jobs}
    exec_group = {}
    for i, e in enumerate(executions):
        tags = {job_group.get(j) for j in e["jobs"]} - {None}
        if len(tags) == 1:
            exec_group[i] = tags.pop()
    wall_ms = run_ms = pairs = candidates = 0.0
    for tag, op, t0, t1 in actions:
        wall_ms += t1 - t0
        tag_jobs = [j for j in jobs if j.get("jobGroup") == tag]
        out["exec.jobs"] += len(tag_jobs)
        spans = [(j["submissionTime"], j.get("completionTime") or t1) for j in tag_jobs]
        out["exec.driver_gap_s"] += (t1 - t0 - covered_ms(spans, t0, t1)) / 1e3
        for sid in {s for j in tag_jobs for s in j["stageIds"]}:
            st = stages.get(sid)
            if st is None or st["status"] != "COMPLETE":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st["numCompleteTasks"]
            if st.get("firstTaskLaunchedTime") and st.get("submissionTime"):
                out["exec.scheduler_delay_s"] += (st["firstTaskLaunchedTime"] - st["submissionTime"]) / 1e3
            for key, field in _STAGE_SUMS.items():
                out[key] += st[field]
            run_ms += st["executorRunTime"]
        for i, e in enumerate(executions):
            if exec_group.get(i) != tag:
                continue
            for node, metrics in e["nodes"]:
                if "Python" in node or "Pandas" in node:
                    out["exec.python_udf_s"] += sum(
                        v for k, v in metrics.items() if k.startswith("time to") and "Python workers" in k
                    )
            if op in DEDUP_PAIR_QUERIES:
                rows = [m["number of output rows"] for _, m in e["nodes"] if "number of output rows" in m]
                joins = [m["number of output rows"] for n, m in e["nodes"]
                         if "Join" in n and "number of output rows" in m]
                if rows and joins:
                    pairs += rows[0]
                    candidates += max(joins)
    out["exec.core_util"] = run_ms / (wall_ms * cores) if wall_ms else 0.0
    out["operators.dedup.candidate_yield"] = pairs / candidates if candidates else 0.0
    return out


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total

"""The three workloads, each driven by one closed-loop client: the next
operation is issued only after the previous one returned.

- ``relational``: the 20 ``queries/relational.py`` registry queries, in a
  seeded order each pass.
- ``llm``: the 10 ``queries/llm.py`` registry queries, same loop.
- ``tweets-append``: the reference's per-arrival loop. Seeded batches of
  events arrive as raw status JSON, are projected by ``ingest``, appended
  to the ``events`` table as a new parquet file, and every batch is
  followed by admission, four window counts and the weighted recent-tweets
  read. Each batch's results are checked against DuckDB off the clock.

A workload run is: write the inputs (off the clock), set up several times
(session, plus the table copy for ``tweets-append``; the last one kept),
then a cold unit. ``tweets-append`` follows it with a fixed number of warm
batches sized from ``--seconds``. The registry workloads collect their
one pass and check it against DuckDB off the clock; only a traced run adds
warm passes (executed into Spark's ``noop`` sink), because a second pass
at sf0.1 would not fit the run budget (see METRICS.md).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import oracle
import stats
import tracing

# A run sets up N_SETUPS times; the first launches the JVM, and setup_s is
# the median of the others.
N_SETUPS = 4
# A DuckDB timing repeats the query until DUCKDB_MIN_S seconds are spent,
# at most DUCKDB_MAX_REPS times, and keeps the median repetition: a single
# run of a millisecond query is too noisy to divide by, and a query that
# takes longer runs once.
DUCKDB_MAX_REPS, DUCKDB_MIN_S = 9, 0.1
# The tweet batches after the cold one are a fixed number of units:
# --seconds divided by a batch's nominal cost on a 4-core host, so every
# run measures the same work. Only a run that has been going for
# WALL_GUARD_S starts no new unit, so it ends inside 180 s; its result then
# covers fewer units.
WALL_GUARD_S = 140.0


def time_duckdb(con, sql: str) -> tuple[float, list[dict]]:
    """DuckDB's median time for ``sql`` and the rows of its first run."""
    reps: list[float] = []
    rows: list[dict] = []
    while not reps or (len(reps) < DUCKDB_MAX_REPS and sum(reps) < DUCKDB_MIN_S):
        t0 = time.perf_counter()
        out = oracle.duck_rows(con, sql)
        reps.append(time.perf_counter() - t0)
        rows = rows or out
    return stats.median(reps), rows


class Workload:
    name = ""

    def __init__(self, seed: int, seconds: float, trace: bool, work_dir: str, cores: int,
                 t_start: float):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = work_dir
        self.cores = cores
        self.t_start = t_start
        self.spark = None
        self.inputs_dir = os.path.join(work_dir, "inputs")
        self.data_dir = ""
        self.inputs_s = 0.0
        self.attempted = 0
        self.failures: list[str] = []
        self.setup_s: list[float] = []
        self.get_spark_s: list[float] = []
        self.tracer = tracing.Tracer()
        self.counters: tracing.SparkCounters | None = None
        self.layer_samples: list[dict[str, float]] = []  # one per traced pass
        self._actions: dict[str, list] = {}  # tag -> [pass key, op, t0_ms, t1_ms]
        self._traced_units: dict[str, dict] = {}  # unit key -> its layer sums, {} while running

    # -- set-up ------------------------------------------------------------

    def prepare_inputs(self) -> None:
        """Write the run's seeded inputs under ``inputs_dir``."""
        raise NotImplementedError

    def stage_inputs(self, i: int) -> str:
        """The part of set-up ``i`` that readies its data directory, which
        counts in ``setup_s``; returns the directory."""
        return self.inputs_dir

    def setup(self) -> None:
        from thisishappening_spark import session

        # Generating the inputs is the benchmark's work, not the engine's:
        # it runs once, before and outside the timed set-ups.
        t0 = time.perf_counter()
        self.prepare_inputs()
        self.inputs_s = time.perf_counter() - t0
        for i in range(N_SETUPS):
            if self.spark is not None:
                self.spark.stop()
                if self.data_dir != self.inputs_dir:
                    shutil.rmtree(self.data_dir, ignore_errors=True)
            t0 = time.perf_counter()
            data_dir = self.stage_inputs(i)
            t1 = time.perf_counter()
            spark = session.get_spark(
                app_name=f"bench-{self.name}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # A fixed-size heap keeps the JVM's resident size from
                    # depending on when the collector decides to grow it.
                    "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
                },
            )
            t2 = time.perf_counter()
            self.setup_s.append(t2 - t0)
            self.get_spark_s.append(t2 - t1)
            spark.sparkContext.setLogLevel("ERROR")
            self.spark, self.data_dir = spark, data_dir
        self.counters = tracing.SparkCounters(self.spark)

    # -- failure accounting -----------------------------------------------

    def fail(self, what: str) -> None:
        self.failures.append(what)

    # -- tracing -----------------------------------------------------------

    def timed(self, pass_key: str, op: str, build, action):
        """Build a plan and run its action; returns (build s, action s,
        action result). In a traced unit both halves are spans and the
        action's jobs carry the unit's job group."""
        traced = pass_key in self._traced_units
        tr = self.tracer
        t0 = time.perf_counter()
        if traced:
            tr.enter()
        df = build()
        if traced:
            tr.exit("queries.build")
            tag = f"{pass_key}:{op}"
            self.spark.sparkContext.setJobGroup(tag, op)
            tr.enter()
        t1, w1 = time.perf_counter(), time.time()
        out = action(df)
        t2, w2 = time.perf_counter(), time.time()
        if traced:
            tr.exit("queries.exec")
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._actions[tag] = [pass_key, op, w1 * 1e3, w2 * 1e3]
        return t1 - t0, t2 - t1, out

    def begin_traced(self, pass_key: str) -> list:
        self.tracer.reset()
        self._traced_units[pass_key] = {}
        return tracing.instrument(self.tracer)

    def end_traced(self, pass_key: str, patches: list) -> None:
        tracing.restore(patches)
        t = self.tracer
        layer = {
            "sources.load_table_s": t.self_s["sources.load_table"],
            "sources.load_table_calls": float(t.calls["sources.load_table"]),
            "sources.relation_cache_hit_ratio": (
                t.cache_hits / t.calls["sources.load_table"] if t.calls["sources.load_table"] else 0.0
            ),
            "sources.invalidate_s": t.self_s["sources.invalidate"],
            "queries.build_s": t.self_s["queries.build"],
            "queries.exec_s": t.self_s["queries.exec"],
        }
        for name in tracing.LAYERS:
            if name != "sources.tables":
                layer[f"{name}.build_s"] = t.self_s[name]
        self._traced_units[pass_key] = layer

    def cold_spans(self) -> list | None:
        """In a traced run the cold pass runs instrumented but unreported,
        so the relation-cache hit test knows which relations the warm
        passes should find again."""
        return tracing.instrument(self.tracer) if self.trace else None

    def end_cold_spans(self, patches: list | None) -> None:
        if patches is not None:
            tracing.restore(patches)
            self.tracer.reset()

    def discard_traced(self, pass_key: str, patches: list) -> None:
        """Drop a traced pass that was cut short: its sums cover fewer
        operations than a whole pass."""
        tracing.restore(patches)
        del self._traced_units[pass_key]
        self._actions = {t: a for t, a in self._actions.items() if a[0] != pass_key}

    def collect_exec_counters(self) -> None:
        """Attribute Spark's jobs, stages and plan nodes to every finished
        traced unit, then move the unit into ``layer_samples``."""
        done = [key for key, layer in self._traced_units.items() if layer]
        if not done:
            return
        jobs, stages = self.counters.jobs_and_stages()
        executions = self.counters.new_executions()
        for pass_key in done:
            actions = [(tag, a[1], a[2], a[3]) for tag, a in self._actions.items() if a[0] == pass_key]
            layer = self._traced_units.pop(pass_key)
            layer.update(tracing.unit_counters(actions, jobs, stages, executions, self.cores))
            self.layer_samples.append(layer)
        self._actions = {t: a for t, a in self._actions.items() if a[0] in self._traced_units}

    # -- run ---------------------------------------------------------------

    def wall(self) -> float:
        return time.perf_counter() - self.t_start

    def over_budget(self) -> bool:
        return self.wall() > WALL_GUARD_S

    def run(self) -> dict:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# Registry workloads
# ---------------------------------------------------------------------------


class RegistryWorkload(Workload):
    module = ""
    tables: list[str] = []

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        from thisishappening_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.queries = sorted(
            n for n, s in REGISTRY.items() if s.fn.__module__ == self.module
        )

    def prepare_inputs(self) -> None:
        datagen.write_tables(self.inputs_dir, self.seed, self.tables)

    def order(self, pass_idx: int) -> list[str]:
        """Registry order for the cold pass (0), so each one-off cost (the
        JVM's warm-up, the first Python worker, the first shuffle) lands on
        the same query in every run; a seeded order for warm passes."""
        names = list(self.queries)
        if pass_idx:
            random.Random(self.seed * 7919 + pass_idx).shuffle(names)
        return names

    def _op(self, name: str, pass_key: str, collect: bool):
        """Build and execute one registry query; returns (build s, action
        s, rows or None)."""
        build = lambda: self.registry[name].fn(self.spark, self.data_dir)  # noqa: E731
        if collect:
            return self.timed(pass_key, name, build, lambda df: [r.asDict() for r in df.collect()])
        return self.timed(pass_key, name, build, lambda df: df.write.format("noop").mode("overwrite").save())

    def check(self, con, name: str, rows: list[dict]) -> tuple[str | None, float | None]:
        """Compare a collected result with DuckDB's; returns (mismatch or
        None, DuckDB's execution seconds or None when there is no oracle)."""
        spec = self.registry[name]
        if spec.oracle is None:
            return self.rows_only_check(name, rows), None
        duck_s, duck = time_duckdb(con, spec.oracle)
        return oracle.mismatch(rows, duck), duck_s

    def rows_only_check(self, name: str, rows: list[dict]) -> str | None:
        return None if rows else "no rows"

    def run(self) -> dict:
        con = oracle.connect(self.data_dir, self.cores)
        clock = self.counters.jvm_clock()
        cold: dict[str, float] = {}
        duck_cold: dict[str, float] = {}
        patches = self.cold_spans()
        for name in self.order(0):
            self.attempted += 1
            try:
                b, e, rows = self._op(name, "cold", collect=True)
            except Exception as exc:  # noqa: BLE001 - counted, run continues
                self.fail(f"cold {name}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            cold[name] = b + e
            # DuckDB runs the same query at once: its result is the
            # correctness check, its time the ratio's base.
            why, duck_s = self.check(con, name, rows)
            if why is not None:
                self.fail(f"wrong {name}: {why}")
            if duck_s is not None:
                duck_cold[name] = duck_s
        clock_after = self.counters.jvm_clock()
        self.end_cold_spans(patches)
        con.close()
        warm = self.traced_passes() if self.trace else {}
        return {
            "cold_pass_s": sum(cold.values()),
            "duckdb_ratio": stats.ratio_geomean(cold, duck_cold) if duck_cold else float("nan"),
            "query_geomean_s": stats.geomean(list(cold.values())),
            "latencies": list(cold.values()),
            "duckdb_query_s": sum(duck_cold.values()),
            "codegen_s": clock_after["codegen_s"] - clock["codegen_s"],
            "gc_s": clock_after["gc_s"] - clock["gc_s"],
            "warm_pass_s": warm.get("warm_pass_s"),
            "trace_overhead_s": warm.get("trace_overhead_s"),
            "detail": {"cold": cold, "duckdb_cold": duck_cold, **warm.get("detail", {})},
        }

    def traced_passes(self) -> dict:
        """The warm passes of a traced run: untraced, traced, untraced
        (U T U), so a traced pass has an untraced one on each side and
        warm-up drift cancels out of the tracing overhead."""
        samples: dict[str, list[float]] = defaultdict(list)
        traced_samples: dict[str, list[float]] = defaultdict(list)
        passes = []
        n_complete = 0
        for pass_idx in range(1, 4):
            traced = pass_idx % 2 == 0
            key = f"p{pass_idx}"
            patches = self.begin_traced(key) if traced else None
            t_pass = time.perf_counter()
            complete = True
            for name in self.order(pass_idx):
                # A slow host may drop the second untraced pass.
                if n_complete >= 2 and self.over_budget():
                    complete = False
                    break
                self.attempted += 1
                try:
                    b, e, _ = self._op(name, key, collect=False)
                except Exception as exc:  # noqa: BLE001
                    self.fail(f"{key} {name}: {type(exc).__name__}: {str(exc)[:200]}")
                    continue
                (traced_samples if traced else samples)[name].append(b + e)
            pass_s = time.perf_counter() - t_pass
            if traced and complete:
                self.end_traced(key, patches)
                self.collect_exec_counters()
            elif traced:
                self.discard_traced(key, patches)
            passes.append({"pass": pass_idx, "traced": traced, "complete": complete, "s": pass_s})
            if not complete:
                break
            n_complete += 1
        if not self.layer_samples:
            self.fail("no traced pass completed")
        medians = {n: stats.median(v) for n, v in samples.items() if v}
        both = [n for n in medians if traced_samples.get(n)]
        return {
            "warm_pass_s": sum(medians.values()),
            "trace_overhead_s": sum(stats.median(traced_samples[n]) - medians[n] for n in both),
            "detail": {
                "warm_samples": dict(samples),
                "traced_samples": dict(traced_samples),
                "passes": passes,
                "missing_warm": sorted(set(self.queries) - set(medians)),
            },
        }


class RelationalWorkload(RegistryWorkload):
    name = "relational"
    module = "thisishappening_spark.queries.relational"
    tables = datagen.RELATIONAL_TABLES


class LlmWorkload(RegistryWorkload):
    name = "llm"
    module = "thisishappening_spark.queries.llm"
    tables = datagen.LLM_TABLES

    def rows_only_check(self, name: str, rows: list[dict]) -> str | None:
        """``q_ann_lsh_topk`` has no SQL oracle: check it returns top-k
        rows for the brute-force query's ids, in its columns."""
        from thisishappening_spark.queries import llm

        if not rows:
            return "no rows"
        if sorted(rows[0]) != ["cos_sim", "neighbor_id", "query_id", "rank"]:
            return f"columns {sorted(rows[0])}"
        per_query = defaultdict(int)
        for r in rows:
            per_query[r["query_id"]] += 1
        if not set(per_query) <= set(llm.COSINE_QUERY_IDS) or max(per_query.values()) > 3:
            return f"rows per query {dict(per_query)}"
        return None


# ---------------------------------------------------------------------------
# tweets-append
# ---------------------------------------------------------------------------

BATCH_SPAN = dt.timedelta(minutes=15)
BATCH_ROWS = (20, 60)
STREAM_START = datagen.EVENTS_START + dt.timedelta(seconds=datagen.EVENTS_SPAN_S)


def render_status(row: dict) -> str:
    """One ``events`` row as a raw status record, with the fields the
    tweets view derives from it (sources/tweets_view.py)."""
    eid, uid = row["event_id"], row["user_id"]
    status = {
        "id_str": str(eid),
        "created_at": row["ts"].strftime("%a %b %d %H:%M:%S +0000 %Y"),
        "text": "" if eid % 13 == 0 else f"{row['event_type']} happening now {eid % 50}",
        "lang": ["en", "ja", "und", None][uid % 4],
        "is_quote_status": [None, True, False][eid % 3],
        "in_reply_to_status_id_str": str(eid - 1) if eid % 5 >= 3 else None,
        "possibly_sensitive": eid % 7 == 0,
        "user": {
            "id_str": str(uid),
            "screen_name": f"user_{uid}",
            "friends_count": eid % 100,
            "followers_count": uid % 1000,
        },
        "coordinates": (
            {"type": "Point", "coordinates": [-71.2 + (eid % 400) * 0.001, 42.2 + (uid % 300) * 0.001]}
            if eid % 10 != 0
            else None
        ),
        "place": {"id": f"pl_{uid % 20}", "name": f"place_{uid % 20}", "place_type": "poi"},
    }
    return json.dumps(status, separators=(",", ":"))


def _ts(t: dt.datetime) -> str:
    return f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S.%f}'"


class TweetsAppendWorkload(Workload):
    name = "tweets-append"
    nominal_batch_s = 3.3  # a warm batch's cost on a 4-core host

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        from thisishappening_spark.operators.admission import AdmissionConfig
        from thisishappening_spark.queries.tweets import BBOX

        # The registry's admission query configuration, applied per batch.
        self.bbox = BBOX
        self.admission = AdmissionConfig(
            bounding_box=self.bbox,
            ignore_words=(r"\berror\b",),
            ignore_user_screen_names=("user_13$", "user_77$"),
            ignore_user_id_str=("7", "42"),
            ignore_lon_lat=((-71.05, 42.35),),
            ignore_possibly_sensitive=True,
            ignore_quote_status=True,
            ignore_reply_status=True,
            min_friends_count=5,
            min_followers_count=10,
        )
        self.rng = np.random.default_rng(seed=[self.seed, 1])
        self.next_id = datagen.SIZES["tweets"]

    def prepare_inputs(self) -> None:
        datagen.write_tweet_base(os.path.join(self.inputs_dir, "events.parquet"), self.seed)

    def stage_inputs(self, i: int) -> str:
        """Copy the base ``events`` table into a fresh directory: the
        batches append to the copy."""
        data_dir = os.path.join(self.work_dir, f"data{i}")
        shutil.copytree(self.inputs_dir, data_dir)
        return data_dir

    def next_batch(self, k: int) -> tuple[pa.Table, dt.datetime]:
        n = int(self.rng.integers(*BATCH_ROWS))
        start = STREAM_START + k * BATCH_SPAN
        table = datagen.events_table(
            self.rng, n, n_users=datagen.EVENT_USERS, first_id=self.next_id, start=start,
            span_s=BATCH_SPAN.total_seconds(),
        )
        self.next_id += n
        return table, start + BATCH_SPAN

    # The operations of one batch, in issue order.
    WINDOWS = {
        "count_curr_hour": (0, 1),
        "count_prev_hour": (1, 1),
        "count_curr_day": (0, 24),
        "count_prev_day": (24, 24),
    }

    def batch(self, k: int, pass_key: str, timings: dict[str, float]) -> tuple[dict, float, float]:
        """Run one arrival: returns (results, cycle seconds, refresh seconds)."""
        from pyspark.sql import functions as F

        from thisishappening_spark.operators import admission, ingest
        from thisishappening_spark.plans import recent_tweets as plans
        from thisishappening_spark.functions import weights
        from thisishappening_spark.sources import tables, tweets_view

        table, anchor = self.next_batch(k)
        raw = [render_status(r) for r in table.to_pylist()]
        results: dict = {"anchor": anchor, "ids": table.column("event_id").to_pylist(),
                         "ts": table.column("ts").to_pylist()}

        def op(name, build, action):
            b, e, results[name] = self.timed(pass_key, name, build, action)
            timings[name] = b + e

        t_cycle = time.perf_counter()
        op(
            "ingest",
            lambda: ingest.project_status(self.spark.createDataFrame([(s,) for s in raw], "raw string"))
            .select("status_id_str", "created_at"),
            lambda df: [(r[0], r[1]) for r in df.collect()],
        )
        events_dir = os.path.join(self.data_dir, "events.parquet")
        t0 = time.perf_counter()
        tmp = os.path.join(self.work_dir, "tmp", f"batch-{k:06d}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(events_dir, f"part-{k + 1:06d}.parquet"))
        t_visible = time.perf_counter()
        tables.invalidate_relation_cache(self.spark, events_dir)
        timings["append"] = time.perf_counter() - t0

        def tweets():
            return tweets_view.load_tweets(self.spark, self.data_dir)

        op(
            "admit",
            lambda: admission.admit(plans.recent_tweets(tweets(), anchor, hours=1, ordered=False),
                                    self.admission),
            lambda df: df.count(),
        )
        for name, (back, hours) in self.WINDOWS.items():
            op(
                name,
                lambda back=back, hours=hours: plans.count_tweets(
                    tweets(), anchor - dt.timedelta(hours=back), hours=hours, bounding_box=self.bbox
                ),
                lambda df: df.collect()[0][0],
            )
        op(
            "recent_weighted",
            lambda: weights.with_activity_weight(
                plans.recent_tweets(tweets(), anchor, hours=1, bounding_box=self.bbox, ordered=False),
                weight_factor_user=0.5,
                reduce_weight_lon_lat=[("-71.10000", "42.35000")],
                weight_factor_lon_lat=2.0,
                weight_factor_no_coords=1.0,
                order_cols=("id",),
            ).agg(F.count(F.lit(1)).alias("n"), F.sum("weight").alias("w")),
            lambda df: tuple(df.collect()[0]),
        )
        t_end = time.perf_counter()
        return results, t_end - t_cycle, t_end - t_visible

    def oracle_sql(self, anchor: dt.datetime) -> dict[str, str]:
        from thisishappening_spark.sources.tweets_view import tweets_cte

        hour = f"created_at >= {_ts(anchor - dt.timedelta(hours=1))} AND created_at <= {_ts(anchor)}"
        bbox = ("longitude >= -71.15 AND longitude < -70.95 "
                "AND latitude >= 42.25 AND latitude < 42.45")
        out = {
            "admit": tweets_cte(f"""
                SELECT COUNT(*) FROM tweets
                WHERE {hour} AND deleted_at IS NULL
                  AND coalesce(tweet_body, '') <> ''
                  AND longitude >= -71.15 AND longitude <= -70.95
                  AND latitude >= 42.25 AND latitude <= 42.45
                  AND NOT regexp_matches(coalesce(tweet_body, ''), '(?i)(\\berror\\b)')
                  AND NOT regexp_matches(coalesce(quoted_text, ''), '(?i)(\\berror\\b)')
                  AND (has_coords OR place_type IN ('admin', 'city', 'neighborhood', 'poi'))
                  AND NOT regexp_matches(user_screen_name, '(?i)(user_13$|user_77$)')
                  AND user_id_str NOT IN ('7', '42')
                  AND coalesce(longitude <> -71.05 OR latitude <> 42.35, TRUE)
                  AND NOT coalesce(possibly_sensitive, FALSE)
                  AND NOT coalesce(is_quote_status, FALSE)
                  AND NOT coalesce(is_reply_status, FALSE)
                  AND friends_count >= 5 AND followers_count >= 10"""),
            "recent_weighted": tweets_cte(f"""
                SELECT COUNT(*), SUM(w) FROM (
                  SELECT (CASE WHEN printf('%.5f', longitude) = '-71.10000'
                                AND printf('%.5f', latitude) = '42.35000'
                               THEN 1.0 / EXP(2.0) ELSE 1.0 END)
                         * (CASE WHEN NOT has_coords THEN 1.0 / EXP(1.0) ELSE 1.0 END)
                         * (1.0 / EXP((ROW_NUMBER() OVER (PARTITION BY user_id_str
                                                          ORDER BY created_at, id) - 1) * 0.5))
                             AS w
                  FROM tweets WHERE {hour} AND {bbox} AND deleted_at IS NULL
                )"""),
        }
        for name, (back, hours) in self.WINDOWS.items():
            end = anchor - dt.timedelta(hours=back)
            start = end - dt.timedelta(hours=hours)
            out[name] = tweets_cte(
                f"SELECT COUNT(status_id_str) FROM tweets WHERE created_at >= {_ts(start)} "
                f"AND created_at <= {_ts(end)} AND {bbox}"
            )
        return out

    def check(self, con, results: dict) -> dict[str, float]:
        """Compare one batch's results with DuckDB's; returns DuckDB's
        seconds per operation."""
        duck_s: dict[str, float] = {}
        k = results["ids"][0]
        expect_ingest = sorted(
            (str(i), t.replace(microsecond=0)) for i, t in zip(results["ids"], results["ts"])
        )
        if sorted(results.get("ingest") or []) != expect_ingest:
            self.fail(f"batch@{k} ingest: projected rows differ from the batch")
        for name, sql in self.oracle_sql(results["anchor"]).items():
            duck_s[name], rows = time_duckdb(con, sql)
            got = tuple(rows[0].values())
            spark = results.get(name)
            if name == "recent_weighted":
                ok = spark is not None and spark[0] == got[0] and (
                    (spark[1] is None and got[1] is None)
                    or (spark[1] is not None and got[1] is not None
                        and abs(spark[1] - float(got[1])) <= 1e-9 * max(1.0, abs(float(got[1]))))
                )
            else:
                ok = spark == got[0]
            if not ok:
                self.fail(f"batch@{k} {name}: spark {spark!r} vs duckdb {got!r}")
        return duck_s

    def run(self) -> dict:
        os.makedirs(os.path.join(self.work_dir, "tmp"), exist_ok=True)
        con = oracle.connect(self.data_dir, self.cores)
        clock = self.counters.jvm_clock()
        batch_ops = 8  # ingest, append, admit, four counts, recent_weighted
        # Per untraced batch (the cold one first): Spark's and DuckDB's
        # seconds per operation.
        spark_t: list[dict[str, float]] = []
        duck_t: list[dict[str, float]] = []
        self.attempted += batch_ops
        cold_t: dict[str, float] = {}
        patches = self.cold_spans()
        try:
            results, cold_cycle, _ = self.batch(0, "cold", cold_t)
            clock_after = self.counters.jvm_clock()
            duck_t.append(self.check(con, results))
            spark_t.append(cold_t)
        except Exception as exc:  # noqa: BLE001
            self.fail(f"cold batch: {type(exc).__name__}: {str(exc)[:200]}")
            cold_cycle, clock_after = float("nan"), self.counters.jvm_clock()
        self.end_cold_spans(patches)

        traced_cycles: list[float] = []
        cycles: list[float] = []
        refresh: list[float] = []
        # Batches alternate untraced and traced in a traced run; the first
        # two always run so both kinds have a sample.
        for k in range(1, max(2, round(self.seconds / self.nominal_batch_s)) + 1):
            if k > 2 and self.over_budget():
                break
            traced = self.trace and k % 2 == 0
            key = f"b{k}"
            patches = self.begin_traced(key) if traced else None
            timings: dict[str, float] = {}
            self.attempted += batch_ops
            try:
                results, cycle, fresh = self.batch(k, key, timings)
            except Exception as exc:  # noqa: BLE001
                self.fail(f"batch {k}: {type(exc).__name__}: {str(exc)[:200]}")
                results = None
            if traced:
                self.end_traced(key, patches)
            if results is None:
                continue
            duck = self.check(con, results)
            if traced:
                traced_cycles.append(cycle)
            else:
                cycles.append(cycle)
                refresh.append(fresh)
                spark_t.append(timings)
                duck_t.append(duck)
            if traced and len(self._traced_units) >= 5:
                self.collect_exec_counters()
        self.collect_exec_counters()
        con.close()

        # "append" is the benchmark's own file write plus the relation-cache
        # invalidation, and ingest has no DuckDB counterpart: the ratios
        # cover the operations both engines run.
        def total(per_batch: list[dict[str, float]]) -> dict[str, float]:
            out: dict[str, float] = defaultdict(float)
            for ops in per_batch:
                for n, t in ops.items():
                    out[n] += t
            return out

        warm_ops: dict[str, list[float]] = defaultdict(list)
        warm_duck: dict[str, list[float]] = defaultdict(list)
        for ops, duck in zip(spark_t[1:], duck_t[1:]):
            for n, t in ops.items():
                if n != "append":
                    warm_ops[n].append(t)
            for n, t in duck.items():
                warm_duck[n].append(t)
        medians = {n: stats.median(v) for n, v in warm_ops.items()}
        duck_med = {n: stats.median(v) for n, v in warm_duck.items()}
        duck_per_batch = sum(duck_med.values())
        for layer in self.layer_samples:
            layer["duckdb.query_s"] = duck_per_batch
        return {
            "cold_pass_s": cold_cycle,
            "duckdb_ratio": stats.ratio_geomean(total(spark_t), total(duck_t)) if duck_t else float("nan"),
            "warm_pass_s": stats.median(cycles) if cycles else None,
            "query_geomean_s": stats.geomean(list(medians.values())) if medians else None,
            "latencies": refresh,
            "duckdb_query_s": duck_per_batch,
            "codegen_s": clock_after["codegen_s"] - clock["codegen_s"],
            "gc_s": clock_after["gc_s"] - clock["gc_s"],
            "trace_overhead_s": (
                stats.median(traced_cycles) - stats.median(cycles) if self.trace and traced_cycles else None
            ),
            "detail": {
                "spark_op_samples": spark_t,
                "duckdb_op_samples": duck_t,
                "spark_duckdb_ratio": (
                    stats.geomean([medians[n] / duck_med[n] for n in duck_med if n in medians])
                    if duck_med else None
                ),
                "cycles": cycles,
                "traced_cycles": traced_cycles,
                "refresh": refresh,
                "batches": len(cycles) + len(traced_cycles),
                "files": len(os.listdir(os.path.join(self.data_dir, "events.parquet"))),
            },
        }


WORKLOADS = {
    "relational": RelationalWorkload,
    "llm": LlmWorkload,
    "tweets-append": TweetsAppendWorkload,
}

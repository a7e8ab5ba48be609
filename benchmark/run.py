"""End-to-end and per-layer benchmark of the engine.

Usage, from the repository root:

    python3 benchmark/run.py --workload relational --seed 1 --seconds 10 --trace 0

Workloads: ``relational``, ``llm``, ``tweets-append`` (see workloads.py).
Inputs are generated from ``--seed`` under ``benchmark/.work/`` and
removed at exit. Spark runs on ``local[<usable cores>]``.

``--trace 0`` reports the gated end-to-end metrics; ``--trace 1``
alternates untraced and traced units and reports the per-layer metrics
plus the tracing overhead. The last stdout line is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it is a ``{"detail": ...}`` record with every end-to-end metric,
every sample, the host steal fraction and any failures. METRICS.md
defines the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# Gated end-to-end metrics. Latency is gated as a multiple of DuckDB's
# time for the same results, measured in the same run right after Spark:
# on a shared host the absolute times drift with other tenants' load far
# beyond any usable bound, while the ratio moves with the engine. The
# absolute latencies are printed in the detail record (REPORTED).
END_TO_END = {
    "setup_s": "s",
    "duckdb_ratio": "ratio",
    "peak_rss_mb": "MB",
}
# Reported in the detail record; None where a workload or mode does not
# measure it (the registry workloads run warm passes only when traced).
REPORTED = {
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_geomean_s": "s",
    "refresh_p50_s": "s",
    "refresh_p75_s": "s",
    **END_TO_END,
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.load_table_s": "s",
    "sources.load_table_calls": "count",
    "sources.relation_cache_hit_ratio": "ratio",
    "sources.invalidate_s": "s",
    "sources.tweets_view.build_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "operators.dedup.build_s": "s",
    "operators.similarity.build_s": "s",
    "operators.textstats.build_s": "s",
    "operators.admission.build_s": "s",
    "operators.ingest.build_s": "s",
    "functions.weights.build_s": "s",
    "functions.geo.build_s": "s",
    "plans.recent_tweets.build_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.driver_gap_s": "s",
    "exec.scheduler_delay_s": "s",
    "exec.scan_rows": "count",
    "exec.scan_bytes": "B",
    "exec.core_util": "ratio",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.python_udf_s": "s",
    "operators.dedup.candidate_yield": "ratio",
    "exec.codegen_s": "s",
    "exec.gc_s": "s",
    "duckdb.query_s": "s",
    "trace.overhead_s": "s",
}
REFRESH_TAIL = 75
WORKLOADS = ["relational", "llm", "tweets-append"]
DRIVER_MEMORY = "1g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(work_dir: str, cores: int) -> None:
    """Keep every file Spark and Python write inside the work directory,
    and size the session to this host."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Every JVM (the launcher and the driver) keeps its temp files and
    # perf-data file out of the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TZ"] = "UTC"
    time.tzset()
    for path in (ROOT, BENCH_DIR):
        if path not in sys.path:
            sys.path.insert(0, path)


def remove_work_dir(work_dir: str) -> None:
    shutil.rmtree(work_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work_dir))  # only when no other run uses it
    except OSError:
        pass


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    work_dir = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work_dir, cores)

    import stats

    try:
        import thisishappening_spark.queries  # noqa: F401
        import workloads
    except ImportError as exc:
        print(f"benchmark: cannot import the engine: {exc}", file=sys.stderr)
        remove_work_dir(work_dir)
        return 2

    ticks0 = stats.read_cpu_ticks()
    wl = workloads.WORKLOADS[args.workload](
        args.seed, args.seconds, bool(args.trace), work_dir, cores, t_start
    )
    # Wall time of each phase of the run, so its cost can be accounted for.
    phases = [("start", time.perf_counter())]
    try:
        wl.setup()
        phases.append(("setup", time.perf_counter()))
        out = wl.run()
        phases.append(("run", time.perf_counter()))
        jvm_pid = wl.spark.sparkContext._gateway.proc.pid
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    finally:
        shutdown(wl.spark)
        remove_work_dir(work_dir)
    phases.append(("shutdown", time.perf_counter()))
    steal = stats.steal_fraction(ticks0, stats.read_cpu_ticks())

    lat = out["latencies"]
    e2e = {
        # The first set-up launches the JVM; the others start a new session
        # in it (the launch is the first of setup_samples_s).
        "setup_s": stats.median(wl.setup_s[1:]),
        "cold_pass_s": out["cold_pass_s"],
        "warm_pass_s": out["warm_pass_s"],
        "query_geomean_s": out["query_geomean_s"],
        "refresh_p50_s": stats.percentile(lat, 50) if lat else None,
        "refresh_p75_s": stats.percentile(lat, REFRESH_TAIL) if lat else None,
        "duckdb_ratio": out["duckdb_ratio"],
        "peak_rss_mb": peak_rss,
    }
    layer_samples = wl.layer_samples
    per_layer = {}
    if args.trace:
        for key in PER_LAYER:
            vals = [s[key] for s in layer_samples if key in s]
            per_layer[key] = stats.median(vals) if vals else 0.0
        per_layer["session.get_spark_s"] = stats.median(wl.get_spark_s[1:])
        per_layer["exec.codegen_s"] = out["codegen_s"]
        per_layer["exec.gc_s"] = out["gc_s"]
        per_layer["duckdb.query_s"] = out["duckdb_query_s"]
        per_layer["trace.overhead_s"] = out["trace_overhead_s"] or 0.0

    attempted = wl.attempted
    failed = len(wl.failures)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "error_rate": failed / attempted if attempted else 1.0,
        "failures": wl.failures[:50],
        "host_steal_fraction": steal,
        "inputs_s": wl.inputs_s,
        "setup_samples_s": wl.setup_s,
        "get_spark_samples_s": wl.get_spark_s,
        "refresh_samples": len(lat),
        "refresh_p75_samples_beyond": stats.samples_beyond(len(lat), REFRESH_TAIL),
        "refresh_tail_percentile": stats.tail_percentile(len(lat)),
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in REPORTED.items()},
        "cold_codegen_s": out["codegen_s"],
        "cold_gc_s": out["gc_s"],
        "trace_overhead_s": out["trace_overhead_s"],
        "layer_samples": layer_samples,
        "wall_s": time.perf_counter() - t_start,
        "phase_s": {"imports": phases[0][1] - t_start,
                    **{name: t - phases[i][1] for i, (name, t) in enumerate(phases[1:])}},
        **out["detail"],
    }
    print(json.dumps({"detail": detail}, default=str))
    chosen, units = (per_layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

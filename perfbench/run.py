"""Repository benchmark: loader ingest through Structured Streaming.

    python3 perfbench/run.py --workload ingest_append --seed 1 --seconds 12 --trace 0

Runs one workload (see ``perfbench/workloads.py``) against the program
in this checkout, checks every output against the generator's expected
outcome, and prints one JSON object as the last line of standard
output: ``correct``, ``attempted``, ``failed`` and ``metrics``. The line
before it is a detail object: the settings (CPU count, driver heap,
pyspark version, seed, file counts), timing tails with their sample
counts and, in a traced run, every span.

``--trace 0`` reports the end-to-end metrics from the drain and check
phases (see ``perfbench/ingest.py``): set-up time, CPU per committed
row and bytes stored per row. ``--trace 1`` reports the per-layer
metrics instead: it runs every phase, live tail and crash restart
included, on a session with Spark's event log on and the benchmark's
span wrappers in place; it probes the declared recovery queries
against their DuckDB oracles; then it drains a short backlog traced on
that session, untraced on a fresh one (the difference is the tracing
overhead) and at ``local[1]`` as the single-threaded baseline.

The session is the program's own ``get_spark`` with its defaults; the
benchmark only sets the CPU count, a driver heap that fits the machine,
and where scratch files go. Every file it writes lives under
``.perfbench_tmp/`` in the checkout and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, ingest, stats  # noqa: E402
from perfbench.trace import Tracer, parse_event_log  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DRIVER_HEAP = "2g"
PLAN_QUERIES = ("a1_committed_positions", "a5_merged_ranges", "d1_rewind_dedup")
PLAN_PASSES = 3
# warm-up and backlog files of the short drains of a traced run
BASELINE_WARMUP = 2
BASELINE_FILES = 3
STREAMING_PHASES = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
}
SPARK_COUNTERS = (
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)
SINK_CALLS = (
    "is_batch_committed",
    "committed_positions",
    "current_state",
    "committed_data",
)


def per_layer_names() -> list[str]:
    names = ["drain.rows_per_s", "drain.batch_p50_ms"]
    names += ["session.start_s", "session.peak_rss_mb", "app.build_ms", "app.restart_s"]
    names += [f"streaming.{k}" for k in STREAMING_PHASES]
    names += [
        "streaming.overhead_ms",
        "streaming.freshness_p50_ms",
        "streaming.batches",
        "streaming.input_rows",
        "streaming.dedup_dropped_rows",
        "streaming.watermark_dropped_rows",
        "streaming.state_rows",
        "streaming.state_bytes",
        "streaming.state_commit_ms",
        "sinks.write_batch_ms",
        "sinks.publish_ms",
    ]
    names += [f"sinks.{c}_ms" for c in SINK_CALLS]
    names += [
        "sinks.compact_ms",
        "sinks.vacuum_ms",
        "sinks.vacuumed_paths",
        "sinks.manifest_bytes",
        "sinks.manifest_files",
        "sinks.data_bytes",
        "sinks.maintained_bytes_per_row",
        "operators.stream_ranges_ms",
        "spark.jobs_per_batch",
        "spark.stages_per_batch",
        "spark.tasks_per_batch",
    ]
    names += [f"spark.{c}" for c in SPARK_COUNTERS]
    for q in PLAN_QUERIES:
        names += [f"plans.{q}.{k}" for k in ("build_ms", "execute_ms", "jobs", "tasks", "shuffle_bytes")]
    names += [f"self.{layer}_ms" for layer in ("app", "streaming", "sinks", "operators", "plans")]
    names += [
        "trace.rows_per_s_overhead_pct",
        "trace.batch_p50_overhead_pct",
        "baseline_local1.rows_per_s",
        "baseline_local1.batch_p50_ms",
    ]
    return names


def backlog_files(spec: dict, seconds: int) -> int:
    """Backlog file count for a drain of about ``seconds``."""
    return max(2, round(spec["files_per_s"] * seconds))


def session(tmp: str, master: str | None = None, event_log: str | None = None):
    from stream_loader_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # compiler threads that never exit let CPU time be split into
        # JIT compiling and the rest (see ingest.CpuMeter)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jtmp')} -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_log,
            }
        )
    return get_spark("perfbench", master=master, extra_conf=conf)


def peak_rss_mb(spark) -> float:
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    return (hwm(os.getpid()) + hwm(ingest.jvm_pid(spark))) / 1024.0


def end_to_end(out: dict, setup_s: float) -> dict:
    # the drain's wall-clock rate and batch times follow the load other
    # tenants put on a shared machine far more than CPU time does, so
    # they are printed in the detail line and reported per layer by the
    # traced run, without a bound
    return {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_krow": (out["cpu_ms_per_krow"], "ms/krow"),
        "stored_bytes_per_row": (out["stored_bytes_per_row"], "B/row"),
    }


def drain_rate(batches: list[dict]) -> tuple[float, float]:
    """Rows per second and median batch time of consecutive drain batches."""
    rows, secs, times = ingest.drain_figures(batches)
    return rows / secs, statistics.median(times)


def streaming_layer(progress: list[dict], clock_ms: dict[int, float]) -> dict:
    data = [p for p in progress if p["numInputRows"] > 0]
    m = {}
    for name, phase in STREAMING_PHASES.items():
        m[f"streaming.{name}"] = statistics.fmean(float(p["durationMs"].get(phase, 0)) for p in data)
    m["streaming.overhead_ms"] = statistics.fmean(
        float(p["durationMs"]["triggerExecution"]) - clock_ms.get(p["batchId"], 0.0) for p in data
    )
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    m["streaming.batches"] = len(progress)
    m["streaming.input_rows"] = sum(p["numInputRows"] for p in progress)
    m["streaming.dedup_dropped_rows"] = sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for o in ops)
    m["streaming.watermark_dropped_rows"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    m["streaming.state_rows"] = max((o.get("numRowsTotal", 0) for o in ops), default=0)
    m["streaming.state_bytes"] = max((o.get("memoryUsedBytes", 0) for o in ops), default=0)
    m["streaming.state_commit_ms"] = statistics.fmean(o.get("commitTimeMs", 0) for o in ops) if ops else 0.0
    return m


def plans_probe(spark, tables, tmp: str, tracer: Tracer) -> tuple[dict, list[str], int]:
    """Declared recovery queries over the run's own traffic: an untimed
    first pass checked against the DuckDB oracle, then timed cold
    passes (cache cleared and every RDD unpersisted before each)."""
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from tools.check_correctness import table_hash

    sf_dir = os.path.join(tmp, "tables")
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(gen.events_table(tables), os.path.join(sf_dir, "events.parquet"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{os.path.join(sf_dir, 'events.parquet')}'")
    queries, oracles = entry.queries(), entry.oracle_sql()
    problems, timings = [], {}
    sc = spark.sparkContext
    for q in PLAN_QUERIES:
        got = queries[q](spark, sf_dir).toPandas()
        want = con.execute(oracles[q]).df()
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns) or table_hash(got) != table_hash(want):
            problems.append(f"{q}: result differs from its oracle")
        build, execute = [], []
        for p in range(PLAN_PASSES):
            spark.catalog.clearCache()
            for rdd in list(sc._jsc.getPersistentRDDs().values()):
                rdd.unpersist(True)
            sc.setJobGroup(f"plans.{q}.{p}", f"{q} pass {p}")
            with tracer.span("plans.pass", key=(q, p)):
                t0 = time.time()
                with tracer.span("plans.build", key=(q, p)):
                    df = queries[q](spark, sf_dir)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
            build.append((t1 - t0) * 1000.0)
            execute.append((t2 - t1) * 1000.0)
        timings[q] = (statistics.median(build), statistics.median(execute))
    sc.setJobGroup("other", "")
    con.close()
    return timings, problems, len(PLAN_QUERIES) * (PLAN_PASSES + 1)


UNTRACED_PHASES = ("check",)
TRACED_PHASES = ("live", "check", "maintain", "restart")


def run_workload(name: str, seed: int, seconds: int, trace: bool, tmp: str) -> dict:
    spec = WORKLOADS[name]
    n_backlog = backlog_files(spec, seconds)
    if trace:
        # per-layer means need fewer batches, and a traced run repeats
        # drains, so it keeps to the same 180 s as an untraced one
        phases, n_backlog, n_live = TRACED_PHASES, max(4, n_backlog // 2), spec["live_files"]
    else:
        phases, n_live = UNTRACED_PHASES, 0
    n_files = spec["warmup_files"] + n_backlog + n_live + ("restart" in phases)
    t0 = time.time()
    spark = session(tmp)
    spark.range(1).count()
    session_s = time.time() - t0
    # input generation is timed alone; the expected outcome is computed
    # once, outside the timed set-up
    gen_s, files = [], None
    for _ in range(3):
        t = time.time()
        files = ingest.make_files(spec, seed, n_files)
        gen_s.append(time.time() - t)
    inputs = ingest.make_inputs(spec, files, n_live, phases)
    info = {
        "workload": name,
        "seed": seed,
        "seconds": seconds,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_heap": DRIVER_HEAP,
        "pyspark": __import__("pyspark").__version__,
        "warmup_files": spec["warmup_files"],
        "backlog_files": n_backlog,
        "live_files": n_live,
        "records_per_file": spec["records_per_file"],
    }

    if not trace:
        out = ingest.run(spark, name, spec, inputs, os.path.join(tmp, "run"), Tracer(False), phases)
        setup_s = session_s + statistics.median(gen_s) + out["warmup_s"]
        metrics = end_to_end(out, setup_s)
        info["setup"] = {"session_s": session_s, "generate_s": gen_s, "warmup_s": out["warmup_s"]}
        info.update(
            rows_per_s=out["drain_rows"] / out["drain_s"],
            batch=stats.summarize(out["batch_ms"]),
            peak_rss_mb=peak_rss_mb(spark),
        )
        return _result(info, metrics, out["problems"], len(out["progress"]))

    # every phase runs traced on a session with the event log; then the
    # JVM is warm, and a short backlog drains traced on that session,
    # untraced on a fresh one and single-threaded on a third
    spark.stop()
    log_dir = os.path.join(tmp, "eventlog")
    tracer = Tracer(True)
    spark = session(tmp, event_log=log_dir)
    out = ingest.run(spark, name, spec, inputs, os.path.join(tmp, "traced"), tracer, phases)
    rss = peak_rss_mb(spark)
    plan_t, plan_problems, plan_ops = plans_probe(spark, inputs["tables"], tmp, tracer)
    short_spec = dict(spec, warmup_files=BASELINE_WARMUP)
    short = ingest.make_inputs(short_spec, ingest.make_files(spec, seed, BASELINE_WARMUP + BASELINE_FILES), 0, ())
    traced_short = ingest.run(spark, name, spec, short, os.path.join(tmp, "traced_short"), Tracer(True), ())
    spark.stop()
    spark = session(tmp)
    plain = ingest.run(spark, name, spec, short, os.path.join(tmp, "plain"), Tracer(False), ())
    spark.stop()
    spark = session(tmp, master="local[1]")
    base = ingest.run(spark, name, spec, short, os.path.join(tmp, "local1"), Tracer(False), ())
    spark.stop()

    for p in out["progress"]:
        start = ingest.epoch_s(p["timestamp"])
        end = start + p["durationMs"]["triggerExecution"] / 1000.0
        tracer.add("streaming.trigger", start, end, key=p["batchId"], span_id=("batch", p["batchId"]))
    sink_ms: dict[int, float] = {}
    for sp in tracer.spans:
        if sp["name"] == "sinks.write_batch":
            sink_ms[sp["key"]] = sink_ms.get(sp["key"], 0.0) + (sp["end"] - sp["start"]) * 1000.0
    m = {"session.start_s": session_s, "session.peak_rss_mb": rss}
    m["drain.rows_per_s"] = out["drain_rows"] / out["drain_s"]
    m["drain.batch_p50_ms"] = statistics.median(out["batch_ms"])
    m["app.build_ms"] = statistics.fmean(tracer.durations("app.build"))
    m["app.restart_s"] = out["restart_s"]
    m["streaming.freshness_p50_ms"] = statistics.median(out["freshness_ms"])
    m.update(streaming_layer(out["progress"], sink_ms))
    data_ids = {p["batchId"] for p in out["progress"] if p["numInputRows"] > 0}
    query_id = out["progress"][0]["id"]
    n_data = len(data_ids)
    m["sinks.write_batch_ms"] = statistics.fmean(sink_ms.get(b, 0.0) for b in data_ids)
    m["sinks.publish_ms"] = sum(tracer.durations("sinks.publish")) / n_data
    for c in SINK_CALLS:
        d = tracer.durations(f"sinks.{c}")
        m[f"sinks.{c}_ms"] = statistics.median(d) if d else 0.0
    m["sinks.compact_ms"] = sum(tracer.durations("sinks.compact_data"))
    m["sinks.vacuum_ms"] = sum(tracer.durations("sinks.vacuum"))
    m["sinks.vacuumed_paths"] = out["vacuumed"]
    m["sinks.manifest_bytes"] = out["manifest_bytes"]
    m["sinks.manifest_files"] = out["manifest_files"]
    m["sinks.data_bytes"] = out["data_bytes"]
    m["sinks.maintained_bytes_per_row"] = out["maintained_bytes_per_row"]
    m["operators.stream_ranges_ms"] = sum(tracer.durations("operators.stream_ranges")) / n_data

    work = parse_event_log(log_dir)
    batches = [work.get(f"batch:{query_id}:{b}", {}) for b in data_ids]
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_batch"] = statistics.fmean(w.get(k, 0) for w in batches)
    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = statistics.fmean(w.get(k, 0) for w in batches)
    for q, (b_ms, e_ms) in plan_t.items():
        passes = [work.get(f"plans.{q}.{p}", {}) for p in range(PLAN_PASSES)]
        m[f"plans.{q}.build_ms"] = b_ms
        m[f"plans.{q}.execute_ms"] = e_ms
        m[f"plans.{q}.jobs"] = statistics.median(w.get("jobs", 0) for w in passes)
        m[f"plans.{q}.tasks"] = statistics.median(w.get("tasks", 0) for w in passes)
        m[f"plans.{q}.shuffle_bytes"] = statistics.median(w.get("shuffle_write_bytes", 0) for w in passes)
    self_t = tracer.self_times()
    for layer in ("app", "streaming", "sinks", "operators", "plans"):
        m[f"self.{layer}_ms"] = self_t.get(layer, 0.0)

    plain_rps, plain_p50 = drain_rate(plain["measured"])
    traced_rps, traced_p50 = drain_rate(traced_short["measured"])
    m["trace.rows_per_s_overhead_pct"] = 100.0 * (plain_rps - traced_rps) / plain_rps
    m["trace.batch_p50_overhead_pct"] = 100.0 * (traced_p50 - plain_p50) / plain_p50
    m["baseline_local1.rows_per_s"], m["baseline_local1.batch_p50_ms"] = drain_rate(base["measured"])

    metrics = {k: (m[k], _unit(k)) for k in per_layer_names()}
    info["spans"] = sorted(tracer.spans, key=lambda sp: sp["start"])
    info["freshness"] = stats.summarize(out["freshness_ms"])
    info["generator_lag_ms"] = out["generator_lag_ms"]
    attempted = len(out["progress"]) + 1 + plan_ops + len(traced_short["progress"]) + len(plain["progress"]) + len(base["progress"])
    return _result(info, metrics, out["problems"] + plan_problems, attempted)


def _unit(name: str) -> str:
    for suffix, unit in (
        ("_per_s", "rows/s"),
        ("_per_row", "B/row"),
        ("_pct", "%"),
        ("_ms", "ms"),
        ("_s", "s"),
        ("_bytes", "B"),
        ("_mb", "MB"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def _result(info: dict, metrics: dict, problems: list[str], attempted: int) -> dict:
    return {
        "info": info,
        "problems": problems,
        "result": {
            "correct": not problems,
            "attempted": attempted,
            "failed": len(problems),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def stop_jvm() -> None:
    """Stop the session and wait until the JVM pyspark started has
    exited: it ends when its stdin pipe closes."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import stream_loader_spark.app  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "jtmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "jtmp")
    try:
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still uses it
    for p in res["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps(res["info"], default=str))
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""One ingest run: backlog drain, live tail, maintenance, crash restart.

Phases, all against one ``build_app`` loader and fresh directories:

1. drain (closed loop): the backlog files are in the source directory
   before the query starts; an ``availableNow`` query commits them,
   one file per micro-batch. The first few are the warm-up.
2. live tail (open loop): one generator thread renames a file into the
   source directory on a fixed schedule while a continuous query runs.
3. check: the sink's committed output against the expected outcome,
   then the bytes the sink stores per live row.
4. maintenance: ``compact_data`` + ``vacuum`` (manifest sink) or
   ``vacuum(keep_last=1)`` (upsert sink), then the bytes stored again.
5. restart: one more file arrives and the process dies in its
   micro-batch, either before the sink commits it or after the sink's
   commit but before the engine's (the newest ``<checkpoint>/commits/N``
   is deleted); the workload's ``crash`` names which (see
   ``perfbench/workloads.py``). The app is assembled again with
   ``build_app``, ``run_available()`` replays that batch, and the
   output is checked again.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import Counter
from datetime import datetime

from pyspark.errors import StreamingQueryException

from perfbench import check, gen
from perfbench.trace import Tracer
from perfbench.workloads import WATERMARK_DELAY_MS


def app_config(workload: str, spec: dict, root: str) -> dict:
    source = {
        "type": "file",
        "path": os.path.join(root, "source"),
        "schema": gen.SPARK_SCHEMA,
        "options": {"maxFilesPerTrigger": 1},
    }
    if workload == "ingest_append":
        return {
            "source": source,
            "format": {"type": "json", "schema": "k BIGINT, v STRING"},
            "watermark": {"column": "ts", "delay": f"{WATERMARK_DELAY_MS // 1000} seconds"},
            "partition": {"column": "ts"},
            "dedup": {"keys": ["topic", "partition", "offset"]},
            "sink": {"type": "manifest", "path": os.path.join(root, "sink"), "partition-by": "dt"},
            "checkpoint": os.path.join(root, "checkpoint"),
        }
    return {
        "source": source,
        "sink": {
            "type": "upsert",
            "path": os.path.join(root, "sink"),
            "key-columns": ["key"],
            "order-column": "seq",
            "tombstone-column": "deleted",
            "num-buckets": spec["buckets"],
        },
        "checkpoint": os.path.join(root, "checkpoint"),
    }


def _stat_cpu_s(stat_path: str) -> float:
    """User + system CPU seconds from a ``/proc`` stat file."""
    with open(stat_path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


class CpuMeter:
    """CPU seconds of this process and all its descendants (the driver
    JVM and any Python workers it starts), less the CPU of the JVM's JIT
    compiler threads.

    A fresh JVM keeps compiling the per-batch path for tens of batches,
    and how much of that compiling lands in a given window depends on
    how fast the machine is at the time; a long-running loader has paid
    it long ago. The session keeps every compiler thread alive, so no
    compiler CPU is lost with an exited thread."""

    def __init__(self, jvm: int) -> None:
        self.jvm = jvm
        self.jit: dict[str, float] = {}

    def __call__(self) -> float:
        total, todo = 0.0, [os.getpid()]
        while todo:
            p = todo.pop()
            try:
                total += _stat_cpu_s(f"/proc/{p}/stat")
                for t in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{t}/children") as fh:
                        todo += [int(c) for c in fh.read().split()]
                    if p == self.jvm:
                        with open(f"/proc/{p}/task/{t}/comm") as fh:
                            if "CompilerThre" in fh.read():
                                self.jit[t] = _stat_cpu_s(f"/proc/{p}/task/{t}/stat")
            except FileNotFoundError:
                pass  # exited while being read
        return total - sum(self.jit.values())


class CommitClock:
    """The ``foreachBatch`` callable handed to the engine: calls the
    sink's ``write_batch``, notes when each commit returned, counts the
    calls per micro-batch and reads the process tree's CPU time as each
    micro-batch reaches the sink."""

    def __init__(self, sink, tracer: Tracer, cpu: CpuMeter) -> None:
        self.sink = sink
        self.tracer = tracer
        self.cpu = cpu
        self.returned: dict[int, float] = {}
        self.calls: Counter[int] = Counter()
        self.cpu_s: dict[int, float] = {}

    def __call__(self, batch_df, batch_id: int) -> None:
        self.calls[batch_id] += 1
        self.cpu_s.setdefault(batch_id, self.cpu())
        with self.tracer.span("sinks.write_batch", key=batch_id, parent=("batch", batch_id)):
            self.sink.write_batch(batch_df, batch_id)
        self.returned[batch_id] = time.time()


def _dirs(root: str) -> None:
    for d in ("source", "staging"):
        os.makedirs(os.path.join(root, d), exist_ok=True)


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _log_entries(log_dir: str) -> dict[int, list[dict]]:
    """Entries of a Spark metadata log directory, by log batch id."""
    out = {}
    for path in glob.glob(os.path.join(log_dir, "[0-9]*")):
        with open(path) as fh:
            lines = [json.loads(x) for x in fh if x.startswith("{")]
        out[int(os.path.basename(path).split(".")[0])] = lines
    return out


def _file_batches(checkpoint: str) -> dict[str, int]:
    """file name -> micro-batch id. The file source numbers its own
    log; the offset log records which source log id each micro-batch
    read up to, and a micro-batch with new files is the first to reach
    that id."""
    first_batch: dict[int, int] = {}
    for batch, lines in sorted(_log_entries(os.path.join(checkpoint, "offsets")).items()):
        first_batch.setdefault(int(lines[-1]["logOffset"]), batch)
    out = {}
    for lines in _log_entries(os.path.join(checkpoint, "sources", "0")).values():
        for entry in lines:
            out[os.path.basename(entry["path"])] = first_batch.get(int(entry["batchId"]), -1)
    return out


def _source_offset(checkpoint: str, batch_id: int):
    path = os.path.join(checkpoint, "offsets", str(batch_id))
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.loads(fh.read().strip().splitlines()[-1])["logOffset"]


class CrashBeforeCommit:
    """A ``foreachBatch`` callable that dies in the first micro-batch
    that read a new file, before the sink sees it, as if the process
    were killed there; batches without new files pass through."""

    def __init__(self, checkpoint: str, clock: CommitClock) -> None:
        self.checkpoint = checkpoint
        self.clock = clock
        self.crashed: int | None = None

    def __call__(self, batch_df, batch_id: int) -> None:
        if _source_offset(self.checkpoint, batch_id) != _source_offset(self.checkpoint, batch_id - 1):
            self.crashed = batch_id
            raise RuntimeError(f"simulated crash in micro-batch {batch_id}")
        self.clock(batch_df, batch_id)


def _tree_bytes(path: str, suffix: str | None = None) -> tuple[int, int]:
    total = files = 0
    for r, _d, fs in os.walk(path):
        for f in fs:
            if suffix is None or f.endswith(suffix):
                total += os.path.getsize(os.path.join(r, f))
                files += 1
    return total, files


def _attach(app, clock: CommitClock, config: dict, tracer: Tracer) -> None:
    app.pipeline.sink(clock, config["checkpoint"])
    for attr in (
        "is_batch_committed",
        "committed_positions",
        "committed_data",
        "current_state",
        "compact_data",
        "vacuum",
    ):
        tracer.wrap_method(app.sink, attr, f"sinks.{attr}")
    # the upsert sink publishes its manifest itself rather than through
    # manifest.atomic_write_json, so its publish step is timed here
    tracer.wrap_method(app.sink, "_write_manifest", "sinks.publish")


def _read_outputs(workload: str, spark, sink) -> list:
    if workload == "ingest_append":
        rows = sink.committed_data(spark).select("partition", "offset").collect()
        return [(r[0], r[1]) for r in rows]
    rows = sink.current_state(spark).select("key", "seq").collect()
    return [(r[0], r[1]) for r in rows]


def _check(workload: str, spark, sink, expected: dict) -> list[str]:
    rows = _read_outputs(workload, spark, sink)
    if workload == "ingest_append":
        positions = {p: pos.offset for (_t, p), pos in sink.committed_positions().items()}
        return check.check_append(expected, rows, positions)
    return check.check_upsert(expected, rows)


def run(spark, workload: str, spec: dict, inputs: dict, root: str, tracer: Tracer, phases: tuple[str, ...]) -> dict:
    """Drain ``inputs``, then run those of the live, check, maintain and
    restart phases named in ``phases``, in that order; return the
    measurements and the problems found. The first ``inputs["warmup"]``
    backlog files are the untimed warm-up: they are drained like the
    rest, but their batches are excluded from the drain's figures."""
    from stream_loader_spark.app import build_app
    from stream_loader_spark.sinks import manifest

    _dirs(root)
    staging, source = os.path.join(root, "staging"), os.path.join(root, "source")
    backlog = inputs["backlog"]
    now = time.time()
    for i, data in enumerate(backlog):
        # pinned, strictly increasing mtimes fix the listing order
        gen.publish(data, staging, source, f"f{i:05d}.parquet", mtime=now - len(backlog) + i)
    config = app_config(workload, spec, root)
    with tracer.span("app.build"):
        app = build_app(spark, config)
    clock = CommitClock(app.sink, tracer, CpuMeter(jvm_pid(spark)))
    _attach(app, clock, config, tracer)
    out: dict = {"problems": [], "progress": []}

    with tracer.patch_function(manifest, "atomic_write_json", "sinks.publish"), tracer.patch_function(
        manifest, "stream_ranges", "operators.stream_ranges", result_method="collect"
    ):
        app.pipeline.trigger(availableNow=True)
        t0 = time.time()
        q = app.pipeline.start()
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("backlog drain did not finish")
        drain = _progress(q)
        out["progress"] += drain
        data = [p for p in drain if p["numInputRows"] > 0]
        measured = data[inputs["warmup"] :]
        out["warmup_s"] = epoch_s(measured[0]["timestamp"]) - t0
        out["measured"] = measured
        out["drain_rows"], out["drain_s"], out["batch_ms"] = drain_figures(measured)
        # CPU from the first measured batch reaching the sink to the last
        first, last = measured[0]["batchId"], measured[-1]["batchId"]
        rows = sum(p["numInputRows"] for p in measured[:-1])
        out["cpu_ms_per_krow"] = (clock.cpu_s[last] - clock.cpu_s[first]) * 1e6 / rows

        if "live" in phases:
            _live(app, clock, config, spec, inputs, root, out)
        if "check" in phases:
            expected = inputs["expected"]["check"]
            out["problems"] += _check(workload, spark, app.sink, expected)
            live_rows = len(expected["surviving"] if workload == "ingest_append" else expected["latest"])
            out["stored_bytes_per_row"] = _tree_bytes(config["sink"]["path"])[0] / live_rows

        if "maintain" in phases:
            if workload == "ingest_append":
                app.sink.compact_data(spark)
                out["vacuumed"] = len(app.sink.vacuum())
            else:
                out["vacuumed"] = len(app.sink.vacuum(keep_last=1))
            total, _ = _tree_bytes(config["sink"]["path"])
            out["manifest_bytes"], out["manifest_files"] = _tree_bytes(config["sink"]["path"], ".json")
            out["data_bytes"] = total - out["manifest_bytes"]
            out["maintained_bytes_per_row"] = total / live_rows

        if "restart" in phases:
            _restart(spark, workload, spec, app, clock, config, inputs, root, tracer, out)
    return out


def _restart(spark, workload, spec, app, clock, config, inputs, root, tracer, out) -> None:
    """One more file arrives and the process dies in its micro-batch,
    before or after the sink's commit; the app is assembled again and
    must replay that batch through its new sink."""
    from stream_loader_spark.app import build_app

    checkpoint = config["checkpoint"]
    name = f"f{len(inputs['backlog']) + len(inputs['live']):05d}.parquet"
    gen.publish(inputs["crash"], os.path.join(root, "staging"), os.path.join(root, "source"), name)
    app.pipeline.trigger(availableNow=True)
    if spec["crash"] == "before_commit":
        crash = CrashBeforeCommit(checkpoint, clock)
        app.pipeline.sink(crash, checkpoint)
        q = app.pipeline.start()
        try:
            q.awaitTermination(300)
            out["problems"].append("the simulated crash did not stop the query")
        except StreamingQueryException:
            pass
        crashed = crash.crashed
    else:
        q = app.pipeline.start()
        if not q.awaitTermination(300):
            q.stop()
            out["problems"].append("the crash file's batch did not finish")
        out["progress"] += _progress(q)
        crashed = _file_batches(checkpoint).get(name)
        commits = os.path.join(checkpoint, "commits")
        if crashed is None or max(_log_entries(commits)) != crashed:
            out["problems"].append(f"the crash file's batch {crashed} is not the newest commit")
        else:
            for f in (str(crashed), f".{crashed}.crc"):
                if os.path.exists(os.path.join(commits, f)):
                    os.remove(os.path.join(commits, f))
    calls_before = clock.calls[crashed]
    t0 = time.time()
    with tracer.span("app.build"):
        app2 = build_app(spark, config)
    # the replay must go through the sink the new app built
    clock.sink = app2.sink
    _attach(app2, clock, config, tracer)
    app2.pipeline.run_available()
    out["restart_s"] = time.time() - t0
    if clock.calls[crashed] != calls_before + 1:
        out["problems"].append(f"restart did not replay crashed batch {crashed}")
    out["problems"] += _check(workload, spark, app2.sink, inputs["expected"]["restart"])


def _live(app, clock: CommitClock, config: dict, spec: dict, inputs: dict, root: str, out: dict) -> None:
    """Open-loop live tail: one generator thread renames a file into the
    source directory every ``live_interval_s`` while a continuous query
    runs. A file's freshness is the time from when it was due to the
    return of the sink commit of its micro-batch."""
    staging, source = os.path.join(root, "staging"), os.path.join(root, "source")
    backlog, live = inputs["backlog"], inputs["live"]
    app.pipeline.trigger(processingTime="0 seconds")
    q = app.pipeline.start()
    interval = spec["live_interval_s"]
    due: dict[str, float] = {}
    lag: list[float] = []

    def feed() -> None:
        start = time.time() + interval
        for i, data in enumerate(live):
            name = f"f{len(backlog) + i:05d}.parquet"
            at = start + i * interval
            time.sleep(max(0.0, at - time.time()))
            lag.append(time.time() - at)
            due[name] = at
            gen.publish(data, staging, source, name)

    feeder = threading.Thread(target=feed, name="perfbench-generator")
    feeder.start()
    feeder.join(timeout=len(live) * interval + 60)
    want = len(live) * spec["records_per_file"]
    deadline = time.time() + 120
    while time.time() < deadline:
        if sum(p["numInputRows"] for p in _progress(q)) >= want and len(clock.returned) >= len(backlog) + len(live):
            break
        time.sleep(0.05)
    else:
        out["problems"].append("live tail did not catch up")
    q.stop()
    tail = _progress(q)
    out["progress"] += tail
    out["generator_lag_ms"] = max(lag, default=0.0) * 1000.0

    batches = _file_batches(config["checkpoint"])
    names = [f"f{i:05d}.parquet" for i in range(len(backlog) + len(live))]
    if [batches.get(n) for n in names] != sorted(batches.get(n, -1) for n in names):
        out["problems"].append("files were not committed one per batch in file order")
    out["freshness_ms"] = [(clock.returned[batches[n]] - due[n]) * 1000.0 for n in due if batches.get(n) in clock.returned]
    if len(out["freshness_ms"]) != len(live):
        out["problems"].append("a live file has no committed batch")


def epoch_s(ts: str) -> float:
    """Seconds since the epoch of a progress event's ISO timestamp."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def drain_figures(batches: list[dict]) -> tuple[int, float, list[float]]:
    """Rows, wall seconds from the first batch's start to the last
    one's end, and per-batch trigger times of consecutive drain batches
    (progress events)."""
    start = epoch_s(batches[0]["timestamp"])
    end = epoch_s(batches[-1]["timestamp"]) + batches[-1]["durationMs"]["triggerExecution"] / 1000.0
    rows = sum(p["numInputRows"] for p in batches)
    return rows, end - start, [float(p["durationMs"]["triggerExecution"]) for p in batches]


def make_files(spec: dict, seed: int, n_files: int) -> tuple[list, list[bytes]]:
    """The generator's tables and their parquet bytes."""
    tables = gen.generate(spec, seed, n_files)
    return tables, [gen.parquet_bytes(t) for t in tables]


def make_inputs(spec: dict, files: tuple[list, list[bytes]], n_live: int, phases: tuple[str, ...]) -> dict:
    """Split ``files`` into warm-up + backlog, ``n_live`` live files
    and, with a restart phase, the crash file; add the expected outcome
    each of ``phases``' checks compares against."""
    tables, data = files
    n_crash = 1 if "restart" in phases else 0
    n_drain = len(data) - n_live - n_crash
    expected = {}
    if "check" in phases:
        expected["check"] = gen.expected_outcome(tables[: n_drain + n_live])
    if "restart" in phases:
        expected["restart"] = gen.expected_outcome(tables)
    return {
        "warmup": spec["warmup_files"],
        "backlog": data[:n_drain],
        "live": data[n_drain : n_drain + n_live],
        "crash": data[-1] if n_crash else None,
        "expected": expected,
        "tables": tables,
    }

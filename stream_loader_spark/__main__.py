"""CLI entry: run a configured loader.

    python -m stream_loader_spark --config app.json [--drain] [--cpus N]

The deployment shape: config file in, running loader out — the
equivalent of the reference's ``StreamLoader`` main class launched
with an application-*.conf (stream-loader-tests common.conf wiring).
``--drain`` processes everything currently available and exits
(backfills, tests); without it the query runs continuously until
interrupted. Exit code 0 on a clean drain/stop, 1 on failure.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="stream_loader_spark", description="Run a configured stream loader."
    )
    parser.add_argument("--config", required=True, help="JSON config path (see app.py)")
    parser.add_argument(
        "--drain",
        action="store_true",
        help="process available input then exit (availableNow trigger)",
    )
    parser.add_argument(
        "--drain-timeout", type=int, default=300, help="drain timeout in seconds"
    )
    parser.add_argument(
        "--maintain",
        action="store_true",
        help="run the configured sink's maintenance instead of streaming "
        "(manifest: compact data + vacuum; offsets and ingest sinks: "
        "compact + vacuum their batch-directory table) — schedule "
        "between processing runs",
    )
    parser.add_argument(
        "--vacuum-keep-last",
        type=int,
        default=None,
        help="with --maintain on an upsert-backed sink: also vacuum, "
        "retaining this many batch versions",
    )
    parser.add_argument("--app-name", default="stream_loader_spark")
    args = parser.parse_args(argv)

    from stream_loader_spark.app import load_app
    from stream_loader_spark.session import get_spark
    from stream_loader_spark.sinks.manifest import ManifestFileSink
    from stream_loader_spark.sinks.upsert import UpsertSink

    spark = get_spark(args.app_name)
    try:
        app = load_app(spark, args.config)
    # KeyError belt-and-braces: _validate should catch every missing
    # key first, but a config shape it doesn't model must still exit
    # cleanly, not traceback
    except (OSError, ValueError, KeyError) as exc:
        print(f"config error: {exc}", file=sys.stderr)
        return 1

    if args.maintain:
        sink = app.sink
        target = getattr(sink, "upsert", sink)
        if args.vacuum_keep_last is not None and not isinstance(target, UpsertSink):
            print(f"config error: {type(sink).__name__} keeps no batch versions "
                  "for --vacuum-keep-last", file=sys.stderr)
            return 1
        ran = []
        if isinstance(sink, ManifestFileSink):
            # fold the live batch dirs, then delete what the fold superseded
            ran += [f"compact={sink.compact_data(spark)}", f"vacuum_removed={len(sink.vacuum())}"]
        elif hasattr(sink, "compact"):
            ran += [f"compact={sink.compact(spark)}", f"vacuum_removed={len(sink.vacuum())}"]
        if args.vacuum_keep_last is not None:
            removed = target.vacuum(keep_last=args.vacuum_keep_last)
            ran.append(f"vacuum_removed={len(removed)}")
        if not ran:
            print("config error: sink has no maintenance surface", file=sys.stderr)
            return 1
        print(" ".join(ran))
        return 0

    if args.drain:
        app.pipeline.run_available(timeout_sec=args.drain_timeout)
        return 0
    query = app.pipeline.start()
    try:
        query.awaitTermination()
    except KeyboardInterrupt:
        query.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

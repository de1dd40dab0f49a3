"""Tests of the benchmark's own parts (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import check, gen, stats  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SMALL = {**WORKLOADS["ingest_upsert"], "records_per_file": 400, "keys": 300}


def _files(seed: int, n: int = 6) -> list[bytes]:
    return [gen.parquet_bytes(t) for t in gen.generate(SMALL, seed, n)]


def test_same_seed_gives_byte_identical_files():
    assert _files(11) == _files(11)
    assert _files(11) != _files(12)


def test_publish_renames_complete_file_into_source(tmp_path):
    staging, source = tmp_path / "staging", tmp_path / "source"
    staging.mkdir()
    source.mkdir()
    data = _files(1, 1)[0]
    gen.publish(data, str(staging), str(source), "f0.parquet", mtime=1000.0)
    assert (source / "f0.parquet").read_bytes() == data
    assert os.path.getmtime(source / "f0.parquet") == 1000.0
    assert not list(staging.iterdir())


@pytest.mark.parametrize(
    "n, pct",
    [(1, 50), (19, 50), (20, 50), (21, 52), (30, 66), (40, 75), (100, 90), (1000, 99), (10000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_pct(n) == pct
    values = list(range(n))
    beyond = sum(v > stats.percentile(values, pct) for v in values)
    assert beyond >= 10 or pct == 50


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(values, 50) == 3.0
    assert stats.percentile(values, 100) == 5.0
    assert stats.percentile(values, 1) == 1.0


def test_traffic_has_every_irregular_kind():
    files = gen.generate(SMALL, 3, 8)
    e = gen.expected_outcome(files)
    assert e["dedup_dropped"] > 0 and e["late_dropped"] > 0 and e["future_dropped"] > 0
    total = sum(f.num_rows for f in files)
    assert len(e["surviving"]) == total - e["dedup_dropped"] - e["late_dropped"] - e["future_dropped"]
    # tombstones remove keys from the upsert state
    assert len(e["latest"]) < len({k for f in files for k in f.column("key").to_pylist()})


def _append_case():
    files = gen.generate(SMALL, 5, 6)
    e = gen.expected_outcome(files)
    rows = sorted(e["surviving"])
    return files, e, rows, dict(e["next_positions"])


def test_append_checker_accepts_correct_output():
    _, e, rows, positions = _append_case()
    assert check.check_append(e, rows, positions) == []


def test_append_checker_flags_duplicate_batch():
    files, e, rows, positions = _append_case()
    f = files[2]
    replayed = [
        po for po in zip(f.column("partition").to_pylist(), f.column("offset").to_pylist()) if po in e["surviving"]
    ]
    problems = check.check_append(e, rows + replayed, positions)
    assert any("duplicate" in p for p in problems)


def test_append_checker_flags_dropped_file():
    files, e, rows, _ = _append_case()
    f = files[-1]
    dropped = set(zip(f.column("partition").to_pylist(), f.column("offset").to_pylist()))
    kept = [r for r in rows if r not in dropped]
    positions = {}
    for p, o in kept:
        positions[p] = max(positions.get(p, 0), o + 1)
    problems = check.check_append(e, kept, positions)
    assert any("lost" in p for p in problems)
    assert any("positions" in p for p in problems)


def test_upsert_checker_flags_wrong_value():
    e = gen.expected_outcome(gen.generate(SMALL, 7, 6))
    good = list(e["latest"].items())
    assert check.check_upsert(e, good) == []
    k, s = good[0]
    wrong = [(k, s - 1)] + good[1:]
    assert check.check_upsert(e, wrong)
    assert check.check_upsert(e, good + [good[0]])


def test_benchmark_json_names_what_the_run_reports():
    import json

    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {n: run._unit(n) for n in run.per_layer_names()}
    out = {"drain_rows": 10, "drain_s": 1.0, "batch_ms": [1.0], "cpu_ms_per_krow": 1.0, "stored_bytes_per_row": 1.0}
    e2e = run.end_to_end(out, 1.0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: u for k, (_v, u) in e2e.items()}
    assert [w["name"] for w in spec["workloads"]] == sorted(run.WORKLOADS)

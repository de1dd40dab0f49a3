"""Scale audit: plan-shape census over EVERY declared query.

PLANS.md captures 34 annotated plans; this sweeps all of them and
writes SCALE_AUDIT.md — one row per query counting the physical-plan
features that decide 100 TB behavior:

- ``exch``   — hash-partitioning exchanges (shuffles)
- ``bcast``  — broadcast exchanges (dims/scalars shipped to executors)
- ``sort``   — sort nodes (global or partition-local)
- ``scan``   — parquet file scans
- ``py``     — Arrow-batched Python nodes (mapInPandas etc.)
- flags      — anything that must never appear: CartesianProduct,
  row-at-a-time BatchEvalPython, single-partition global sorts on
  corpus-sized relations

Exit code = number of flagged queries, so CI can pin "no cartesian
products, no row UDFs" across the whole surface, not just the
hand-annotated plans.

Usage: python tools/scale_audit.py [sf_dir]   (writes SCALE_AUDIT.md)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from stream_loader_spark.session import get_spark  # noqa: E402
from stream_loader_spark.plans.queries import QUERIES  # noqa: E402


def plan_text(spark, name: str, sf_dir: str, mode: str | None = None) -> str:
    """The query's ``explain`` output (physical plan by default; ``mode``
    as in ``DataFrame.explain``, e.g. "formatted")."""
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def audit_one(plan: str) -> dict:
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BatchEvalPython" in plan:  # row-at-a-time Python UDF
        flags.append("ROW_UDF")
    return {
        "exch": plan.count("Exchange hashpartitioning"),
        "bcast": plan.count("BroadcastExchange"),
        "sort": plan.count("Sort "),
        "scan": plan.count("FileScan"),
        "py": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "flags": flags,
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("scale_audit")
    rows = []
    errors = {}
    for name in sorted(QUERIES):
        try:
            rows.append((name, audit_one(plan_text(spark, name, sf_dir))))
        except Exception as exc:  # noqa: BLE001 — census must be total
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]

    flagged = [(n, a) for n, a in rows if a["flags"]]
    out = [
        "# SCALE_AUDIT — plan-shape census over every declared query",
        "",
        f"{len(rows)} queries audited at {sf_dir}. Columns: hash exchanges,",
        "broadcast exchanges, sorts, parquet scans, Arrow-batched Python",
        "nodes, disqualifying flags (CartesianProduct / row-at-a-time",
        "Python UDF). Regenerate: `python tools/scale_audit.py`.",
        "",
        f"**Flagged queries: {len(flagged)}**"
        + (" — " + ", ".join(n for n, _ in flagged) if flagged else ""),
        "",
        "| query | exch | bcast | sort | scan | py | flags |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        out.append(
            f"| {name} | {a['exch']} | {a['bcast']} | {a['sort']} | "
            f"{a['scan']} | {a['py']} | {' '.join(a['flags']) or '—'} |"
        )
    if errors:
        out += ["", "## Errors", ""]
        out += [f"- {n}: {e}" for n, e in errors.items()]
    with open(os.path.join(REPO, "SCALE_AUDIT.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote SCALE_AUDIT.md ({len(rows)} queries, {len(flagged)} flagged, {len(errors)} errors)")
    return len(flagged) + len(errors)


if __name__ == "__main__":
    raise SystemExit(main())

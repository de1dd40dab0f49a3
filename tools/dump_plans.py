"""Dump `.explain("formatted")` for named queries to <out_dir>/<name>_<suffix>.txt.

Usage: python tools/dump_plans.py <repo_root> <out_dir> <suffix> <query> [<query> ...]

Run with repo_root pointing at a git worktree of an older commit to capture
"before" plans; at the live repo for "after" plans. sf dir fixed at sf0.01
(plan shape is sf-independent; sf0.01 keeps capture fast).
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    repo_root, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]
    sys.path.insert(0, repo_root)
    os.makedirs(out_dir, exist_ok=True)
    # import repo_root's engine before the plan helper next to this file,
    # so the helper explains repo_root's queries, not this checkout's
    from stream_loader_spark.session import get_spark
    import stream_loader_spark.plans.queries  # noqa: F401

    sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))
    from scale_audit import plan_text

    spark = get_spark("dump_plans")
    sf_dir = "/root/testdata/sf0.01"
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan_text(spark, name, sf_dir, mode="formatted"))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()

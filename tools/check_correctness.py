"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an oracle exists,
the same query through DuckDB over the same parquet tables; compares
row count, column names, and an order-insensitive value hash.

The value canonicalization is deliberately TYPE-SENSITIVE on the
pandas conversion path, mirroring the driver (round-1 finding: the
driver hashed 4 queries red that a stringify-everything canon passed):

- DuckDB HUGEINT (``SUM(BIGINT)``) reaches pandas as float64 while
  Spark's LongType arrives as int64 — so ints and floats hash
  differently here, forcing ``CAST(SUM(..) AS BIGINT)`` in oracles.
- Spark DecimalType arrives as ``decimal.Decimal`` objects while
  DuckDB DECIMAL becomes float64 — so Decimals hash with their exact
  scale ('123.40' != 123.4), forcing the cast-to-DOUBLE convention.
- DuckDB DATE becomes a midnight Timestamp while Spark DateType stays
  ``datetime.date`` — the driver treats these as EQUAL (date outputs
  passed round 1), so both canonicalize to the midnight isoformat.
- list/array/dict cell values are an immediate failure: the driver's
  canonicalizer crashes on them (round-1 ``multimodal_features``).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stream_loader_spark.session import get_spark  # noqa: E402
from stream_loader_spark.sources.tables import TABLE_NAMES, table_path  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


class NonScalarOutput(Exception):
    """A result cell held a list/array/dict — the driver crashes on these."""


def canon(v) -> str:
    """Type-tagged canonical string for one result cell."""
    if v is None:
        return "NULL"
    if isinstance(v, (list, tuple, dict, np.ndarray)):
        raise NonScalarOutput(f"non-scalar output cell of type {type(v).__name__}")
    if isinstance(v, (bool, np.bool_)):
        return f"b:{int(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        return f"f:{f!r}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if pd.isna(v):
            return "NULL"
        return f"t:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, dt.date):
        # duckdb DATE -> midnight Timestamp; Spark DateType -> date object.
        # The driver hashes them equal, so both land on the midnight form.
        return f"t:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, str):
        return "s:" + v
    if pd.isna(v):  # NaT and friends
        return "NULL"
    return f"{type(v).__name__}:{v}"


def table_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash: sort columns by name, hash sorted row strings."""
    pdf = pdf[sorted(pdf.columns)]
    lines = sorted(
        "\x1f".join(canon(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def canon_lines(pdf: pd.DataFrame) -> set[str]:
    pdf = pdf[sorted(pdf.columns)]
    return {
        "\x1f".join(canon(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # optional machine-readable artifact (one record per checked query),
    # mirroring the driver's CORRECTNESS_r{N}.json shape so the full
    # registry's verification is evidenced in the repo, not just the
    # driver's ~50-query sample
    json_out = os.environ.get("CHECK_JSON_OUT")
    records: dict[str, dict] = {}

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}")
        return 1
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            records[name] = {"mode": "oracle" if name in oracles else "rows_only",
                             "ok": False, "err": f"spark error: {e}"[:300]}
            continue
        took = time.time() - t0
        if name not in oracles:
            # rows-only checks still must not emit driver-crashing cells
            try:
                table_hash(spdf)
            except NonScalarOutput as e:
                print(f"FAIL {name}: {e}")
                failures.append(name)
                records[name] = {"mode": "rows_only", "ok": False, "err": str(e)[:300]}
                continue
            print(f"ok   {name}: rows-only ({len(spdf)} rows, {took:.1f}s)")
            records[name] = {"mode": "rows_only", "ok": True,
                             "spark_rows": len(spdf), "err": None}
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            records[name] = {"mode": "oracle", "ok": False,
                             "err": f"duckdb error: {e}"[:300]}
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rowcount spark={len(spdf)} oracle={len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(
                f"columns spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"
            )
        if not problems:
            try:
                sh, oh = table_hash(spdf), table_hash(opdf)
            except NonScalarOutput as e:
                problems.append(str(e))
            else:
                if sh != oh:
                    problems.append("value-hash mismatch")
                    sset, oset = canon_lines(spdf), canon_lines(opdf)
                    for x in sorted(sset - oset)[:2]:
                        print(f"  spark-only: {x[:220]}")
                    for x in sorted(oset - sset)[:2]:
                        print(f"  oracle-only: {x[:220]}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} ({took:.1f}s)")
            failures.append(name)
        records[name] = {
            "mode": "oracle",
            "ok": not problems,
            "rows_match": len(spdf) == len(opdf),
            "schema_match": sorted(spdf.columns) == sorted(opdf.columns),
            "hash_match": not problems,
            "spark_rows": len(spdf),
            "oracle_rows": len(opdf),
            "err": "; ".join(problems)[:300] or None,
        }
        if not problems:
            print(f"ok   {name}: MATCH ({len(spdf)} rows, {took:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        with open(json_out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "results": records}, fh, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Executed-plan scan-repetition sweep: find HLL-like recompute.

For every headline bench query, execute it once (finalizing its own
AQE plan), strip non-executing plan text (AQE initial plan, cached
subtrees' stored build plans), and count per-table parquet scans,
shuffle exchanges and ReusedExchange nodes the query ACTUALLY pays.
A table scanned many times in the executing plan — with few
ReusedExchange nodes — is the signature of a derived table being
re-evaluated per consumer (the sketch_hll_portable_registers bug).

Measurement-only helper; never touches BENCH_HISTORY.

Usage: python tools/scan_sweep.py [--sf SF_DIR] [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ibis_olap_aggregation_spark.plans.inspect import (
    _strip_non_executing,
    physical_plan,
)
from ibis_olap_aggregation_spark.session import (
    get_spark,
    load_table,
    release_query_caches,
)

TABLES = (
    "region", "nation", "customer", "supplier", "part", "partsupp",
    "orders", "lineitem", "events", "documents", "embeddings", "frames",
    "audio",
)


def _scanned_table(line: str) -> str | None:
    """The table a parquet scan line reads: a path component that is
    ``<table>`` or ``<table>.parquet``, or a catalog ``<table>[``. Whole
    components only, so a ``partsupp`` scan never counts as ``part``."""
    for t in TABLES:
        if re.search(rf"/{t}(?:\.parquet)?(?=[/\],\s]|$)| {t}\[", line):
            return t
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    import bench  # noqa: E402  (repo root on sys.path)

    spark = get_spark("scan-sweep")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        load_table(spark, args.sf, t).count()

    from ibis_olap_aggregation_spark import queries as q

    names = args.names or list(bench.HEADLINE)
    fns = q.QUERIES
    rows = []
    for name in names:
        fn = fns.get(name)
        if fn is None:
            print(f"{name}: NOT IN HEADLINE", file=sys.stderr)
            continue
        t0 = time.time()
        try:
            df = fn(spark, args.sf)
            plan = physical_plan(df, executed=True)
        except Exception as exc:  # constructor-style entries etc.
            print(f"{name}: SKIP ({type(exc).__name__}: {exc})", file=sys.stderr)
            release_query_caches()
            continue
        wall = time.time() - t0
        stripped = _strip_non_executing(plan)
        scans: dict[str, int] = {}
        for ln in stripped.splitlines():
            m = re.search(r"Scan parquet", ln)
            if not m:
                continue
            hit = _scanned_table(ln)
            scans[hit or "?"] = scans.get(hit or "?", 0) + 1
        rows.append({
            "name": name,
            "wall": round(wall, 2),
            "scans": scans,
            "scan_total": sum(scans.values()),
            "exchanges": len(
                re.findall(r"Exchange (?:hash|range)partitioning", stripped)
            ),
            "reused": len(re.findall(r"ReusedExchange", stripped)),
            "imts": len(re.findall(r"InMemoryTableScan", stripped)),
        })
        release_query_caches()
    rows.sort(key=lambda r: -(r["scan_total"]))
    for r in rows:
        print(json.dumps(r))


if __name__ == "__main__":
    main()

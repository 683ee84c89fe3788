"""tools/scan_sweep.py attributes each parquet scan to one table."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from scan_sweep import _scanned_table  # noqa: E402


def test_scan_attributed_by_whole_path_component():
    loc = "Location: InMemoryFileIndex(1 paths)[file:/data/sf0.1/{}.parquet], PartitionFilters: []"
    assert _scanned_table("+- FileScan parquet [ps_partkey#1] " + loc.format("partsupp")) == "partsupp"
    assert _scanned_table("+- FileScan parquet [p_partkey#2] " + loc.format("part")) == "part"
    assert _scanned_table("Scan parquet part[p_partkey#2]") == "part"
    assert _scanned_table("+- FileScan parquet [x#3] [file:/data/other.parquet]") is None

"""PySpark-native OLAP analytics engine.

A brand-new engine with the query surface of the reference repo
``prmoore77/ibis-olap-aggregation`` (hierarchical closure-table OLAP
aggregation), re-expressed Spark-first (DataFrame API + Spark SQL,
Catalyst-optimized), plus large-scale training-data pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing) and
Structured Streaming windows.

Design notes (vs the reference, `/root/reference/`):
- the reference generates DuckDB SQL (recursive CTEs) via SQLAlchemy;
  we declare logical plans with the DataFrame API and let Catalyst pick
  physical strategies.
- the reference runs TWO recursive CTEs (reporting dim, then closure).
  We run ONE depth-bounded walk for the reporting dim (driver-local
  for dim-sized tables, path doubling above that) and derive the closure by exploding the materialized root-to-node path —
  no second recursion (see ``hierarchy.py``).
- sibling order is deterministic (sort-key path), fixing the
  reference's UUID-ordered non-determinism
  (reference classes/hierarchy_dimension_table.py:133-139).
"""

from ibis_olap_aggregation_spark.hierarchy import HierarchyDimension, prepare_nodes
from ibis_olap_aggregation_spark.rollup import hierarchical_rollup
from ibis_olap_aggregation_spark.session import get_spark, load_table, load_tables

__all__ = [
    "HierarchyDimension",
    "prepare_nodes",
    "hierarchical_rollup",
    "get_spark",
    "load_table",
    "load_tables",
]

__version__ = "0.1.0"

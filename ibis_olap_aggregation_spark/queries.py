"""Named query registry: Spark callable + DuckDB oracle SQL pairs.

Each entry implements one operator/pattern from SURVEY.md §2 (and the
§7.4 extensions). The driver runs the Spark callable at a given sf_dir
and the oracle SQL on DuckDB views over the SAME parquet, comparing
row-count + schema + order-insensitive value hash.

Determinism conventions (so hashes match bit-exactly):
- SUM over double measures: cast to DECIMAL(18,2) pre-aggregate (exact,
  associative — immune to partial-agg ordering), cast result to DOUBLE.
- global ranks (node_sort_order) cast to BIGINT on the Spark side to
  match DuckDB's row_number() type.
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ibis_olap_aggregation_spark.fixtures import (
    GEO_NODES_SQL,
    PART_NODES_SQL,
    geo_nodes,
    grocery_facts,
    grocery_nodes,
    part_nodes,
)
from ibis_olap_aggregation_spark.functions.scalar import indented
from ibis_olap_aggregation_spark.hierarchy import HierarchyDimension
from ibis_olap_aggregation_spark.rollup import (
    finalize_rollup_partials,
    hierarchical_rollup,
    hierarchical_rollup_additive,
    hierarchical_rollup_partials,
    merge_rollup_partials,
)
from ibis_olap_aggregation_spark.session import load_tables

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


# re-entrancy depth for the register() drain: queries COMPOSE other
# registered queries (recall-eval calls both ANN members, the cluster
# family calls the LSH candidate generator), and a nested invocation
# must not release the OUTER query's caches mid-construction.
# THREAD-LOCAL like the cache registry it guards (session.query_cache):
# concurrent driver threads each track their own depth, so one thread's
# nesting can neither suppress nor trigger another thread's drain.
import threading as _threading

_QUERY_DEPTH = _threading.local()


def _depth() -> int:
    return getattr(_QUERY_DEPTH, "value", 0)


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        import functools

        from ibis_olap_aggregation_spark.session import release_query_caches

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # sweep hygiene: the PREVIOUS query's performance caches
            # (session.query_cache) are released on entry of the next
            # TOP-LEVEL query, so at most one query's caches are live
            # at a time across a 182-query sweep; release is
            # transparent-safe (deterministic recompute) — see
            # session.query_cache
            if _depth() == 0:
                release_query_caches()
            _QUERY_DEPTH.value = _depth() + 1
            try:
                return fn(spark, sf_dir)
            finally:
                _QUERY_DEPTH.value = _depth() - 1

        if name in QUERIES:
            # a silent overwrite leaves the SECOND registration's oracle
            # paired with... whichever function won the import race, and
            # every local gate then green-lights the wrong pair (the
            # events/temporal attribution collision, round 12)
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def dsum(col: str, alias: str) -> F.Column:
    """SUM(double) via exact decimal — see module docstring."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


def sum_wide(col: F.Column) -> F.Column:
    """SUM of an integer expression over decimal(38,0) — the exact
    wide-sum idiom for second-order statistics (sum of squares /
    products). The DuckDB oracle's SUM(BIGINT) auto-promotes to
    HUGEINT; Spark's non-ANSI bigint SUM wraps SILENTLY past 2^63
    (ADVICE r8 — the Spearman lesson), so every sum whose magnitude is
    value^2 x rows must route through this. Callers cast the result to
    double (one rounding point, identical both engines) or keep the
    exact decimal for integer comparisons."""
    return F.sum(col.cast("decimal(38,0)"))


def _assert_integral_operands(check_in, *ops: F.Column) -> None:
    """Raise if any operand resolves to a fractional type against
    ``check_in`` (the pre-aggregation DataFrame). ``df.select(...).schema``
    is driver-side analysis only — no job runs. VERDICT r11 item 5:
    the decimal(20,0) cast in sum_wide_product ROUNDS fractional
    values, silently changing the product — a loud TypeError at
    construction beats a latent precondition in a docstring."""
    from pyspark.sql.types import ByteType, DecimalType, IntegerType, LongType, ShortType

    for op in ops:
        dt = check_in.select(op).schema[0].dataType
        ok = isinstance(dt, (ByteType, ShortType, IntegerType, LongType)) or (
            isinstance(dt, DecimalType) and dt.scale == 0
        )
        if not ok:
            raise TypeError(
                f"sum_wide_product operand {op} has fractional/non-integral "
                f"type {dt.simpleString()}: the decimal(20,0) cast would "
                "round it before the multiply. Quantize explicitly first."
            )


def sum_wide_product(a: F.Column, b: F.Column, *, check_in) -> F.Column:
    """SUM(a*b) with the PRODUCT itself evaluated in decimal — the
    companion to sum_wide for second-order statistics. sum_wide widens
    the SUM but a bigint product passed into it has already wrapped
    silently past |a*b| ~ 2^63 (a ~ 3.04e9 for a*a — reachable at
    ~1e12 events: ~2.7e9 events/day as a daily count; ADVICE r9).
    Casting both operands to decimal(20,0) first makes the product
    decimal(38,0) — exact up to 1e38, same overflow-to-null-vs-raise
    visibility as sum_wide, matching DuckDB's bigint*bigint → int128
    auto-promotion. One decimal multiply per row costs more than a
    bigint multiply, but these sites aggregate immediately (no wide
    agg-buffer fan-out — the buffer is a single decimal either way;
    the 2x hash-agg penalty measured in PARITY r6 was 64 decimal
    buffers per group, not one).

    Operands must be INTEGRAL (bigint/int counts, ranks, degrees): the
    decimal(20,0) cast ROUNDS fractional values to whole numbers before
    the multiply, silently changing the product. ``check_in`` (required)
    is the pre-aggregation DataFrame both operands resolve against; the
    integrality precondition is CHECKED there at construction time
    (driver-side analysis, no job) and a fractional operand raises."""
    _assert_integral_operands(check_in, a, b)
    return F.sum(a.cast("decimal(20,0)") * b.cast("decimal(20,0)"))


# Re-exported from session.py (the canonical home: hierarchy.py needs
# the resolver too and queries.py imports hierarchy, so session is the
# import-cycle-free host). Tests forcing the merge regime monkeypatch
# session.DIM_BROADCAST_ROW_CAP (dim_side resolves the cap at call
# time from that module global).
from ibis_olap_aggregation_spark.session import (  # noqa: E402
    DIM_BROADCAST_ROW_CAP,
    dim_side,
)


# Dimensions are ETL artifacts: built once, queried many times (the
# reference materializes them via CTAS at construction and every query
# reuses the tables; ref classes/hierarchy_dimension_table.py:162-163,
# 220-222). Reuse across registry calls mirrors that.
_DIM_CACHE: dict[tuple[str, int, str], HierarchyDimension] = {}


def _cached_dim(kind: str, spark: SparkSession, sf_dir: str, build) -> HierarchyDimension:
    # keyed on applicationId, not id(spark): CPython reuses object ids
    # after GC, so a fresh session could otherwise be served DataFrames
    # belonging to a stopped SparkContext. applicationId changes on
    # every context restart; sessions sharing one context share the
    # cache manager, so reuse within an application stays valid.
    key = (kind, spark.sparkContext.applicationId, sf_dir)
    if key not in _DIM_CACHE:
        _DIM_CACHE[key] = build()
    return _DIM_CACHE[key]


def _geo_dim(spark: SparkSession, sf_dir: str) -> HierarchyDimension:
    def build():
        t = load_tables(spark, sf_dir, ("region", "nation", "customer"))
        return HierarchyDimension(
            geo_nodes(t["region"], t["nation"], t["customer"]),
            dimension_name="geo",
            sort_key_col="node_id",
            flatten_levels=4,
        )

    return _cached_dim("geo", spark, sf_dir, build)


def _part_dim(spark: SparkSession, sf_dir: str) -> HierarchyDimension:
    def build():
        t = load_tables(spark, sf_dir, ("part",))
        return HierarchyDimension(
            part_nodes(t["part"]),
            dimension_name="part",
            sort_key_col="node_id",
            flatten_levels=4,
        )

    return _cached_dim("part", spark, sf_dir, build)


# --------------------------------------------------------------------------
# Hierarchy core (reference parity: SURVEY.md §2.2-§2.8, main.py:35-55)
# --------------------------------------------------------------------------

_GROCERY_SQL_PRELUDE = """
WITH RECURSIVE nodes_base(node_id, node_natural_key, node_name, level_name, parent_node_id) AS (
  VALUES ('n0', 0, 'All Products', 'Total Products', CAST(NULL AS VARCHAR)),
         ('n10', 10, 'Produce', 'Category', 'n0'),
         ('n101', 101, 'Spinach', 'UPC', 'n10'),
         ('n102', 102, 'Tomatoes', 'UPC', 'n10'),
         ('n20', 20, 'Candy', 'Category', 'n0'),
         ('n201', 201, 'Hershey Bar', 'UPC', 'n20'),
         ('n202', 202, 'Nerds', 'UPC', 'n20')
),
facts(product_id, customer_id, date_id, unit_quantity, sales_amount) AS (
  VALUES (201, 'Phil', DATE '2022-01-01', 1.0, 3.00),
         (201, 'Lottie', DATE '2022-01-02', 5.0, 15.00),
         (202, 'Kalie', DATE '2022-01-02', 2.0, 5.00),
         (102, 'Phil', DATE '2022-01-02', 2.0, 2.00),
         (101, 'Popeye', DATE '2022-01-03', 10.0, 5.00),
         (101, 'Brutus', DATE '2022-01-04', 1.0, 0.50),
         (101, 'Lottie', DATE '2022-01-04', 1.0, 0.50),
         (101, 'Phil', DATE '2022-01-05', 2.0, 2.00)
),
walk AS (
  SELECT node_id, node_natural_key, node_name, level_name,
         1 AS level_number, [node_natural_key] AS sort_path
  FROM nodes_base WHERE parent_node_id IS NULL
  UNION ALL
  SELECT n.node_id, n.node_natural_key, n.node_name, n.level_name,
         w.level_number + 1, list_append(w.sort_path, n.node_natural_key)
  FROM nodes_base n JOIN walk w ON n.parent_node_id = w.node_id
),
so AS (
  SELECT *, CAST(row_number() OVER (ORDER BY sort_path) AS BIGINT) AS node_sort_order
  FROM walk
),
closure AS (
  SELECT node_id AS ancestor_node_id, node_id AS descendant_node_id, 0 AS net_level
  FROM nodes_base
  UNION ALL
  SELECT c.ancestor_node_id, n.node_id, c.net_level + 1
  FROM closure c JOIN nodes_base n ON n.parent_node_id = c.descendant_node_id
)
"""


@register(
    "hierarchy_grocery_rollup",
    _GROCERY_SQL_PRELUDE
    + """
SELECT lpad('-', (a.level_number - 1) * 7, '-') || a.node_name AS product_node_name,
       lpad('-', (a.level_number - 1) * 7, '-') || a.level_name AS product_level_name,
       a.node_sort_order AS ancestor_node_sort_order,
       CAST(SUM(CAST(f.sales_amount AS DECIMAL(18,2))) AS DOUBLE) AS sum_sales_amount,
       CAST(SUM(CAST(f.unit_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_unit_quantity,
       COUNT(DISTINCT f.customer_id) AS distinct_customer_count,
       COUNT(*) AS count_of_fact_records
FROM closure c
JOIN so a ON a.node_id = c.ancestor_node_id
JOIN so d ON d.node_id = c.descendant_node_id
JOIN facts f ON f.product_id = d.node_natural_key
GROUP BY 1, 2, 3
""",
)
def hierarchy_grocery_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship query verbatim (reference main.py:28-55)
    on its own grocery fixture: indented names, 4 measures, closure join."""
    dim = HierarchyDimension(grocery_nodes(spark), dimension_name="product")
    facts = grocery_facts(spark)
    agg = dim.aggregation_dim.withColumns(
        {
            "ancestor_node_name": indented("ancestor_node_name", "ancestor_level_number"),
            "ancestor_level_name": indented("ancestor_level_name", "ancestor_level_number"),
        }
    )
    out = hierarchical_rollup(
        facts,
        agg,
        "product_id",
        [
            dsum("sales_amount", "sum_sales_amount"),
            dsum("unit_quantity", "sum_unit_quantity"),
            F.countDistinct("customer_id").alias("distinct_customer_count"),
            F.count(F.lit(1)).alias("count_of_fact_records"),
        ],
        group_keys=("ancestor_node_name", "ancestor_level_name", "ancestor_node_sort_order"),
    )
    return out.select(
        F.col("ancestor_node_name").alias("product_node_name"),
        F.col("ancestor_level_name").alias("product_level_name"),
        F.col("ancestor_node_sort_order").cast("bigint").alias("ancestor_node_sort_order"),
        "sum_sales_amount",
        "sum_unit_quantity",
        "distinct_customer_count",
        "count_of_fact_records",
    )


_GEO_PRELUDE = f"""
WITH RECURSIVE base AS ({GEO_NODES_SQL}),
nodes AS (
  SELECT b.*, (b.parent_node_id IS NULL) AS is_root,
         b.node_id NOT IN (SELECT parent_node_id FROM base WHERE parent_node_id IS NOT NULL) AS is_leaf
  FROM base b
),
walk AS (
  SELECT node_id, node_natural_key, node_name, level_name, parent_node_id,
         is_root, is_leaf, 1 AS level_number,
         [node_id] AS path, [node_name] AS name_path
  FROM nodes WHERE is_root
  UNION ALL
  SELECT n.node_id, n.node_natural_key, n.node_name, n.level_name, n.parent_node_id,
         n.is_root, n.is_leaf, w.level_number + 1,
         list_append(w.path, n.node_id), list_append(w.name_path, n.node_name)
  FROM nodes n JOIN walk w ON n.parent_node_id = w.node_id
),
so AS (
  SELECT *, CAST(row_number() OVER (ORDER BY path) AS BIGINT) AS node_sort_order
  FROM walk
),
closure AS (
  SELECT node_id AS ancestor_node_id, node_id AS descendant_node_id, 0 AS net_level
  FROM base
  UNION ALL
  SELECT c.ancestor_node_id, n.node_id, c.net_level + 1
  FROM closure c JOIN base n ON n.parent_node_id = c.descendant_node_id
)
"""


@register(
    "hierarchy_geo_reporting_dim",
    _GEO_PRELUDE
    + """
SELECT node_id, node_natural_key, node_name, level_name, parent_node_id,
       is_root, is_leaf, level_number, node_sort_order,
       name_path[1] AS level_1_node_name, name_path[2] AS level_2_node_name,
       name_path[3] AS level_3_node_name, name_path[4] AS level_4_node_name
FROM so
""",
)
def hierarchy_geo_reporting_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reporting dim (ref classes/hierarchy_dimension_table.py:98-165) on
    the geography hierarchy derived from region/nation/customer."""
    rep = _geo_dim(spark, sf_dir).reporting_dim
    return rep.select(
        "node_id",
        "node_natural_key",
        "node_name",
        "level_name",
        "parent_node_id",
        "is_root",
        "is_leaf",
        "level_number",
        F.col("node_sort_order").cast("bigint").alias("node_sort_order"),
        *[F.col(f"level_{i}_node_name") for i in range(1, 5)],
    )


@register(
    "hierarchy_geo_closure",
    _GEO_PRELUDE
    + """
SELECT a.node_id AS ancestor_node_id,
       a.node_natural_key AS ancestor_node_natural_key,
       a.node_name AS ancestor_node_name,
       a.level_name AS ancestor_level_name,
       a.is_root AS ancestor_is_root, a.is_leaf AS ancestor_is_leaf,
       a.level_number AS ancestor_level_number,
       a.node_sort_order AS ancestor_node_sort_order,
       d.node_id AS descendant_node_id,
       d.node_natural_key AS descendant_node_natural_key,
       d.node_name AS descendant_node_name,
       d.level_name AS descendant_level_name,
       d.is_root AS descendant_is_root, d.is_leaf AS descendant_is_leaf,
       d.level_number AS descendant_level_number,
       d.node_sort_order AS descendant_node_sort_order,
       c.net_level
FROM closure c
JOIN so a ON a.node_id = c.ancestor_node_id
JOIN so d ON d.node_id = c.descendant_node_id
""",
)
def hierarchy_geo_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation dim / transitive closure (ref :167-223) on geography."""
    agg = _geo_dim(spark, sf_dir).aggregation_dim
    return agg.select(
        *[c for c in agg.columns if c not in ("ancestor_node_sort_order", "descendant_node_sort_order")],
        F.col("ancestor_node_sort_order").cast("bigint").alias("ancestor_node_sort_order"),
        F.col("descendant_node_sort_order").cast("bigint").alias("descendant_node_sort_order"),
    ).select(
        "ancestor_node_id",
        "ancestor_node_natural_key",
        "ancestor_node_name",
        "ancestor_level_name",
        "ancestor_is_root",
        "ancestor_is_leaf",
        "ancestor_level_number",
        "ancestor_node_sort_order",
        "descendant_node_id",
        "descendant_node_natural_key",
        "descendant_node_name",
        "descendant_level_name",
        "descendant_is_root",
        "descendant_is_leaf",
        "descendant_level_number",
        "descendant_node_sort_order",
        "net_level",
    )


_GEO_ROLLUP_ORDERS_SQL = (
    _GEO_PRELUDE
    + """
SELECT a.node_name AS node_name, a.level_name AS level_name,
       a.level_number AS level_number, a.node_sort_order AS node_sort_order,
       CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice,
       COUNT(DISTINCT f.o_custkey) AS distinct_customer_count,
       COUNT(*) AS count_of_fact_records
FROM closure c
JOIN so a ON a.node_id = c.ancestor_node_id
JOIN so d ON d.node_id = c.descendant_node_id
JOIN orders f ON f.o_custkey = d.node_natural_key
GROUP BY 1, 2, 3, 4
"""
)


def _geo_rollup_orders(spark: SparkSession, sf_dir: str, broadcast_dim) -> DataFrame:
    dim = _geo_dim(spark, sf_dir)
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    out = hierarchical_rollup_additive(
        orders,
        dim.aggregation_dim,
        "o_custkey",
        sum_cols=[("o_totalprice", "sum_totalprice")],
        count_alias="count_of_fact_records",
        distinct_cols=[("o_custkey", "distinct_customer_count")],
        broadcast_dim=broadcast_dim,
    )
    return out.select(
        F.col("ancestor_node_name").alias("node_name"),
        F.col("ancestor_level_name").alias("level_name"),
        F.col("ancestor_level_number").alias("level_number"),
        F.col("ancestor_node_sort_order").cast("bigint").alias("node_sort_order"),
        "sum_totalprice",
        "distinct_customer_count",
        "count_of_fact_records",
    )


@register("hierarchy_geo_rollup_orders", _GEO_ROLLUP_ORDERS_SQL)
def hierarchy_geo_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP at scale: orders rolled up the geography hierarchy —
    every region/nation/customer node in one flat closure-join groupBy."""
    return _geo_rollup_orders(spark, sf_dir, True)


_PART_PRELUDE = f"""
WITH RECURSIVE base AS ({PART_NODES_SQL}),
walk AS (
  SELECT node_id, node_natural_key, node_name, level_name, 1 AS level_number,
         [node_id] AS path
  FROM base WHERE parent_node_id IS NULL
  UNION ALL
  SELECT n.node_id, n.node_natural_key, n.node_name, n.level_name,
         w.level_number + 1, list_append(w.path, n.node_id)
  FROM base n JOIN walk w ON n.parent_node_id = w.node_id
),
so AS (
  SELECT *, CAST(row_number() OVER (ORDER BY path) AS BIGINT) AS node_sort_order
  FROM walk
),
closure AS (
  SELECT node_id AS ancestor_node_id, node_id AS descendant_node_id, 0 AS net_level
  FROM base
  UNION ALL
  SELECT c.ancestor_node_id, n.node_id, c.net_level + 1
  FROM closure c JOIN base n ON n.parent_node_id = c.descendant_node_id
)
"""


@register(
    "hierarchy_part_rollup_lineitem",
    _PART_PRELUDE
    + """
SELECT a.node_name AS node_name, a.level_name AS level_name,
       a.level_number AS level_number, a.node_sort_order AS node_sort_order,
       CAST(SUM(CAST(f.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_extendedprice,
       CAST(SUM(CAST(f.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_quantity,
       COUNT(DISTINCT f.l_orderkey) AS distinct_order_count,
       COUNT(*) AS count_of_fact_records
FROM closure c
JOIN so a ON a.node_id = c.ancestor_node_id
JOIN so d ON d.node_id = c.descendant_node_id
JOIN lineitem f ON f.l_partkey = d.node_natural_key
GROUP BY 1, 2, 3, 4
""",
)
def hierarchy_part_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem rolled up the product hierarchy (root -> brand -> type ->
    part); non-additive COUNT(DISTINCT l_orderkey) at every node."""
    dim = _part_dim(spark, sf_dir)
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    out = hierarchical_rollup_additive(
        li,
        dim.aggregation_dim,
        "l_partkey",
        sum_cols=[
            ("l_extendedprice", "sum_extendedprice"),
            ("l_quantity", "sum_quantity"),
        ],
        count_alias="count_of_fact_records",
        distinct_cols=[("l_orderkey", "distinct_order_count")],
    )
    return out.select(
        F.col("ancestor_node_name").alias("node_name"),
        F.col("ancestor_level_name").alias("level_name"),
        F.col("ancestor_level_number").alias("level_number"),
        F.col("ancestor_node_sort_order").cast("bigint").alias("node_sort_order"),
        "sum_extendedprice",
        "sum_quantity",
        "distinct_order_count",
        "count_of_fact_records",
    )


@register(
    "hierarchy_geo_direct_children",
    _GEO_PRELUDE
    + """
SELECT a.node_name AS parent_name, a.level_name AS parent_level,
       COUNT(*) AS n_children,
       CAST(SUM(CASE WHEN d.is_leaf THEN 1 ELSE 0 END) AS BIGINT) AS n_leaf_children
FROM closure c
JOIN so a ON a.node_id = c.ancestor_node_id
JOIN so d ON d.node_id = c.descendant_node_id
WHERE c.net_level = 1
GROUP BY 1, 2
""",
)
def hierarchy_geo_direct_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closure flexibility: net_level = 1 slices the closure to DIRECT
    parent-child pairs (net_level = k gives exactly-k-generations-down;
    a range gives subtrees to depth k) — one filter, no re-walk."""
    agg = _geo_dim(spark, sf_dir).aggregation_dim
    return (
        agg.filter(F.col("net_level") == 1)
        .groupBy(
            F.col("ancestor_node_name").alias("parent_name"),
            F.col("ancestor_level_name").alias("parent_level"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_children"),
            F.sum(F.col("descendant_is_leaf").cast("bigint"))
            .cast("bigint")
            .alias("n_leaf_children"),
        )
    )


def _deep_dim(spark: SparkSession, sf_dir: str) -> HierarchyDimension:
    def build():
        n = 65535
        nodes = spark.range(1, n + 1).select(
            F.col("id").cast("string").alias("node_id"),
            F.col("id").cast("bigint").alias("node_natural_key"),
            F.col("id").cast("string").alias("node_name"),
            F.lit("L").alias("level_name"),
            F.when(F.col("id") > 1, (F.col("id") / 2).cast("long").cast("string")).alias(
                "parent_node_id"
            ),
        )
        return HierarchyDimension(
            nodes,
            dimension_name="deep",
            sort_key_col="node_natural_key",
            flatten_levels=4,
            max_depth=20,
            compute_sort_order=False,  # pure rollup: skip ranking passes
        )

    return _cached_dim("deep", spark, sf_dir, build)


@register(
    "hierarchy_deep_binary_tree",
    """
WITH RECURSIVE nodes AS (
  SELECT i AS id, CASE WHEN i > 1 THEN i // 2 END AS parent
  FROM (SELECT unnest(generate_series(1, 65535)) AS i)
),
closure AS (
  SELECT id AS anc, id AS dsc, 0 AS net_level FROM nodes
  UNION ALL
  SELECT c.anc, n.id, c.net_level + 1
  FROM closure c JOIN nodes n ON n.parent = c.dsc
)
SELECT net_level,
       COUNT(*) AS n_pairs,
       CAST(SUM(dsc) AS BIGINT) AS sum_descendant_keys,
       COUNT(DISTINCT anc) AS n_ancestors
FROM closure
GROUP BY 1
""",
)
def hierarchy_deep_binary_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth stress: a synthetic 65,535-node binary tree (depth 16, so
    the closure has 983,041 pairs) built through the SAME engine path as
    the real dims — walk, ranking, path-explode closure — summarized per
    net_level so the driver compares 16 rows while the full closure is
    exercised underneath. Proves the walk scales in DEPTH (iterations),
    not just node count."""
    dim = _deep_dim(spark, sf_dir)
    return (
        dim.aggregation_dim.groupBy("net_level")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("descendant_node_natural_key")
            .cast("bigint")
            .alias("sum_descendant_keys"),
            F.countDistinct("ancestor_node_id").alias("n_ancestors"),
        )
    )


def _chain_dim(spark: SparkSession, sf_dir: str) -> HierarchyDimension:
    def build():
        n = 256
        nodes = spark.range(1, n + 1).select(
            F.col("id").cast("string").alias("node_id"),
            F.col("id").cast("bigint").alias("node_natural_key"),
            F.col("id").cast("string").alias("node_name"),
            F.lit("L").alias("level_name"),
            F.when(F.col("id") > 1, (F.col("id") - 1).cast("string")).alias(
                "parent_node_id"
            ),
        )
        return HierarchyDimension(
            nodes,
            dimension_name="chain",
            sort_key_col="node_natural_key",
            flatten_levels=2,
            max_depth=512,
            # 256 nodes -> the driver-local walk. The O(log depth)
            # doubling walk this query originally pinned is the walk
            # above _LOCAL_WALK_LIMIT nodes and is agreement-tested
            # against the local walk (tests/test_hierarchy_edges.py);
            # forcing it here would bench 9 rounds of pure job-scheduling
            # overhead (~23s) on a fixture the engine walks in ~1s.
            compute_sort_order=False,  # pure rollup: skip ranking passes
        )

    return _cached_dim("chain", spark, sf_dir, build)


@register(
    "hierarchy_deep_chain_doubling",
    """
WITH RECURSIVE closure AS (
  SELECT i AS anc, i AS dsc FROM (SELECT unnest(generate_series(1, 256)) AS i)
  UNION ALL
  SELECT anc, dsc + 1 FROM closure WHERE dsc < 256
)
SELECT dsc - anc AS net_level, COUNT(*) AS n_pairs,
       CAST(SUM(anc) AS BIGINT) AS sum_ancestors
FROM closure
GROUP BY 1
""",
)
def hierarchy_deep_chain_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pathological depth: a 256-node CHAIN (depth = node count). At
    256 nodes it is walked on the driver; the name is historical (the
    query first pinned the O(log depth) path-doubling walk, which now
    runs only above the local-walk node limit). Closure = 32,896 pairs,
    summarized per net_level for the oracle."""
    dim = _chain_dim(spark, sf_dir)
    return dim.aggregation_dim.groupBy(
        F.col("net_level").cast("bigint").alias("net_level")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("ancestor_node_natural_key").cast("bigint").alias("sum_ancestors"),
    )


@register(
    "hierarchy_geo_rollup_orders_approx",
    # Tolerance-verdict oracle (VERDICT r3 item 4): the raw HLL estimate
    # is engine-specific (DuckDB's approx_count_distinct gives different
    # numbers), so the query emits the EXACT count (oracle-computable)
    # plus a deterministic `within_bounds` boolean — |approx - exact| <=
    # 10% of exact, 5 sigma at rsd=2%, and Spark's HLL++ is exact in
    # sparse mode at small cardinalities. The oracle computes the exact
    # side and asserts TRUE; a drifting sketch flips the boolean and the
    # hash goes red. The estimate itself is bound-tested in
    # tests/test_scale_options.py.
    _GEO_PRELUDE
    + """
SELECT a.node_name AS node_name, a.level_number AS level_number,
       CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice,
       COUNT(DISTINCT f.o_custkey) AS exact_customer_count,
       COUNT(*) AS count_of_fact_records,
       TRUE AS within_bounds
FROM closure c
JOIN so a ON a.node_id = c.ancestor_node_id
JOIN so d ON d.node_id = c.descendant_node_id
JOIN orders f ON f.o_custkey = d.node_natural_key
GROUP BY 1, 2
""",
)
def hierarchy_geo_rollup_orders_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship rollup with approx_count_distinct (HLL++, rsd=2%)
    alongside exact COUNT(DISTINCT) — the swap for hierarchies whose
    distinct cardinality makes the exact two-phase expansion the
    bottleneck (SURVEY.md §2.4 A3 scale option). The HLL sketch merges
    map-side, so the distinct no longer forces the Expand operator; the
    exact branch here exists to ORACLE the estimate: the output carries
    (exact count, within_bounds verdict) instead of the raw estimate,
    making the approx path hash-checkable cross-engine."""
    dim = _geo_dim(spark, sf_dir)
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    out = hierarchical_rollup(
        orders,
        dim.aggregation_dim,
        "o_custkey",
        [
            dsum("o_totalprice", "sum_totalprice"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("_approx"),
            F.countDistinct("o_custkey").alias("exact_customer_count"),
            F.count(F.lit(1)).alias("count_of_fact_records"),
        ],
        group_keys=("ancestor_node_name", "ancestor_level_number"),
    )
    return out.select(
        F.col("ancestor_node_name").alias("node_name"),
        F.col("ancestor_level_number").alias("level_number"),
        "sum_totalprice",
        "exact_customer_count",
        "count_of_fact_records",
        (
            F.abs(F.col("_approx") - F.col("exact_customer_count"))
            <= 0.10 * F.col("exact_customer_count")
        ).alias("within_bounds"),
    )


# Operator-family modules register themselves on import (must stay at
# the bottom: they import `register` from this module).
from ibis_olap_aggregation_spark.operators import relational  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import events  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import text  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import dedup  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import similarity  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import multimodal  # noqa: E402,F401
from ibis_olap_aggregation_spark.sources import io as _io  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import analytic  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import skew  # noqa: E402,F401
from ibis_olap_aggregation_spark.functions import vectorized  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import quality  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import pipeline  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import tpch  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import layout  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import allocation  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import sketch_eval  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import temporal  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import graph  # noqa: E402,F401
from ibis_olap_aggregation_spark.operators import timeseries  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Driver-coverage ordering.
#
# The external correctness driver verifies a bounded PREFIX of this registry
# (round 1 recorded exactly the first 50 entries in insertion order —
# CORRECTNESS_r01.json — leaving the dedup/similarity/text/events/udf/
# quality/sample/source/multimodal families unchecked). Each round
# front-loads the queries with NO green row in ANY CORRECTNESS_r*.json yet;
# already-verified queries follow. The flagship golden rollup stays in
# slot 1 every round. Across rounds the union of CORRECTNESS files covers
# the whole registry.
#
# The verified set is read DYNAMICALLY from the CORRECTNESS files next to
# __spark_entry__.py, so adding queries or starting a new round needs no
# bookkeeping here; the frozensets below are the round-2 snapshot kept as
# the fallback when no files are readable (e.g. the package imported away
# from the repo root).
# ---------------------------------------------------------------------------


def _driver_verified_rounds() -> dict[str, int]:
    """name -> LATEST round whose CORRECTNESS file has a green row for
    it. Drives both coverage (unchecked queries front-load into the
    50-slot prefix) and, once coverage is total, STALENESS-first
    re-verification: greens checked longest ago rotate back into the
    prefix before recently-checked ones, so a regression in any query
    is caught within ~(registry/50) rounds instead of never."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    rounds: dict[str, int] = {}
    found = False
    for path in sorted(_glob.glob(_os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        try:
            with open(path) as f:
                rows = _json.load(f)
        except Exception:  # noqa: BLE001 - an unreadable file never breaks import
            continue
        if isinstance(rows, dict):
            found = True
            rnd = int(m.group(1)) if m else 0
            for name, row in rows.items():
                ok = isinstance(row, dict) and (
                    row.get("hash_match") is True
                    or (row.get("err") == "no_oracle" and row.get("spark_rows"))
                )
                if ok:
                    rounds[name] = max(rounds.get(name, 0), rnd)
    return rounds if found else {n: 1 for n in _ROUND1_DRIVER_VERIFIED}


def _driver_verified_names() -> frozenset[str]:
    return frozenset(_driver_verified_rounds())


_ROUND1_DRIVER_VERIFIED = frozenset(
    {
        "hierarchy_grocery_rollup", "hierarchy_geo_reporting_dim",
        "hierarchy_geo_closure", "hierarchy_geo_rollup_orders",
        "hierarchy_part_rollup_lineitem", "hierarchy_geo_direct_children",
        "hierarchy_deep_binary_tree", "hierarchy_deep_chain_doubling",
        "hierarchy_geo_rollup_orders_approx", "scan_project_filter",
        "project_rename_derive", "case_when_null", "join_inner",
        "join_left_agg", "join_semi", "join_anti", "join_full_outer",
        "join_cross", "agg_pricing_summary", "agg_count_distinct",
        "agg_having", "agg_rollup", "agg_cube", "agg_grouping_sets",
        "agg_filtered", "window_topk_per_group", "window_rank_dense",
        "window_lag_lead", "window_running_sum", "window_ntile",
        "sort_limit_topk", "setops_union_all", "setops_intersect",
        "setops_except", "distinct_dedup_exact", "scalar_string_pack",
        "scalar_math_date_pack", "scalar_struct_array_pack",
        "scalar_conditional_pack", "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
        "tpch_q10_returned_items", "tpch_q18_large_volume_customers",
        "subquery_scalar_above_avg", "subquery_correlated_above_own_avg",
        "setops_union_distinct", "scalar_map_pack",
        "tpch_q13_customer_distribution", "tpch_q4_order_priority",
    }
)


# Queries ADDED in round 2 (no round-1 row, but also not yet owed one):
# they sort AFTER the round-1-unverified families so those keep their
# guaranteed slots in the 50-query driver prefix; whatever prefix room
# remains goes to these, and round 3 front-loads the leftovers.
_ADDED_ROUND2 = frozenset(
    {
        "tpch_q7_volume_shipping", "tpch_q8_market_share",
        "tpch_q9_product_type_profit", "tpch_q14_promo_effect",
        "tpch_q15_top_supplier", "tpch_q17_small_quantity_revenue",
        "tpch_q22_global_sales_opportunity", "sim_ivf_topk",
        "text_repetition_signals", "text_chunk_documents",
        "text_redact_patterns", "dedup_shared_ngram_fraction",
        "dedup_semantic_ivf", "sample_split_assign",
        "sample_domain_weighted", "tpch_q2_min_cost_supplier",
        "tpch_q11_important_stock", "tpch_q12_shipmode_priority",
        "tpch_q16_supplier_part_count", "tpch_q19_disjunctive_revenue",
        "tpch_q20_potential_promotion", "tpch_q21_waiting_orders",
        "dedup_minhash_containment", "events_retention_cohorts",
        "sim_ann_recall_eval", "text_unigram_logprob",
        "window_dist_functions", "agg_stats_pack",
    }
)

# Queries ADDED in round 4's build session: sort LAST among unchecked so
# they never bump a longer-waiting query out of the 50-slot prefix (they
# take whatever prefix room remains and otherwise wait a round; the
# local sf0.001/sf0.01 oracle mirrors cover them meanwhile).
_ADDED_ROUND4 = frozenset(
    {
        "source_orc_roundtrip", "source_partitioned_pruning",
        "hierarchy_rollup_incremental", "sim_kmeans_refine",
        "agg_approx_distinct_rollup", "window_session_features",
        "layout_zorder_file_skipping", "sample_shard_manifest",
        "sample_leakage_safe_split", "hierarchy_time_rollup",
    }
)


# Queries ADDED in round 3's third build session: same deal as
# _ADDED_ROUND4 — last in line for prefix slots, covered by the local
# oracle mirrors until a driver slot frees up.
_ADDED_ROUND5 = frozenset(
    {
        "dedup_incremental_new_docs",
        "multimodal_frame_sample",
        "text_pretoken_count",
        "unpivot_measures_long",
        "hierarchy_weighted_rollup",
        "quality_outlier_mad",
        "events_asof_tolerance",
        "join_reconcile_audit",
        "agg_conditional_distinct",
        "sample_temperature_mixing",
        "dedup_token_budget_by_source",
        "events_funnel_three_step",
    }
)


# Queries ADDED in round 4's build session: same deal — last in line
# for prefix slots so the 21 queries owed a first driver row since
# round 3 keep positions 2-22; these fill whatever prefix room remains.
_ADDED_ROUND6 = frozenset(
    {
        "sketch_theta_segment_overlap",
        "sketch_quantile_rank_verdict",
        "sketch_topk_heavy_hitters_verdict",
        "dedup_benchmark_contamination",
        "events_burst_cap",
        "source_schema_evolution",
        "agg_approx_distinct_part_rollup",
        "quality_psi_drift",
        "quality_ks_binned",
        "text_zipf_slope",
        "dedup_lsh_pair_recall",
        "sim_tfidf_sparse_topk",
        "hierarchy_integrity_report",
        "multimodal_resize_plan",
    }
)

# round-6 second session (operator widening): same rule — newest
# additions are last in line for the guaranteed driver-prefix slots,
# covered by the local sf0.001/sf0.01 mirrors until their driver turn
_ADDED_ROUND6B = frozenset(
    {
        "events_ewma_user_value",
        "hierarchy_lca_nation_pairs",
        "source_bucketed_join",
        "sim_pq_adc_topk",
        "sim_pq_recall_eval",
        "sample_weighted_without_replacement",
        "events_daily_new_cumulative",
        "interval_backlog_daily",
        "dedup_minhash_bbit_error",
        "hierarchy_topdown_allocation",
    }
)

# round-7 additions (same rule: newest queue behind everything owed a
# first driver row, covered locally by the sf0.001/sf0.01 mirrors)
_ADDED_ROUND7 = frozenset(
    {
        "scd2_user_tier_dim",
        "scd2_point_in_time_join",
        "events_time_weighted_avg",
        "events_markov_transitions",
        "pareto_frontier_parts",
        "agg_gini_concentration",
        "graph_pagerank_copurchase",
        "linkage_blocked_levenshtein",
        "graph_triangle_clustering",
        "agg_trimmed_mean",
        "affinity_rules_lift",
        "events_recency_weighted_value",
        "text_bm25_topk",
        "window_moving_median",
        "events_path_trigrams",
        "events_funnel_latency",
        "quality_chi2_independence",
        "events_user_entropy",
        "skew_salted_join",
        "layout_compaction_plan",
        "sample_bootstrap_ci",
        "privacy_dp_laplace_counts",
        "events_attribution_last_touch",
        "text_winnow_fingerprints",
        "graph_cf_recommendations",
        "events_max_drawdown",
        "graph_copurchase_cosine",
        "text_loglikelihood_keywords",
        "quality_cusum_drift",
        "sample_quantile_normalize",
    }
)

_ADDED_ROUND8 = frozenset(
    {
        "graph_connected_components",
        "quality_benford_digit_test",
        "agg_ols_daily_trend",
        "agg_spearman_rank_corr",
    }
)

_ADDED_ROUND9: frozenset[str] = frozenset(
    {
        "hierarchy_geo_rollup_orders_shuffled",
        "events_autocorrelation",
        "events_cross_correlation",
        "events_changepoint_binary_seg",
        "events_seasonality_dow_index",
        "interval_overlap_pairs",
        "interval_max_concurrency",
        "privacy_k_anonymity_audit",
        "agg_weighted_median",
        "sample_neyman_allocation",
        "text_pmi_cooccurrence",
        "graph_degree_assortativity",
        "emb_covariance_top_pairs",
        "multimodal_phash_neardup",
        "graph_kcore_peel",
        "window_rolling_corr",
        "events_forecast_holt",
        "sample_importance_reweighting",
        "quality_runs_test",
        "quality_peak_over_threshold",
    }
)


# Queries ADDED in round 11 (streaming-native replay twins): same deal —
# last in line for prefix slots; the local oracle mirrors cover them
# until a driver slot frees up.
_ADDED_ROUND11: frozenset[str] = frozenset(
    {
        "streaming_dedup_within_watermark_twin",
        "streaming_file_replay_rate_limited",
        "streaming_interval_join_twin",
        "streaming_upsert_latest_state_twin",
        "emb_truncation_recall",
    }
)

# Queries ADDED in round 12 (bounded-horizon eviction twin, radius
# search, ranking-quality eval, survival analysis): same deal — last in
# line for prefix slots.
_ADDED_ROUND12: frozenset[str] = frozenset(
    {
        "streaming_interval_join_eviction",
        "sim_range_search",
        "sim_ndcg_eval",
        "sim_rrf_fusion",
        "events_survival_kaplan_meier",
    }
)

# Queries ADDED in round 12's second batch (training-pipeline sequence
# packing, link prediction, bloom-pruned semi-join, attribution,
# mixture weights): same deal — last in line for prefix slots.
_ADDED_ROUND12B: frozenset[str] = frozenset(
    {
        "pipeline_pack_sequences",
        "graph_adamic_adar",
        "join_bloom_pruned_semi",
        "events_attribution_lookback",
        "text_mixture_temperature_weights",
        "streaming_running_totals_twin",
    }
)

# Queries ADDED in round 13 (generalization ladder, real-WAV spectral
# features, per-cohort funnel conversion): same deal — last in line
# for prefix slots.
_ADDED_ROUND13: frozenset[str] = frozenset(
    {
        "privacy_generalization_ladder",
        "multimodal_audio_features_spectral",
        "events_funnel_conversion_rate",
        "multimodal_audio_vad_segments",
        "events_rfm_segments",
        "streaming_session_window_twin",
        "streaming_tumbling_window_twin",
        "graph_jaccard_neighbors",
        "streaming_sliding_window_twin",
        "interval_coverage_fraction",
        "emb_pca_power_iteration",
    }
)

# Queries ADDED in round 14 (late-arriving SCD2 merge, curriculum
# mixture schedule, hilbert-vs-zorder skipping, checkpoint-recovery
# streaming twin): same deal — last in line for prefix slots.
_ADDED_ROUND14: frozenset[str] = frozenset(
    {
        "scd2_late_arriving_update_merge",
        "pipeline_curriculum_mixture_schedule",
        "layout_hilbert_vs_zorder_skipping",
        "streaming_checkpoint_recovery_twin",
        "privacy_t_closeness_audit",
        "sketch_hll_portable_registers",
    }
)

# Queries ADDED late in round 14 (as-of join, entropy l-diversity,
# portable count-min, epoch shard plan): same deal.
_ADDED_ROUND14C: frozenset[str] = frozenset(
    {
        "join_asof_backward",
        "privacy_entropy_l_diversity",
        "sketch_cms_heavy_hitters",
        "pipeline_epoch_shard_plan",
        "sketch_hdr_quantiles",
        "streaming_asof_enrich_twin",
    }
)



# ordered: earlier rounds get earlier prefix slots among the
# never-checked. A new round needs exactly TWO edits — its frozenset
# above and one entry here (code-review r14: the previous per-round
# comprehension chain needed a third, easy-to-forget edit that would
# silently demote a round's queries into the wrong priority bucket).
_ROUND_SETS: tuple[frozenset[str], ...] = (
    _ADDED_ROUND2, _ADDED_ROUND4, _ADDED_ROUND5, _ADDED_ROUND6,
    _ADDED_ROUND6B, _ADDED_ROUND7, _ADDED_ROUND8, _ADDED_ROUND9,
    _ADDED_ROUND11, _ADDED_ROUND12, _ADDED_ROUND12B, _ADDED_ROUND13,
    _ADDED_ROUND14, _ADDED_ROUND14C,
)


def _reorder_for_driver_coverage() -> None:
    flagship = "hierarchy_grocery_rollup"
    checked = _driver_verified_names()
    later = frozenset().union(*_ROUND_SETS)
    # never-driver-checked queries, oldest families first: the ones that
    # have been WAITING (not in a later-additions set) outrank the
    # newest additions for the guaranteed prefix slots
    waiting = [
        n
        for n in QUERIES
        if n != flagship and n not in checked and n not in later
    ]
    new = [
        n
        for rs in _ROUND_SETS
        for n in QUERIES
        if n != flagship and n not in checked and n in rs
    ]
    # verified queries fill the remaining prefix slots STALEST-FIRST
    # (longest since a green driver row), so re-verification rotates
    # through the whole registry over successive rounds; registry order
    # tiebreaks within a round (python sort is stable)
    rounds = _driver_verified_rounds()
    verified = sorted(
        (n for n in QUERIES if n != flagship and n in checked),
        key=lambda n: rounds.get(n, 0),
    )
    order = [flagship, *waiting, *new, *verified]
    reordered = {n: QUERIES[n] for n in order}
    QUERIES.clear()
    QUERIES.update(reordered)


_reorder_for_driver_coverage()


# -- multi-hierarchy rollup: one fact stream, TWO closures -------------------

_CROSS_ROLLUP_SQL = f"""
WITH RECURSIVE gbase AS ({GEO_NODES_SQL}),
gwalk AS (
  SELECT node_id, node_natural_key, node_name, 1 AS level_number
  FROM gbase WHERE parent_node_id IS NULL
  UNION ALL
  SELECT n.node_id, n.node_natural_key, n.node_name, w.level_number + 1
  FROM gbase n JOIN gwalk w ON n.parent_node_id = w.node_id
),
gclosure AS (
  SELECT node_id AS anc, node_id AS dsc FROM gbase
  UNION ALL
  SELECT c.anc, n.node_id FROM gclosure c JOIN gbase n ON n.parent_node_id = c.dsc
),
pbase AS ({PART_NODES_SQL}),
pwalk AS (
  SELECT node_id, node_natural_key, node_name, 1 AS level_number
  FROM pbase WHERE parent_node_id IS NULL
  UNION ALL
  SELECT n.node_id, n.node_natural_key, n.node_name, w.level_number + 1
  FROM pbase n JOIN pwalk w ON n.parent_node_id = w.node_id
),
pclosure AS (
  SELECT node_id AS anc, node_id AS dsc FROM pbase
  UNION ALL
  SELECT c.anc, n.node_id FROM pclosure c JOIN pbase n ON n.parent_node_id = c.dsc
),
geo AS (
  SELECT a.node_name AS geo_node, a.level_number AS geo_level,
         d.node_natural_key AS custkey
  FROM gclosure c
  JOIN gwalk a ON a.node_id = c.anc AND a.level_number <= 2
  JOIN gwalk d ON d.node_id = c.dsc AND d.node_natural_key IS NOT NULL
),
prt AS (
  SELECT a.node_name AS part_node, a.level_number AS part_level,
         d.node_natural_key AS partkey
  FROM pclosure c
  JOIN pwalk a ON a.node_id = c.anc AND a.level_number <= 2
  JOIN pwalk d ON d.node_id = c.dsc AND d.node_natural_key IS NOT NULL
)
SELECT g.geo_node, g.geo_level, p.part_node, p.part_level,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_extendedprice,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN geo g ON g.custkey = o.o_custkey
JOIN prt p ON p.partkey = l.l_partkey
GROUP BY 1, 2, 3, 4
"""


@register("hierarchy_cross_geo_part_rollup", _CROSS_ROLLUP_SQL)
def hierarchy_cross_geo_part_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-hierarchy rollup — the OLAP cube over two closure tables:
    every lineitem aggregates simultaneously up the geography hierarchy
    (via its order's customer) and the product hierarchy (via its part),
    producing one row per (geo ancestor x part ancestor) pair. Ancestors
    are truncated to the top two levels (root + regions x root + brands)
    so the output is the executive cross-tab, while the closure joins
    still traverse every leaf.

    Scale shape: the reference's flagship pattern composes — each
    closure is dim-sized and broadcast, so the fact stream takes two
    map-side hash joins (no fact shuffle until the final aggregation on
    the compact ancestor pair). Expansion factor = ancestors kept per
    leaf per dim (2 here: root + its level-2 ancestor), so the shuffle
    carries 4x the fact count of compact rows — at 100 TB, prune the
    ancestor levels FIRST (as here) to control exactly that factor."""
    geo_dim = _geo_dim(spark, sf_dir)
    part_dim = _part_dim(spark, sf_dir)
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    geo = (
        geo_dim.aggregation_dim.filter(
            (F.col("ancestor_level_number") <= 2)
            & F.col("descendant_node_natural_key").isNotNull()
        )
        .select(
            F.col("ancestor_node_name").alias("geo_node"),
            F.col("ancestor_level_number").alias("geo_level"),
            F.col("descendant_node_natural_key").alias("custkey"),
        )
    )
    prt = (
        part_dim.aggregation_dim.filter(
            (F.col("ancestor_level_number") <= 2)
            & F.col("descendant_node_natural_key").isNotNull()
        )
        .select(
            F.col("ancestor_node_name").alias("part_node"),
            F.col("ancestor_level_number").alias("part_level"),
            F.col("descendant_node_natural_key").alias("partkey"),
        )
    )
    facts = t["lineitem"].join(
        t["orders"].select("o_orderkey", "o_custkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        # closure slices are customer-/part-grain (SF-linear): probe the
        # cached dims instead of hinting an uncapped broadcast
        facts.join(dim_side(geo), F.col("custkey") == F.col("o_custkey"))
        .join(dim_side(prt), F.col("partkey") == F.col("l_partkey"))
        .groupBy("geo_node", "geo_level", "part_node", "part_level")
        .agg(
            dsum("l_extendedprice", "sum_extendedprice"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# re-apply driver-coverage ordering: queries registered below the first
# call (the cross-hierarchy rollup above) must still front-load into the
# verified-prefix rotation
_reorder_for_driver_coverage()


@register(
    "hierarchy_share_of_parent",
    _GEO_PRELUDE
    + """
, node_tot AS (
  SELECT c.ancestor_node_id AS nid,
         SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS tot
  FROM closure c
  JOIN so d ON d.node_id = c.descendant_node_id
  JOIN orders f ON f.o_custkey = d.node_natural_key
  GROUP BY 1
)
SELECT a.node_name AS node_name, a.level_name AS level_name,
       a.level_number AS level_number,
       CAST(n.tot AS DOUBLE) AS sum_totalprice,
       CAST(p.tot AS DOUBLE) AS parent_sum_totalprice,
       ROUND(CAST(n.tot AS DOUBLE) / CAST(p.tot AS DOUBLE), 6)
         AS share_of_parent
FROM node_tot n
JOIN base b ON b.node_id = n.nid
JOIN node_tot p ON p.nid = b.parent_node_id
JOIN so a ON a.node_id = n.nid
""",
)
def hierarchy_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent — the classic OLAP ratio report the reference's
    flagship feeds ("what % of EMEA is Germany?"): every non-root node's
    subtree total as a fraction of its parent's subtree total.

    Built from ONE leaf-grain additive rollup (the flagship's 100 TB
    shape — fact shuffle at |leaf keys|, not |facts| x depth), reused
    for both sides of the ratio: the node-total table is dim-sized
    (SF-linear — customer-grain leaves), so the child->parent self-join
    runs through the bounded dim_side probe: broadcast under the cap,
    sort-merge past it. Nodes with no facts in their subtree drop out (inner
    join semantics, both engines); the root drops (no parent). Both
    totals come from the same exact-decimal sums, so the double division
    is bit-identical across engines."""
    from ibis_olap_aggregation_spark.session import query_cache

    dim = _geo_dim(spark, sf_dir)
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    # node-sized but SF-linear (customer-grain leaves): cache the rollup
    # (read twice — as the child side and as the parent-total side) and
    # let the bounded probe pick broadcast vs sort-merge for the attach
    tot = query_cache(
        hierarchical_rollup_additive(
            orders,
            dim.aggregation_dim,
            "o_custkey",
            sum_cols=[("o_totalprice", "tot")],
            group_keys=(
                "ancestor_node_name",
                "ancestor_level_name",
                "ancestor_level_number",
            ),
            sort=False,
            keep_node_id=True,
        )
    )
    parent_of = dim.reporting_dim.select(
        F.col("node_id").alias("_nid"), F.col("parent_node_id").alias("_pid")
    )
    ptot = tot.select(
        F.col("ancestor_node_id").alias("_pnid"),
        F.col("tot").alias("parent_sum_totalprice"),
    )
    return (
        tot.join(dim_side(parent_of), tot["ancestor_node_id"] == F.col("_nid"))
        .join(dim_side(ptot), F.col("_pid") == F.col("_pnid"))
        .select(
            F.col("ancestor_node_name").alias("node_name"),
            F.col("ancestor_level_name").alias("level_name"),
            F.col("ancestor_level_number").alias("level_number"),
            F.col("tot").alias("sum_totalprice"),
            "parent_sum_totalprice",
            F.round(F.col("tot") / F.col("parent_sum_totalprice"), 6).alias(
                "share_of_parent"
            ),
        )
    )


@register(
    "hierarchy_topk_descendants",
    _GEO_PRELUDE
    + """
, rev AS (
  SELECT f.o_custkey AS custkey,
         SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS tot
  FROM orders f
  GROUP BY 1
)
SELECT region_name, custkey, sum_totalprice, rk
FROM (
  SELECT a.node_name AS region_name,
         d.node_natural_key AS custkey,
         CAST(r.tot AS DOUBLE) AS sum_totalprice,
         CAST(row_number() OVER (
           PARTITION BY c.ancestor_node_id
           ORDER BY r.tot DESC, d.node_natural_key
         ) AS BIGINT) AS rk
  FROM closure c
  JOIN so a ON a.node_id = c.ancestor_node_id AND a.level_number = 2
  JOIN so d ON d.node_id = c.descendant_node_id
               AND d.node_natural_key IS NOT NULL
  JOIN rev r ON r.custkey = d.node_natural_key
) x
WHERE rk <= 3
""",
)
def hierarchy_topk_descendants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k descendants per ancestor — "each region's top 3 customers
    by lifetime revenue": the drill-down companion of the rollup (which
    answers totals; this answers WHO drives them).

    Scale shape: per-customer revenue is one fact shuffle at customer
    grain (map-side combined); the closure join restricting to level-2
    ancestors x leaf descendants is broadcast; the top-k window
    partitions by ancestor over a dim-sized input — never a global
    sort, and the fact table is touched exactly once. Exact-decimal
    totals + custkey tiebreak make the ranking engine-invariant."""
    dim = _geo_dim(spark, sf_dir)
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    rev = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("tot")
    )
    pairs = dim.aggregation_dim.filter(
        (F.col("ancestor_level_number") == 2)
        & F.col("descendant_node_natural_key").isNotNull()
    ).select(
        "ancestor_node_id",
        F.col("ancestor_node_name").alias("region_name"),
        F.col("descendant_node_natural_key").alias("custkey"),
    )
    from pyspark.sql import Window as W

    joined = rev.join(dim_side(pairs), "custkey")
    w = W.partitionBy("ancestor_node_id").orderBy(F.col("tot").desc(), "custkey")
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select(
            "region_name",
            "custkey",
            F.col("tot").cast("double").alias("sum_totalprice"),
            "rk",
        )
    )


# final driver-coverage reorder: the ratio/top-k hierarchy queries above
# must front-load with the other never-checked round-3 additions
_reorder_for_driver_coverage()


@register(
    "hierarchy_level_summary",
    _GEO_PRELUDE
    + """
, ch AS (
  SELECT c.ancestor_node_id AS pid, COUNT(*) AS n_children
  FROM closure c WHERE c.net_level = 1 GROUP BY 1
)
SELECT w.level_number,
       COUNT(*) AS n_nodes,
       COUNT(*) FILTER (WHERE ch.pid IS NULL) AS n_leaves,
       CAST(COALESCE(SUM(ch.n_children), 0) AS BIGINT) AS n_children_total,
       ROUND(COALESCE(SUM(ch.n_children), 0) * 1.0
             / NULLIF(COUNT(*) FILTER (WHERE ch.pid IS NOT NULL), 0), 6)
         AS avg_fanout
FROM so w
LEFT JOIN ch ON ch.pid = w.node_id
GROUP BY 1
""",
)
def hierarchy_level_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-health report: per hierarchy level, node count, leaf
    count, total direct children and average fanout of the interior
    nodes — the shape diagnostics (ragged? skewed? degenerate chains?)
    an OLAP modeler checks before trusting a new hierarchy, and the
    input to closure-size forecasting (closure rows = Σ depth(n)).

    Built entirely from the materialized closure: direct-children
    counts are the net_level=1 slice grouped by ancestor (dim-sized,
    broadcast), self-pairs give one row per node — no re-walk, no
    fact-table involvement."""
    dim = _geo_dim(spark, sf_dir)
    agg = dim.aggregation_dim
    ch = (
        agg.filter(F.col("net_level") == 1)
        .groupBy(F.col("ancestor_node_id").alias("pid"))
        .agg(F.count(F.lit(1)).alias("n_children"))
    )
    nodes = agg.filter(F.col("net_level") == 0).select(
        F.col("descendant_node_id").alias("node_id"),
        F.col("descendant_level_number").alias("level_number"),
    )
    # ch is a derived aggregate: memo-miss probe + join would execute
    # it twice without the probe-populated cache (ADVICE r11 #4)
    j = nodes.join(
        dim_side(ch, cache_if_probing=True),
        nodes["node_id"] == ch["pid"],
        "left",
    )
    interior = F.count(F.when(F.col("pid").isNotNull(), 1))
    return j.groupBy("level_number").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.count(F.when(F.col("pid").isNull(), 1)).alias("n_leaves"),
        F.coalesce(F.sum("n_children"), F.lit(0))
        .cast("bigint")
        .alias("n_children_total"),
        F.round(
            F.coalesce(F.sum("n_children"), F.lit(0)) * 1.0
            / F.nullif(interior, F.lit(0)),
            6,
        ).alias("avg_fanout"),
    )


_reorder_for_driver_coverage()


# -- incremental rollup maintenance: merge(partials) == full recompute -------


@register(
    "hierarchy_rollup_incremental",
    _GEO_PRELUDE
    + """
SELECT a.node_name AS node_name, a.level_name AS level_name,
       a.level_number AS level_number, a.node_sort_order AS node_sort_order,
       CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice,
       COUNT(*) AS count_of_fact_records
FROM closure c
JOIN so a ON a.node_id = c.ancestor_node_id
JOIN so d ON d.node_id = c.descendant_node_id
JOIN orders f ON f.o_custkey = d.node_natural_key
GROUP BY 1, 2, 3, 4
""",
)
def hierarchy_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance for the flagship rollup: the fact
    table is split into a 90% "base" batch and a 10% "delta" batch (a
    deterministic md5 bucket on the order key stands in for an append),
    per-node ADDITIVE partials are computed per batch in exact decimal
    (rollup.hierarchical_rollup_partials), merged (union + re-sum —
    node-table-sized shuffle), and finalized to the one-shot rollup's
    output shape. The ORACLE recomputes the rollup over the WHOLE fact
    table: hash-equality proves merge(partials(base), partials(delta))
    is bit-identical to a full recompute.

    100 TB shape: steady-state cost per append batch is
    |delta leaf keys| x depth shuffle rows plus a node-sized merge —
    independent of accumulated fact volume. COUNT(DISTINCT) is
    deliberately excluded (non-additive; its incremental forms are the
    distinct-pair table or the HLL sketch path —
    rollup.hierarchical_rollup_sketch)."""
    dim = _geo_dim(spark, sf_dir)
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    bucket = F.expr(
        "cast(conv(substr(md5(cast(o_orderkey as string)), 1, 15), 16, 10)"
        " as bigint) % 10"
    )
    base = orders.filter(bucket != 0)
    delta = orders.filter(bucket == 0)
    kw = dict(
        sum_cols=[("o_totalprice", "sum_totalprice")],
        count_alias="count_of_fact_records",
    )
    p_base = hierarchical_rollup_partials(base, dim.aggregation_dim, "o_custkey", **kw)
    p_delta = hierarchical_rollup_partials(delta, dim.aggregation_dim, "o_custkey", **kw)
    merged = merge_rollup_partials(
        [p_base, p_delta],
        sum_aliases=["sum_totalprice"],
        count_alias="count_of_fact_records",
    )
    out = finalize_rollup_partials(
        merged, dim.aggregation_dim, sum_aliases=["sum_totalprice"]
    )
    return out.select(
        F.col("ancestor_node_name").alias("node_name"),
        F.col("ancestor_level_name").alias("level_name"),
        F.col("ancestor_level_number").alias("level_number"),
        F.col("ancestor_node_sort_order").cast("bigint").alias("node_sort_order"),
        "sum_totalprice",
        "count_of_fact_records",
    )


_reorder_for_driver_coverage()


# -- sketch rollup: mergeable HLL distinct counts at every node --------------


@register(
    "agg_approx_distinct_rollup",
    # Tolerance-verdict oracle (VERDICT r3 items 4+7): Datasketches
    # lgk-12 HLL has no DuckDB twin, so the output carries the EXACT
    # per-node distinct (oracle-computable) plus a `within_bounds`
    # boolean — |sketch estimate - exact| <= 10% of exact (>6 sigma at
    # lgk=12's ~1.6% rsd; the sketch is exact below 2^12 in sparse
    # mode). This drives the mergeable-sketch layer through the driver
    # gate: a broken sketch merge flips the boolean and hashes red. HLL
    # union losslessness is pinned bit-for-bit in tests/test_sketches.py.
    _GEO_PRELUDE
    + """
SELECT a.node_name AS node_name, a.level_number AS level_number,
       COUNT(DISTINCT f.o_custkey) AS exact_distinct_customers,
       TRUE AS within_bounds
FROM closure c
JOIN so a ON a.node_id = c.ancestor_node_id
JOIN so d ON d.node_id = c.descendant_node_id
JOIN orders f ON f.o_custkey = d.node_natural_key
GROUP BY 1, 2
""",
)
def agg_approx_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate COUNT(DISTINCT customer) at EVERY hierarchy node via
    mergeable HLL sketches (rollup.hierarchical_rollup_sketch): one
    sketch per leaf key, closure join ships constant-size binaries,
    hll_union_agg merges per ancestor. The 100 TB shape for non-additive
    distincts: fact shuffle is |leaf keys|, re-rollable to any grain
    without rescanning facts. The exact branch exists to ORACLE the
    sketch (see the registered SQL): output is (exact, verdict), not
    the engine-specific estimate."""
    from ibis_olap_aggregation_spark.rollup import (
        hierarchical_rollup_additive,
        hierarchical_rollup_sketch,
    )

    dim = _geo_dim(spark, sf_dir)
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    keys = ("ancestor_node_name", "ancestor_level_number")
    sk = hierarchical_rollup_sketch(
        orders, dim.aggregation_dim, "o_custkey", "o_custkey", lgk=12,
        group_keys=keys, out="_approx",
    )
    exact = hierarchical_rollup_additive(
        orders,
        dim.aggregation_dim,
        "o_custkey",
        distinct_cols=[("o_custkey", "exact_distinct_customers")],
        group_keys=keys,
        sort=False,
    )
    return exact.join(sk, list(keys)).select(
        F.col("ancestor_node_name").alias("node_name"),
        F.col("ancestor_level_number").alias("level_number"),
        "exact_distinct_customers",
        (
            F.abs(F.col("_approx") - F.col("exact_distinct_customers"))
            <= 0.10 * F.col("exact_distinct_customers")
        ).alias("within_bounds"),
    )


@register(
    "hierarchy_integrity_report",
    f"""
WITH RECURSIVE base AS ({GEO_NODES_SQL}),
walk AS (
  SELECT node_id, 1 AS level_number FROM base WHERE parent_node_id IS NULL
  UNION ALL
  SELECT n.node_id, w.level_number + 1
  FROM base n JOIN walk w ON n.parent_node_id = w.node_id
)
SELECT (SELECT COUNT(*) FROM base) AS n_nodes,
       (SELECT COUNT(*) FROM base WHERE parent_node_id IS NULL) AS n_roots,
       (SELECT COUNT(*) FROM base b
        WHERE b.parent_node_id IS NOT NULL
          AND b.parent_node_id NOT IN (SELECT node_id FROM base)) AS n_orphans,
       (SELECT COUNT(*) FROM (
          SELECT node_natural_key FROM base
          WHERE node_natural_key IS NOT NULL
          GROUP BY 1 HAVING COUNT(*) > 1)) AS n_dup_natural_keys,
       (SELECT COUNT(*) FROM walk) AS n_reachable,
       (SELECT CAST(MAX(level_number) AS BIGINT) FROM walk) AS max_depth
""",
)
def hierarchy_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity report on the hierarchy SOURCE table — the
    data-quality gate run before a dimension build (SURVEY.md §7.5.6
    defines the edge semantics this checks): root count (exactly one
    expected), ORPHANS (parent id missing from the table — the walk
    silently drops them, so a nonzero count here is the early warning),
    duplicate leaf natural keys (facts would double-join), reachable
    node count vs total (their difference = orphans + everything under
    them + cycle members), and max depth (validates the flatten_levels
    / max_depth configuration). All six checks are one scan + one walk
    — dim-sized, trivially cheap next to the build they guard."""
    nodes = geo_nodes(
        *[
            load_tables(spark, sf_dir, ("region", "nation", "customer"))[t]
            for t in ("region", "nation", "customer")
        ]
    )
    dim = _geo_dim(spark, sf_dir)
    # reachable/depth from the built dim's self-pairs (net_level=0 rows
    # carry each reachable node exactly once with its level)
    self_rows = dim.aggregation_dim.filter(F.col("net_level") == 0)
    reach = self_rows.agg(
        F.count(F.lit(1)).alias("n_reachable"),
        F.max("ancestor_level_number").alias("max_depth"),
    )
    parents = nodes.select(F.col("node_id").alias("_pid")).distinct()
    orphans = (
        nodes.filter(F.col("parent_node_id").isNotNull())
        .join(parents, F.col("parent_node_id") == F.col("_pid"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    dups = (
        nodes.filter(F.col("node_natural_key").isNotNull())
        .groupBy("node_natural_key")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter("c > 1")
        .agg(F.count(F.lit(1)).alias("n_dup_natural_keys"))
    )
    counts = nodes.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(
            F.when(F.col("parent_node_id").isNull(), 1).otherwise(0)
        ).alias("n_roots"),
    )
    return (
        counts.crossJoin(orphans)
        .crossJoin(dups)
        .crossJoin(reach)
        .select(
            "n_nodes",
            F.col("n_roots").cast("bigint").alias("n_roots"),
            "n_orphans",
            "n_dup_natural_keys",
            "n_reachable",
            F.col("max_depth").cast("bigint").alias("max_depth"),
        )
    )


@register(
    "agg_approx_distinct_part_rollup",
    # The part-hierarchy twin of agg_approx_distinct_rollup, added after
    # the 100x fact-scale smoke (tools/fact_scale_smoke.py) showed WHY
    # it matters: the part rollup's exact COUNT(DISTINCT l_orderkey)
    # pair space grows linearly with facts (21.8x cost at 100x facts),
    # unlike geo's fixed customer space (6.3x) — this sketch form is the
    # documented answer for exactly that case, and this query puts it
    # behind the cross-engine driver gate with a tolerance verdict.
    _PART_PRELUDE
    + """
SELECT a.node_name AS node_name, a.level_number AS level_number,
       a.node_sort_order AS node_sort_order,
       COUNT(DISTINCT f.l_orderkey) AS exact_distinct_orders,
       TRUE AS within_bounds
FROM closure c
JOIN so a ON a.node_id = c.ancestor_node_id
JOIN so d ON d.node_id = c.descendant_node_id
JOIN lineitem f ON f.l_partkey = d.node_natural_key
GROUP BY 1, 2, 3
""",
)
def agg_approx_distinct_part_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch rollup of DISTINCT ORDERS up the part hierarchy —
    the distinct whose exact form genuinely scales with facts (measured
    21.8x cost at 100x facts vs 4.3x for the sketch; see
    tools/fact_scale_smoke.py). Leaf sketches ship constant-size
    binaries through the closure join; the exact branch exists only to
    oracle the estimate (within 10%, >6 sigma at lgk=12)."""
    from ibis_olap_aggregation_spark.rollup import (
        hierarchical_rollup_additive,
        hierarchical_rollup_sketch,
    )

    dim = _part_dim(spark, sf_dir)
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    # part node NAMES are not unique (unlike geo) — the depth-first
    # sort order is the per-node key both branches group and join on
    keys = (
        "ancestor_node_name",
        "ancestor_level_number",
        "ancestor_node_sort_order",
    )
    sk = hierarchical_rollup_sketch(
        li, dim.aggregation_dim, "l_partkey", "l_orderkey", lgk=12,
        group_keys=keys, out="_approx",
    )
    exact = hierarchical_rollup_additive(
        li,
        dim.aggregation_dim,
        "l_partkey",
        distinct_cols=[("l_orderkey", "exact_distinct_orders")],
        group_keys=keys,
        sort=False,
    )
    return exact.join(sk, list(keys)).select(
        F.col("ancestor_node_name").alias("node_name"),
        F.col("ancestor_level_number").alias("level_number"),
        F.col("ancestor_node_sort_order").cast("bigint").alias("node_sort_order"),
        "exact_distinct_orders",
        (
            F.abs(F.col("_approx") - F.col("exact_distinct_orders"))
            <= 0.10 * F.col("exact_distinct_orders")
        ).alias("within_bounds"),
    )


_reorder_for_driver_coverage()


# -- hierarchy x calendar composite rollup -----------------------------------

_TIME_ROLLUP_SQL = f"""
WITH RECURSIVE gbase AS ({GEO_NODES_SQL}),
gwalk AS (
  SELECT node_id, node_natural_key, node_name, 1 AS level_number
  FROM gbase WHERE parent_node_id IS NULL
  UNION ALL
  SELECT n.node_id, n.node_natural_key, n.node_name, w.level_number + 1
  FROM gbase n JOIN gwalk w ON n.parent_node_id = w.node_id
),
gclosure AS (
  SELECT node_id AS anc, node_id AS dsc FROM gbase
  UNION ALL
  SELECT c.anc, n.node_id FROM gclosure c JOIN gbase n ON n.parent_node_id = c.dsc
)
SELECT a.node_name, a.level_number,
       CAST(year(o.o_orderdate) AS INT) AS order_year,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice,
       COUNT(*) AS n_orders
FROM gclosure c
JOIN gwalk a ON a.node_id = c.anc AND a.level_number <= 2
JOIN gwalk d ON d.node_id = c.dsc AND d.node_natural_key IS NOT NULL
JOIN orders o ON o.o_custkey = d.node_natural_key
GROUP BY 1, 2, 3
"""


@register("hierarchy_time_rollup", _TIME_ROLLUP_SQL)
def hierarchy_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy x calendar composite rollup: orders rolled up the geo
    closure AND sliced by order year in the same flat groupBy — the
    standard OLAP cube slice (region/nation node x year). The closure
    join adds the hierarchy dimension without recursion at query time;
    the year column comes straight off the fact row, so on a
    date-partitioned 100 TB fact table a year predicate would prune
    partitions BEFORE the join. Ancestors capped at level <= 2
    (region/nation) to keep the output at reporting grain."""
    dim = _geo_dim(spark, sf_dir)
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    agg = dim.aggregation_dim.filter(F.col("ancestor_level_number") <= 2).select(
        "ancestor_node_name", "ancestor_level_number", "descendant_node_natural_key"
    )
    return (
        orders.join(
            dim_side(agg),
            orders["o_custkey"] == agg["descendant_node_natural_key"],
        )
        .groupBy(
            F.col("ancestor_node_name").alias("node_name"),
            F.col("ancestor_level_number").alias("level_number"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(
            dsum("o_totalprice", "sum_totalprice"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_reorder_for_driver_coverage()


@register(
    "hierarchy_lca_nation_pairs",
    _GEO_PRELUDE
    + """
, nat AS (
  SELECT c.descendant_node_id AS d_id, s2.node_name AS d_name,
         c.ancestor_node_id AS anc, c.net_level
  FROM closure c JOIN so s2 ON s2.node_id = c.descendant_node_id
  WHERE s2.level_name = 'Nation'
),
cand AS (
  SELECT a.d_id AS nation_a_id, a.d_name AS nation_a_name,
         b.d_id AS nation_b_id, b.d_name AS nation_b_name,
         sa.node_id AS lca_node_id, sa.node_name AS lca_node_name,
         sa.level_name AS lca_level_name,
         CAST(sa.level_number AS BIGINT) AS lca_level_number,
         CAST(a.net_level + b.net_level AS BIGINT) AS tree_distance,
         row_number() OVER (PARTITION BY a.d_id, b.d_id
                            ORDER BY sa.level_number DESC) AS rn
  FROM nat a
  JOIN nat b ON a.anc = b.anc AND a.d_id < b.d_id
  JOIN so sa ON sa.node_id = a.anc
)
SELECT nation_a_id, nation_a_name, nation_b_id, nation_b_name,
       lca_node_id, lca_node_name, lca_level_name, lca_level_number,
       tree_distance
FROM cand WHERE rn = 1
""",
)
def hierarchy_lca_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lowest common ancestor + tree distance for every unordered pair
    of Nation-level nodes — the closure-table kinship operator (org
    charts: nearest shared manager; geo: smallest enclosing territory;
    parts: tightest shared category). The reference materializes the
    closure precisely so questions like this are joins, not walks (ref
    classes/hierarchy_dimension_table.py:167-223).

    Shape: the nation slice of the closure is self-joined on the
    ancestor id — common ancestors of a pair lie on one root path, so
    the DEEPEST (max level_number) is the unique LCA; tree distance is
    the sum of the two net_levels through it. Everything is dim-sized:
    the self-join input has one row per (nation, ancestor), and the
    per-pair argmax window partitions by pair — no fact involvement,
    broadcast-friendly at any fact scale; pair count is quadratic only
    in the queried LEVEL's width, never in leaves."""
    from pyspark.sql import Window as W

    agg = _geo_dim(spark, sf_dir).aggregation_dim
    nat = agg.filter(F.col("descendant_level_name") == "Nation").select(
        F.col("descendant_node_id").alias("d_id"),
        F.col("descendant_node_name").alias("d_name"),
        F.col("ancestor_node_id").alias("anc"),
        F.col("ancestor_node_name").alias("anc_name"),
        F.col("ancestor_level_name").alias("anc_level_name"),
        F.col("ancestor_level_number").alias("anc_level_number"),
        "net_level",
    )
    a, b = nat.alias("a"), nat.alias("b")
    cand = a.join(
        b,
        (F.col("a.anc") == F.col("b.anc")) & (F.col("a.d_id") < F.col("b.d_id")),
    ).select(
        F.col("a.d_id").alias("nation_a_id"),
        F.col("a.d_name").alias("nation_a_name"),
        F.col("b.d_id").alias("nation_b_id"),
        F.col("b.d_name").alias("nation_b_name"),
        F.col("a.anc").alias("lca_node_id"),
        F.col("a.anc_name").alias("lca_node_name"),
        F.col("a.anc_level_name").alias("lca_level_name"),
        F.col("a.anc_level_number").cast("bigint").alias("lca_level_number"),
        (F.col("a.net_level") + F.col("b.net_level"))
        .cast("bigint")
        .alias("tree_distance"),
    )
    w = W.partitionBy("nation_a_id", "nation_b_id").orderBy(
        F.col("lca_level_number").desc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


_reorder_for_driver_coverage()


# -- round 9: non-broadcast closure rollup (the 10M-node hierarchy path) -----


@register("hierarchy_geo_rollup_orders_shuffled", _GEO_ROLLUP_ORDERS_SQL)
def hierarchy_geo_rollup_orders_shuffled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The flagship geo rollup with ``broadcast_dim=False``: every dim
    attach (closure join, distinct branch, branch merge, attribute
    decorate) runs as a SORT-MERGE join instead of a broadcast — the
    plan a 10M-node hierarchy needs once the closure (nodes x depth
    rows) is past broadcast reach (SURVEY §7.3; reference main.py:36 is
    this join). Same oracle SQL as hierarchy_geo_rollup_orders, so the
    driver hash-verifies the two physical regimes against each other
    through the shared DuckDB result; plan-pinned broadcast-free in
    tests/test_plans.py."""
    return _geo_rollup_orders(spark, sf_dir, False)


_reorder_for_driver_coverage()


# -- round 11: streaming-native replay twins (registered last) --------------
from ibis_olap_aggregation_spark.streaming import replay_queries  # noqa: E402,F401

_reorder_for_driver_coverage()

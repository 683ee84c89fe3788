"""Hierarchical rollup: facts x closure join + one flat GROUP BY.

The flagship pattern of the reference (reference main.py:35-55): join
the fact table to the aggregation dim (transitive closure) on the
DESCENDANT's natural key, then group by ANCESTOR — every node of the
hierarchy gets correctly rolled-up measures, including non-additive
COUNT(DISTINCT), with zero recursion at query time.

Every public function but ``merge_rollup_partials`` is a thin wrapper
over ONE pipeline, parametrised by the kind of measure:

1. resolve the join regime once per rollup, on the closure the
   caller passed, and select its slim (descendant key,
   ``ancestor_node_id``) side;
2. run one leaf-grain branch per measure kind — generic aggregate
   Columns, additive exact-decimal partials, exact distinct (leaf key,
   value) pairs, or HLL sketches — each joined to the closure and
   aggregated on ``ancestor_node_id``;
3. merge the branches on ``ancestor_node_id``;
4. decorate: attach the node attributes (the closure's ``net_level = 0``
   rows) under that same regime, cast exact sums to the presentation
   double where asked, and sort by display order where asked.

Aggregating on the compact id and attaching the wide string attributes
(node_name, level_name, ...) AFTER the aggregate matters at scale twice
over: the broadcast side of the fact join carries two columns instead
of six, and the shuffle rows carry an id instead of repeating every
display string (measured 8.1s -> ~3s for the sf0.1 part rollup's sums
on local[32]). The closure is broadcast by default; for hierarchies too
large to broadcast, pass ``broadcast_dim=False`` (every dim attach
becomes a sort-merge join — plan-pinned broadcast-free) or ``"auto"``
(the closure's row count against ``session.DIM_BROADCAST_ROW_CAP``, the
one broadcast row cap, picks the regime; see ``_resolve_broadcast``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import session

__all__ = [
    "hierarchical_rollup",
    "hierarchical_rollup_additive",
    "hierarchical_rollup_partials",
    "hierarchical_rollup_sketch",
    "merge_rollup_partials",
    "finalize_rollup_partials",
]

DEFAULT_GROUP_KEYS = (
    "ancestor_node_name",
    "ancestor_level_name",
    "ancestor_level_number",
    "ancestor_node_sort_order",
)

_ID = "ancestor_node_id"


def _resolve_broadcast(aggregation_dim: DataFrame, broadcast_dim) -> bool:
    """Resolve the join strategy for the rollup's dim-derived sides —
    one verdict per rollup, shared by the closure join, the branch
    merges and the attribute attach.

    True  -> broadcast hints (the default: closures are dim-sized).
    False -> SHUFFLE_MERGE hints: every dim attach in the rollup becomes
             a sort-merge join — the 10M-node-hierarchy path where the
             closure (nodes x depth rows) is past broadcast reach
             (SURVEY §7.3 design note; the reference's flagship closure
             join, ref main.py:36, at the scale the brief names).
    "auto" -> True iff the closure has fewer than
             ``session.DIM_BROADCAST_ROW_CAP`` rows (closure rows ~ nodes
             x avg depth): a built dim's closure answers from its noted
             row count with no job; any other closure (e.g. one read
             back by ``HierarchyDimension.load``) is probed once.
    """
    if broadcast_dim is True or broadcast_dim is False:
        return broadcast_dim
    if broadcast_dim == "auto":
        return session.probe_small(aggregation_dim, session.DIM_BROADCAST_ROW_CAP)
    raise ValueError(f"broadcast_dim must be True, False or 'auto': {broadcast_dim!r}")


def _dim_side(df: DataFrame, bcast: bool) -> DataFrame:
    return F.broadcast(df) if bcast else df.hint("merge")


def _per_node(
    facts: DataFrame,
    aggregation_dim: DataFrame,
    fact_key_col: str,
    descendant_key_col: str,
    broadcast_dim: bool | str,
    *,
    measures: Sequence[Column] = (),
    sum_cols: Sequence[tuple[str, str]] = (),
    count_alias: str | None = None,
    distinct_cols: Sequence[tuple[str, str]] = (),
    sketch: tuple[str, int, str] | None = None,
) -> tuple[DataFrame, bool]:
    """Steps 1-3 of the pipeline: one row per ``ancestor_node_id``, and
    the resolved broadcast regime. Additive partials stay exact
    (decimal(38,2) sums, bigint count); ``sketch`` is (column, lgk,
    alias). Branch merges follow the closure's regime, so the
    non-broadcast plan has no broadcast anywhere."""
    if _ID not in aggregation_dim.columns:
        raise ValueError(
            f"rollups require the closure's {_ID} column (the compact id "
            "every rollup aggregates on)"
        )
    if not (measures or sum_cols or count_alias or distinct_cols or sketch):
        raise ValueError("no measures declared")
    bcast = _resolve_broadcast(aggregation_dim, broadcast_dim)
    dim_slim = _dim_side(aggregation_dim.select(descendant_key_col, _ID), bcast)

    def expand(leaf: DataFrame, *aggs: Column) -> DataFrame:
        return (
            leaf.join(dim_slim, leaf[fact_key_col] == dim_slim[descendant_key_col])
            .groupBy(_ID)
            .agg(*aggs)
        )

    branches: list[DataFrame] = []
    if measures:
        branches.append(expand(facts, *measures))
    if sum_cols or count_alias:
        partial = [F.sum(F.col(c).cast("decimal(18,2)")).alias(f"_p_{a}") for c, a in sum_cols]
        rolled = [F.sum(f"_p_{a}").cast("decimal(38,2)").alias(a) for _, a in sum_cols]
        if count_alias:
            partial.append(F.count(F.lit(1)).alias("_p_n"))
            rolled.append(F.sum("_p_n").cast("bigint").alias(count_alias))
        branches.append(expand(facts.groupBy(fact_key_col).agg(*partial), *rolled))
    for c, a in distinct_cols:
        pair_cols = [fact_key_col] if c == fact_key_col else [fact_key_col, c]
        branches.append(
            expand(facts.select(*pair_cols).distinct(), F.countDistinct(c).alias(a))
        )
    if sketch:
        c, lgk, a = sketch
        leaf = facts.groupBy(fact_key_col).agg(
            F.expr(f"hll_sketch_agg({c}, {lgk})").alias("_sk")
        )
        branches.append(
            expand(leaf, F.expr("hll_sketch_estimate(hll_union_agg(_sk))").alias(a))
        )
    per_node = branches[0]
    for b in branches[1:]:
        per_node = per_node.join(b if bcast else b.hint("merge"), _ID)
    return per_node, bcast


def _decorate(
    per_node: DataFrame,
    aggregation_dim: DataFrame,
    group_keys: Sequence[str],
    bcast: bool,
    *,
    double_cols: Sequence[str] = (),
    sort: bool = True,
    keep_node_id: bool = False,
) -> DataFrame:
    """Step 4 of the pipeline: attach the ``group_keys`` present in the
    dim, one attribute row per node (the self-pairs; distinct when
    net_level is absent), under the rollup's resolved regime ``bcast``.
    ``keep_node_id`` leads with the compact id for consumers that
    self-join the rolled table."""
    dim = aggregation_dim
    keys = [k for k in group_keys if k in dim.columns]
    attr_cols = [_ID, *[k for k in keys if k != _ID]]
    if "net_level" in dim.columns:
        attrs = dim.filter(F.col("net_level") == 0).select(*attr_cols)
    else:
        attrs = dim.select(*attr_cols).distinct()
    lead = [_ID] if keep_node_id and _ID not in keys else []
    out = per_node.join(_dim_side(attrs, bcast), _ID).select(
        *lead,
        *keys,
        *[
            F.col(c).cast("double").alias(c) if c in double_cols else F.col(c)
            for c in per_node.columns
            if c != _ID
        ],
    )
    if sort and "ancestor_node_sort_order" in keys:
        # the result is dim-sized (one row per hierarchy node), so a
        # single-partition sort is right at any fact scale — and unlike
        # a global orderBy it needs no range-sampling pass, which would
        # execute the whole aggregation subplan a second time (measured
        # 14.3s -> 9.8s on the sf0.1 part rollup). repartition(1), not
        # coalesce(1): the shuffle boundary keeps the aggregation
        # parallel upstream.
        out = out.repartition(1).sortWithinPartitions("ancestor_node_sort_order")
    return out


def hierarchical_rollup(
    facts: DataFrame,
    aggregation_dim: DataFrame,
    fact_key_col: str,
    measures: Sequence[Column],
    *,
    descendant_key_col: str = "descendant_node_natural_key",
    group_keys: Sequence[str] = DEFAULT_GROUP_KEYS,
    broadcast_dim: bool | str = True,
    sort: bool = True,
) -> DataFrame:
    """Roll facts up to every hierarchy node via the closure join.

    measures: already-aliased aggregate Columns, e.g.
    ``[F.sum("sales_amount").alias("sum_sales_amount"),
       F.countDistinct("customer_id").alias("distinct_customer_count")]``.

    Output columns: ``group_keys`` (those present in the dim) in the
    given order, then the measures. Raises ValueError for a closure
    without ``ancestor_node_id``.
    """
    per_node, bcast = _per_node(
        facts, aggregation_dim, fact_key_col, descendant_key_col, broadcast_dim,
        measures=measures,
    )
    return _decorate(per_node, aggregation_dim, group_keys, bcast, sort=sort)


def hierarchical_rollup_additive(
    facts: DataFrame,
    aggregation_dim: DataFrame,
    fact_key_col: str,
    *,
    sum_cols: Sequence[tuple[str, str]] = (),
    count_alias: str | None = None,
    distinct_cols: Sequence[tuple[str, str]] = (),
    descendant_key_col: str = "descendant_node_natural_key",
    group_keys: Sequence[str] = DEFAULT_GROUP_KEYS,
    broadcast_dim: bool | str = True,
    sort: bool = True,
    keep_node_id: bool = False,
) -> DataFrame:
    """Closure rollup for STRUCTURED measures, aggregated at leaf grain
    first — the 100 TB shape of :func:`hierarchical_rollup`.

    The generic function expands every fact row by its ~depth ancestors
    before the first shuffle, so the shuffle carries |facts| x depth
    rows. Declaring the measure structure lets the plan exploit
    decomposability instead:

    - additive measures (``sum_cols``, decimal-exact pre-aggregate, and
      ``count_alias``) collapse to ONE partial row per leaf key before
      the closure join — the shuffle carries |leaf keys| x depth rows,
      independent of fact count (measured 5.9s -> 2.0s on the sf0.1
      part rollup; at 1000x facts the leaf-partial table is unchanged).
    - exact COUNT(DISTINCT) (``distinct_cols``) is not additive, but its
      (leaf key, value) pairs dedup AT FACT GRAIN with map-side combine
      before expanding — the expansion input shrinks to the distinct
      pair count and the heavy double-shuffle Expand plan Spark uses
      for countDistinct-with-other-aggs disappears (each branch is a
      single-purpose aggregate).

    Branches join back on the compact node id (dim-sized, broadcast).
    Results are bit-identical to the generic path: decimal partial sums
    re-summed are associativity-proof, and distinct-of-distinct is
    distinct. Measures referencing multiple columns or non-decomposable
    aggregates stay on :func:`hierarchical_rollup`.
    """
    per_node, bcast = _per_node(
        facts, aggregation_dim, fact_key_col, descendant_key_col, broadcast_dim,
        sum_cols=sum_cols, count_alias=count_alias, distinct_cols=distinct_cols,
    )
    return _decorate(
        per_node, aggregation_dim, group_keys, bcast,
        double_cols=[a for _, a in sum_cols], sort=sort, keep_node_id=keep_node_id,
    )


def hierarchical_rollup_sketch(
    facts: DataFrame,
    aggregation_dim: DataFrame,
    fact_key_col: str,
    distinct_col: str,
    *,
    lgk: int = 12,
    group_keys: Sequence[str] = DEFAULT_GROUP_KEYS,
    descendant_key_col: str = "descendant_node_natural_key",
    out: str = "approx_distinct",
) -> DataFrame:
    """Distinct-count rollup via MERGEABLE HLL sketches at leaf grain —
    the sketch-cube form of the flagship for hierarchies where even the
    dedup-at-leaf-grain exact path (`hierarchical_rollup_additive`) is
    too heavy: one sketch per leaf key (fact shuffle at leaf grain,
    map-side combined), then the closure join ships CONSTANT-size
    binaries (~2^lgk bytes) instead of distinct value sets, and
    `hll_union_agg` merges them per ancestor.

    HLL union at fixed lgk is LOSSLESS w.r.t. sketching the merged set
    directly, so every ancestor's estimate is bit-identical to what a
    per-ancestor re-scan would produce (pinned in tests/
    test_sketches.py::test_hierarchical_sketch_rollup_equals_direct) —
    the pre-aggregated leaf sketches can be stored and re-rolled to any
    grain without touching facts again. Estimates carry the standard
    HLL error (~1.04/sqrt(2^lgk)); exact paths remain the default."""
    per_node, bcast = _per_node(
        facts, aggregation_dim, fact_key_col, descendant_key_col, "auto",
        sketch=(distinct_col, lgk, out),
    )
    return _decorate(per_node, aggregation_dim, group_keys, bcast, sort=False)


# ---------------------------------------------------------------------------
# Incremental maintenance: mergeable per-node partials
# ---------------------------------------------------------------------------
#
# The materialized-view form of the flagship rollup. A 100 TB fact table
# grows by appends; recomputing every node's totals from scratch per
# batch rescans the world. Additive measures decompose instead:
#
#     partials(base ∪ delta) == merge(partials(base), partials(delta))
#
# so the steady state is: keep ONE node-sized partial table (exact
# decimals, never the lossy double rendering), and per batch aggregate
# ONLY the delta (|delta leaf keys| x depth shuffle rows) and merge —
# cost is independent of the base fact count. `finalize` renders the
# partial table to the same shape/types the one-shot rollup emits, and
# the registry query `hierarchy_rollup_incremental` pins
# merge-then-finalize bit-equal to a full recompute via the DuckDB
# oracle over the WHOLE fact table.
#
# COUNT(DISTINCT) is deliberately absent here: it is not additive, and
# pretending otherwise is how incremental cubes go wrong. Its exact
# incremental form is the (leaf key, value) pair table
# (hierarchical_rollup_additive's dedup-at-fact-grain input, itself
# mergeable by union+distinct) or the mergeable-sketch path
# (hierarchical_rollup_sketch — HLL unions are the textbook
# incremental distinct).


def hierarchical_rollup_partials(
    facts: DataFrame,
    aggregation_dim: DataFrame,
    fact_key_col: str,
    *,
    sum_cols: Sequence[tuple[str, str]] = (),
    count_alias: str | None = None,
    descendant_key_col: str = "descendant_node_natural_key",
    broadcast_dim: bool | str = True,
) -> DataFrame:
    """Per-node ADDITIVE partials for a batch of facts: one row per
    ancestor_node_id carrying exact-decimal sums (decimal(38,2) — no
    double cast, so merged partials re-sum associativity-proof) and the
    contributing fact count. Same leaf-grain pre-aggregation as
    hierarchical_rollup_additive: the closure join and shuffle see one
    row per leaf key, not per fact."""
    return _per_node(
        facts, aggregation_dim, fact_key_col, descendant_key_col, broadcast_dim,
        sum_cols=sum_cols, count_alias=count_alias,
    )[0]


def merge_rollup_partials(
    partials: Sequence[DataFrame],
    *,
    sum_aliases: Sequence[str] = (),
    count_alias: str | None = None,
) -> DataFrame:
    """Merge per-node partial tables (union + re-sum per node). Nodes
    absent from a batch (no facts under them) are simply absent from
    that batch's partials — union semantics handle sparsity for free.
    Exact: decimal + bigint sums are associative/commutative, so any
    merge tree (per-batch, pairwise, all-at-once) yields identical
    bits. The shuffle is node-table-sized regardless of how many
    batches merged."""
    if not partials:
        raise ValueError("no partials to merge")
    merged = partials[0]
    for p in partials[1:]:
        merged = merged.unionByName(p)
    aggs = [F.sum(a).cast("decimal(38,2)").alias(a) for a in sum_aliases]
    if count_alias:
        aggs.append(F.sum(count_alias).cast("bigint").alias(count_alias))
    return merged.groupBy(_ID).agg(*aggs)


def finalize_rollup_partials(
    merged: DataFrame,
    aggregation_dim: DataFrame,
    *,
    sum_aliases: Sequence[str] = (),
    group_keys: Sequence[str] = DEFAULT_GROUP_KEYS,
    sort: bool = True,
) -> DataFrame:
    """Render a merged partial table to the one-shot rollup's output
    shape: decorate node attributes (one row per node — broadcast while
    the closure is under ``session.DIM_BROADCAST_ROW_CAP`` rows,
    sort-merge past it, resolved once like every rollup's "auto"),
    cast the exact-decimal sums to the presentation double, sort by the
    hierarchy's display order. Keeping this a separate step is the
    point: the STORED partials stay exact and mergeable; only the
    query-time view pays the lossy cast."""
    return _decorate(
        merged, aggregation_dim, group_keys, _resolve_broadcast(aggregation_dim, "auto"),
        double_cols=sum_aliases, sort=sort,
    )

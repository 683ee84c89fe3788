"""Hierarchy dimension engine: adjacency list -> reporting dim + closure.

Spark-first reimplementation of the reference's ``HierarchyDimension``
(reference classes/hierarchy_dimension_table.py:46-223), which generates
two DuckDB recursive CTEs. Differences by design:

- ONE depth-bounded walk materializes each node's root-to-self path;
  the transitive closure ("aggregation dim") is then derived by
  ``posexplode`` of that path — the reference's *second* recursive CTE
  (ref :167-223) is unnecessary. The walk is chosen by node count: a
  driver-local DFS over one Arrow fetch up to ``_LOCAL_WALK_LIMIT``
  nodes, pointer-jumping path doubling (O(log depth) self-join rounds)
  above it or when Arrow cannot carry the node table.
- Sibling order is DETERMINISTIC: a sort-key path (array of the sibling
  sort key at each level) replaces the reference's ``row_number`` over a
  stringified UUID path (ref :133-139), which is non-deterministic per
  build and a single-partition window besides. The dense
  ``node_sort_order`` integer is computed scalably (range-partition +
  per-partition row_number + offsets), not with a global window.
- Bad input gets one verdict on both walks, whatever ``materialize``:
  a duplicate or NULL ``node_id`` and a cycle in parent_node_id (its
  members and every node under it) raise ValueError naming up to five
  ids. A cycle is never root-reachable (every node has ONE parent
  pointer), so each walk finds it among the rows it did not reach.
  Orphan subtrees (parent id absent) are dropped silently, matching the
  reference CTE's start-at-roots semantics. Over-deep hierarchies raise
  instead of looping forever; on the doubling walk a cycle or orphan
  chain longer than its final segment (``2^(rounds+1)`` nodes) reads as
  too deep.

Output column contract mirrors the reference:

reporting dim (ref :156-160): node_id, <attr columns...>,
  parent_node_id, is_root, is_leaf, level_number, node_sort_order,
  node_json struct, level_{i}_{col} flattened path columns.
aggregation dim / closure (ref :197-218): ancestor_<col> +
  descendant_<col> for every reporting column except parent_node_id and
  the struct/path columns, plus net_level = descendant_level_number -
  ancestor_level_number. Self-pairs included (net_level = 0).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ibis_olap_aggregation_spark.operators.ranking import global_row_number
from ibis_olap_aggregation_spark.session import dim_side, note_rows

__all__ = ["HierarchyDimension", "prepare_nodes"]

def _named(ids: list) -> str:
    """The first five of ``ids`` as reprs, with an ellipsis past them."""
    return ", ".join(repr(v) for v in ids[:5]) + (", ..." if len(ids) > 5 else "")


def _reject_bad_ids(has_null: bool, dups: list) -> None:
    """The id verdict both walks give: a NULL or repeated ``node_id``
    would be walked as a node of its own (or twice), so it raises."""
    if has_null:
        raise ValueError("NULL node_id in hierarchy input")
    if dups:
        raise ValueError(f"duplicate node_id in hierarchy input: {_named(dups)}")


def _cycle_error(ids: list) -> ValueError:
    """The cycle verdict both walks give, naming ids in or under it."""
    return ValueError(f"cycle detected in parent_node_id: {_named(ids)}")


def _depth_error(max_depth: int) -> ValueError:
    return ValueError(f"hierarchy deeper than max_depth={max_depth} (raise max_depth)")


def prepare_nodes(
    nodes: DataFrame,
    node_id_col: str = "node_id",
    parent_node_id_col: str = "parent_node_id",
    *,
    with_leaf: bool = True,
    known_rows: int | None = None,
) -> DataFrame:
    """Normalize an adjacency-list dimension (ref :83-96).

    Renames the id columns to ``node_id`` / ``parent_node_id``, keeps all
    other columns as node attributes, and derives:

    - ``is_root``: parent id IS NULL (ref :89-90)
    - ``is_leaf`` (when ``with_leaf``): node id never appears as anyone's
      parent — the reference uses ``NOT IN (subquery)`` (ref :91-93); we
      use a left-anti join against the distinct parent ids, which
      Catalyst plans as a (broadcast) anti hash join instead of a
      correlated subquery. ``with_leaf=False`` skips the distinct+join
      (a full shuffle of the node table) for consumers that compute the
      flag themselves — the driver-local walk derives it from the same
      collected rows for free.

    ``known_rows``: an already-known node count, noted on the parent-id
    side (``session.note_rows``) so the leaf join's regime resolves with
    no probe job; ``HierarchyDimension`` always passes it, as both walks
    know the count before the join is planned. ``None`` probes.
    """
    attrs = [c for c in nodes.columns if c not in (node_id_col, parent_node_id_col)]
    df = nodes.select(
        F.col(node_id_col).alias("node_id"),
        *attrs,
        F.col(parent_node_id_col).alias("parent_node_id"),
    ).withColumn("is_root", F.col("parent_node_id").isNull())
    if not with_leaf:
        return df
    parents = (
        df.filter(F.col("parent_node_id").isNotNull())
        .select(F.col("parent_node_id").alias("node_id"))
        .distinct()
        .withColumn("_is_parent", F.lit(True))
    )
    # one node-sized left join marks interior nodes; unmatched = leaves
    # (broadcast for ordinary dims, sort-merge past the cap — a
    # 10M-node hierarchy's parent set is past broadcast reach)
    return (
        df.join(dim_side(note_rows(parents, known_rows)), "node_id", "left")
        .withColumn("is_leaf", F.col("_is_parent").isNull())
        .drop("_is_parent")
    )


class HierarchyDimension:
    """Build reporting + aggregation (closure) dims from an adjacency list.

    Parameters
    ----------
    nodes : DataFrame with one row per node.
    node_id_col / parent_node_id_col : adjacency columns (self-FK).
    sort_key_col : column ordering SIBLINGS deterministically. Defaults
        to ``node_natural_key`` when present else the node id. (The
        reference orders by stringified UUID paths — non-deterministic;
        SURVEY.md §7.5.1.)
    max_depth : depth guard; a hierarchy deeper than this raises
        ValueError (cycles are never root-reachable, so they cannot
        trip it — the walk names them instead).
    flatten_levels : number of ``level_{i}_*`` column groups in the
        reporting dim (the reference hardcodes 10; ref :147).
    materialize : cache the walk result and both dims (the walk feeds
        both), mirroring the reference's CTAS-then-reread (ref
        :162-173). It neither chooses the walk nor changes what bad
        input raises.
    compute_sort_order : False skips the ranking passes entirely
        (``node_sort_order`` comes back NULL): rollup correctness never
        depends on display order, so pure-aggregation consumers of big
        dims need not pay the extra count/sample/shuffle rounds.

    The walk is chosen by node count alone. Up to ``_LOCAL_WALK_LIMIT``
    (250k) nodes the node table is fetched to the driver as one Arrow
    table and walked there (:meth:`_walk_local`): dimension hierarchies
    are dim-sized, and below that bound a distributed walk pays
    per-round job-scheduling costs that dwarf the actual pointer
    chasing. Above the bound, or when Arrow cannot carry the node
    table's types, the walk is pointer-jumping path doubling
    (:meth:`_walk_doubling`): ceil(log2 depth)+1 self-join rounds
    regardless of node count, each round localCheckpointed so the plan
    stays O(1). Both produce identical output (agreement-tested).

    A build notes its closure row count on ``aggregation_dim``
    (``session.note_rows``; on the doubling walk only when materialized),
    so rollups resolve ``broadcast_dim="auto"`` with no probe job.
    """

    def __init__(
        self,
        nodes: DataFrame,
        node_id_col: str = "node_id",
        parent_node_id_col: str = "parent_node_id",
        *,
        dimension_name: str = "dim",
        sort_key_col: str | None = None,
        max_depth: int = 32,
        flatten_levels: int = 10,
        materialize: bool = True,
        compute_sort_order: bool = True,
    ):
        self.dimension_name = dimension_name
        self.max_depth = max_depth
        self.flatten_levels = flatten_levels
        self.compute_sort_order = compute_sort_order
        # compact-path artifacts of the local walk: the checkpointed
        # frame with integer ancestor-index paths and the single-row
        # broadcast attribute table. When set, the closure and reporting
        # builders read THESE directly — one element_at per ancestor
        # reference — instead of re-assembling the full node_json_path
        # struct array per walked row only to explode or index it
        # (measured 0.35 -> 2.59s on the 983k-pair deep-binary closure
        # when the explode ran over the reconstructing view).
        self._compact = None
        self._attr_row = None
        self._walked = None  # the doubling walk's view; the local walk has none
        narrow = prepare_nodes(nodes, node_id_col, parent_node_id_col, with_leaf=False)
        local = self._fetch_if_dim_sized(narrow)
        # both walks know the node count before the leaf join is planned,
        # so its regime (and the closure's sort-order attach) resolves
        # from that count with no probe job
        self._n_nodes = (
            local.num_rows if local is not None else self._check_ids_distributed(narrow)
        )
        self.nodes = prepare_nodes(
            nodes, node_id_col, parent_node_id_col, known_rows=self._n_nodes
        )
        if materialize and local is None:
            # The doubling walk re-joins nodes once per round, and derived
            # node tables (e.g. DISTINCT-built brand/type levels) would
            # otherwise re-shuffle on every round — hence the cache.
            # Size the walk's parallelism to the DIMENSION, not to the
            # partitioning the source scans happened to leave behind:
            # each round is a job over these partitions, so a 15k-node
            # dim spread over 32+ scan partitions pays pure
            # task-scheduling overhead per round (measured 2.4x slower).
            # ~250k nodes/partition, floor 4 (cluster-safe: dims are
            # dim-sized), cap at the session shuffle width.
            cap = int(
                self.nodes.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
            )
            parts = min(cap, max(4, self._n_nodes // 250_000 + 1))
            self.nodes = self.nodes.repartition(parts).cache()
        if sort_key_col is None:
            sort_key_col = (
                "node_natural_key" if "node_natural_key" in self.nodes.columns else "node_id"
            )
        self.sort_key_col = sort_key_col
        # struct carries every nodes column (ref _create_struct_literal
        # iterates the nodes query's columns; ref :25-43,102-109)
        self._struct_cols = list(self.nodes.columns)

        if local is not None:
            closure_rows = self._walk_local(local)
        else:
            closure_rows = None
            self._walked = self._walk_doubling()
            if materialize:
                # both dims read it; the job that fills the cache also
                # sums the depths, which is the closure row count
                self._walked = self._walked.cache()
                closure_rows = self._walked.agg(F.sum("level_number")).first()[0] or 0
        self.reporting_dim = self._build_reporting_dim()
        self.aggregation_dim = self._build_aggregation_dim()
        if materialize:
            # dims are ETL artifacts queried many times (the reference
            # CTAS-materializes both; ref :162,220) — without this every
            # consumer re-runs the path-explode + sort-order join
            self.reporting_dim = self.reporting_dim.cache()
            self.aggregation_dim = self.aggregation_dim.cache()
        # rollups resolve "auto" from this bound instead of probing
        note_rows(self.aggregation_dim, closure_rows)

    def _fetch_if_dim_sized(self, narrow: DataFrame):
        """The node table as a driver Arrow table (with ``is_leaf``
        derived on the driver) when it has at most ``_LOCAL_WALK_LIMIT``
        rows and Arrow can carry its types; otherwise None, and the
        doubling walk runs. A fetched table with a NULL or duplicate
        ``node_id`` raises (the local walk's id check).

        ONE bounded fetch doubles as the size probe and the local-walk
        input, so dim-sized tables (the common case) never pay a
        cache-fill + count + repartition round-trip. It reads the NARROW
        prepared form (no is_leaf anti-join — that's a distinct+shuffle
        of the node table).

        Size guard WITHOUT a job: the optimizer's sizeInBytes estimate
        (parquet file sizes for scans) bounds what a direct Arrow fetch
        can pull to the driver. Under the bound the table is fetched
        immediately and its length is the row probe — one job total. (A
        count-then-fetch runs the node-table plan twice — measured 1.6s
        extra per sf0.1 geo build; a bounded limit().collect() is worse
        still: CollectLimit's serial scale-up rounds measured 3.1s.) The
        fast path is gated THREE ways — the estimate must exist, must be
        produced by a plan whose default size estimation cannot
        UNDER-estimate (no Generate/Join/Window/Expand: e.g. Generate
        reports its pre-explosion child size, so an exploded node table
        looks tiny), and must imply a ROW count under the walk limit at a
        conservative per-row width (on-disk bytes vastly understate
        in-memory row cost: a narrow 2-column table near the byte bound
        alone can be tens of millions of rows). Anything else counts
        first — one extra job, only for inputs that were never
        dim-shaped to begin with.
        """
        import pyarrow as pa

        fetch_direct = False
        if self._plan_estimate_is_safe(narrow):
            try:
                approx_bytes = int(
                    narrow._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
            except Exception:  # noqa: BLE001 - stats unavailable (e.g. connect)
                approx_bytes = None
            if approx_bytes is not None and approx_bytes <= self._LOCAL_FETCH_MAX_BYTES:
                est_rows = approx_bytes // self._est_row_width(narrow.schema)
                fetch_direct = est_rows <= self._LOCAL_WALK_LIMIT
        if not fetch_direct and narrow.count() > self._LOCAL_WALK_LIMIT:
            return None
        tbl = self._fetch_local_table(narrow)
        if tbl is None or tbl.num_rows > self._LOCAL_WALK_LIMIT:
            return None
        # columnar is_leaf derivation — single-column to_pylist, no
        # per-row dicts
        pset = {p for p in tbl.column("parent_node_id").to_pylist() if p is not None}
        nid = tbl.column("node_id").to_pylist()
        _reject_bad_ids(
            tbl.column("node_id").null_count > 0,
            sorted(v for v, c in Counter(nid).items() if c > 1 and v is not None),
        )
        return tbl.append_column(
            "is_leaf", pa.array([v not in pset for v in nid], pa.bool_())
        )

    @staticmethod
    def _check_ids_distributed(nodes: DataFrame) -> int:
        """The doubling walk's id check: ONE grouped aggregate over
        ``node_id`` yields the row count, whether a NULL id occurs and
        the first duplicated ids; raises on either, else returns the
        row count."""
        per_id = nodes.groupBy("node_id").count()
        dup = F.when(F.col("node_id").isNotNull() & (F.col("count") > 1), F.col("node_id"))
        row = per_id.agg(
            F.sum("count").alias("n"),
            F.max(F.col("node_id").isNull()).alias("has_null"),
            F.slice(F.sort_array(F.collect_list(dup)), 1, 6).alias("dups"),
        ).first()
        _reject_bad_ids(bool(row["has_null"]), row["dups"])
        return int(row["n"] or 0)

    _LOCAL_WALK_LIMIT = 250_000  # driver BFS above this is a collect() smell
    # plan-stats bound for fetching the node table without a count probe:
    # 512 MB of estimated input is far above any dim-sized table and far
    # below anything that could hurt a driver
    _LOCAL_FETCH_MAX_BYTES = 512 * 1024 * 1024

    @staticmethod
    def _plan_estimate_is_safe(df: DataFrame) -> bool:
        """True when the optimized plan contains no operator whose
        default (non-CBO) size estimation can UNDER-estimate output.
        Scan/Project/Filter/Union/Aggregate estimates are conservative
        (file sizes, width scaling, no selectivity discounts), but
        Generate reports its pre-explosion child size, and Join/Window/
        Expand estimates are similarly untrustworthy — a fetch gated on
        them is unbounded. Unreadable plans count as unsafe."""
        import re as _re

        try:
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception:  # noqa: BLE001 - plan unavailable (e.g. connect)
            return False
        return not _re.search(r"\b(Join|Generate|Window|Expand)\b", plan)

    @staticmethod
    def _est_row_width(schema) -> int:
        """Conservatively SMALL per-row byte width (strings/nested at 20,
        scalars at 8): dividing the plan's size estimate by it biases the
        row estimate HIGH, which can only route a fetch to the count
        probe, never skip the guard."""
        width = 0
        for f in schema.fields:
            s = f.dataType.simpleString()
            width += 20 if (s == "string" or "<" in s) else 8
        return max(width, 8)

    @staticmethod
    def _fetch_local_table(df: DataFrame):
        """Fetch a (pre-bounded) node table as a driver Arrow TABLE —
        the local walk's input. None for types Arrow can't convert
        (e.g. intervals): those tables take the doubling walk."""
        try:
            return df.toArrow()
        except Exception:  # noqa: BLE001 - exotic type unsupported by Arrow
            return None

    # -- stage 1a: driver-local walk for dim-sized node tables -----------
    def _walk_local(self, tbl) -> int:
        """Driver-side DFS over the fetched Arrow node table, producing
        the compact walk both dims read: ``self._compact`` (attrs +
        level_number + ancestor row indices + node_sort_order) and
        ``self._attr_row`` (every node's attribute struct, one row).
        Returns the closure row count (the walked nodes' summed depths).

        Dimension hierarchies are dim-sized by definition; under
        ``_LOCAL_WALK_LIMIT`` nodes the adjacency list fits trivially in
        driver memory and the walk is pointer chasing — the distributed
        walk pays per-ROUND scheduling costs that dwarf it. Further
        constants fall out for free:

        - siblings are visited in sort-key order, so the DFS preorder IS
          the dense depth-first rank — ``node_sort_order`` is a counter,
          and the distributed 3-pass ranker (count + per-partition rank +
          offset join) is skipped entirely;
        - the DFS runs over row INDICES of the Arrow table and the walked
          table is assembled with vectorized ``take`` gathers — no
          per-row Python objects on either side. A node's path is its
          ancestor index chain, so the flattened path is a single take
          of each attribute column.

        Rows the DFS never reached either hang off a missing parent
        (orphans: dropped, start-at-roots semantics) or sit in or under a
        cycle (raise, naming them); depth overflow raises the same error
        as the doubling walk.
        """
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        cols = self._struct_cols
        n = tbl.num_rows
        node_id = tbl.column("node_id").to_pylist()
        parent_id = tbl.column("parent_node_id").to_pylist()
        is_root = tbl.column("is_root").to_pylist()
        skv = tbl.column(self.sort_key_col).to_pylist()
        children: dict = {}
        roots: list[int] = []
        for i in range(n):
            if is_root[i]:
                roots.append(i)
            else:
                children.setdefault(parent_id[i], []).append(i)

        # sibling order = the ranker's lexicographic-_sort_path order:
        # nulls first (Spark ASC semantics), then key, node_id tiebreak
        def skey(i):
            v = skv[i]
            return (True, v, node_id[i]) if v is not None else (False,)

        roots.sort(key=skey)
        for lst in children.values():
            lst.sort(key=skey)
        order: list[int] = []
        levels: list[int] = []
        path_flat: list[int] = []
        path_off: list[int] = [0]
        max_depth = self.max_depth
        # iterative DFS (explicit stack: no recursion limit on deep chains)
        stack = [(i, 1, ()) for i in reversed(roots)]
        while stack:
            i, level, path = stack.pop()
            if level > max_depth:
                raise _depth_error(max_depth)
            path = path + (i,)
            order.append(i)
            levels.append(level)
            path_flat.extend(path)
            path_off.append(len(path_flat))
            for ch in reversed(children.get(node_id[i], ())):
                stack.append((ch, level + 1, path))
        if len(order) < n:
            cyclic = self._cycle_ids(node_id, parent_id, order)
            if cyclic:
                raise _cycle_error(cyclic)
        node_schema = self.nodes.schema
        # compact transfer: shipping every ancestor's FULL attribute
        # struct per descendant puts sum(depth(n)) structs through
        # createDataFrame AND the eager checkpoint (the dominant cost of
        # a deep dim build; a 65k-node binary tree carries ~1M path
        # entries). Ship each node's attributes ONCE instead: the
        # checkpointed frame stores the path as ancestor ROW-INDEX arrays
        # (ints), and a single-row side frame broadcasts the attribute
        # structs in original row order; each dim fetches an ancestor's
        # struct from that broadcast by index (agreement with the
        # doubling walk's dims is pinned in tests/test_opt_r14.py).
        attr_struct_t = T.StructType([node_schema[c] for c in cols])
        compact_schema = T.StructType(
            [node_schema[c] for c in cols]
            + [
                T.StructField("level_number", T.IntegerType(), False),
                T.StructField(
                    "_path_idx", T.ArrayType(T.LongType(), False), False
                ),
                T.StructField("node_sort_order", T.IntegerType(), True),
            ]
        )
        # combine_chunks on the column, not the table: an empty table has
        # no chunk to index
        col_arr = {c: tbl.column(c).combine_chunks() for c in cols}
        take_o = pa.array(order, type=pa.int64())
        take_p = pa.array(path_flat, type=pa.int64())
        off = np.asarray(path_off, dtype=np.int32)
        list_off = pa.array(off, type=pa.int32())
        n_out = len(order)
        compact_arrays = [col_arr[c].take(take_o) for c in cols] + [
            pa.array(np.asarray(levels, dtype=np.int32), type=pa.int32()),
            pa.ListArray.from_arrays(list_off, take_p),
            pa.array(np.arange(1, n_out + 1, dtype=np.int32), type=pa.int32())
            if self.compute_sort_order
            else pa.nulls(n_out, pa.int32()),
        ]
        spark = self.nodes.sparkSession
        # Eagerly checkpoint OFF the driver: a local relation embeds its
        # rows in every task that scans it, so each downstream job that
        # misses the (evictable) cache re-ships the table from the
        # driver — measured 16s for a 127MB deep-tree walk inside a
        # loaded session vs 6s isolated. localCheckpoint truncates the
        # lineage to MEMORY_AND_DISK executor blocks: evictions spill to
        # disk instead of re-shipping.
        compact = spark.createDataFrame(
            pa.Table.from_arrays(
                compact_arrays, schema=to_arrow_schema(compact_schema)
            )
        ).localCheckpoint(eager=True)
        # one row holding ALL n attribute structs in original row order
        # (node-count-sized, the same bound as the local walk itself);
        # _path_idx entries are 0-based positions into it
        attr_fields = list(to_arrow_schema(attr_struct_t))
        attr_struct = pa.StructArray.from_arrays(
            [col_arr[c] for c in cols], fields=attr_fields
        )
        attr_row = spark.createDataFrame(
            pa.Table.from_arrays(
                [
                    pa.ListArray.from_arrays(
                        pa.array([0, tbl.num_rows], type=pa.int32()), attr_struct
                    )
                ],
                schema=to_arrow_schema(
                    T.StructType(
                        [T.StructField("_attrs", T.ArrayType(attr_struct_t), False)]
                    )
                ),
            )
        )
        self._compact = compact
        self._attr_row = attr_row
        return len(path_flat)

    @staticmethod
    def _cycle_ids(node_id: list, parent_id: list, visited: list) -> list:
        """Sorted ids of the unvisited rows that sit in or under a cycle.
        Each unvisited row's parent chain is followed once (a colored
        walk): a chain that ends at a missing parent is an orphan chain,
        one that revisits itself or joins a cyclic chain is cyclic."""
        row = {v: i for i, v in enumerate(node_id)}
        # row -> in or under a cycle; None while on the chain followed
        cyclic: dict[int, bool | None] = dict.fromkeys(visited, False)
        for start in range(len(node_id)):
            chain: list[int] = []
            i = start
            while i is not None and i not in cyclic:
                cyclic[i] = None
                chain.append(i)
                i = row.get(parent_id[i])
            verdict = i is not None and cyclic[i] is not False
            for c in chain:
                cyclic[c] = verdict
        return sorted(node_id[i] for i, v in cyclic.items() if v)

    def _rank(self, walked):
        """Dense depth-first order, or a NULL column when the consumer
        opted out of display ordering (compute_sort_order=False)."""
        if not self.compute_sort_order:
            return walked.withColumn("node_sort_order", F.lit(None).cast("int"))
        # the node count (known when materialized) sizes the ranker's
        # range partitioning up front, sparing it its own count pass
        return global_row_number(
            walked, ["_sort_path"], "node_sort_order", row_count=self._n_nodes
        )

    # -- stage 1b: path-doubling walk (O(log depth) rounds) --------------
    def _walk_doubling(self) -> DataFrame:
        """Same output as :meth:`_walk_local` in O(log depth) self-joins
        (pointer jumping): each round concatenates a node's known path
        segment with its 2^i-th ancestor's segment and squares the jump
        pointer. A depth-1000 hierarchy needs 10 rounds instead of 1000
        — the difference between a feasible and an infeasible build when
        each round is a full shuffle stage on a cluster.

        State per node: seg = array<struct> covering the 2^i nodes ending
        at the node; jump = the ancestor just above seg (null once seg
        reaches the root). Total data volume matches the closure size.
        """
        nodes = self.nodes
        sort_key = F.col(self.sort_key_col)
        base_struct = F.struct(*[F.col(c) for c in self._struct_cols])
        # localCheckpoint (not cache) after every round: the self-join
        # references `state` TWICE, so with plain caching the LOGICAL
        # plan doubles every round — Catalyst re-analyzes a 2^rounds-node
        # tree and the build stalls in the optimizer long before any data
        # moves. Checkpointing truncates lineage to the materialized
        # result; each round's plan stays O(1).
        state = nodes.select(
            F.col("node_id").alias("_v"),
            F.array(base_struct).alias("_seg"),
            F.array(sort_key).alias("_sort_seg"),
            F.col("parent_node_id").alias("_jump"),
        ).localCheckpoint()
        rounds = max(1, (self.max_depth - 1).bit_length())
        for _ in range(rounds + 1):
            if state.filter(F.col("_jump").isNotNull()).isEmpty():
                break
            anc = state.select(
                F.col("_v").alias("_a_v"),
                F.col("_seg").alias("_a_seg"),
                F.col("_sort_seg").alias("_a_sort"),
                F.col("_jump").alias("_a_jump"),
            )
            state = (
                state.join(anc, state["_jump"] == anc["_a_v"], "left")
                .select(
                    "_v",
                    F.when(
                        F.col("_a_v").isNotNull(),
                        F.concat(F.col("_a_seg"), F.col("_seg")),
                    )
                    .otherwise(F.col("_seg"))
                    .alias("_seg"),
                    F.when(
                        F.col("_a_v").isNotNull(),
                        F.concat(F.col("_a_sort"), F.col("_sort_seg")),
                    )
                    .otherwise(F.col("_sort_seg"))
                    .alias("_sort_seg"),
                    F.col("_a_jump").alias("_jump"),
                )
                .localCheckpoint()
            )
        else:
            # jumps still pending after ceil(log2 max_depth)+1 rounds:
            # genuinely deeper nodes, or nodes in or under a cycle (their
            # segment wraps, so node_ids repeat). Both raise; one ordered
            # fetch tells them apart, as a row without a repeat sorts
            # first. A cycle longer than the segment reads as too deep.
            repeats = F.expr(
                "size(_seg) > size(array_distinct(transform(_seg, s -> s.node_id)))"
            )
            first = (
                state.filter(F.col("_jump").isNotNull())
                .select("_v", repeats.alias("_cyc"))
                .orderBy("_cyc", "_v")
                .limit(6)
                .collect()
            )
            if first and not first[0]["_cyc"]:
                raise _depth_error(self.max_depth)
            if first:
                raise _cycle_error([r["_v"] for r in first])
        # nodes with a parent missing from the table (orphans) never
        # terminate at a root: their first seg element is not a root.
        # The local walk drops them; do the same here.
        done = state.filter(
            F.element_at("_seg", 1).getField("is_root")
        )
        # max_depth is a semantic contract, not just a rounds budget: the
        # rounds bound has slack (2^(rounds+1) >= 2*max_depth), so a tree
        # the local walk would reject could complete here — enforce it
        if not done.filter(F.size("_seg") > self.max_depth).isEmpty():
            raise _depth_error(self.max_depth)
        lvl = F.size("_seg")
        walked = done.select(
            *[
                F.element_at("_seg", -1).getField(c).alias(c)
                for c in self._struct_cols
            ],
            lvl.alias("level_number"),
            F.expr(
                "transform(_seg, (s, i) -> named_struct("
                + ", ".join(f"'{c}', s.{c}" for c in self._struct_cols)
                + ", 'level_number', i + 1))"
            ).alias("node_json_path"),
            F.col("_sort_seg").alias("_sort_path"),
        )
        return self._rank(walked)

    # -- stage 2: reporting dim -----------------------------------------
    def _build_reporting_dim(self) -> DataFrame:
        """Flattened reporting dim (ref :133-160): node columns +
        level_number + node_sort_order + rebuilt node_json + the
        level_{1..N}_{col} root-to-self path columns."""
        node_json = F.struct(
            *[F.col(c) for c in self._struct_cols],
            F.col("level_number"),
            F.col("node_sort_order"),
        )
        flat_fields = [
            c for c in self._struct_cols if c not in ("is_root", "is_leaf")
        ] + ["level_number"]
        level_cols = []
        for i in range(1, self.flatten_levels + 1):
            # 1-based like DuckDB list_extract; try_ variant for NULL
            # (not error) past the path end under Spark 4 ANSI mode
            if self._compact is not None:
                # compact-path fast branch: one broadcast struct
                # fetch per flattened level — past the path end the
                # inner try_element_at yields a NULL index, which the
                # outer lookup must propagate as NULL. try_ on the
                # outer lookup too (ADVICE r14): indexes are always
                # in-bounds (+1 of a valid 0-based ancestor index), so
                # behavior is unchanged, but the non-try form read as
                # an ANSI-error hazard relying on element_at's
                # NULL-index propagation
                elem = F.expr(
                    "try_element_at(_attrs,"
                    f" cast(try_element_at(_path_idx, {i}) + 1 as int))"
                )
                lvl_num = F.when(
                    F.try_element_at("_path_idx", F.lit(i)).isNotNull(),
                    F.lit(i),
                ).cast("int")
            else:
                elem = F.try_element_at(F.col("node_json_path"), F.lit(i))
                lvl_num = elem.getField("level_number")
            for c in flat_fields:
                level_cols.append(
                    lvl_num.alias(f"level_{i}_{c}")
                    if c == "level_number"
                    else elem.getField(c).alias(f"level_{i}_{c}")
                )
        w = (
            self._compact.crossJoin(F.broadcast(self._attr_row))
            if self._compact is not None
            else self._walked
        )
        return w.select(
            *self.nodes.columns,
            "level_number",
            "node_sort_order",
            node_json.alias("node_json"),
            *level_cols,
        )

    # -- stage 3: aggregation dim (transitive closure) -------------------
    def _build_aggregation_dim(self) -> DataFrame:
        """Closure of the hierarchy: one row per (ancestor, descendant)
        pair including self-pairs, net_level = depth delta (ref :167-218).

        Derivation: every ancestor of a node already sits in the node's
        materialized root-to-self path, so ``posexplode(node_json_path)``
        yields exactly the closure — sum(depth(n)) skinny rows, no second
        recursion. Ancestor node_sort_order (computed after the walk) is
        filled by a broadcast self-join on ancestor node_id.
        """
        if self._compact is not None:
            # compact-path fast branch: explode the INT ancestor
            # indices and fetch each ancestor's attribute struct once
            # from the broadcast row — never materializing the per-node
            # struct-path array the view would rebuild just to explode
            exploded = (
                self._compact.crossJoin(F.broadcast(self._attr_row))
                .select(
                    *[
                        F.col(c).alias(f"descendant_{c}")
                        for c in self._attr_out_cols()
                    ],
                    F.col("level_number").alias("descendant_level_number"),
                    F.col("node_sort_order").alias(
                        "descendant_node_sort_order"
                    ),
                    "_attrs",
                    F.posexplode("_path_idx").alias("_pos", "_aidx"),
                )
            )
            anc = F.expr("element_at(_attrs, cast(_aidx + 1 as int))")
        else:
            w = self._walked
            exploded = w.select(
                *[F.col(c).alias(f"descendant_{c}") for c in self._attr_out_cols()],
                F.col("level_number").alias("descendant_level_number"),
                F.col("node_sort_order").alias("descendant_node_sort_order"),
                F.posexplode("node_json_path").alias("_pos", "_anc"),
            )
            anc = F.col("_anc")
        closure = exploded.select(
            *[anc.getField(c).alias(f"ancestor_{c}") for c in self._attr_out_cols()],
            (F.col("_pos") + 1).alias("ancestor_level_number"),
            *[F.col(f"descendant_{c}") for c in self._attr_out_cols()],
            F.col("descendant_level_number"),
            F.col("descendant_node_sort_order"),
        )
        sort_orders = (
            self._compact if self._compact is not None else self._walked
        ).select(
            F.col("node_id").alias("ancestor_node_id"),
            F.col("node_sort_order").alias("ancestor_node_sort_order"),
        )
        # walked-derived and at most node-sized: the regime resolves from
        # the node count, probe-free
        closure = closure.join(
            dim_side(note_rows(sort_orders, self._n_nodes)), "ancestor_node_id", "left"
        )
        anc_cols = [f"ancestor_{c}" for c in self._attr_out_cols()] + [
            "ancestor_level_number",
            "ancestor_node_sort_order",
        ]
        desc_cols = [f"descendant_{c}" for c in self._attr_out_cols()] + [
            "descendant_level_number",
            "descendant_node_sort_order",
        ]
        return closure.select(
            *anc_cols,
            *desc_cols,
            (F.col("descendant_level_number") - F.col("ancestor_level_number")).alias(
                "net_level"
            ),
        )

    def _attr_out_cols(self) -> list[str]:
        # closure columns exclude parent_node_id (ref :199,207)
        return [c for c in self._struct_cols if c != "parent_node_id"]

    # -- incremental maintenance -----------------------------------------
    # append / delete / move edit the adjacency list and rebuild, as the
    # reference does on any node change (ref :162,220): at dim size a
    # local rebuild is cheaper than closure-delta joins, and it keeps
    # is_leaf and the dense node_sort_order right by construction.
    def _adjacency(self) -> DataFrame:
        """The node table this dim walked, read back from the reporting
        dim (so the orphans the build dropped stay dropped)."""
        derived = ("node_id", "parent_node_id", "is_root", "is_leaf")
        attrs = [c for c in self.nodes.columns if c not in derived]
        return self.reporting_dim.select("node_id", *attrs, "parent_node_id")

    def _closure_ids(self) -> DataFrame:
        """Every node id in the closure (its self-pair rows), as ``_id``."""
        return self.aggregation_dim.filter("net_level = 0").select(
            F.col("descendant_node_id").alias("_id")
        )

    def _rebuilt(self, adjacency: DataFrame) -> DataFrame:
        """Closure of a fresh, uncached build of ``adjacency`` with this
        dim's settings."""
        return HierarchyDimension(
            adjacency,
            dimension_name=self.dimension_name,
            sort_key_col=self.sort_key_col,
            max_depth=self.max_depth,
            flatten_levels=self.flatten_levels,
            materialize=False,
            compute_sort_order=self.compute_sort_order,
        ).aggregation_dim

    def extend_closure_with_leaves(self, new_nodes: DataFrame) -> DataFrame:
        """Closure after appending NEW LEAF nodes (new customer, product,
        file). ``new_nodes`` carries this dim's node columns; its rows are
        added to the adjacency list and the dim is rebuilt.

        Raises when a new node's parent is not in the closure (interior
        and orphan inserts are outside this method's contract, and the
        walk would drop them silently); the rebuild's id check raises
        when a new ``node_id`` is already in the closure or repeated in
        the batch.
        """
        ids = self._closure_ids()
        new = new_nodes.select("node_id", "parent_node_id")
        orphans = new.join(ids, new["parent_node_id"] == ids["_id"], "left_anti")
        found = [r[0] for r in orphans.select("node_id").distinct().limit(5).collect()]
        if found:
            raise ValueError(
                f"extend_closure_with_leaves: parent not in existing closure for "
                f"new nodes {found} (leaf appends only — rebuild for interior inserts)"
            )
        return self._rebuilt(self._adjacency().unionByName(new_nodes))

    def remove_subtree_from_closure(self, node_id: str) -> DataFrame:
        """Closure after deleting ``node_id`` and its ENTIRE subtree
        (retired product line, closed account). The node's own row leaves
        the adjacency list; its subtree then has no path to a root, and
        the rebuild drops it under the start-at-roots rule. An unknown
        node id raises (a silent no-op would mask an upstream id bug).
        """
        if self._closure_ids().filter(F.col("_id") == node_id).isEmpty():
            raise ValueError(
                f"remove_subtree_from_closure: node {node_id!r} not in closure"
            )
        return self._rebuilt(self._adjacency().filter(F.col("node_id") != node_id))

    def move_subtree_in_closure(
        self, node_id: str, new_parent_id: str
    ) -> DataFrame:
        """Closure after REPARENTING ``node_id`` (with its entire subtree)
        under ``new_parent_id`` (category recut, org change, folder
        move): one ``parent_node_id`` in the adjacency list is rewritten
        and the dim is rebuilt. Raises on an unknown node, an unknown new
        parent, or a new parent inside the moved subtree (a cycle).
        """
        # one probe answers all three guards: the two self-pairs, and the
        # (node, new parent) pair that exists iff the move closes a cycle
        anc, desc = F.col("ancestor_node_id"), F.col("descendant_node_id")
        pairs = {
            tuple(r)
            for r in self.aggregation_dim.filter(
                ((F.col("net_level") == 0) & desc.isin(node_id, new_parent_id))
                | ((anc == node_id) & (desc == new_parent_id))
            )
            .select(anc, desc)
            .collect()
        }
        if (node_id, node_id) not in pairs:
            raise ValueError(
                f"move_subtree_in_closure: node {node_id!r} not in closure"
            )
        if (new_parent_id, new_parent_id) not in pairs:
            raise ValueError(
                f"move_subtree_in_closure: new parent {new_parent_id!r} "
                "not in closure"
            )
        if (node_id, new_parent_id) in pairs:
            raise ValueError(
                f"move_subtree_in_closure: new parent {new_parent_id!r} is "
                f"inside the subtree of {node_id!r} (would create a cycle)"
            )
        adjacency = self._adjacency()
        parent_type = adjacency.schema["parent_node_id"].dataType
        return self._rebuilt(
            adjacency.withColumn(
                "parent_node_id",
                F.when(
                    F.col("node_id") == node_id, F.lit(new_parent_id).cast(parent_type)
                ).otherwise(F.col("parent_node_id")),
            )
        )

    def update_node_attributes(self, updates: DataFrame) -> DataFrame:
        """Closure rows with DISPLAY attributes replaced for the given
        nodes — SCD-1 at closure grain, completing the incremental
        maintenance quartet (append / delete / move / update): renames
        and relabels happen constantly in real dimensions and change no
        structure, so rebuilding (or re-walking) for them is pure waste.

        ``updates`` carries ``node_id`` plus any subset of
        {node_name, level_name}: the NON-structural attributes. A
        structural column (parent_node_id, node_natural_key,
        level_number, sort order) in ``updates`` raises — parent changes
        are :meth:`move_subtree_in_closure`, natural-key changes alter
        fact joinability and need an explicit rebuild decision.

        One broadcast join per closure side (updates are change-sized);
        every row mentioning an updated node — as ancestor AND as
        descendant — gets the new values, exactly like a rebuild from
        the edited node table.
        """
        allowed = {"node_name", "level_name"}
        extra = set(updates.columns) - allowed - {"node_id"}
        if "node_id" not in updates.columns or extra:
            raise ValueError(
                "update_node_attributes: updates must carry node_id plus "
                f"a subset of {sorted(allowed)}; got {sorted(updates.columns)}"
            )
        attrs = [c for c in updates.columns if c != "node_id"]
        out = self.aggregation_dim
        for side in ("ancestor", "descendant"):
            u = updates.select(
                F.col("node_id").alias(f"_uid_{side}"),
                *[F.col(c).alias(f"_u_{side}_{c}") for c in attrs],
            )
            out = out.join(
                F.broadcast(u),
                out[f"{side}_node_id"] == u[f"_uid_{side}"],
                "left",
            )
            for c in attrs:
                out = out.withColumn(
                    f"{side}_{c}",
                    F.coalesce(F.col(f"_u_{side}_{c}"), F.col(f"{side}_{c}")),
                )
            out = out.drop(f"_uid_{side}", *[f"_u_{side}_{c}" for c in attrs])
        return out

    # -- persistence: the reference's CTAS materialization, cross-session --
    def save(self, base_path: str, *, fmt: str = "parquet") -> None:
        """Persist both dims (the reference materializes them as DuckDB
        tables via CTAS, ref :162-163,220-222; here: parquet/orc
        directories under base_path). The closure is written partitioned
        by ancestor_level_number — rollup queries that target one level
        (or slice net_level ranges) prune whole directories."""
        self.reporting_dim.write.mode("overwrite").format(fmt).save(
            f"{base_path}/reporting_dim"
        )
        self.aggregation_dim.write.mode("overwrite").format(fmt).partitionBy(
            "ancestor_level_number"
        ).save(f"{base_path}/aggregation_dim")
        # a re-save to the same base_path (e.g. after maintenance ops
        # grew the closure) must drop broadcast-probe verdicts taken
        # against the previous contents
        from ibis_olap_aggregation_spark.sources.io import _invalidate_probe_memo

        _invalidate_probe_memo()

    @staticmethod
    def load(spark, base_path: str, *, fmt: str = "parquet"):
        """Re-open persisted dims WITHOUT rebuilding (no walk, no source
        scan): returns (reporting_dim, aggregation_dim) DataFrames ready
        for hierarchical_rollup — a new session pays only the read."""
        rep = spark.read.format(fmt).load(f"{base_path}/reporting_dim")
        agg = spark.read.format(fmt).load(f"{base_path}/aggregation_dim")
        return rep, agg

    def unpersist(self) -> None:
        if self._walked is not None:
            self._walked.unpersist()
        self.nodes.unpersist()
        self.reporting_dim.unpersist()
        self.aggregation_dim.unpersist()

"""The benchmark's workloads: seeded operation streams, their execution
through the engine's public functions, and the check of every result.

An operation *class* is one shape of work (e.g. a part rollup with exact
distinct counts on a sort-merge join). Every round of a stream runs each
entry of its workload's class list once, in a seeded order, with seeded
parameters, so all seeds see the same mix of shapes and differ in their
inputs.
"""

from __future__ import annotations

import datetime
import itertools
import math
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ibis_olap_aggregation_spark import rollup as R
from ibis_olap_aggregation_spark import session as S
from ibis_olap_aggregation_spark.fixtures import GEO_NODES_SQL, PART_NODES_SQL, geo_nodes, part_nodes
from ibis_olap_aggregation_spark.hierarchy import HierarchyDimension

import datagen
import oracle
import tracing

# TPC-H scale of the generated tables: 3,000 customers (a 3,031-node geo
# dim, 12,086 closure rows), 4,000 parts (a 4,176-node part dim, 16,501
# closure rows), 30,000 orders and ~120,000 line items. Sized so a run
# with its set-up takes under a minute on 4 cores.
SCALE = 0.02
REPORT_COLS = ("node_id", "parent_node_id", "level_number", "node_sort_order")
HLL_REL_TOL = 0.08  # ~5 standard errors of an lgk=12 HLL sketch

# dim -> (fact table, fact key, date column, summed column, distinct column)
FACTS = {
    "geo": ("orders", "o_custkey", "o_orderdate", "o_totalprice", "o_clerkkey"),
    "part": ("lineitem", "l_partkey", "l_shipdate", "l_extendedprice", "l_orderkey"),
}
# maintenance base partials cover the orders outside the held-out 10%;
# each fact delta adds one quarter of the held-out orders
BASE_ORDERS = "o_orderkey % 10 <> 0"
DELTA_BATCHES = 4


@dataclass(frozen=True)
class Op:
    kind: str
    params: tuple  # sorted (name, value) pairs, so ops compare and print

    @property
    def p(self) -> dict:
        return dict(self.params)

    @property
    def label(self) -> str:
        return self.kind + "".join(f" {k}={v}" for k, v in self.params if not isinstance(v, (list, tuple)))


def _op(kind: str, **params) -> Op:
    return Op(kind, tuple(sorted(params.items())))


class Context:
    """State one benchmark run shares between its set-up and operations."""

    def __init__(self, spark, data_dir: str, tracer: tracing.Tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self._tables: dict = {}
        self.oracle = oracle.RollupOracle(data_dir)
        self.trees: dict[str, oracle.Tree] = {}
        self.dims: dict[str, HierarchyDimension] = {}
        self.by_order: dict[str, dict[int, str]] = {}
        self.base = None

    def tree(self, dim: str) -> oracle.Tree:
        if dim not in self.trees:
            self.trees[dim] = oracle.Tree(self.oracle.nodes(GEO_NODES_SQL if dim == "geo" else PART_NODES_SQL))
            self.oracle.register_closure(f"{dim}_closure", self.trees[dim])
        return self.trees[dim]

    def table(self, name: str):
        """The named table, loaded and first scanned on first use."""
        if name not in self._tables:
            with self.tracer.span("session.load_table"):
                df = S.load_table(self.spark, self.data_dir, name)
                df.count()
            self._tables[name] = df
        return self._tables[name]

    def base_partials(self):
        """Per-node partials over 90% of orders, the maintenance base state."""
        if self.base is None:
            with self.tracer.span("rollup.partials"):
                self.base = R.hierarchical_rollup_partials(
                    self.table("orders").filter(BASE_ORDERS),
                    self.dims["geo"].aggregation_dim,
                    "o_custkey",
                    sum_cols=[("o_totalprice", "sum_price")],
                    count_alias="n_facts",
                ).cache()
                self.base.count()
        return self.base


# -- operation kinds ----------------------------------------------------------
#
# Each kind has draw(rng, cls, tree, q) -> Op (pure; q in [0, 1) is the
# operation's stratum within its round), prepare(ctx, op) -> inputs
# (untimed), run(ctx, op, inputs, counters) -> result (timed) and
# check(ctx, op, inputs, result) (untimed; raises oracle.Mismatch).


def _date_window(rng: random.Random, q: float) -> tuple[str, str]:
    """A few days up to the whole fact date span: the width is at
    quantile ``q`` of a log-uniform distribution, the start is random."""
    span = (datagen.DATE_HI - datagen.DATE_LO).days + 121
    width = round(math.exp(math.log(3) + q * (math.log(span) - math.log(3))))
    start = datagen.DATE_LO + datetime.timedelta(days=rng.randrange(span - width + 1))
    return start.isoformat(), (start + datetime.timedelta(days=width - 1)).isoformat()


class RollupKind:
    """One seeded rollup with its result fetched to the driver."""

    @staticmethod
    def draw(rng, cls, tree, q):
        lo, hi = _date_window(rng, q)
        return _op("rollup", lo=lo, hi=hi, **cls)

    @staticmethod
    def prepare(ctx, op):
        return None

    @staticmethod
    def run(ctx, op, inputs, counters):
        p = op.p
        table, key, date_col, sum_col, distinct_col = FACTS[p["dim"]]
        facts = ctx.table(table).filter(
            F.col(date_col).between(
                F.lit(datetime.date.fromisoformat(p["lo"])), F.lit(datetime.date.fromisoformat(p["hi"]))
            )
        )
        closure = ctx.dims[p["dim"]].aggregation_dim
        with ctx.tracer.span("rollup.plan"):
            if p["measure"] == "additive":
                df = R.hierarchical_rollup_additive(
                    facts, closure, key, sum_cols=[(sum_col, "sum_price")],
                    count_alias="n_facts", broadcast_dim=p["broadcast"],
                )
            elif p["measure"] == "distinct":
                df = R.hierarchical_rollup(
                    facts, closure, key,
                    [F.countDistinct(distinct_col).alias("n_distinct"), F.count(F.lit(1)).alias("n_facts")],
                    broadcast_dim=p["broadcast"],
                )
            else:
                df = R.hierarchical_rollup_sketch(facts, closure, key, distinct_col, out="n_distinct")
        with ctx.tracer.span("rollup.execute"):
            result = df.toArrow()
        counters["_df"] = df
        return result

    @staticmethod
    def check(ctx, op, inputs, result):
        p = op.p
        table, key, date_col, sum_col, distinct_col = FACTS[p["dim"]]
        measures, sql = {
            "additive": (["sum_price", "n_facts"], f"CAST(SUM(CAST(f.{sum_col} AS DECIMAL(18,2))) AS DOUBLE), COUNT(*)"),
            "distinct": (["n_distinct", "n_facts"], f"COUNT(DISTINCT f.{distinct_col}), COUNT(*)"),
            "sketch": (["n_distinct"], f"COUNT(DISTINCT f.{distinct_col})"),
        }[p["measure"]]
        ctx.tree(p["dim"])
        expected = ctx.oracle.rollup(
            f"{p['dim']}_closure", table, key, sql,
            f"f.{date_col} BETWEEN DATE '{p['lo']}' AND DATE '{p['hi']}'",
        )
        oracle.check_rollup(
            result, ctx.by_order[p["dim"]], measures, expected,
            rel_tol=HLL_REL_TOL if p["measure"] == "sketch" else 0.0,
        )


class BuildKind:
    """Build a HierarchyDimension from an adjacency list and materialize
    both dims. ``keep`` registers the dim for later operations; otherwise
    the operation ends by unpersisting it."""

    @staticmethod
    def draw(rng, cls, tree, q):
        return _op("build", tree_seed=rng.randrange(2**31), keep=False, **cls)

    @staticmethod
    def prepare(ctx, op):
        p = op.p
        if p["shape"] in ("geo", "part"):
            return ctx.tree(p["shape"])
        nodes = datagen.synthetic_nodes(p["shape"], np.random.default_rng(p["tree_seed"]))
        pq.write_table(nodes, os.path.join(ctx.data_dir, f"synthetic_{p['tree_seed']}.parquet"))
        return oracle.Tree(nodes.to_pylist())

    @staticmethod
    def run(ctx, op, tree, counters):
        p = op.p
        shape = p["shape"]
        max_depth = 32
        if shape == "geo":
            with ctx.tracer.span("fixtures.nodes_plan"):
                nodes = geo_nodes(ctx.table("region"), ctx.table("nation"), ctx.table("customer"))
        elif shape == "part":
            with ctx.tracer.span("fixtures.nodes_plan"):
                nodes = part_nodes(ctx.table("part"))
        else:
            nodes = S.load_table(ctx.spark, ctx.data_dir, f"synthetic_{p['tree_seed']}")
            max_depth = datagen.SYNTHETIC_SHAPES[shape][1]
        with ctx.tracer.span("hierarchy.build"):
            dim = HierarchyDimension(nodes, dimension_name=shape, max_depth=max_depth)
        with ctx.tracer.span("hierarchy.reporting_materialize"):
            reporting = dim.reporting_dim.select(*REPORT_COLS).toArrow()
        with ctx.tracer.span("hierarchy.closure_materialize"):
            closure_rows = dim.aggregation_dim.count()
        if ctx.tracer.enabled:
            counters["cached_mb"] = tracing.cached_mb(ctx.spark)
            counters["closure_rows_per_node"] = closure_rows / reporting.num_rows
        if p["keep"]:
            ctx.dims[shape] = dim
        else:
            dim.unpersist()
        return reporting, closure_rows

    @staticmethod
    def check(ctx, op, tree, result):
        reporting, closure_rows = result
        by_order = oracle.check_reporting(reporting, tree)
        if closure_rows != tree.closure_size():
            raise oracle.Mismatch(f"closure has {closure_rows} rows, expected {tree.closure_size()} (sum of depths)")
        if op.p["keep"]:
            ctx.by_order[op.p["shape"]] = by_order


def _new_leaves(rng, tree, n):
    nations = sorted(n for n in tree.nodes if n.startswith("n:"))
    customers = sorted(n for n in tree.nodes if n.startswith("c:"))
    out = []
    for key in sorted(900_000_000 + k for k in rng.sample(range(10**8), n)):
        parent = rng.choice(nations) if rng.random() < 0.7 else rng.choice(customers)
        out.append((f"x:{key:09d}", key, f"New customer {key}", "Customer", parent))
    return out


class MaintenanceKind:
    """One seeded change applied to the geo dim's closure (or to the base
    partials) with the result fetched to the driver. Every change starts
    from the same base state."""

    @staticmethod
    def draw(rng, cls, tree, q):
        """The stratum ``q`` sets the size of the change (leaves added,
        level of the removed subtree, kind of move, names updated)."""
        change = cls["change"]
        regions = sorted(n for n in tree.nodes if n.startswith("r:"))
        nations = sorted(n for n in tree.nodes if n.startswith("n:"))
        customers = sorted(n for n in tree.nodes if n.startswith("c:"))
        size = 1 + int(q * 20)
        if change == "extend":
            return _op("maintain", change=change, leaves=tuple(_new_leaves(rng, tree, size)))
        if change == "remove":
            pool = customers if q < 0.5 else nations if q < 0.9 else regions
            return _op("maintain", change=change, node=rng.choice(pool))
        if change == "move":
            how = int(q * 3)
            if how == 0:
                node = rng.choice(nations)
                parent = rng.choice([r for r in regions if r != tree.nodes[node]["parent_node_id"]])
            elif how == 1:
                node = rng.choice(customers)
                parent = rng.choice([n for n in nations if n != tree.nodes[node]["parent_node_id"]])
            else:
                node, parent = rng.sample(customers, 2)
            return _op("maintain", change=change, node=node, parent=parent)
        if change == "update":
            picked = rng.sample(sorted(tree.nodes), size)
            return _op("maintain", change=change, names=tuple((n, f"Renamed {rng.randrange(10**6)}") for n in sorted(picked)))
        return _op("maintain", change=change, batch=int(q * DELTA_BATCHES))

    @staticmethod
    def prepare(ctx, op):
        p = op.p
        if p["change"] == "extend":
            cols = list(zip(*p["leaves"]))
            return ctx.spark.createDataFrame(
                pa.table(
                    {c: pa.array(v, pa.int64() if c == "node_natural_key" else pa.string()) for c, v in zip(oracle.NODE_COLS, cols)}
                )
            )
        if p["change"] == "update":
            return ctx.spark.createDataFrame(
                pa.table({"node_id": [n for n, _ in p["names"]], "node_name": [v for _, v in p["names"]]})
            )
        if p["change"] == "delta":
            return ctx.table("orders").filter(
                f"o_orderkey % 10 = 0 AND (o_orderkey DIV 10) % {DELTA_BATCHES} = {p['batch']}"
            )
        return None

    @staticmethod
    def run(ctx, op, inputs, counters):
        p = op.p
        dim = ctx.dims["geo"]
        change = p["change"]
        if change == "delta":
            return MaintenanceKind._fact_delta(ctx, inputs, dim)
        span, call = {
            "extend": ("hierarchy.extend_leaves", lambda: dim.extend_closure_with_leaves(inputs)),
            "remove": ("hierarchy.remove_subtree", lambda: dim.remove_subtree_from_closure(p["node"])),
            "move": ("hierarchy.move_subtree", lambda: dim.move_subtree_in_closure(p["node"], p["parent"])),
            "update": ("hierarchy.update_attrs", lambda: dim.update_node_attributes(inputs)),
        }[change]
        with ctx.tracer.span(span):
            return call().toArrow()

    @staticmethod
    def _fact_delta(ctx, delta, dim):
        with ctx.tracer.span("rollup.partials"):
            part = R.hierarchical_rollup_partials(
                delta, dim.aggregation_dim, "o_custkey",
                sum_cols=[("o_totalprice", "sum_price")], count_alias="n_facts",
            ).cache()
            part.count()
        with ctx.tracer.span("rollup.merge"):
            merged = R.merge_rollup_partials(
                [ctx.base, part], sum_aliases=["sum_price"], count_alias="n_facts"
            ).cache()
            merged.count()
        with ctx.tracer.span("rollup.finalize"):
            result = R.finalize_rollup_partials(merged, dim.aggregation_dim, sum_aliases=["sum_price"]).toArrow()
        merged.unpersist()
        part.unpersist()
        return result

    @staticmethod
    def check(ctx, op, inputs, result):
        p = op.p
        tree = ctx.tree("geo")
        change = p["change"]
        if change == "delta":
            expected = ctx.oracle.rollup(
                "geo_closure", "orders", "o_custkey",
                "CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), COUNT(*)",
                f"{BASE_ORDERS} OR (o_orderkey % 10 = 0 AND (o_orderkey // 10) % {DELTA_BATCHES} = {p['batch']})",
            )
            oracle.check_rollup(result, ctx.by_order["geo"], ["sum_price", "n_facts"], expected)
            return
        if change == "extend":
            edited = tree.edited(add=[dict(zip(oracle.NODE_COLS, row)) for row in p["leaves"]])
        elif change == "remove":
            edited = tree.edited(drop=[p["node"]])
        elif change == "move":
            edited = tree.edited(parent=(p["node"], p["parent"]))
        else:
            edited = tree.edited(rename=dict(p["names"]))
        oracle.check_closure(result, edited.closure_rows())


KINDS = {"rollup": RollupKind, "build": BuildKind, "maintain": MaintenanceKind}


# -- workloads ----------------------------------------------------------------


def _rollup_classes():
    out = []
    for dim in ("geo", "part"):
        for measure in ("additive", "distinct"):
            for broadcast in (True, False):
                out.append(("rollup", {"dim": dim, "measure": measure, "broadcast": broadcast}))
        out.append(("rollup", {"dim": dim, "measure": "sketch"}))
    return out


@dataclass
class Workload:
    name: str
    why: str
    classes: list = field(default_factory=list)  # (kind, class params): one operation per entry per round
    tables: tuple = ()  # tables loaded in set-up
    dims: tuple = ()  # dims built (and kept) in set-up
    base: bool = False  # maintenance base partials built in set-up


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "rollup_serving",
            "rollups over geo and part closures: the rollup layer does the work, the hierarchy walk none",
            # each class twice per round, at two window sizes: rollups are
            # short, and 20 per round keep the median off one or two outliers
            _rollup_classes() * 2,
            tables=("region", "nation", "customer", "part", "orders", "lineitem"),
            dims=("geo", "part"),
        ),
        Workload(
            "dim_build",
            "fresh dimension builds from geo, part and synthetic trees: the hierarchy layer does the work, rollup none",
            [("build", {"shape": s}) for s in ("geo", "part", *datagen.SYNTHETIC_SHAPES)],
            tables=("region", "nation", "customer", "part"),
        ),
        Workload(
            "incremental_maintenance",
            "closure edits and fact deltas from one base state: hierarchy and rollup on the write path",
            [("maintain", {"change": c}) for c in ("extend", "remove", "move", "update", "delta")],
            tables=("region", "nation", "customer", "orders"),
            dims=("geo",),
            base=True,
        ),
    )
}


def op_rounds(workload: Workload, seed: int, tree: oracle.Tree | None, tag: str = "timed"):
    """Endless seeded stream of rounds; a round is one operation per entry
    of the workload's class list, in a seeded order. Input sizes are
    stratified as a Latin square: in round ``r`` entry ``i`` draws from
    stratum ``(i + r) mod n`` of the size distribution, so every round
    spans the same range, each entry visits every stratum once per ``n``
    rounds, and the k-th round costs about the same under every seed.
    ``tree`` is the geo hierarchy the maintenance draws pick nodes from."""
    rng = random.Random(f"{workload.name}:{seed}:{tag}")
    n = len(workload.classes)
    for r in itertools.count():
        order = list(range(n))
        rng.shuffle(order)
        ops = []
        for i in order:
            kind, cls = workload.classes[i]
            ops.append(KINDS[kind].draw(rng, cls, tree, ((i + r) % n + rng.random()) / n))
        yield ops


def setup(ctx: Context, workload: Workload, execute) -> None:
    """Load tables, then build (and check) the dims and base state the
    workload's operations read. ``execute`` runs an Op as the loop does."""
    for name in workload.tables:
        ctx.table(name)
    for dim in workload.dims:
        rec = execute(_op("build", shape=dim, tree_seed=0, keep=True), f"s-{dim}")
        if not rec.ok:
            raise RuntimeError(f"set-up build of the {dim} dim failed: {rec.error}")
    if workload.base:
        ctx.base_partials()


def coverage_ops(workload: Workload, seed: int, tree: oracle.Tree) -> list[Op]:
    """For a traced run: one operation of every class of the other
    workloads' kinds this workload never runs (rollups on the geo dim
    only), so every per-layer metric is measured on every workload."""
    own = {kind for kind, _ in workload.classes}
    rng = random.Random(f"{workload.name}:{seed}:coverage")
    seen, ops = [], []
    for other in WORKLOADS.values():
        for kind, cls in other.classes:
            if kind in own or kind == "build" or (kind, cls) in seen:
                continue
            if kind == "rollup" and cls != {"dim": "geo", "measure": "additive", "broadcast": True}:
                continue
            seen.append((kind, cls))
            ops.append(KINDS[kind].draw(rng, cls, tree, rng.random()))
    return ops

"""Empirical scale smoke for the HIERARCHY family: amplify the sf0.1
customer population Nx (default 10x ~ 300k leaves), rebuild the
geography dimension from scratch, and time the walk + closure build and
the flagship rollup against it. Dimension BUILD is the heaviest single
bench entry (geo_dim_build ~5s), so its growth shape matters: the walk
is one join+union round per LEVEL (depth-bounded, not node-bounded) and
the closure is a map-side path explode — both must grow ~linearly in
node count, never with depth x nodes or quadratically.

Usage: python tools/dim_scale_smoke.py [amplification]
Writes nothing; amplified customers live only in the session.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ibis_olap_aggregation_spark.fixtures import geo_nodes
from ibis_olap_aggregation_spark.hierarchy import HierarchyDimension
from ibis_olap_aggregation_spark.rollup import hierarchical_rollup_additive
from ibis_olap_aggregation_spark.session import get_spark, load_tables

AMP = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SRC = "/root/testdata/sf0.1"


def _mat(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_and_roll(spark, customer, orders, tag: str) -> None:
    t = load_tables(spark, SRC, ("region", "nation"))
    n_nodes = customer.count() + 31  # + nations/regions/root
    t0 = time.perf_counter()
    dim = HierarchyDimension(
        geo_nodes(t["region"], t["nation"], customer),
        dimension_name=f"geo_{tag}",
        sort_key_col="node_id",
        flatten_levels=4,
    )
    _mat(dim.aggregation_dim)
    build_s = time.perf_counter() - t0
    closure_rows = dim.aggregation_dim.count()
    regimes = {}
    for regime in (True, False, "auto"):
        t0 = time.perf_counter()
        _mat(
            hierarchical_rollup_additive(
                orders, dim.aggregation_dim, "o_custkey",
                sum_cols=[("o_totalprice", "sum_totalprice")],
                count_alias="n",
                broadcast_dim=regime,
            )
        )
        regimes[str(regime)] = time.perf_counter() - t0
    print(
        f"{tag:8s} nodes={n_nodes:>9,} closure={closure_rows:>9,} "
        f"build={build_s:6.2f}s rollup_bcast={regimes['True']:6.2f}s "
        f"rollup_smj={regimes['False']:6.2f}s rollup_auto={regimes['auto']:6.2f}s"
    )


def main() -> None:
    spark = get_spark("dim-scale-smoke")
    t = load_tables(spark, SRC, ("customer", "orders"))
    t["customer"].count()
    t["orders"].count()

    build_and_roll(spark, t["customer"], t["orders"], "base")

    # amplify customers: copy k of customer C gets key C*AMP+k and joins
    # the same nation — the tree gets WIDER (more leaves), depth fixed,
    # exactly how a real geography dim grows
    ks = spark.range(AMP).select(F.col("id").alias("k"))
    wide = (
        t["customer"]
        .crossJoin(ks)
        .select(
            (F.col("c_custkey") * AMP + F.col("k")).alias("c_custkey"),
            F.concat_ws("#", F.col("c_name"), F.col("k").cast("string")).alias(
                "c_name"
            ),
            "c_nationkey",
        )
    )
    # orders re-keyed to the k=0 copies so the rollup stays joinable
    orders = t["orders"].withColumn(
        "o_custkey", F.col("o_custkey") * AMP
    )
    build_and_roll(spark, wide, orders, f"x{AMP}")

    # privacy family rides the same customer axis: time the t-closeness
    # audit (one customer scan into a map-side (QI, band) aggregate —
    # must track the scan ~linearly, the EMD grid is constant-size).
    # The amplified table needs a real dir because registry queries
    # take sf_dir; the copies keep c_acctbal so the band distribution
    # (and the audit's work shape) is identical at every AMP.
    import shutil
    import tempfile

    from ibis_olap_aggregation_spark.queries import QUERIES

    work = tempfile.mkdtemp(prefix="dim_scale_priv_")
    try:
        wide_full = (
            t["customer"]
            .crossJoin(ks)
            .withColumn(
                "c_custkey", F.col("c_custkey") * AMP + F.col("k")
            )
            .drop("k")
        )
        wide_full.write.parquet(os.path.join(work, "customer.parquet"))
        # the audit loads ONLY the customer table — nothing else needs
        # to exist in the work dir
        for tag, d in (("base", SRC), (f"x{AMP}", work)):
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                _mat(QUERIES["privacy_t_closeness_audit"](spark, d))
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            print(f"t_closeness {tag:8s} {best:6.2f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()


# Measured 2026-08-14 (local[32], shared VM):
#   AMP=10:  base nodes=15,031  closure=60,086    build=5.04s rollup=1.67s
#            x10  nodes=150,031 closure=600,086   build=5.23s rollup=0.89s
#   AMP=50:  base nodes=15,031  closure=60,086    build=4.70s rollup=1.45s
#            x50  nodes=750,031 closure=3,000,086 build=24.09s rollup=1.67s
# The build is FLAT at 10x nodes (cost is the per-LEVEL round count +
# fixed overhead, not per-node work) and grows ~5x at 50x nodes — far
# sub-linear; the closure-rollup stays constant because its cost is the
# fact side, and the closure join just broadcasts a bigger (but still
# skinny) table. No depth x nodes or quadratic term anywhere.
#
# Round-9 (2026-08-15), join-regime split at AMP=50 (closure 3.0M rows,
# PAST the one 2M broadcast row cap, DIM_BROADCAST_ROW_CAP, so auto
# picks sort-merge; since the build notes the closure row count, auto
# decides from it without a probe job, and one verdict covers the
# closure join and the attribute attach):
#   base nodes=15,031  closure=60,086    build= 4.83s
#        rollup_bcast=1.54s rollup_smj=1.31s rollup_auto=0.81s
#   x50  nodes=750,031 closure=3,000,086 build=18.08s
#        rollup_bcast=1.49s rollup_smj=1.35s rollup_auto=1.40s
# The sort-merge regime is at PARITY with broadcast at the crossover
# scale — switching off broadcast for oversized closures costs nothing
# here and removes the executor-memory ceiling.
#
# Round-14b (2026-08-16), privacy axis at AMP=10 (1.5M customers):
#   base build=6.51s  x10 build=7.11s (flat again, per-level rounds)
#   t_closeness base=1.35s  x10=1.38s — the one fact scan is the whole
#   cost at this SF (map-side combined (QI, band) aggregate; the EMD
#   grid is constant-size), so 10x input is absorbed into the scan's
#   fixed overhead. Nothing grows with the grid or with bands.

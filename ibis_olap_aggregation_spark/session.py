"""SparkSession factory and Parquet table loaders.

Replaces the reference's DuckDB file-database connection
(reference main.py:18-19, create_database.py:17) with Parquet-backed
DataFrames. Config targets both local[N] testing and large clusters:
AQE on (runtime re-plan, skew-join handling, partition coalescing),
Arrow on (fast toPandas / pandas_udf batches), UTC session timezone
(oracle comparability).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# cgroup v2 and v1 memory limits; "max" or an unreadable file means unset
_CGROUP_MEM_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def physical_memory_bytes() -> int:
    """Memory this process may use: ``MemTotal`` from /proc/meminfo,
    lowered to the cgroup limit when one is set (v1 reports "no limit"
    as a huge number, which the min discards)."""
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))
    for path in _CGROUP_MEM_LIMITS:
        try:
            with open(path) as f:
                total = min(total, int(f.read().strip()))
        except (OSError, ValueError):
            continue
    return total


def default_driver_memory() -> str:
    """Local driver heap: a quarter of physical memory, in megabytes. The
    JVM adds off-heap memory and the Python workers their own on top, so
    a heap near physical memory gets the JVM killed mid-run."""
    return f"{physical_memory_bytes() // 4 // 2**20}m"


def get_spark(app_name: str = "ibis_olap_aggregation_spark") -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is cluster-safe (AQE, Arrow, timezone). Locally
    the width is the CPUs this process may run on and the driver heap
    is :func:`default_driver_memory`; ``SPARK_GRAFT_CPUS`` and
    ``SPARK_GRAFT_DRIVER_MEM`` override them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_MASTER"):  # local dev/test default
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Columns written as parquet TIMESTAMP(NANOS), which Spark's vectorized
# reader rejects unless spark.sql.legacy.parquet.nanosAsLong=true (it
# then surfaces them as bigint nanos). We convert back to timestamp_ntz
# with integer division (ns -> us) — float division would lose precision
# above 2^53 ns.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar Parquet scan; Catalyst pushes filters/projections into it."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    dtypes = dict(df.dtypes)
    for c in _NANOS_TS_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(
                c,
                F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz"),
            )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load every testdata table as a dict of DataFrames and register
    temp views so the SQL API sees the same catalog names."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin a small scan up to the configured shuffle width, for
    CPU-HEAVY per-row chains only (vector math, tokenize/shingle/hash
    folds): parquet byte-splitting hands any input smaller than
    maxPartitionBytes to a single task, serializing the dominant
    expression work onto one core. No-op whenever the scan already
    meets the width — at real scale the input has thousands of splits
    and a round-robin exchange of the payload would be the bug, not
    the fix. Keep plain scans (filter + aggregate) un-spread: for them
    the extra exchange is pure cost."""
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if df.rdd.getNumPartitions() < width:
        df = df.repartition(width)
    return df


# Above this many rows a dim-derived join side stops being broadcast and
# is attached with a sort-merge hint instead. A broadcast HINT is never
# dropped by Spark on size, so an unconditional F.broadcast on an
# SF-LINEAR side (supplier = SFx10k, part = SFx200k, per-node/customer
# aggregates, hierarchy node tables) becomes an executor-memory cliff at
# 100x scale; 2M rows x ~32 B of join key + payload is ~64 MB serialized
# — the practical broadcast ceiling. The one broadcast row cap of the
# dim attaches and the rollups' closure joins; a module constant so
# tests can force either regime.
DIM_BROADCAST_ROW_CAP = 2_000_000

# Session-scoped memo of dim_side probe verdicts: a WeakKeyDictionary
# keyed on the SparkSession OBJECT (a stopped-and-collected session's
# verdicts vanish with it — an id()-based key could be recycled by a
# later session and serve stale verdicts), with inner keys of
# (effective cap, md5 of the CANONICALIZED analyzed plan). Spark's plan
# canonicalization normalizes expression ids (it is what CacheManager
# uses for plan equality), so the same logical dim re-constructed by
# each of a sweep's queries maps to one key — one bounded count job per
# distinct dim per session instead of one per call site per query (39
# sites; VERDICT r11 item 1). In-place writes through sources/io.py
# invalidate the memo; a stale verdict could anyway only flip the JOIN
# REGIME, never the output (both regimes are output-pinned by
# tests/test_dim_side_regimes.py and the test_plans.py pins). The cap
# is part of the key so the forced-regime test hook (monkeypatching
# DIM_BROADCAST_ROW_CAP) always takes a fresh probe.
import weakref as _weakref

_DIM_SIDE_MEMO: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()
DIM_SIDE_PROBE_STATS = {"probes": 0, "hits": 0}

# Row bounds the engine already knows (a built dim's node and closure
# row counts), keyed on the DataFrame OBJECT: DataFrames hash by
# identity and .cache() returns self, so a bound noted on a frame
# answers for exactly that frame and dies with it. Checked before the
# memo, whose plan keys cannot tell createDataFrame-backed frames apart.
_NOTED_ROWS: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def note_rows(df: DataFrame, n: int | None) -> DataFrame:
    """Record that ``df`` has at most ``n`` rows, so ``probe_small``
    answers for it with no job; ``None`` records nothing. Returns
    ``df``."""
    if n is not None:
        _NOTED_ROWS[df] = n
    return df

# Plan nodes whose canonicalized string carries NO data identity:
# createDataFrame/RDD-backed frames all canonicalize to the same
# "LogicalRDD [none#0L]" regardless of contents (empirically confirmed
# — two same-schema local frames collide), and memory-sink scans
# snapshot mutable state. Plans containing any of these are NEVER
# memoized — the probe just runs (local/driver-side inputs are cheap to
# count anyway).
_UNMEMOIZABLE_PLAN_NODES = ("LogicalRDD", "LocalRelation", "MemoryPlan")


def _dim_side_memo_entry(df: DataFrame, cap: int):
    """(per-session memo dict, key) for ``df`` — (None, None) when the
    plan must not be memoized (Connect API without ``_jdf``, or a
    data-identity-less plan node)."""
    import hashlib

    try:
        canon = df._jdf.queryExecution().analyzed().canonicalized().toString()
        sess_obj = df.sparkSession
    except Exception:  # noqa: BLE001 - e.g. Spark Connect: no _jdf
        return None, None
    if any(node in canon for node in _UNMEMOIZABLE_PLAN_NODES):
        return None, None
    inner = _DIM_SIDE_MEMO.get(sess_obj)
    if inner is None:
        inner = _DIM_SIDE_MEMO.setdefault(sess_obj, {})
    return inner, (cap, hashlib.md5(canon.encode()).hexdigest())


def clear_dim_side_memo() -> None:
    """Drop all memoized probe verdicts (called by every in-place table
    write in sources/io.py, and by tests that mutate storage directly)."""
    _DIM_SIDE_MEMO.clear()


def dim_side(
    df: DataFrame, cap: int | None = None, *, cache_if_probing: bool = False
) -> DataFrame:
    """Broadcast-or-merge resolver for SF-LINEAR dim-derived join sides.

    Returns a broadcast hint when ``probe_small`` finds ``df`` under
    ``cap`` rows (default ``DIM_BROADCAST_ROW_CAP``, read at call time),
    a sort-merge hint at/above it — making "broadcast-sized" a CHECKED
    bound instead of a docstring claim. A row bound noted with
    ``note_rows`` answers with no job; otherwise a bounded
    ``limit(cap).count()`` probe runs (one cheap job over a dim-sized
    input; on a query-cached input the probe populates the cache the
    join then reads), memoized per (session, cap, canonical plan), so a
    bench pass pays ~#distinct-dims probe jobs, not #call-sites x
    #queries. Constant-size sides (nation/region's fixed 25/5 rows,
    single-row scalar aggregates, fixed-k codebooks/probes) keep their
    unconditional broadcast hints; see the broadcast audit table in
    PARITY.md (tools/broadcast_audit.py keeps it honest). The rollups'
    ``broadcast_dim="auto"`` resolves through the same ``probe_small``
    and cap; graph keeps its own node/edge-cap regime switches.

    ``cache_if_probing`` (ADVICE r11 #4): for a DERIVED side (a plan
    with shuffles under it — an aggregate, an iterative closure), a
    memo-MISS probe executes that plan once for the bounded count and
    the join executes it again — two separate ACTIONS, which AQE
    stage reuse cannot span. Passing True routes the side through
    ``query_cache`` ONLY on a memo miss, so the probe populates the
    cache the join then reads (measured at sf0.1, one-shot sessions:
    graph_adamic_adar 4.47s -> 3.39s, hierarchy_weighted_rollup
    1.80s -> 1.66s). On a memo HIT the side is returned uncached —
    there is no probe to amortize, and an unconditionally cached side
    measured ~0.5s SLOWER per warm invocation (cache write + read
    loses to a straight recompute). Leave False for scan-filter
    sides: their probes are limit-bounded scans (early-terminating,
    cheap at any SF), and caching a raw scan just duplicates parquet
    pages into executor memory. Self-joins WITHIN one action (q2's
    costs/mn) need neither: AQE reuses the materialized shuffle stage
    (interleaved A/B at sf0.1: caching was 0.2s slower)."""
    from pyspark.sql import functions as F

    if cap is None:
        cap = DIM_BROADCAST_ROW_CAP
    if cache_if_probing:
        memo, key = _dim_side_memo_entry(df, cap)
        if memo is None or key not in memo:
            df = query_cache(df)
    if probe_small(df, cap):
        return F.broadcast(df)
    return df.hint("merge")


def probe_small(df: DataFrame, cap: int) -> bool:
    """True iff ``df`` has fewer than ``cap`` rows: from a bound noted
    with ``note_rows`` when there is one (no job), else from the memo,
    else from a bounded count probe. Either answer without a job counts
    as a hit in ``DIM_SIDE_PROBE_STATS``. The one verdict store behind
    ``dim_side`` and the rollups' ``broadcast_dim="auto"``."""
    noted = _NOTED_ROWS.get(df)
    if noted is not None:
        DIM_SIDE_PROBE_STATS["hits"] += 1
        return noted < cap
    memo, key = _dim_side_memo_entry(df, cap)
    if memo is not None and key in memo:
        DIM_SIDE_PROBE_STATS["hits"] += 1
        return memo[key]
    DIM_SIDE_PROBE_STATS["probes"] += 1
    small = df.limit(cap).count() < cap
    if memo is not None:
        memo[key] = small
    return small


# Query-scoped cache registry: see query_cache/release_query_caches.
# THREAD-LOCAL: Spark drivers legitimately run queries from multiple
# threads, and a shared list would let thread B's drain release thread
# A's live caches mid-construction (a recompute slowdown, not a
# correctness bug — but it breaks the one-query bound the registry
# exists to guarantee). Each thread drains only its own caches.
import threading as _threading

_QUERY_CACHES = _threading.local()


def _query_cache_list() -> list[DataFrame]:
    lst = getattr(_QUERY_CACHES, "items", None)
    if lst is None:
        lst = _QUERY_CACHES.items = []
    return lst


def _query_cleanup_list() -> list:
    lst = getattr(_QUERY_CACHES, "cleanups", None)
    if lst is None:
        lst = _QUERY_CACHES.cleanups = []
    return lst


def register_query_cleanup(fn) -> None:
    """Register a zero-arg callback released with the calling thread's
    query-scoped caches (``release_query_caches``): the generic hook for
    per-query side artifacts that outlive the query's construction —
    memory-sink temp views, streaming checkpoint dirs, tmp state trees
    (ADVICE r11 item 2: a 252-query sweep otherwise accumulates one
    drained memory sink + checkpoint dir per streaming-twin invocation
    until session stop). Same consumption contract as query_cache: the
    caller (bench/driver/sweep) materializes a query's result before
    invoking the next registry query, so releasing at the NEXT
    invocation never destroys data a consumer still needs — with one
    difference: a released CACHE recomputes transparently, a released
    ARTIFACT is gone, so cleanup callbacks are only for artifacts whose
    results have been fully drained into the returned plan or are
    re-creatable on re-invocation."""
    _query_cleanup_list().append(fn)


def query_cache(df: DataFrame) -> DataFrame:
    """``cache()`` for PERFORMANCE-ONLY query-scoped intermediates,
    tracked so the registry can release them between queries.

    The problem (VERDICT r4/r5 finding #2): ``Dataset.cache()``
    registers a CacheManager entry that survives — disk blocks included
    once memory evicts — until an explicit ``unpersist``, and a lazily
    returned query result has no in-query point to issue one; across a
    182-query sweep those entries accumulate for the session lifetime.
    Draining at the NEXT registry-query invocation
    (``release_query_caches``, called by the ``register`` wrapper)
    bounds a sweep to ONE query's caches live at a time.

    Why not an eager localCheckpoint: measured 2.4-3.4x slower on the
    hot corpus-sized intermediates (dedup_semantic_ivf 1.24s -> 4.27s
    median at sf0.1) — row-serialized checkpoint blocks plus an extra
    materialization job lose badly to the columnar in-memory cache.

    Releasing is always SAFE here because Spark caches are transparent:
    a consumer that materializes after release recomputes the same
    values from lineage. That safety is exactly why this helper is for
    performance-only caches of DETERMINISTIC plans — never for pinning
    nondeterministically partitioned intermediates whose downstream
    depends on the materialized layout (the global ranker's case, which
    keeps an eager localCheckpoint so its lineage CANNOT re-sample —
    see operators/ranking.py).
    """
    _query_cache_list().append(df)
    return df.cache()


def release_query_caches() -> None:
    """Unpersist every tracked query-scoped cache of the CALLING thread
    (idempotent; called by the registry wrapper at each top-level query
    invocation and safe to call directly after consuming a query's
    result).

    Caveat — the registry is thread-local, so wrapper-driven draining
    only happens on the SAME thread's next query: the final query of a
    sweep, and any query run on a short-lived worker thread, would
    otherwise leave its caches pinned until session stop. Drivers that
    consume results (bench.py's ``materialize``, the sweep mirror)
    therefore call this explicitly after each result; anything spawning
    per-query worker threads must call it ON that thread before the
    thread exits (another thread cannot reach the registry entries)."""
    lst = _query_cache_list()
    while lst:
        try:
            lst.pop().unpersist()
        except Exception:  # noqa: BLE001 - a stopped session never blocks release
            pass
    cleanups = _query_cleanup_list()
    while cleanups:
        try:
            cleanups.pop()()
        except Exception:  # noqa: BLE001 - a stopped session never blocks release
            pass

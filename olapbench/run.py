"""Run one workload of the hierarchy-OLAP benchmark.

    python3 olapbench/run.py --workload rollup_serving --seed 1 --seconds 4 --trace 0

Run from the repository root. One process, one closed-loop client: the
next operation starts when the previous one has returned and its result
has been checked. Spark runs on ``local[<cores>]``. Human-readable lines
go to stdout first; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import tracing  # noqa: E402

CPU_START = tracing.cpu_ticks()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".olapbench_out")  # per-run span and operation logs

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.load_table_s": "s",
    "session.probe_jobs": "count",
    "session.probe_hit_ratio": "ratio",
    "fixtures.nodes_plan_s": "s",
    "fixtures.self_s": "s",
    "hierarchy.build_s": "s",
    "hierarchy.reporting_materialize_s": "s",
    "hierarchy.closure_materialize_s": "s",
    "hierarchy.jobs_per_build": "count",
    "hierarchy.tasks_per_build": "count",
    "hierarchy.closure_rows_per_node": "ratio",
    "hierarchy.cached_mb": "MB",
    "hierarchy.extend_leaves_s": "s",
    "hierarchy.remove_subtree_s": "s",
    "hierarchy.move_subtree_s": "s",
    "hierarchy.update_attrs_s": "s",
    "hierarchy.jobs_per_maintenance_op": "count",
    "hierarchy.self_s": "s",
    "rollup.plan_s": "s",
    "rollup.execute_s": "s",
    "rollup.jobs_per_query": "count",
    "rollup.tasks_per_query": "count",
    "rollup.exchanges_per_query": "count",
    "rollup.shuffle_mb_per_query": "MB",
    "rollup.expansion_ratio": "ratio",
    "rollup.partials_s": "s",
    "rollup.merge_s": "s",
    "rollup.finalize_s": "s",
    "rollup.self_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_used_mb": "MB",
    "op.self_s": "s",
    "trace.overhead_ratio": "ratio",
}


@dataclass
class Rec:
    """One executed operation. ``latency`` is its wall time net of CPU
    steal (see ``tracing.net_of_steal``); ``wall`` is the raw wall time."""

    op_id: str
    kind: str
    label: str
    latency: float = 0.0
    wall: float = 0.0
    ok: bool = False
    error: str | None = None
    counters: dict = field(default_factory=dict)


def pin_environment(run_dir: str) -> None:
    """Settings the engine reads from the environment, pinned per run:
    every core of this machine, a driver heap well under physical memory,
    and Spark's scratch and temp files inside this run's directory. The
    heap is fixed and pre-touched, so peak RSS does not depend on when
    the garbage collector chose to grow it."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = min(2048, phys_mb // 4)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_mb}m -XX:+AlwaysPreTouch"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
            "pyspark-shell",
        ]
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Executes operations for one run and keeps every record."""

    def __init__(self, ctx, jvm):
        self.ctx = ctx
        self.jvm = jvm
        self.records: list[Rec] = []

    def execute(self, op, op_id: str) -> Rec:
        from ibis_olap_aggregation_spark import session as S
        from workloads import KINDS

        ctx, kind = self.ctx, KINDS[op.kind]
        rec = Rec(op_id, op.kind, op.label)
        self.records.append(rec)
        traced = ctx.tracer.enabled
        df = None
        try:
            inputs = kind.prepare(ctx, op)
            if traced:
                ctx.spark.sparkContext.setJobGroup(op_id, op.label)
                probes0 = dict(S.DIM_SIDE_PROBE_STATS)
            ctx.tracer.op_id = op_id
            cpu0 = tracing.cpu_ticks()
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("op"):
                    result = kind.run(ctx, op, inputs, rec.counters)
            finally:
                rec.wall = time.perf_counter() - t0
                rec.latency = tracing.net_of_steal(rec.wall, cpu0, tracing.cpu_ticks())
                ctx.tracer.op_id = "setup"
                df = rec.counters.pop("_df", None)
            kind.check(ctx, op, inputs, result)
            rec.ok = True
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            rec.error = f"{type(e).__name__}: {e}"[:300]
            print(f"operation {op_id} ({op.label}) failed: {rec.error}", file=sys.stderr)
        if traced:
            c = rec.counters
            c["jobs"], c["tasks"] = tracing.job_counts(ctx.spark, op_id)
            c["probes"] = S.DIM_SIDE_PROBE_STATS["probes"] - probes0["probes"]
            c["hits"] = S.DIM_SIDE_PROBE_STATS["hits"] - probes0["hits"]
            c["heap_mb"] = self.jvm.heap_used_mb()
            if df is not None and rec.ok:
                c.update(tracing.plan_metrics(df))
        return rec

    def window(self, rounds, seconds: float, alternate: bool = False) -> list[Rec]:
        """Closed loop over whole rounds until the operations' own time
        adds up to ``seconds``, so every operation class is equally
        represented; checks between operations are not counted. With
        ``alternate``, rounds run untraced (ids ``u*``), traced (ids
        ``t*``), traced, untraced, and so on in whole blocks of four, so
        the JIT warm-up that continues through the window speeds both
        halves alike; otherwise the tracer is left as is and ids are
        ``t*``."""
        recs: list[Rec] = []
        busy = 0.0
        k = 0
        while busy < seconds or (alternate and k % 4):
            traced = k % 4 in (1, 2)
            if alternate:
                self.ctx.tracer.enabled = traced
            prefix = "u" if alternate and not traced else "t"
            for op in next(rounds):
                rec = self.execute(op, f"{prefix}{len(recs)}")
                busy += rec.latency
                recs.append(rec)
            k += 1
        if alternate:
            self.ctx.tracer.enabled = True
        return recs


def _median(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def end_to_end_metrics(recs: list[Rec], setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    lat = [r.latency for r in recs]
    tail, pct, n = tracing.latency_tail(lat)
    values = {
        "setup_s": setup_s,
        "ops_per_s": len(recs) / sum(lat),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail,
        "peak_rss_mb": rss_mb,
    }
    return values, {
        "latency_tail_percentile": pct,
        "latency_samples": n,
        "window_steal_share": 1 - sum(lat) / sum(r.wall for r in recs),
    }


def per_layer_metrics(tracer, records: list[Rec], untraced: list[Rec], traced: list[Rec], gc_s: float) -> dict:
    """Per-layer numbers from the traced run: set-up, the traced rounds
    and the coverage operations (warm-up and untraced rounds excluded).
    ``gc_s`` is JVM GC time per operation of the timed window."""
    used = [r for r in records if not r.op_id.startswith(("w", "u"))]
    ops = [r for r in used if not r.op_id.startswith(("s-", "c-")) and "probes" in r.counters]
    used_ids = {r.op_id for r in used} | {"setup"}
    spans = [s for s in tracer.spans if s.op_id in used_ids]
    selfs = tracing.self_times(tracer.spans)

    def span_s(name):
        return _median(s.duration for s in spans if s.name == name)

    def counter(kind, key):
        return _median(r.counters[key] for r in used if r.kind == kind and key in r.counters)

    def layer_self(layer):
        per_op: dict[str, float] = {}
        for s in spans:
            if s.layer == layer and s.op_id != "setup":
                per_op[s.op_id] = per_op.get(s.op_id, 0.0) + selfs[s.id]
        return _median(per_op.values())

    probes = sum(r.counters["probes"] for r in ops)
    hits = sum(r.counters["hits"] for r in ops)
    return {
        "session.get_spark_s": span_s("session.get_spark"),
        "session.load_table_s": span_s("session.load_table"),
        "session.probe_jobs": probes / len(ops),
        "session.probe_hit_ratio": hits / (hits + probes) if hits + probes else 0.0,
        "fixtures.nodes_plan_s": span_s("fixtures.nodes_plan"),
        "fixtures.self_s": layer_self("fixtures"),
        "hierarchy.build_s": span_s("hierarchy.build"),
        "hierarchy.reporting_materialize_s": span_s("hierarchy.reporting_materialize"),
        "hierarchy.closure_materialize_s": span_s("hierarchy.closure_materialize"),
        "hierarchy.jobs_per_build": counter("build", "jobs"),
        "hierarchy.tasks_per_build": counter("build", "tasks"),
        "hierarchy.closure_rows_per_node": counter("build", "closure_rows_per_node"),
        "hierarchy.cached_mb": counter("build", "cached_mb"),
        "hierarchy.extend_leaves_s": span_s("hierarchy.extend_leaves"),
        "hierarchy.remove_subtree_s": span_s("hierarchy.remove_subtree"),
        "hierarchy.move_subtree_s": span_s("hierarchy.move_subtree"),
        "hierarchy.update_attrs_s": span_s("hierarchy.update_attrs"),
        "hierarchy.jobs_per_maintenance_op": counter("maintain", "jobs"),
        "hierarchy.self_s": layer_self("hierarchy"),
        "rollup.plan_s": span_s("rollup.plan"),
        "rollup.execute_s": span_s("rollup.execute"),
        "rollup.jobs_per_query": counter("rollup", "jobs"),
        "rollup.tasks_per_query": counter("rollup", "tasks"),
        "rollup.exchanges_per_query": counter("rollup", "exchanges"),
        "rollup.shuffle_mb_per_query": counter("rollup", "shuffle_mb"),
        "rollup.expansion_ratio": counter("rollup", "expansion"),
        "rollup.partials_s": span_s("rollup.partials"),
        "rollup.merge_s": span_s("rollup.merge"),
        "rollup.finalize_s": span_s("rollup.finalize"),
        "rollup.self_s": layer_self("rollup"),
        "jvm.gc_s": gc_s,
        "jvm.heap_used_mb": _median(r.counters["heap_mb"] for r in traced),
        "op.self_s": layer_self("op"),
        "trace.overhead_ratio": _median(r.latency for r in traced) / _median(r.latency for r in untraced) - 1,
    }


def write_jsonl(path: str, rows) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")


def run(args) -> dict:
    if not os.path.isfile(os.path.join(ROOT, "ibis_olap_aggregation_spark", "__init__.py")):
        raise SystemExit(f"no engine package under {ROOT}: run from a checkout of the repository")
    run_dir = os.path.join(ROOT, ".olapbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = ctx = None
    try:
        pin_environment(run_dir)
        sys.path.insert(0, ROOT)
        import datagen
        import workloads as W
        from ibis_olap_aggregation_spark import session as S

        if args.workload not in W.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {', '.join(W.WORKLOADS)}")
        wl = W.WORKLOADS[args.workload]
        data_dir = os.path.join(run_dir, "data")
        datagen.write_tables(datagen.make_tables(args.seed, W.SCALE), data_dir)
        tracer = tracing.Tracer(enabled=bool(args.trace))
        with tracer.span("session.get_spark"):
            spark = S.get_spark("olapbench")
        ctx = W.Context(spark, data_dir, tracer)
        jvm = tracing.JvmProbe(spark)
        runner = Runner(ctx, jvm)
        W.setup(ctx, wl, runner.execute)
        geo = ctx.tree("geo")
        for i, op in enumerate(next(W.op_rounds(wl, args.seed, geo, tag="warmup"))):
            runner.execute(op, f"w{i}")
        setup_wall = time.perf_counter() - T_START
        setup_s = tracing.net_of_steal(setup_wall, CPU_START, tracing.cpu_ticks())
        extra = {}
        if args.trace:
            gc0 = jvm.gc_seconds()
            timed = runner.window(W.op_rounds(wl, args.seed, geo), args.seconds, alternate=True)
            gc_s = (jvm.gc_seconds() - gc0) / len(timed)
            untraced = [r for r in timed if r.op_id.startswith("u")]
            traced = [r for r in timed if r.op_id.startswith("t")]
            cover = W.coverage_ops(wl, args.seed, geo)
            if cover and "geo" not in ctx.dims:
                runner.execute(W._op("build", shape="geo", tree_seed=0, keep=True), "c-geo")
            if any(op.kind == "maintain" for op in cover):
                ctx.base_partials()
            for i, op in enumerate(cover):
                runner.execute(op, f"c{i}")
            values = per_layer_metrics(tracer, runner.records, untraced, traced, gc_s)
            units = PER_LAYER
            selfs = tracing.self_times(tracer.spans)
            write_jsonl(
                os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl"),
                ({**vars(s), "self_s": selfs[s.id]} for s in tracer.spans),
            )
        else:
            timed = runner.window(W.op_rounds(wl, args.seed, geo), args.seconds)
            rss = tracing.vm_hwm_mb(jvm.pid) + tracing.vm_hwm_mb()
            values, extra = end_to_end_metrics(timed, setup_s, rss)
            extra["setup_steal_share"] = 1 - setup_s / setup_wall
            units = END_TO_END
    finally:
        if ctx is not None:
            ctx.oracle.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    write_jsonl(
        os.path.join(OUT_DIR, f"ops-{args.workload}-seed{args.seed}-trace{args.trace}.jsonl"),
        (vars(r) for r in runner.records),
    )
    failed = sum(not r.ok for r in runner.records)
    attempted = len(runner.records)
    for name, unit in units.items():
        print(f"{name} = {values[name]:.6g} {unit}")
    for name, v in extra.items():
        print(f"{name} = {v:.6g}")
    print(f"failed_ops_ratio = {failed / attempted:.6g} ratio ({failed} of {attempted} operations)")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="rollup_serving, dim_build or incremental_maintenance")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(ap.parse_args(argv))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()

"""Bench harness trustworthiness (VERDICT r5 perf task #1): round 5
proved 27% same-code headline variance on single-shot timings, so the
bench now reports median-of-N with spread and gates regressions on a
dual (absolute AND relative) threshold. These tests pin the gate logic
and prove an injected slowdown actually fires it — no Spark needed."""

from __future__ import annotations

import bench


def test_gate_fires_on_real_regression():
    # 1.0s -> 2.0s: +1.0s absolute (>0.75) and +100% relative (>30%)
    assert bench.regression_gate({"q": 2.0}, {"q": 1.0}) == {"q": 1.0}


def test_gate_dual_threshold_suppresses_noise():
    # big relative, small absolute: a 0.1s query jittering to 0.5s
    assert bench.regression_gate({"q": 0.5}, {"q": 0.1}) == {}
    # big absolute, small relative: a 10s query drifting to 10.8s (8%)
    assert bench.regression_gate({"q": 10.8}, {"q": 10.0}) == {}
    # under the absolute floor even at +200%
    assert bench.regression_gate({"q": 0.9}, {"q": 0.3}) == {}
    # improvements and new queries never flag
    assert bench.regression_gate({"q": 0.5, "new": 9.9}, {"q": 2.0}) == {}


def test_gate_thresholds_are_parameterizable():
    flagged = bench.regression_gate(
        {"q": 0.2}, {"q": 0.1}, abs_floor=0.05, rel=0.3
    )
    assert flagged == {"q": 0.1}


def test_injected_slowdown_reaches_the_median_and_fires_the_gate():
    """End-to-end through the timing path: the injection lands inside
    the timed region of EVERY rep, so the median (not just the max)
    carries it, and the gate flags the query vs its previous value."""
    med, spread = bench.time_query(
        "victim", lambda: None, reps=3, inject={"victim": 0.05}
    )
    assert med >= 0.05
    baseline = {"victim": 0.001}
    flagged = bench.regression_gate(
        {"victim": med}, baseline, abs_floor=0.02, rel=0.3
    )
    assert "victim" in flagged


def test_inject_map_parses_env(monkeypatch):
    monkeypatch.setenv(
        "SPARK_GRAFT_BENCH_INJECT", "tpch_q3_shipping_priority:1.5, junk, x:0.2"
    )
    assert bench._inject_map() == {
        "tpch_q3_shipping_priority": 1.5,
        "x": 0.2,
    }


def test_prev_bench_reports_basis():
    """r1-r5 files predate the basis marker: the loader must return
    basis=None for them so the gate stays disarmed against min-of-2
    numbers (medians sit systematically above mins)."""
    queries, basis = bench._prev_bench()
    assert isinstance(queries, dict)
    if queries:  # repo carries r1-r5 capture files (no basis marker yet)
        assert basis is None or basis == bench.BENCH_BASIS


def test_basis_tracks_rep_count(monkeypatch):
    """A SPARK_GRAFT_BENCH_REPS=1 run must not stamp its single-shot
    numbers with the default median basis — the basis string encodes
    the actual rep count, so the gate never arms median-of-3 numbers
    against single shots."""
    import importlib

    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "1")
    fresh = importlib.reload(bench)
    try:
        assert fresh.REPS == 1
        assert fresh.BENCH_BASIS == "median1"
    finally:
        monkeypatch.delenv("SPARK_GRAFT_BENCH_REPS")
        importlib.reload(bench)


def test_prev_bench_recovers_basis_from_truncated_tail(tmp_path, monkeypatch):
    """The driver's stdout capture can truncate the HEAD of the long
    metric line (the known r2 failure mode); basis must still be
    recovered — from the short trailing summary if need be — or the
    gate silently disarms for a whole round."""
    import json

    capture = {
        "tail": (
            'etric": "headline_queries_total", '
            '"queries": {"q1": 1.5, "q2": 0.7}, "sf": 0.1}\n'
            '{"metric": "headline_total", "value": 2.2, "unit": "sec", '
            '"n": 2, "sf": 0.1, "basis": "median3", "worst_deltas": {}, '
            '"regressions": {}}\n'
        )
    }
    (tmp_path / "BENCH_r09.json").write_text(json.dumps(capture))
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    queries, basis = bench._prev_bench()
    assert queries == {"q1": 1.5, "q2": 0.7}
    assert basis == "median3"


def test_sf_tag_tolerates_custom_data_dir(monkeypatch):
    """A custom SPARK_GRAFT_SF_DIR not ending in 'sf<number>' must
    disarm the sf match (return None), not crash the bench with a
    ValueError from deep inside _prev_bench (ADVICE r7)."""
    monkeypatch.setattr(bench, "SF_DIR", "/data/my_custom_tables")
    assert bench._sf_tag() is None
    queries, basis = bench._prev_bench()  # must not raise
    assert isinstance(queries, dict)


def test_prev_bench_baseline_resists_ratchet(tmp_path, monkeypatch):
    """A gradual slowdown must not re-baseline itself past the gate:
    the baseline is the per-query MEDIAN over recent CLEAN same-basis
    records, so (a) a run recorded with flagged regressions never
    becomes the baseline and (b) slow drift gates against the anchored
    median, not the immediately preceding (already-drifted) run —
    while a single lucky-fast run cannot one-sidedly anchor the
    baseline the way the old MIN did (ADVICE r8)."""
    import json

    hist = [
        # one lucky-fast outlier: under a MIN baseline this would
        # anchor at 0.4 and false-flag a steady-state 1.3s query
        {"queries": {"q1": 0.4}, "basis": "median3", "sf": 0.1},
        {"queries": {"q1": 1.0}, "basis": "median3", "sf": 0.1},
        {"queries": {"q1": 1.6}, "basis": "median3", "sf": 0.1},
        # a flagged run: excluded from the baseline pool entirely
        {
            "queries": {"q1": 9.0},
            "basis": "median3",
            "sf": 0.1,
            "regressions": {"q1": 7.4},
        },
    ]
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(
        "\n".join(json.dumps(r) for r in hist) + "\n"
    )
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    queries, basis = bench._prev_bench()
    assert basis == bench.BENCH_BASIS
    # median over the three clean records (0.4, 1.0, 1.6); flagged 9.0
    # excluded; the 0.4 outlier does NOT become the anchor
    assert queries == {"q1": 1.0}
    # steady state near the median never flags...
    assert bench.regression_gate({"q1": 1.3}, queries) == {}
    # ...but real drift still fires vs the anchored median
    assert bench.regression_gate({"q1": 2.1}, queries) == {"q1": 1.1}


def test_isolate_flagged_demotes_noise_and_confirms_real():
    """The in-bench gate flag is only a SUSPECT: each flagged query is
    re-measured in isolation (5 reps) and the flag stands only if the
    isolated median still violates the dual threshold vs the same
    baseline. Both outcomes carry the evidence (delta + isolated
    median)."""
    prev = {"noisy": 5.0, "legit": 5.0}
    flagged = bench.regression_gate({"noisy": 8.0, "legit": 8.0}, prev)
    assert set(flagged) == {"noisy", "legit"}
    iso = {"noisy": 5.2, "legit": 7.9}  # noise settles, real one stays
    confirmed, cleared = bench.isolate_flagged(
        flagged, prev, lambda name: iso[name]
    )
    assert confirmed == {"legit": {"delta": 3.0, "isolated_median": 7.9}}
    assert cleared == {"noisy": {"delta": 3.0, "isolated_median": 5.2}}


def test_prev_bench_never_arms_against_flagged_only_history(tmp_path, monkeypatch):
    """If every matching record was itself flagged, deltas still report
    (vs the latest) but basis comes back None so the gate stays off."""
    import json

    rec = {
        "queries": {"q1": 5.0},
        "basis": "median3",
        "sf": 0.1,
        "regressions": {"q1": 3.0},
    }
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(json.dumps(rec) + "\n")
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    queries, basis = bench._prev_bench()
    assert queries == {"q1": 5.0}
    assert basis is None


def test_prev_bench_prefers_local_history(tmp_path, monkeypatch):
    """The local BENCH_HISTORY.jsonl (full per-query record) outranks
    the driver's truncated BENCH_r{N}.json capture; records at a
    different sf are skipped."""
    import json

    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"tail": '{"metric": "headline_total", "basis": "median3"}\n'})
    )
    hist = [
        {"queries": {"q1": 9.0}, "basis": "median3", "sf": 0.01},
        {"queries": {"q1": 1.1, "q2": 0.4}, "basis": "median3", "sf": 0.1},
    ]
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(
        "\n".join(json.dumps(r) for r in hist) + "\n"
    )
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    queries, basis = bench._prev_bench()
    assert queries == {"q1": 1.1, "q2": 0.4}
    assert basis == "median3"


def test_rebase_hatch_cleans_history_record_only(monkeypatch):
    """SPARK_GRAFT_BENCH_REBASE=1 records the run as clean (so it can
    re-enter the baseline pool) without touching the printed flags —
    and (ADVICE r9) the suppressed flags come back as the `rebased`
    audit trail so the acceptance remains visible in history."""
    flagged = {"q": {"delta": 3.0, "isolated_median": 7.9}}
    monkeypatch.delenv("SPARK_GRAFT_BENCH_REBASE", raising=False)
    assert bench._recorded_regressions(flagged) == (flagged, {})
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REBASE", "1")
    assert bench._recorded_regressions(flagged) == ({}, flagged)


def test_prev_bench_box_normalizes_clean_pool(tmp_path, monkeypatch):
    """VERDICT r12 item 7: a record taken on a 1.4x-slow box carries
    box_factor=1.4 and its raw timings are divided back to the anchor
    basis before entering the baseline median — so mixed-box clean
    pools agree, and a same-speed run gating against them neither
    false-flags nor hides drift."""
    import json

    hist = [
        {"queries": {"q1": 1.0}, "basis": "median3", "sf": 0.1},
        # same code, 1.4x-slow box: raw 1.4s == normalized 1.0s
        {"queries": {"q1": 1.4}, "basis": "median3", "sf": 0.1,
         "box_factor": 1.4},
        {"queries": {"q1": 1.0}, "basis": "median3", "sf": 0.1,
         "box_factor": 1.0},
    ]
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(
        "\n".join(json.dumps(r) for r in hist) + "\n"
    )
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    queries, basis = bench._prev_bench()
    assert basis == bench.BENCH_BASIS
    assert queries == {"q1": 1.0}


def test_prev_bench_pool_keyed_by_cpus(tmp_path, monkeypatch):
    """A clean run at another session width (an 8-cpu scaling run)
    must never enter the 32-cpu baseline pool, and vice versa. Records
    predating the ``cpus`` field count as 32."""
    import json

    hist = [
        {"queries": {"q1": 1.0}, "basis": "median3", "sf": 0.1,
         "floor_raw": 0.5, "box_factor": 1.0},
        {"queries": {"q1": 1.0}, "basis": "median3", "sf": 0.1, "cpus": 32,
         "floor_raw": 0.5, "box_factor": 1.0},
        # clean, but ~1.4x slower per query at a quarter of the width
        {"queries": {"q1": 1.4}, "basis": "median3", "sf": 0.1, "cpus": 8,
         "floor_raw": 0.7, "box_factor": 1.0},
        {"queries": {"q1": 1.4}, "basis": "median3", "sf": 0.1, "cpus": 8,
         "floor_raw": 0.7, "box_factor": 1.0},
    ]
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(
        "\n".join(json.dumps(r) for r in hist) + "\n"
    )
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path / "sf0.1"))
    assert bench._prev_bench(32) == ({"q1": 1.0}, bench.BENCH_BASIS)
    assert bench._prev_bench(8) == ({"q1": 1.4}, bench.BENCH_BASIS)
    assert bench._clean_floor_box_medians(32) == (0.5, 1.0)
    assert bench._clean_floor_box_medians(8) == (0.7, 1.0)
    # a width with no history of its own never arms against another's
    assert bench._prev_bench(4) == ({}, None)


def test_box_factor_from_headline_medians():
    """The factor comes from the probes' own warm headline medians —
    never a cold start-of-run pass (measured 3.785 on a ~1.4x box) —
    and an injected probe is excluded so gate-testing injections can't
    bend the calibration."""
    timings = {n: a * 1.4 for n, a in bench.BOX_PROBES.items()}
    assert bench.box_factor_from(timings, {}) == 1.4
    # injected probe excluded: factor comes from the other two
    first = next(iter(bench.BOX_PROBES))
    timings[first] = 99.0
    assert bench.box_factor_from(timings, {first: 5.0}) == 1.4
    # no usable probes -> neutral factor
    assert bench.box_factor_from({}, {}) == 1.0


def test_unstable_box_detection_and_pool_exclusion(tmp_path, monkeypatch):
    """A run whose own probes disagree >1.5x (contention hit part of
    the pass) or show a >3x factor self-marks unstable_box, and
    _prev_bench excludes such records from the clean pool even though
    their gate said clean (observed: a transient 4.5x neighbor made
    per-query values garbage while isolation re-measures at run end
    noise-cleared every flag)."""
    import json

    a = dict(bench.BOX_PROBES)
    names = list(a)
    stable = {n: v * 1.4 for n, v in a.items()}
    assert not bench.box_unstable(stable, {})
    lopsided = dict(stable); lopsided[names[0]] = a[names[0]] * 2.5
    assert bench.box_unstable(lopsided, {})
    crushed = {n: v * 4.5 for n, v in a.items()}
    assert bench.box_unstable(crushed, {})

    hist = [
        {"queries": {"q1": 1.0}, "basis": "median3", "sf": 0.1},
        {"queries": {"q1": 50.0}, "basis": "median3", "sf": 0.1,
         "box_factor": 4.5, "unstable_box": True},
    ]
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(
        "\n".join(json.dumps(r) for r in hist) + "\n"
    )
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    queries, basis = bench._prev_bench()
    assert queries == {"q1": 1.0}  # unstable record never baselines


def test_probe_anchors_are_pinned_constants():
    """ANCHOR REFRESH RULE (VERDICT r13 item 8): BOX_PROBES anchors and
    FLOOR_ANCHOR may only change via an explicit constant bump here —
    re-derived from multi-record medians, never a single run. Silent
    drift (editing bench.py without editing this pin) fails the suite."""
    assert bench.BOX_PROBES == {
        "tpch_q6_forecast_revenue": 0.240,
        "text_quality_score": 0.284,
        # r14 bump: probe code changed (scan spread, commit 9081b6c);
        # anchor scaled by the box-independent interleaved A/B ratio
        # 1.75/3.08 = 0.568 -> 2.364 * 0.568 = 1.343
        "dedup_minhash_lsh_candidates": 1.343,
    }
    assert bench.FLOOR_DIVERGENCE_MAX == 1.4


def test_floor_divergence_excludes_record_from_clean_pool(tmp_path, monkeypatch):
    """ADVICE r13: a record whose engine probes slowed uniformly MORE
    than the machine floor (box_vs_floor_divergence) must never enter
    the clean baseline pool — normalization would divide the uniform
    engine slowdown out of every gated delta."""
    import json

    hist = [
        {"queries": {"q1": 1.0}, "basis": "median3", "sf": 0.1},
        # engine-wide slowdown: probes 2x but machine floor ~1x. The
        # record self-marks divergence; its normalized q1 (2.0/2.0=1.0)
        # would look clean — exclusion is what keeps the gate honest.
        {
            "queries": {"q1": 2.0},
            "basis": "median3",
            "sf": 0.1,
            "box_factor": 2.0,
            "floor_factor": 1.05,
            "box_vs_floor_divergence": True,
        },
    ]
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(
        "\n".join(json.dumps(r) for r in hist) + "\n"
    )
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    queries, basis = bench._prev_bench()
    assert basis == bench.BENCH_BASIS
    assert queries == {"q1": 1.0}


def test_floor_divergence_is_self_relative(tmp_path, monkeypatch):
    """The engine-vs-machine check carries NO absolute floor anchor
    (its first real run proved standalone calibration does not
    transfer into the in-bench JIT-warmed context): both this run's
    engine slowdown and machine slowdown are measured against the SAME
    clean-pool medians, and the check stays disarmed until the pool
    has floor_raw history."""
    import json

    # no floor history -> disarmed
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(
        json.dumps({"queries": {"q1": 1.0}, "basis": "median3", "sf": 0.1})
        + "\n"
    )
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    assert bench._clean_floor_box_medians() == (None, None)

    # with history: medians over clean records that carry the fields
    hist = [
        {"queries": {"q1": 1.0}, "basis": "median3", "sf": 0.1,
         "floor_raw": 0.40, "box_factor": 1.4},
        {"queries": {"q1": 1.0}, "basis": "median3", "sf": 0.1,
         "floor_raw": 0.44, "box_factor": 1.5},
        # flagged record: excluded from the floor pool too
        {"queries": {"q1": 9.0}, "basis": "median3", "sf": 0.1,
         "floor_raw": 9.0, "box_factor": 9.0,
         "regressions": {"q1": 8.0}},
    ]
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(
        "\n".join(json.dumps(r) for r in hist) + "\n"
    )
    clean_floor, clean_box = bench._clean_floor_box_medians()
    assert clean_floor == 0.42 and clean_box == 1.45
    # engine slowed 2x vs pool, machine flat -> divergence fires
    assert bench.floor_divergence(2.9, clean_box, round(0.42 / clean_floor, 3))
    # both slowed 2x together (a genuinely slower box) -> no flag
    assert not bench.floor_divergence(
        2.9, clean_box, round(0.84 / clean_floor, 3)
    )
    # engine FLAT vs pool on a quieter-than-pool machine (floor sped up
    # 30%): no engine slowdown exists, so the flag must NOT fire on the
    # floor-speedup leg alone (code-review r14 false-fire)
    assert not bench.floor_divergence(
        clean_box, clean_box, round(0.29 / clean_floor, 3)
    )
    # disarmed with no pool
    assert not bench.floor_divergence(2.9, None, None)


def test_trailing_summary_fits_capture_window_and_reconciles():
    """The driver keeps only the last ~2000 chars of bench stdout and
    parses the last JSON line inside them: the trailing summary must
    (a) fit that window as one line, (b) carry the LARGEST per-query
    timings (what per-query grading needs), and (c) reconcile
    value == sum(queries) + queries_omitted_sec."""
    import json as _json

    # worst case: many long names, all expensive
    timings = {
        f"hierarchy_geo_rollup_orders_shuffled_variant_{i:03d}": 10.0 - i * 0.01
        for i in range(120)
    }
    out = bench.trailing_summary(
        round(sum(timings.values()), 3), timings, 0.1, 1.4,
        {"some_query": 1.0}, {},
    )
    line = _json.dumps(out, separators=(",", ":"))
    assert len(line) <= bench.TRAILING_BUDGET
    assert out["queries"]  # never empty under the budget
    # top entries are the most expensive ones, in full
    picked = list(out["queries"].values())
    assert picked == sorted(picked, reverse=True)
    assert max(timings.values()) == max(picked)
    # reconciliation: omitted tail is summarized, not lost
    assert out["queries_omitted"] == len(timings) - len(out["queries"])
    assert (
        abs(sum(picked) + out["queries_omitted_sec"] - out["value"]) < 0.01
    )
    # small sets fit whole
    small = {"q%d" % i: 1.0 for i in range(5)}
    out2 = bench.trailing_summary(5.0, small, 0.1, 1.0, {}, {})
    assert out2["queries_omitted"] == 0 and len(out2["queries"]) == 5


def test_trailing_summary_caps_regressions_and_reconciles_to_rounding():
    """Many confirmed regressions must not push the trailing line past
    its budget: like worst_deltas, the line keeps the three largest
    regressions and counts the rest. With timings that are not exact at
    3 dp, the published total still reconciles to the rounding of one
    field."""
    import json as _json

    regressions = {
        f"hierarchy_geo_rollup_orders_shuffled_regression_{i:03d}": {
            "delta": 0.5 + i * 0.01, "isolated_median": 3.0 + i * 0.0137,
        }
        for i in range(40)
    }
    timings = {
        f"hierarchy_part_rollup_orders_broadcast_variant_{i:03d}": 7.0 - i * 0.0123456
        for i in range(120)
    }
    out = bench.trailing_summary(
        round(sum(timings.values()), 3), timings, 0.1, 1.4,
        {"some_query": 1.0}, regressions,
    )
    line = _json.dumps(out, separators=(",", ":"))
    assert len(line) <= bench.TRAILING_BUDGET
    assert list(out["regressions"]) == [
        f"hierarchy_geo_rollup_orders_shuffled_regression_{i:03d}" for i in (39, 38, 37)
    ]
    assert out["regressions_omitted"] == 37
    assert out["queries"]
    assert out["queries_omitted"] == len(timings) - len(out["queries"])
    assert abs(
        sum(out["queries"].values()) + out["queries_omitted_sec"] - out["value"]
    ) < 0.001

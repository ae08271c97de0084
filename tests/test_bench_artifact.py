"""bench.py artifact arithmetic — the pure pieces, no Spark session.

The bench's measurement loop needs a live engine; its ARTIFACT logic
does not. These pin the advice-r07 fixes: the drift fallback must leave
headline and ancillary fields mutually consistent, and the noise gate's
threshold semantics (mean/min > 1.4) must match what run_once records.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).parents[1] / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("bench", mod)
    spec.loader.exec_module(mod)
    return mod


def test_drift_fallback_rebases_sched_adjusted():
    b = _bench()
    art = {
        "value": 10.0,  # median total
        "value_min": 9.0,
        "value_sched_adjusted": 9.6,  # median minus 0.4 sched excess
    }
    out = b.apply_drift_fallback(art)
    assert out["value"] == 9.0
    assert out["value_median"] == 10.0
    assert out["headline_is_min_due_to_drift"] is True
    # the SAME 0.4 excess now subtracts from the min total
    assert out["value_sched_adjusted"] == 8.6


def test_drift_fallback_noop_excess():
    b = _bench()
    # probe under anchor -> sched_excess 0 -> adjusted tracks the headline
    art = {"value": 5.0, "value_min": 4.5, "value_sched_adjusted": 5.0}
    out = b.apply_drift_fallback(art)
    assert out["value_sched_adjusted"] == out["value"] == 4.5


def test_regime_fields_normalize_headline():
    b = _bench()
    art = {"value": 11.4, "calibration_sec": 0.6, "sf": 0.1}
    prev = {"calibration_sec": 0.5, "sf": 0.1}
    out = b.regime_fields(art, prev, "BENCH_r08.json")
    assert out["prev_bench_artifact"] == "BENCH_r08.json"
    assert out["regime_ratio"] == 1.2  # this host 1.2x slower
    assert out["value_regime_normalized"] == 9.5  # 11.4 / 1.2
    # FASTER host (ratio < 1): one-directional — raw value stands, no
    # fabricated regression from dividing by a sub-1 ratio
    fast = b.regime_fields(
        {"value": 7.8, "calibration_sec": 0.4, "sf": 0.1}, prev
    )
    assert fast["regime_ratio"] == 0.8
    assert fast["value_regime_normalized"] == 7.8
    # no previous artifact -> untouched
    art2 = {"value": 5.0, "calibration_sec": 0.5}
    assert "regime_ratio" not in b.regime_fields(art2, None)


def test_regime_family_regressions_scale_by_host():
    b = _bench()
    # families: "a" doubled (real regression even after 1.2x host
    # normalization), "b" inflated exactly with the host (not flagged),
    # "c" new this round (no baseline -> not flagged)
    art = {
        "value": 1.0,
        "calibration_sec": 0.6,
        "sf": 0.1,
        "registry_families": {"a": 20.0, "b": 11.9, "c": 4.0},
    }
    prev = {
        "calibration_sec": 0.5,
        "sf": 0.1,
        "registry_families": {"a": 10.0, "b": 10.0},
    }
    out = b.regime_fields(art, prev)
    assert out["registry_family_regressions"] == ["a"]
    # different SF -> family comparison suppressed entirely
    art["sf"] = 0.01
    art.pop("registry_family_regressions", None)
    out = b.regime_fields(dict(art), prev)
    assert "registry_family_regressions" not in out


def test_regime_faster_host_not_inflating_family_threshold():
    b = _bench()
    # a FASTER host (ratio < 1) must not shrink the regression bar —
    # norm clamps at 1.0 so genuinely-faster rounds still flag a 1.4x
    # family blowup
    art = {
        "value": 1.0,
        "calibration_sec": 0.4,
        "sf": 0.1,
        "registry_families": {"a": 14.0},
    }
    prev = {
        "calibration_sec": 0.5,
        "sf": 0.1,
        "registry_families": {"a": 10.0},
    }
    out = b.regime_fields(art, prev)
    assert out["regime_ratio"] == 0.8
    assert out["registry_family_regressions"] == ["a"]


def test_compact_line_fits_driver_tail_capture():
    """Advice r09 (HIGH): the driver machine-reads only ~2000 chars of
    stdout; r09's line outgrew it. The compact line must stay under the
    budget for a realistic artifact and keep the fields cross-round
    comparisons need."""
    b = _bench()
    art = {
        "metric": "headline_queries_total_sec",
        "value": 8.13,
        "unit": "sec",
        "queries": {f"query_name_number_{i:02d}": 0.123 for i in range(17)},
        "queries_min": {f"query_name_number_{i:02d}": 0.1 for i in range(17)},
        "queries_noisy": [],
        "value_noise_gated": 8.0,
        "value_min": 7.5,
        "runs": 5,
        "warm": True,
        "contaminated": False,
        "calibration_sec": 0.45,
        "calibration_anchor_sec": 0.483,
        "value_calibrated": 8.13,
        "contaminated_uniform": False,
        "calibration_end_sec": 0.46,
        "speed_drifted": False,
        "noise_flag_corroborated": False,
        "sched_probe_sec": 0.1,
        "sched_anchor_sec": 0.095,
        "jobs_timed": 400,
        "value_sched_adjusted": 8.1,
        "scheduler_inflated": False,
        "sf": 0.1,
        "registry_total_sec": 496.3,
        "registry_queries": 289,
        "registry_swept": 289,
        "registry_families": {f"queries_family_{i:02d}": 12.34 for i in range(38)},
        "registry_family_counts": {f"queries_family_{i:02d}": 8 for i in range(38)},
        "registry_query_sec": {
            f"queries_family_{i:02d}": {f"q{j}": 1.5 for j in range(8)}
            for i in range(38)
        },
        "registry_errors": {"some_query": "RuntimeError('x')"},
        "prev_bench_artifact": "BENCH_FULL_r09.json",
        "prev_calibration_sec": 0.44,
        "regime_ratio": 1.023,
        "value_regime_normalized": 7.95,
        "registry_family_regressions": [],
    }
    line = b.compact_line(art, "BENCH_FULL_r10.json")
    assert len(line) <= b.LINE_BUDGET_CHARS
    import json

    parsed = json.loads(line)
    assert parsed["value"] == 8.13
    assert parsed["detail_artifact"] == "BENCH_FULL_r10.json"
    assert parsed["registry_error_count"] == 1
    assert "registry_families" not in parsed  # side file only
    assert "registry_query_sec" not in parsed
    assert len(parsed["queries"]) == 17  # per-query medians stay on the line
    # pathological blow-up: queries map drops rather than bust the budget
    art["queries"] = {f"very_long_query_name_{i:03d}": 0.1 for i in range(200)}
    line2 = b.compact_line(art, "BENCH_FULL_r10.json")
    assert len(line2) <= b.LINE_BUDGET_CHARS
    assert json.loads(line2)["queries_in_detail_only"] is True


def test_compact_line_fat_artifact_r11_regression():
    """VERDICT r11 #2: the r11 run added registry_family_retest_sec (a
    3.2 KB dict) to the artifact but not to SIDE_ONLY_KEYS, and the old
    last-resort branch popped only `queries` without re-checking the
    budget — the printed line blew past the driver's ~2000-char tail
    capture and BENCH_r11.json shipped with parsed:null. Pin both
    fixes: the retest keys are side-only, and ANY future fat key is
    shed by the overflow loop rather than busting the budget."""
    import json

    b = _bench()
    art = {
        "metric": "headline_queries_total_sec",
        "value": 9.865,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"query_name_number_{i:02d}": 0.123 for i in range(17)},
        "registry_family_regressions": [],
        # the exact shape that broke r11: 10 families x per-query medians
        "registry_family_retest_sec": {
            f"queries_family_{i:02d}": {
                f"some_long_query_name_{j:02d}": 1.234 for j in range(10)
            }
            for i in range(10)
        },
        "registry_family_retest_errors": {"queries_family_00": "boom"},
        "registry_family_regressions_unreproduced": [
            f"queries_family_{i:02d}" for i in range(10)
        ],
        "registry_family_regressions_prenorm": [
            f"queries_family_{i:02d}" for i in range(12)
        ],
    }
    line = b.compact_line(art, "BENCH_FULL_r12.json")
    assert len(line) <= b.LINE_BUDGET_CHARS
    parsed = json.loads(line)
    assert parsed["value"] == 9.865
    assert "registry_family_retest_sec" not in parsed
    assert "registry_family_regressions_unreproduced" not in parsed
    assert parsed["registry_unreproduced_count"] == 10
    # a future dict-valued key NOT in SIDE_ONLY_KEYS must be shed by the
    # overflow loop, never silently overflow
    art["some_future_fat_key"] = {f"entry_{i:04d}": 1.0 for i in range(500)}
    line2 = b.compact_line(art, "BENCH_FULL_r12.json")
    assert len(line2) <= b.LINE_BUDGET_CHARS
    parsed2 = json.loads(line2)
    assert "some_future_fat_key" not in parsed2
    assert parsed2["fields_in_detail_only"] is True
    assert parsed2["value"] == 9.865  # essentials survive any shedding
    assert parsed2["detail_artifact"] == "BENCH_FULL_r12.json"


def test_regime_fields_records_prenorm_flags():
    """ADVICE r11: three leniency mechanisms (regime max-norm, 2 s
    floor, retest) can each suppress a flag; the raw >1.3x set must
    stay auditable in the artifact."""
    b = _bench()
    art = {
        "metric": "m",
        "value": 10.0,
        "calibration_sec": 0.6,
        "sf": 0.1,
        "registry_query_sec": {
            # 1.5x slower but host-normalized away (ratio 1.5)
            "fam_normed": {"q1": 7.5, "q2": 7.5},
            # 2x slower but under the 2 s absolute floor
            "fam_floored": {"q1": 0.4},
            # genuinely regressed beyond norm and floor
            "fam_real": {"q1": 20.0},
        },
    }
    prev = {
        "calibration_sec": 0.4,
        "sf": 0.1,
        "registry_query_sec": {
            "fam_normed": {"q1": 5.0, "q2": 5.0},
            "fam_floored": {"q1": 0.2},
            "fam_real": {"q1": 5.0},
        },
    }
    out = b.regime_fields(art, prev)
    assert out["registry_family_regressions"] == ["fam_real"]
    assert out["registry_family_regressions_prenorm"] == [
        "fam_floored",
        "fam_normed",
        "fam_real",
    ]


def test_recover_from_tail_salvages_r09_wrapper():
    """The REAL r09 wrapper (parsed: null, tail truncated mid-object)
    must yield at least the calibration the regime gate needs."""
    import json

    b = _bench()
    wrapper = json.loads(
        (Path(__file__).parents[1] / "BENCH_r09.json").read_text()
    )
    assert wrapper["parsed"] is None  # the failure this round fixes
    rec = b._recover_from_tail(wrapper["tail"])
    assert rec is not None and rec["recovered_from_tail"] is True
    assert rec["calibration_sec"] > 0
    assert rec["sf"] == 0.1


def test_prev_artifact_numeric_order_and_skip_current(tmp_path):
    import json

    b = _bench()
    (tmp_path / "VERDICT.md").write_text("# VERDICT — round 99\n")
    # rounds 9, 10, 99, 100 on disk; current round is 100 -> r100 must be
    # skipped (same-round re-run) and r99 wins over r9/r10 numerically
    for n, cal in ((9, 0.5), (10, 0.51), (99, 0.52), (100, 0.99)):
        (tmp_path / f"BENCH_r{n:02d}.json").write_text(
            json.dumps({"parsed": {"calibration_sec": cal}, "tail": ""})
        )
    name, data = b._prev_artifact(tmp_path)
    assert name == "BENCH_r99.json"
    assert data["calibration_sec"] == 0.52
    # a full side artifact for the same round is preferred over the wrapper
    (tmp_path / "BENCH_FULL_r99.json").write_text(
        json.dumps({"calibration_sec": 0.53, "registry_query_sec": {}})
    )
    name, data = b._prev_artifact(tmp_path)
    assert name == "BENCH_FULL_r99.json"
    assert data["calibration_sec"] == 0.53


def test_detail_artifact_sf_suffix_keeps_headline_sweep(tmp_path):
    """A run at a scale other than sf0.1 (the preflight's sf0.01 smoke)
    writes an sf-suffixed side file, so it cannot overwrite the round's
    sf0.1 sweep; _prev_artifact keeps reading only the unsuffixed name,
    and the printed line names the file actually written."""
    import json

    b = _bench()
    assert b.detail_artifact_name(13, "0.1") == "BENCH_FULL_r13.json"
    assert b.detail_artifact_name(13, "0.01") == "BENCH_FULL_r13_sf0.01.json"
    assert b.detail_artifact_name(None, "0.1") == "BENCH_FULL.json"
    assert b.detail_artifact_name(None, "0.001") == "BENCH_FULL_sf0.001.json"

    (tmp_path / "VERDICT.md").write_text("# VERDICT — round 99\n")
    (tmp_path / "BENCH_r98.json").write_text(
        json.dumps({"parsed": {"calibration_sec": 0.5}, "tail": ""})
    )
    (tmp_path / "BENCH_FULL_r98_sf0.01.json").write_text(
        json.dumps({"calibration_sec": 0.9})
    )
    name, data = b._prev_artifact(tmp_path)
    assert name == "BENCH_r98.json"
    assert data["calibration_sec"] == 0.5

    detail = b.detail_artifact_name(98, "0.01")
    line = json.loads(
        b.compact_line({"metric": "m", "value": 1.0, "unit": "sec"}, detail)
    )
    assert set(line) == {"metric", "value", "unit", "detail_artifact"}
    assert line["detail_artifact"] == "BENCH_FULL_r98_sf0.01.json"


def test_family_regression_on_query_intersection():
    """Advice r09: a family that GAINED a query must not be flagged for
    the added coverage; a genuine regression on shared queries must."""
    b = _bench()
    art = {
        "value": 1.0,
        "calibration_sec": 0.5,
        "sf": 0.1,
        "registry_families": {"grew": 20.0, "regressed": 20.0, "tiny": 0.4},
        "registry_query_sec": {
            "grew": {"a": 10.0, "b_new": 10.0},  # a unchanged, b_new added
            "regressed": {"c": 20.0},  # c itself doubled
            # 2x ratio but sub-second excess: host-overhead noise, not a
            # plan regression (r11 materiality floor)
            "tiny": {"d": 0.4},
        },
    }
    prev = {
        "calibration_sec": 0.5,
        "sf": 0.1,
        "registry_families": {"grew": 10.0, "regressed": 10.0, "tiny": 0.2},
        "registry_query_sec": {
            "grew": {"a": 10.0},
            "regressed": {"c": 10.0},
            "tiny": {"d": 0.2},
        },
    }
    out = b.regime_fields(art, prev)
    assert out["registry_family_regressions"] == ["regressed"]


def test_family_regression_legacy_count_normalization():
    """Without per-query timings, subtotals normalize by query count
    when both rounds carry counts (advice r09 fallback)."""
    b = _bench()
    art = {
        "value": 1.0,
        "calibration_sec": 0.5,
        "sf": 0.1,
        "registry_families": {"grew": 2.0},
        "registry_family_counts": {"grew": 2},
    }
    prev = {
        "calibration_sec": 0.5,
        "sf": 0.1,
        "registry_families": {"grew": 1.0},
        "registry_family_counts": {"grew": 1},
    }
    out = b.regime_fields(art, prev)
    assert out["registry_family_regressions"] == []  # 1.0/query both rounds


def test_retest_clears_burst_flags_keeps_real_ones():
    """r11: episodic host bursts inflate whichever single-pass sweep
    rows they land on; the retest pass must clear flags that don't
    reproduce and keep those that do, recording both lists."""
    b = _bench()

    class _Spec:
        def __init__(self, sec):
            self.sec = sec

        def spark(self, s, d):
            return self.sec

    # 'burst' retests fast (0.1 ≈ prev), 'real' retests slow (8.0 >
    # 1.3× prev AND >2 s absolute excess — the materiality floor)
    b.REGISTRY = {"q_burst": _Spec(0.1), "q_real": _Spec(8.0)}
    clock = {"t": 0.0}
    b.execute = lambda sec: clock.__setitem__("t", clock["t"] + sec)
    real_pc = b.time.perf_counter
    b.time.perf_counter = lambda: clock["t"]
    try:
        art = {
            "registry_family_regressions": ["burst", "real"],
            "registry_query_sec": {
                "burst": {"q_burst": 5.0},  # the sweep saw an inflated 5.0
                "real": {"q_real": 8.0},
            },
        }
        prev = {
            "registry_query_sec": {
                "burst": {"q_burst": 0.1},
                "real": {"q_real": 4.0},
            }
        }
        out = b.retest_family_flags(None, "sf", art, prev)
    finally:
        b.time.perf_counter = real_pc
    assert out["registry_family_regressions"] == ["real"]
    assert out["registry_family_regressions_unreproduced"] == ["burst"]
    assert "q_burst" in out["registry_family_retest_sec"]["burst"]


def test_retest_budget_keeps_flag_conservatively():
    """A family left unretested by the time budget KEEPS its flag."""
    b = _bench()

    class _Spec:
        def spark(self, s, d):
            return 10.0

    b.REGISTRY = {"q": _Spec()}
    clock = {"t": 0.0}
    b.execute = lambda sec: clock.__setitem__("t", clock["t"] + sec)
    real_pc = b.time.perf_counter
    b.time.perf_counter = lambda: clock["t"]
    try:
        art = {
            "registry_family_regressions": ["fam"],
            "registry_query_sec": {"fam": {"q": 5.0}},
        }
        prev = {"registry_query_sec": {"fam": {"q": 0.1}}}
        out = b.retest_family_flags(None, "sf", art, prev, budget_sec=-1.0)
    finally:
        b.time.perf_counter = real_pc
    assert out["registry_family_regressions"] == ["fam"]
    assert "registry_family_retest_sec" not in out
    # and the artifact says WHY the flag was kept unretested (review r11)
    assert out["registry_family_retest_errors"] == {
        "fam": "retest budget exhausted"
    }


def test_retest_crash_keeps_flag_and_records_error():
    """A query that raises during the retest keeps its family flag AND
    records the exception — a crashed corroboration run must not pose
    as a reproduced regression (review r11)."""
    b = _bench()

    class _Boom:
        def spark(self, s, d):
            raise RuntimeError("executor lost")

    b.REGISTRY = {"q": _Boom()}
    art = {
        "registry_family_regressions": ["fam"],
        "registry_query_sec": {"fam": {"q": 5.0}},
    }
    prev = {"registry_query_sec": {"fam": {"q": 0.1}}}
    out = b.retest_family_flags(None, "sf", art, prev)
    assert out["registry_family_regressions"] == ["fam"]
    assert "RuntimeError" in out["registry_family_retest_errors"]["fam"]


def test_noise_gate_threshold_semantics():
    # mirror of run_once's inline computation, pinned as the contract:
    # flagged iff median/min > 1.4; gated total substitutes min for
    # flagged queries only
    timings = {"a": 1.4, "b": 0.5, "c": 2.0}
    minima = {"a": 1.0, "b": 0.49, "c": 1.0}
    noisy = sorted(
        n for n in timings if minima[n] > 0 and timings[n] / minima[n] > 1.4
    )
    gated = round(
        sum(minima[n] if n in noisy else timings[n] for n in timings), 3
    )
    assert noisy == ["c"]  # a is exactly 1.4x -> NOT flagged; c is 2.0x
    assert gated == 1.4 + 0.5 + 1.0

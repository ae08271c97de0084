"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology: each query executes to a `noop` sink (full plan runs, nothing
is shipped to the Python driver — collect() would measure row pickling, not
the engine). One untimed warmup of the input scans + each plan, then the
median of 3 timed runs per query.

Contamination detectability (VERDICT r01 #9): the artifact also carries
per-query ``queries_min``, the total-of-mins ``value_min``, and a
``contaminated`` flag (true when median exceeds min by >1.5× on ≥3
queries — the signature of a busy sandbox inflating some samples). A
reader should trust ``value_min`` over ``value`` when ``contaminated``.

``calibration_sec`` guards against the failure mode the flag cannot see:
UNIFORM host throttling (every sample slow, median≈min, flag stays
false). It is the minimum of 3 runs of a fixed data-independent probe
(sum over range(10^8)) on the same session; ~0.5 s on an unloaded
local[32] box. To compare two bench artifacts fairly, normalize their
totals by their calibration values — the artifact now does this itself:
``value_calibrated`` applies ``anchor/measured`` when the probe ran
slower than the recorded anchor, and ``contaminated_uniform`` flags a
probe slower than 1.5× it (VERDICT r02 #6: a uniformly-loaded host
inflates median and min alike, invisible to the per-query flag).

``sched_probe_sec`` closes the blind spot the CPU probe itself has
(VERDICT r03 #4): a host whose CPU is fast but whose Spark *scheduler*
is slow (r03's driver printed 14.04 s where the idle-box truth was
11.85 s, and the CPU probe — 0.179 vs anchor 0.483 — could only say
"not throttled"). It is the min of 20 timed ``spark.range(1).count()``
jobs: pure job-submit/dispatch/collect overhead, data-independent.
The artifact counts the actual Spark jobs launched during the timed
samples (``jobs_timed``, via per-query job groups) and reports
``value_sched_adjusted`` = value − jobs_timed·(sched_probe −
sched_anchor) when the probe exceeds its anchor — an estimate of what
the same build would print with anchor-speed scheduling —
plus a ``scheduler_inflated`` flag at >1.5× anchor. Readers: trust
``value_sched_adjusted`` when ``scheduler_inflated``; the two probes
together adjudicate both throttle directions without a judge re-run.

``regime_ratio`` (VERDICT r08 ask #2) compares THIS run's calibration
probe to the PREVIOUS bench artifact's, and ``value_regime_normalized``
divides the headline by it — an estimate of what this build would print
on last round's host, so a slow host regime can't masquerade as a
round-over-round engine regression (r08's q1/q3/qa_pipeline printed
+34–42% on untouched code). Cross-round comparisons should read the
normalized totals side by side with the raw ones.

``registry_total_sec`` / ``registry_families`` (VERDICT r08 ask #5):
after the headline set, the ENTIRE registry executes once (noop sink)
and the artifact records the total plus per-family (plans-module)
subtotals. The 17-query headline covers ~6% of the registry; this makes
a perf regression in the other ~266 visible to the bench gate.
``registry_family_regressions`` lists families whose regime-normalized
subtotal exceeds 1.3× the previous artifact's AND by >2 s absolute
(r11 materiality floor: a 1.3× ratio on a sub-second family is host
overhead, not a plan regression) — compared on the INTERSECTION of
query names when both artifacts carry per-query sweep timings (advice
r09: a family that merely gained queries is coverage, not regression).
Flags are then CORROBORATED by ``retest_family_flags`` — the flagged
families' shared queries re-run once and flags that fail to reproduce
move to ``registry_family_regressions_unreproduced`` (r11 finding: the
host throws episodic multi-minute load bursts that inflate whichever
single-pass sweep rows they land on; a same-HEAD clean sweep measured
431 s against an in-bench 774 s, and the r10 false flag was the same
mechanism). ``sweep_calibration_sec`` re-anchors machine speed AFTER
the sweep so a mid-run regime shift is visible. Opt out with
SPARK_GRAFT_REGISTRY_SWEEP=0.

Artifact layout (advice r09, HIGH): the driver machine-reads only the
LAST ~2000 chars of stdout, and r09's single line outgrew that (its
recorded wrapper has ``parsed: null`` and a tail that starts
mid-object, silently disabling regime normalization downstream). The
FULL artifact therefore goes to a side file ``BENCH_FULL_r{N}.json``
(N = current round, inferred from VERDICT.md; any scale other than the
headline sf0.1 writes ``BENCH_FULL_r{N}_sf{sf}.json`` instead, so a
smoke run at a small scale never overwrites the sf0.1 sweep) and the
printed line carries only the compact core — headline totals, flags,
probes, and the 17 per-query medians — with ``detail_artifact`` naming
the side file. A length guard drops the per-query map from the line
too if it ever nears the capture limit. ``_prev_artifact`` prefers
(unsuffixed) side files, sorts rounds NUMERICALLY (lexicographic glob
order breaks at r100), skips the current round's own artifact (a
same-round re-run would otherwise compare against itself, masking a
regime shift), and — for legacy wrappers like r09's — salvages what it
can from the truncated tail.

``value_noise_gated`` is STRICTLY ANCILLARY (advice r08): per-query
dispersion alone cannot distinguish host noise from plan-induced
variance (an intermittent spill/GC regression shows the same
median≫min signature), so regression verdicts use the median headline
plus an interleaved idle-box re-probe (SCALING.md's A/B methodology) —
never the gated total on its own. ``noise_flag_corroborated`` says
whether an external signal (either probe tripping, or start/end drift)
backs the dispersion flag; an uncorroborated flag on a single query is
exactly the case where the gated total could mask a real regression.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from qa_data_pipeline_rag_llm_spark.catalog import load_all  # noqa: E402
from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY  # noqa: E402
from qa_data_pipeline_rag_llm_spark.session import get_spark  # noqa: E402

# 5 samples/query: r5 measured ±30% run-to-run spread on individual
# medians-of-3 on a shared host (corpus_prep 0.92<->1.25 across back-to-
# back runs); two extra samples tighten the median at ~+40 s total cost.
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

# Recorded anchor for the calibration probe: the round-2 driver
# environment measured 0.483 (BENCH_r02.json). value_calibrated rescales
# the total by anchor/measured — but only DOWNWARD (a host slower than
# the anchor gets corrected; a faster host is reported as-is, since the
# single-thread probe under-predicts full-query speedups) — so a
# uniformly-throttled run self-identifies in the artifact instead of
# needing a judge re-run (VERDICT r02 #6). contaminated_uniform trips
# when the probe itself ran >1.5× the anchor.
CAL_ANCHOR_SEC = 0.483

# Recorded anchor for the scheduler probe (min of 20 trivial
# spark.range(1).count() jobs, 32-task stage on local[32]): 0.097 on
# the idle round-4 build box (the environment whose 11.85 s r03 total
# BASELINE comparisons are adjudicated against). Per-job excess over
# this anchor × jobs_timed estimates scheduling inflation in the total.
SCHED_ANCHOR_SEC = 0.095


def execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _calibrate(spark) -> float:
    """Machine-speed anchor (see module docstring): min of 3 fixed
    single-stage scans."""
    cal_samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(100_000_000).selectExpr("sum(id)").collect()
        cal_samples.append(time.perf_counter() - t0)
    return round(min(cal_samples), 3)


def run_once(spark, sf_dir: str, sf: str) -> dict:
    """One full bench pass; returns the artifact dict (not printed)."""
    calibration = _calibrate(spark)

    # Scheduler-speed anchor: pure per-job overhead (see docstring).
    sched_samples = []
    for _ in range(20):
        t0 = time.perf_counter()
        spark.range(1).count()
        sched_samples.append(time.perf_counter() - t0)
    sched_probe = round(min(sched_samples), 4)

    # Canonical execution order, pinned for artifact-to-artifact
    # comparability (the registry's iteration order now rotates by
    # verification debt; bench timing must not rotate with it). New
    # bench-flagged queries append after the recorded set.
    canonical = [
        "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
        "topk_orders_per_customer", "order_line_ids", "sessionize_events",
        "text_stats_documents", "minhash_signatures_documents",
        "cosine_topk_embeddings", "qa_pipeline_docs", "q6_forecast_revenue",
        "q10_returned_items", "q13_customer_distribution",
        "asof_click_before_purchase", "chunk_documents",
        "corpus_prep_pipeline", "hybrid_rrf_retrieval",
    ]
    flagged = [n for n, s in REGISTRY.items() if s.bench]
    bench_names = [n for n in canonical if n in flagged] + [
        n for n in flagged if n not in canonical
    ]
    timings: dict[str, float] = {}
    minima: dict[str, float] = {}
    jobs_timed = 0
    sc = spark.sparkContext
    for name in bench_names:
        spec = REGISTRY[name]
        execute(spec.spark(spark, sf_dir))  # untimed warmup of this plan
        samples = []
        sc.setJobGroup(f"bench:{name}", name)
        try:
            for _ in range(RUNS):
                t0 = time.perf_counter()
                execute(spec.spark(spark, sf_dir))
                samples.append(time.perf_counter() - t0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # jobs launched during the RUNS timed samples of this query —
        # the multiplier for per-job scheduling-overhead attribution
        jobs_timed += len(
            sc.statusTracker().getJobIdsForGroup(f"bench:{name}")
        )
        timings[name] = round(statistics.median(samples), 3)
        minima[name] = round(min(samples), 3)
    total = round(sum(timings.values()), 3)
    # Re-probe machine speed AFTER the timed runs: the start-of-run
    # probes cannot see a host-throughput dip that arrives mid-run
    # (observed r5: probes healthy, every query uniformly ~1.3x slower
    # minutes later on the same build). A drifted pair tells the reader
    # the run straddled a speed change and value_min is the fairer
    # total.
    cal_end_samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(100_000_000).selectExpr("sum(id)").collect()
        cal_end_samples.append(time.perf_counter() - t0)
    cal_end = round(min(cal_end_samples), 3)
    # median-of-RUNS totals attribute ~1/RUNS of the timed jobs' excess
    # scheduling overhead to the reported value
    sched_excess = round(
        (jobs_timed / max(RUNS, 1)) * max(0.0, sched_probe - SCHED_ANCHOR_SEC),
        3,
    )
    inflated = sum(
        1 for n in timings if minima[n] > 0 and timings[n] / minima[n] > 1.5
    )
    # Per-query dispersion flags (VERDICT r07 ask #3): r7's two
    # "regressions" (order_line_ids 2.07x, sessionize 1.77x) were host
    # variance on unchanged plans — mean/min dispersion 1.68x and 1.15x.
    # A query whose median exceeds its min by >1.4x is marked noisy so a
    # single slow sample can't set the round's narrative;
    # value_noise_gated substitutes the min for flagged queries (the
    # number round-over-round comparisons should use for them).
    noisy = sorted(
        n for n in timings if minima[n] > 0 and timings[n] / minima[n] > 1.4
    )
    noise_gated = round(
        sum(minima[n] if n in noisy else timings[n] for n in timings), 3
    )
    speed_drifted = (
        calibration > 0
        and cal_end > 0
        and max(cal_end / calibration, calibration / cal_end) > 1.5
    )
    return {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_min": minima,
                "queries_noisy": noisy,
                "value_noise_gated": noise_gated,
                "value_min": round(sum(minima.values()), 3),
                "runs": RUNS,
                "warm": True,
                "contaminated": inflated >= 3,
                "calibration_sec": calibration,
                "calibration_anchor_sec": CAL_ANCHOR_SEC,
                "value_calibrated": round(
                    total * min(1.0, CAL_ANCHOR_SEC / calibration), 3
                )
                if calibration > 0
                else total,
                "contaminated_uniform": calibration > 1.5 * CAL_ANCHOR_SEC,
                "calibration_end_sec": cal_end,
                "speed_drifted": speed_drifted,
                # dispersion flags backed by an external host-speed
                # signal? (advice r08 — see module docstring)
                "noise_flag_corroborated": bool(noisy)
                and (
                    calibration > 1.5 * CAL_ANCHOR_SEC
                    or sched_probe > 1.5 * SCHED_ANCHOR_SEC
                    or speed_drifted
                ),
                "sched_probe_sec": sched_probe,
                "sched_anchor_sec": SCHED_ANCHOR_SEC,
                "jobs_timed": jobs_timed,
                "value_sched_adjusted": round(total - sched_excess, 3),
                "scheduler_inflated": sched_probe > 1.5 * SCHED_ANCHOR_SEC,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }


def registry_sweep(spark, sf_dir: str) -> dict:
    """One timed once-through of the ENTIRE registry to the noop sink
    (VERDICT r08 ask #5): the headline set covers ~6% of the queries, so
    a regression in the rest was invisible to the bench gate. Single
    pass — per-family subtotals are leads, not verdicts.

    A soft time budget ($SPARK_GRAFT_SWEEP_BUDGET_SEC, default 1200)
    bounds the sweep so it can never time out the whole bench step: if
    exceeded, remaining queries are skipped, ``registry_sweep_truncated``
    records it, and family subtotals are withheld (partial subtotals
    would feed false regression flags)."""
    budget = float(os.environ.get("SPARK_GRAFT_SWEEP_BUDGET_SEC", "1200"))
    per_query: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}
    swept = 0
    truncated = False
    t_all = time.perf_counter()
    for name, spec in REGISTRY.items():
        if time.perf_counter() - t_all > budget:
            truncated = True
            break
        fam = spec.spark.__module__.rsplit(".", 1)[-1]
        t0 = time.perf_counter()
        try:
            execute(spec.spark(spark, sf_dir))
        except Exception as exc:  # record, keep sweeping
            errors[name] = repr(exc)[:200]
        per_query.setdefault(fam, {})[name] = round(
            time.perf_counter() - t0, 3
        )
        swept += 1
    out = {
        "registry_total_sec": round(time.perf_counter() - t_all, 1),
        "registry_queries": len(REGISTRY),
        "registry_swept": swept,
        # the sweep runs MINUTES after the pre-headline calibration; a
        # host-regime shift mid-run (external load — the exact failure
        # mode behind the r10 false family flag and the r11 774s-vs-431s
        # in-bench sweep) is invisible to that probe, so re-anchor HERE:
        # the family gate normalizes by the regime the sweep actually
        # experienced
        "sweep_calibration_sec": _calibrate(spark),
    }
    if truncated:
        out["registry_sweep_truncated"] = True
    else:
        out["registry_families"] = {
            f: round(sum(qs.values()), 2) for f, qs in sorted(per_query.items())
        }
        out["registry_family_counts"] = {
            f: len(qs) for f, qs in sorted(per_query.items())
        }
        # per-query sweep timings (side-file only): the family regression
        # gate compares INTERSECTIONS of these across rounds so a family
        # that gained queries is not flagged for added coverage (advice r09)
        out["registry_query_sec"] = {
            f: dict(sorted(qs.items())) for f, qs in sorted(per_query.items())
        }
    if errors:
        out["registry_errors"] = errors
    return out


def regime_fields(art: dict, prev: dict | None, prev_name: str = "") -> dict:
    """Cross-round regime normalization (VERDICT r08 ask #2): ratio of
    this run's calibration probe to the previous artifact's, and the
    headline scaled by it. Also flags registry families whose
    regime-normalized subtotal regressed >1.3× vs the previous artifact.
    Pure dict→dict for unit testing; mutates and returns ``art``."""
    if not prev:
        return art
    if prev_name:
        art["prev_bench_artifact"] = prev_name
    prev_cal = prev.get("calibration_sec")
    cal = art.get("calibration_sec")
    ratio = None
    if prev_cal and cal:
        ratio = round(cal / prev_cal, 3)
        art["prev_calibration_sec"] = prev_cal
        art["regime_ratio"] = ratio
        # one-directional, like value_calibrated: only correct when THIS
        # host is slower (ratio > 1). On a faster host the raw value
        # stands — the single-thread probe under-predicts full-query
        # speedups, and dividing by ratio < 1 would fabricate a
        # regression that isn't in the engine.
        art["value_regime_normalized"] = round(
            art["value"] / max(ratio, 1.0), 3
        )
    fams, prev_fams = art.get("registry_families"), prev.get(
        "registry_families"
    )
    qs, prev_qs = art.get("registry_query_sec"), prev.get(
        "registry_query_sec"
    )
    if art.get("sf") != prev.get("sf"):
        return art
    # normalize by regime so a uniformly slow host doesn't flag
    # every family; only regressions BEYOND the host delta count.
    # Family subtotals are produced during the SWEEP phase, minutes
    # after the headline calibration — use the sweep-phase re-anchor
    # when both sides carry one (falling back to the headline probe for
    # pre-r11 artifacts), so a mid-run regime shift normalizes with the
    # regime the sweep actually ran under instead of flagging every
    # Python-worker family (the r11 finding: 774 s in-bench sweep vs
    # 431 s clean on the same HEAD, external load mid-run)
    s_cal = art.get("sweep_calibration_sec")
    s_prev = prev.get("sweep_calibration_sec") or prev_cal
    sweep_ratio = round(s_cal / s_prev, 3) if s_cal and s_prev else None
    if sweep_ratio is not None:
        art["sweep_regime_ratio"] = sweep_ratio
    norm = max(
        (r for r in (ratio, sweep_ratio) if r and r > 1.0),
        default=1.0,
    )
    if qs and prev_qs:
        # per-query intersection (advice r09): a family that gained
        # queries this round must not be flagged purely for the added
        # coverage — compare only the queries both rounds ran
        regressed = []
        prenorm = []
        for f, cur_map in qs.items():
            prev_map = prev_qs.get(f)
            if not prev_map:
                continue
            shared = set(cur_map) & set(prev_map)
            p = sum(prev_map[q] for q in shared)
            c = sum(cur_map[q] for q in shared)
            # audit trail (ADVICE r11): the raw >1.3x set BEFORE the
            # regime max-norm and the 2 s absolute floor, so a flag the
            # leniency mechanisms suppress is still visible in the side
            # artifact instead of vanishing without trace
            if p > 0 and c > 1.3 * p:
                prenorm.append(f)
            # materiality floor (r11): a 1.3x ratio on a sub-second
            # family is host-overhead noise, not a plan regression —
            # require the normalized excess to also be absolute seconds
            if p > 0 and c / norm > 1.3 * p and c / norm - p > 2.0:
                regressed.append(f)
        art["registry_family_regressions"] = sorted(regressed)
        if prenorm:
            art["registry_family_regressions_prenorm"] = sorted(prenorm)
    elif fams and prev_fams:
        # legacy artifacts without per-query sweep timings: normalize
        # the subtotal by family query count when both rounds carry
        # counts, else compare raw subtotals (pre-r10 behavior)
        cnt, prev_cnt = art.get("registry_family_counts"), prev.get(
            "registry_family_counts"
        )
        regressed = []
        prenorm = []
        for f, v in fams.items():
            pv = prev_fams.get(f)
            if not pv:
                continue
            if cnt and prev_cnt and cnt.get(f) and prev_cnt.get(f):
                v, pv = v / cnt[f], pv / prev_cnt[f]
            if v > 1.3 * pv:
                prenorm.append(f)
            if v / norm > 1.3 * pv:
                regressed.append(f)
        art["registry_family_regressions"] = sorted(regressed)
        if prenorm:
            art["registry_family_regressions_prenorm"] = sorted(prenorm)
    return art


def retest_family_flags(
    spark, sf_dir: str, art: dict, prev: dict, budget_sec: float = 300.0
) -> dict:
    """Corroborate family-regression flags by RE-RUNNING the flagged
    families' shared queries once (r11 finding: the host throws episodic
    multi-minute load bursts that inflate whichever sweep rows they land
    on — JVM and Python alike; a point calibration probe cannot see
    them, so the single-pass gate raises false flags in bunches — 15 in
    the r11 run whose same-HEAD clean sweep showed every family at or
    under regime). A burst does not reproduce minutes later; a real
    regression does. Flags that fail to reproduce move to
    ``registry_family_regressions_unreproduced``; the retest timings are
    recorded so the adjudication is auditable. Budget-bounded: families
    are retested in flag order until ``budget_sec`` runs out; any left
    unretested KEEP their flag (conservative)."""
    flags = art.get("registry_family_regressions")
    qs, prev_qs = art.get("registry_query_sec"), prev.get(
        "registry_query_sec"
    )
    if not flags or not qs or not prev_qs:
        return art
    norm = max(
        (
            r
            for r in (art.get("regime_ratio"), art.get("sweep_regime_ratio"))
            if r and r > 1.0
        ),
        default=1.0,
    )
    confirmed, unreproduced = [], []
    retest: dict[str, dict[str, float]] = {}
    retest_errors: dict[str, str] = {}
    t_all = time.perf_counter()
    for f in flags:
        if time.perf_counter() - t_all > budget_sec:
            confirmed.append(f)  # out of budget: keep the flag
            retest_errors[f] = "retest budget exhausted"
            continue
        shared = set(qs.get(f, {})) & set(prev_qs.get(f, {}))
        times: dict[str, float] = {}
        try:
            for q in sorted(shared):
                t0 = time.perf_counter()
                execute(REGISTRY[q].spark(spark, sf_dir))
                times[q] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # keep the flag, but make the crash
            confirmed.append(f)  # auditable instead of silently posing
            # as a reproduced regression (review r11)
            retest_errors[f] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        retest[f] = times
        p = sum(prev_qs[f][q] for q in shared)
        c = sum(times[q] for q in shared)
        real = p > 0 and c / norm > 1.3 * p and c / norm - p > 2.0
        (confirmed if real else unreproduced).append(f)
    art["registry_family_regressions"] = sorted(confirmed)
    if unreproduced:
        art["registry_family_regressions_unreproduced"] = sorted(unreproduced)
    if retest:
        art["registry_family_retest_sec"] = retest
    if retest_errors:
        art["registry_family_retest_errors"] = retest_errors
    return art


def _round_num(name: str) -> int:
    m = re.search(r"_r(\d+)\.json$", name)
    return int(m.group(1)) if m else -1


def _current_round(root: Path) -> int | None:
    """The round bench is running IN: the last judged round + 1.
    VERDICT.md's header is the driver's own round counter; no VERDICT
    yet means round 1."""
    try:
        m = re.search(r"round (\d+)", (root / "VERDICT.md").read_text()[:200])
        return int(m.group(1)) + 1 if m else None
    except FileNotFoundError:
        return 1  # genuinely no verdict yet: this is round 1
    except OSError:
        # transient/permission read failure is NOT round 1 (ADVICE r10):
        # returning 1 would make _prev_artifact skip every prior wrapper
        # and silently disable regime normalization + the family gate
        return None


def _recover_from_tail(tail: str) -> dict | None:
    """Salvage a legacy over-long artifact from the driver wrapper's
    truncated ``tail`` (advice r09: r09's tail starts mid-object, so
    ``parsed`` is null). Best case the whole object survived; else
    regex out the scalar fields regime normalization needs and
    brace-match ``registry_families`` if it is intact."""
    i = tail.rfind('{"metric"')
    if i != -1:
        try:
            return json.JSONDecoder().raw_decode(tail[i:])[0]
        except ValueError:
            pass
    out: dict = {}
    for key in ("calibration_sec", "sf", "value", "registry_total_sec"):
        m = re.search(rf'"{key}": (-?[0-9][0-9.]*)', tail)
        if m:
            out[key] = float(m.group(1))
    m = re.search(r'"registry_families": \{', tail)
    if m:
        seg = tail[m.end() - 1 :]
        depth = 0
        for j, ch in enumerate(seg):
            if ch == "{":
                depth += 1
            elif ch == "}":
                depth -= 1
                if depth == 0:
                    try:
                        out["registry_families"] = json.loads(seg[: j + 1])
                    except ValueError:
                        pass
                    break
    if out:
        out["recovered_from_tail"] = True
    return out or None


def _prev_artifact(root: Path | None = None) -> tuple[str, dict] | None:
    """The newest COMPLETED round's bench artifact, for regime
    normalization. Numeric round order (lexicographic glob order breaks
    at r100), skipping this round's own artifact (a same-round re-run
    comparing against itself would report regime_ratio≈1 and mask a
    host shift — advice r09). Prefers the full side artifact; falls
    back to the driver wrapper's parsed line, then to tail salvage."""
    root = root or Path(__file__).resolve().parent
    cur = _current_round(root)
    wrappers = sorted(
        (p for p in root.glob("BENCH_r*.json") if _round_num(p.name) >= 0),
        key=lambda p: _round_num(p.name),
        reverse=True,
    )
    for p in wrappers:
        n = _round_num(p.name)
        if cur is not None and n >= cur:
            continue
        full = root / f"BENCH_FULL_r{n:02d}.json"
        if full.exists():
            try:
                return full.name, json.loads(full.read_text())
            except (OSError, ValueError):
                pass
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        # the driver wraps the bench's JSON line: {"n","rc","tail","parsed"}
        if isinstance(data.get("parsed"), dict):
            return p.name, data["parsed"]
        recovered = _recover_from_tail(data.get("tail") or "")
        if recovered:
            return p.name, recovered
    return None


# Full-artifact-only keys: everything the driver's ~2000-char stdout
# tail capture does not need on the printed line (advice r09, HIGH).
# The side file carries the complete artifact; the line stays compact.
SIDE_ONLY_KEYS = frozenset(
    {
        "queries_min",
        "registry_families",
        "registry_family_counts",
        "registry_query_sec",
        "registry_errors",
        "first_run",
        "calibration_anchor_sec",
        "sched_anchor_sec",
        "calibration_end_sec",
        "jobs_timed",
        # dict-valued retest audit trail (r11 regression: this key alone
        # was 3.2 KB and blew the printed line past the driver's capture,
        # so BENCH_r11.json landed with parsed:null — VERDICT r11 #2)
        "registry_family_retest_sec",
        "registry_family_retest_errors",
        "registry_family_regressions_unreproduced",
        "registry_family_regressions_prenorm",
    }
)
LINE_BUDGET_CHARS = 1900  # headroom under the driver's ~2000-char tail

# Never dropped by the overflow loop: the driver's cross-round
# comparisons need these even from a pathologically fat artifact.
ESSENTIAL_LINE_KEYS = frozenset(
    {"metric", "value", "unit", "sf", "detail_artifact"}
)


def compact_line(art: dict, detail_name: str) -> str:
    """The printed artifact line: compact core + per-query medians +
    a pointer to the full side artifact. Any overflow sheds the fattest
    non-essential fields until the line fits (VERDICT r11 #2: the old
    last-resort branch popped only ``queries`` and never re-checked the
    budget, so a new dict-valued key overflowed the driver's ~2000-char
    tail capture and the round shipped with parsed:null)."""
    line = {k: v for k, v in art.items() if k not in SIDE_ONLY_KEYS}
    if art.get("registry_errors"):
        line["registry_error_count"] = len(art["registry_errors"])
    if art.get("registry_family_regressions_unreproduced"):
        line["registry_unreproduced_count"] = len(
            art["registry_family_regressions_unreproduced"]
        )
    line["detail_artifact"] = detail_name
    s = json.dumps(line)
    if len(s) > LINE_BUDGET_CHARS:
        by_size = sorted(
            (k for k in line if k not in ESSENTIAL_LINE_KEYS),
            key=lambda k: len(json.dumps(line[k])),
            reverse=True,
        )
        for k in by_size:
            line.pop(k)
            if k == "queries":
                line["queries_in_detail_only"] = True
            line["fields_in_detail_only"] = True
            s = json.dumps(line)
            if len(s) <= LINE_BUDGET_CHARS:
                break
    assert len(s) <= LINE_BUDGET_CHARS, (
        f"bench line is {len(s)} chars, over the {LINE_BUDGET_CHARS} budget"
    )
    return s


def apply_drift_fallback(art: dict) -> dict:
    """When the drift RE-RUN itself drifts, fall back to value_min as
    the headline and rebase value_sched_adjusted onto it (advice r07:
    the adjusted field was derived from the median total, so keeping it
    made the artifact's headline and ancillary fields mutually
    inconsistent). Each min sample carries the same ~jobs_timed/RUNS
    jobs as a median sample, so the per-run excess attribution is
    identical for a min-of-samples total. Pure dict→dict for unit
    testing."""
    art["value_median"] = art["value"]
    art["value"] = art["value_min"]
    art["headline_is_min_due_to_drift"] = True
    sched_excess = round(art["value_median"] - art["value_sched_adjusted"], 3)
    art["value_sched_adjusted"] = round(art["value_min"] - sched_excess, 3)
    return art


def detail_artifact_name(rnd: int | None, sf: str) -> str:
    """Side-file name for this run's full artifact. Only the headline
    scale (sf0.1) writes the unsuffixed name ``_prev_artifact`` reads;
    other scales get an ``_sf{sf}`` suffix."""
    base = f"BENCH_FULL_r{rnd:02d}" if rnd else "BENCH_FULL"
    return f"{base}.json" if sf == "0.1" else f"{base}_sf{sf}.json"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up JVM + FS cache so timed runs measure the plans.
    for df in load_all(spark, sf_dir, register_views=False).values():
        df.count()

    art = run_once(spark, sf_dir, sf)
    # Drift policy (VERDICT r06 #4): a run whose start/end calibration
    # probes disagree straddled a host-speed change — its medians mix two
    # regimes, so don't record it unchallenged. Re-run once; if the host
    # is STILL drifting, report the second run with value_min as the
    # headline (per-sample minima are the samples least inflated by the
    # slow regime) and keep both calibration pairs in the artifact.
    if art["speed_drifted"]:
        first = {
            k: art[k]
            for k in ("value", "value_min", "calibration_sec", "calibration_end_sec")
        }
        art = run_once(spark, sf_dir, sf)
        art["drift_rerun"] = True
        art["first_run"] = first
        if art["speed_drifted"]:
            art = apply_drift_fallback(art)
    if os.environ.get("SPARK_GRAFT_REGISTRY_SWEEP", "1") != "0":
        art.update(registry_sweep(spark, sf_dir))
    prev = _prev_artifact()
    if prev:
        art = regime_fields(art, prev[1], prev[0])
        retest_family_flags(spark, sf_dir, art, prev[1])
    root = Path(__file__).resolve().parent
    detail = detail_artifact_name(_current_round(root), sf)
    (root / detail).write_text(json.dumps(art, indent=1))
    print(compact_line(art, detail))


if __name__ == "__main__":
    main()

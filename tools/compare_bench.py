#!/usr/bin/env python3
"""Cross-round bench adjudication — the SCALE.md ruler protocol as code.

Usage: python3 tools/compare_bench.py BASELINE.json CANDIDATE.json [MORE...]

BASELINE / CANDIDATE are bench_full.json artifacts (graft.Bench output).
Extra files after CANDIDATE are additional candidate runs: per-gate seconds
are taken as the min over all candidate runs (the min-of-N composite the
protocol prescribes for residual suspects), while run-window classification
is reported for every file individually.

Until round 17 this adjudication lived as prose in SCALE.md and each judge
re-implemented the arithmetic by hand (r16 verdict #3). The encoded rules,
with the empirical constants they came from:

  window classification (mirrors BenchProtocol.runVerdict; recomputed here
  so pre-r17 artifacts without the run_quiet field classify identically):
    - CONTAMINATED: calib_end/calib_start > 1.3 (clean runs drift 0.5-1.1x,
      contaminated 2.2-2.5x), or load_max > episode threshold (12.0; clean
      self-load max ~10.7), or any gate-level flagged entries — the run is
      not a ruler and per-gate numbers must not be adjudicated.
    - LAUNCH-UNVERIFIED: only load_start > 2 fails — typically the driver's
      own sbt-compile residue in the 1-min loadavg (the r14 272.2 s ruler
      started at 9.45 and was adjudicated clean gate by gate). Proceed,
      with a warning.
    - QUIET: all windows pass.

  per-gate adjudication (measured same-host noise, 3 clean r16 runs of
  byte-identical code: pairwise per-gate median 1.096, max/min spread
  median 1.26 / p90 1.51, totals +-10%):
    - a REGRESSION requires a multi-second gate: baseline >= 1.0 s,
      min-of-N ratio > 1.5, and absolute delta >= 0.75 s (sub-second gates
      sit on the local[32] scheduler floor where 3.8x spreads are measured
      clean-to-clean; sub-0.75 s deltas are inside one floor quantum).
    - IMPROVEMENTS are the mirror image (ratio < 1/1.5, delta <= -0.75 s),
      reported but never load-bearing.
    - the all-gate median ratio is read against the clean-to-clean band:
      <= 1.15 is indistinguishable from wobble; above that it is reported
      as elevated even when no single gate qualifies.

  totals: raw and calib-normalized (divide the raw ratio by
  cand_calib_start/base_calib_start); same-host calib noise is ~16%, so
  the normalized ratio is context, not a trigger.

Exit codes: 0 HELD (no qualifying regression), 1 REGRESSION,
2 NOT-ADJUDICABLE (baseline or PRIMARY candidate ruler is contaminated).

Contaminated EXTRA candidate runs stay in the min-of-N (labeled in the
output): contention only inflates measurements, so a contaminated run's
per-gate time is still a valid upper bound on the quiet-achievable time —
it can only refute an apparent regression (the gate demonstrably ran
faster), never manufacture one. Ruler quality is judged on the first two
files alone.

Self-check (the r16 verdicts this tool must reproduce):
  git show b57115d:bench_full.json > /tmp/r14.json   # r14 ruler, 272.2 s
  git show 19572f4:bench_full.json > /tmp/r16.json   # r16 ruler, 307.7 s
  git show f9f74be:bench_full.json > /tmp/r16drv.json  # driver run, 469.8 s
  git show 93eeb03:bench_full_run2.json > /tmp/run2.json
  git show 93eeb03:bench_full_run3.json > /tmp/run3.json
  compare_bench.py /tmp/r14.json /tmp/r16.json /tmp/run2.json /tmp/run3.json
    -> HELD (r16: "the suite held; no demonstrable regression")
  compare_bench.py /tmp/r16.json /tmp/r16drv.json
    -> NOT-ADJUDICABLE: candidate CONTAMINATED (calib drift 2.35x, ...)
"""
import json
import statistics
import sys

CALIB_DRIFT_MAX = 1.3
LOAD_START_MAX = 2.0
DEFAULT_EPISODE_LOAD = 12.0
MULTI_SECOND = 1.0
RATIO_GATE = 1.5
DELTA_GATE = 0.75
MEDIAN_BAND = 1.15


def classify(art):
    """(status, reasons) for one artifact's run window."""
    reasons = []
    thr = art.get("episode_load_threshold", DEFAULT_EPISODE_LOAD)
    cs = art.get("calib_start_s", art.get("calib_s", -1.0))
    ce = art.get("calib_end_s", -1.0)
    if cs > 0 and ce > 0 and ce / cs > CALIB_DRIFT_MAX:
        reasons.append(f"calib_drift {ce / cs:.2f}x > {CALIB_DRIFT_MAX:.2f}x")
    lm = art.get("load_max", -1.0)
    if lm > thr:
        reasons.append(f"load_max {lm:.2f} > {thr:.2f}")
    gate_flags = [f for f in art.get("flagged", []) if f != "run-level"]
    if gate_flags:
        reasons.append(f"gate-level flags: {','.join(gate_flags)}")
    ls = art.get("load_start", -1.0)
    launch_only = not reasons
    if ls > LOAD_START_MAX:
        reasons.append(f"load_start {ls:.2f} > {LOAD_START_MAX:.2f}")
    if not reasons:
        return "QUIET", reasons
    if launch_only and ls > LOAD_START_MAX:
        return "LAUNCH-UNVERIFIED", reasons
    return "CONTAMINATED", reasons


def pctl(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    i = min(len(xs) - 1, max(0, int(round(q * (len(xs) - 1)))))
    return xs[i]


def main():
    if len(sys.argv) < 3:
        print(__doc__)
        sys.exit(2)
    paths = sys.argv[1:]
    arts = []
    for p in paths:
        with open(p) as f:
            arts.append((p, json.load(f)))
    base_path, base = arts[0]
    cands = arts[1:]
    cand_path, cand = cands[0]

    not_adjudicable = False
    roles = [("baseline", arts[0]), ("candidate", cands[0])] + [
        ("extra-run", c) for c in cands[1:]]
    for role, (p, a) in roles:
        status, reasons = classify(a)
        own = a.get("run_quiet")
        own_note = "" if own is None else f"  (artifact run_quiet={own})"
        print(f"[{status:>17}] {role}: {p}  total={a.get('value'):.1f}s "
              f"calib={a.get('calib_start_s', a.get('calib_s')):.2f}->"
              f"{a.get('calib_end_s', -1):.2f} "
              f"load_start={a.get('load_start', -1):.2f} "
              f"load_max={a.get('load_max', -1):.2f}{own_note}")
        for r in reasons:
            print(f"                    - {r}")
        # extra runs may be contaminated (see the docstring: their min is
        # an upper bound that can only refute regressions); ruler quality
        # gates only the baseline and the primary candidate
        if status == "CONTAMINATED" and role != "extra-run":
            not_adjudicable = True

    bq = {k: v for k, v in base["queries"].items() if v >= 0}
    # min-of-N across candidate runs, per gate
    cq = {}
    for _, a in cands:
        for k, v in a["queries"].items():
            if v >= 0 and (k not in cq or v < cq[k]):
                cq[k] = v
    common = sorted(set(bq) & set(cq))
    only_b, only_c = sorted(set(bq) - set(cq)), sorted(set(cq) - set(bq))
    if only_b or only_c:
        print(f"[surface] {len(only_b)} gates only in baseline, "
              f"{len(only_c)} only in candidate (compared: {len(common)})")

    ratios = {k: cq[k] / bq[k] for k in common if bq[k] > 0}
    multi = {k: r for k, r in ratios.items() if bq[k] >= MULTI_SECOND}
    med, p90 = statistics.median(ratios.values()), pctl(
        list(ratios.values()), 0.90)
    med_m = statistics.median(multi.values()) if multi else float("nan")

    raw_b = sum(bq[k] for k in common)
    raw_c = sum(cq[k] for k in common)
    cb = base.get("calib_start_s", base.get("calib_s", -1.0))
    cc = cand.get("calib_start_s", cand.get("calib_s", -1.0))
    calib_ratio = cc / cb if cb > 0 and cc > 0 else float("nan")
    raw_ratio = raw_c / raw_b
    print(f"[totals ] raw {raw_b:.1f}s -> {raw_c:.1f}s "
          f"(ratio {raw_ratio:.3f}; candidate=min-of-{len(cands)})  "
          f"calib ratio {calib_ratio:.3f} (host-speed; ~16% noise)  "
          f"normalized {raw_ratio / calib_ratio:.3f}")
    print(f"[gates  ] ratio median {med:.3f}  p90 {p90:.3f}  "
          f"multi-second median {med_m:.3f}  "
          f"(clean-to-clean band: median ~1.10, spread p90 1.51)")

    regressions = sorted(
        (k for k, r in multi.items()
         if r > RATIO_GATE and cq[k] - bq[k] >= DELTA_GATE),
        key=lambda k: -ratios[k])
    improvements = sorted(
        (k for k, r in multi.items()
         if r < 1 / RATIO_GATE and bq[k] - cq[k] >= DELTA_GATE),
        key=lambda k: ratios[k])
    for k in regressions:
        print(f"[REGRESS] {k}: {bq[k]:.2f}s -> {cq[k]:.2f}s "
              f"({ratios[k]:.2f}x)")
    for k in improvements:
        print(f"[improve] {k}: {bq[k]:.2f}s -> {cq[k]:.2f}s "
              f"({ratios[k]:.2f}x)")

    if not_adjudicable:
        print("VERDICT: NOT-ADJUDICABLE — a contaminated run is not a "
              "ruler; re-measure in a verified-quiet window")
        sys.exit(2)
    if regressions:
        print(f"VERDICT: REGRESSION — {len(regressions)} multi-second "
              f"gate(s) beyond the noise band")
        sys.exit(1)
    note = (" (median elevated above the clean band — check calib and "
            "load windows)" if med > MEDIAN_BAND else "")
    print(f"VERDICT: HELD — no multi-second gate beyond 1.5x/{DELTA_GATE}s;"
          f" median {med:.3f}{note}")
    sys.exit(0)


if __name__ == "__main__":
    main()

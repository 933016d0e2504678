#!/usr/bin/env python3
"""Diff two bench_full.json captures (e.g. BENCH_FULL_r08 vs the new
round's run) into a per-query regression report.

Host weather moves whole captures up and down together (the round-8
verdict measured +28% between two same-day runs with ~17% calibration
drift), so raw ratios conflate load with regressions. This report:

 - normalizes each capture by its calibration probe (a fixed query
   timed before/after the sweep, stored as calibration_sec),
 - reports the median raw and calibration-normalized ratio,
 - lists the worst normalized regressions with absolute deltas, so a
   1.4x on a 0.2s query (scheduling noise) reads differently from a
   1.4x on a 7s query (a real problem).

Usage: diff_bench.py <old_bench_full.json> <new_bench_full.json>
                     [--confirm <capture.json>]... [--rerun]
Exit 1 if any query regresses >1.5x normalized AND >1.0s absolute —
the double gate that host noise on sub-second queries cannot trip.
When both captures carry per-query layer records (graft.Layers), each
listed query also shows its jobs and task-CPU deltas beside its wall
delta; a jobs delta of one either way prints as `jobs ±1 (first-run
noise)`, since a query's first run in a session can launch one job
more than its repeats.

Reproducibility gate (round 13 — q112 in round 12 tripped the gate on
one noisy capture that the driver's own re-run contradicted): before
exiting 1, each flagged query is CONFIRMED against every --confirm
capture (another same-round run of the same SF); if any of them shows
the query back under the gate, it is reported as a single-capture fluke
and does not fail the diff. With --rerun, still-flagged queries are
re-timed live via `sbt runMain graft.BenchOne` (q01/q03 lead-in absorbs
JIT warmup) as a last adjudication. Only reproduced regressions exit 1.
"""
import json
import os
import subprocess
import sys


def main():
    args = sys.argv[1:]
    confirms, rerun, pos = [], False, []
    i = 0
    while i < len(args):
        if args[i] == "--confirm":
            if i + 1 >= len(args):
                sys.exit(__doc__)
            confirms.append(args[i + 1]); i += 2
        elif args[i] == "--rerun":
            rerun = True; i += 1
        else:
            pos.append(args[i]); i += 1
    if len(pos) != 2:
        sys.exit(__doc__)
    old = json.load(open(pos[0]))
    new = json.load(open(pos[1]))
    qo = {k: v["sec"] for k, v in old["queries"].items()}
    qn = {k: v["sec"] for k, v in new["queries"].items()}
    names = sorted(set(qo) & set(qn))
    co, cn = old["calibration_sec"], new["calibration_sec"]
    # calibration_sec is {"before": s, "after": s} (a list or scalar in
    # older captures)
    def cal(c):
        if isinstance(c, dict):
            c = list(c.values())
        return sum(c) / len(c) if isinstance(c, list) else float(c)
    weather = cal(cn) / cal(co)

    # Round-11 captures carry per-query norm_sec (each trial divided by
    # its g-position-interpolated calibration probe — Bench.scala's
    # interleaved series). When BOTH captures have it, compare those
    # directly: per-query load correction beats one global weather
    # factor, which is exactly the round-10 verdict's complaint.
    def norms(cap):
        qs = cap["queries"]
        if all("norm_sec" in v for v in qs.values()):
            return {k: v["norm_sec"] for k, v in qs.items()}
        return None
    no, nn = norms(old), norms(new)
    per_query_norm = no is not None and nn is not None

    # Captures written since the layer record (graft.Layers) carry one
    # per query; older ones do not, and then no layer delta is printed.
    def layers(cap):
        return {k: v["layers"] for k, v in cap["queries"].items()
                if "layers" in v}
    lo, ln = layers(old), layers(new)

    def layer_delta(n):
        if n not in lo or n not in ln:
            return ""
        a, b = lo[n], ln[n]
        jobs = b["dispatch.jobs"] - a["dispatch.jobs"]
        cpu = b["compute.task_cpu_s"] - a["compute.task_cpu_s"]
        # a query's first run in a session can launch one job more than
        # its repeats, and a capture may report either trial
        jobs_s = ("jobs ±1 (first-run noise)" if abs(jobs) == 1
                  else f"jobs {jobs:+d}")
        return f"  {jobs_s}  task cpu {cpu:+.2f}s"

    ratios = sorted(qn[n] / qo[n] for n in names if qo[n] > 0)
    med = ratios[len(ratios) // 2]
    print(f"queries compared: {len(names)} "
          f"(old only: {len(set(qo) - set(qn))}, "
          f"new only: {len(set(qn) - set(qo))})")
    print(f"calibration: old={cal(co):.3f}s new={cal(cn):.3f}s "
          f"-> host-weather factor {weather:.2f}x")
    if per_query_norm:
        nrat = sorted(nn[n] / no[n] for n in names if no[n] > 0)
        print(f"median ratio: raw {med:.2f}x, per-query-probe-normalized "
              f"{nrat[len(nrat) // 2]:.2f}x (norm_sec from both captures)")
    else:
        print(f"median ratio: raw {med:.2f}x, "
              f"calibration-normalized {med / weather:.2f}x")
    print(f"total: old={sum(qo[n] for n in names):.1f}s "
          f"new={sum(qn[n] for n in names):.1f}s")

    rows = []
    failures = []  # ran before, failed now (sec/norm_sec == -1)
    for n in names:
        if qo[n] <= 0:
            continue
        # a query that FAILED only in the new capture records -1: a
        # negative ratio would sort to the bottom and sail past the
        # gate — a regression-to-failure must be an automatic entry
        if qn[n] < 0 or (per_query_norm and no[n] > 0 and nn[n] < 0):
            failures.append(n)
            continue
        if per_query_norm and no[n] > 0:
            norm = nn[n] / no[n]
        else:
            norm = qn[n] / qo[n] / weather
        rows.append((norm, qn[n] - qo[n], n, qo[n], qn[n]))
    rows.sort(reverse=True)
    print("\nworst normalized ratios:")
    for norm, delta, n, a, b in rows[:10]:
        print(f"  {n:40s} {a:7.2f}s -> {b:7.2f}s  "
              f"{norm:5.2f}x norm  {delta:+6.2f}s{layer_delta(n)}")

    bad = [(n, norm, delta) for norm, delta, n, a, b in rows
           if norm > 1.5 and delta > 1.0]

    # ---- reproducibility adjudication: confirm captures, then rerun ----
    def confirm_ratio(n, cap):
        """Gate ratio/delta of n in a confirm capture vs old; None if
        the capture lacks the query or it failed there. Norm units are
        only compared when BOTH sides carry norm_sec — a raw second must
        never divide a normalized one."""
        v = cap["queries"].get(n)
        if v is None or v["sec"] < 0:
            return None
        if (per_query_norm and no.get(n, 0) > 0
                and v.get("norm_sec", -1.0) >= 0):
            return (v["norm_sec"] / no[n], v["sec"] - qo[n])
        cw = cal(cap["calibration_sec"]) / cal(co)
        return (v["sec"] / qo[n] / cw, v["sec"] - qo[n])

    caps = [json.load(open(p)) for p in confirms]
    flukes, reproduced = [], []  # fluke: (name, flagged_desc, cleared_desc)
    for n, norm, delta in bad:
        verdicts = [r for r in (confirm_ratio(n, c) for c in caps)
                    if r is not None]
        cleared = [(r, d) for r, d in verdicts if r <= 1.5 or d <= 1.0]
        if cleared:
            flukes.append((n, f"flagged {norm:.2f}x",
                           f"confirm capture ran it at {cleared[0][0]:.2f}x"))
        else:
            reproduced.append((n, norm, delta, bool(verdicts)))
    # failures clear only if a confirm capture ran the query clean — and
    # the report must carry that capture's ACTUAL ratio, not a placeholder
    real_failures = []
    for n in failures:
        clean = [r for r in (confirm_ratio(n, c) for c in caps)
                 if r is not None and (r[0] <= 1.5 or r[1] <= 1.0)]
        (flukes.append((n, "failed (-1) in new capture",
                        f"ran clean at {clean[0][0]:.2f}x in confirm"))
         if clean else real_failures.append(n))

    if rerun and reproduced:
        names = [n for n, *_ in reproduced]
        print(f"\nre-timing {names} x2 via BenchOne (q01/q03 lead-in)...")
        # the rerun must execute at the SF/threads the captures were
        # taken at, and be normalized by a LIVE calibration probe — the
        # capture-time weather factor is stale by rerun time. Each query
        # is timed TWICE and judged on the min: a single trial can clear
        # a real, multiply-confirmed regression on one lucky schedule
        # (the gate must not weaken in the pass direction on one sample).
        env = dict(os.environ)
        env["SPARK_GRAFT_SF_DIR"] = new.get("sf", env.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
        if new.get("cpus"):
            env["SPARK_GRAFT_CPUS"] = str(new["cpus"])
        out = subprocess.run(
            ["sbt", "-batch", "runMain graft.BenchOne q01_pricing_summary "
             "q03_join_agg _calib " + " ".join(names) + " _calib "
             + " ".join(names)],
            capture_output=True, text=True, env=env).stdout
    else:
        out = ""
    calib_line = [l for l in out.splitlines() if "[benchone] _calib " in l]
    live_weather = (min(float(l.split()[-1].rstrip("s")) for l in calib_line)
                    / cal(co) if calib_line else weather)
    still = []
    for n, norm, delta, had_confirm in reproduced:
        lines = [l for l in out.splitlines() if f"[benchone] {n} " in l]
        if lines:
            trials = [float(l.split()[-1].rstrip("s")) for l in lines]
            t = min(trials)
            ratio = t / qo[n] / live_weather
            if ratio <= 1.5 or t - qo[n] <= 1.0:
                flukes.append((n, f"flagged {norm:.2f}x",
                               f"min of {len(trials)} reruns at {ratio:.2f}x"))
                continue
            still.append((n, norm, delta,
                          f"min of {len(trials)} reruns {ratio:.2f}x"))
        else:
            src = ("confirm captures agree" if had_confirm
                   else "unconfirmed (no --confirm capture had it; "
                        "pass --rerun to adjudicate)")
            still.append((n, norm, delta, src))

    if flukes:
        print("\nSINGLE-CAPTURE FLUKES (tripped the gate, cleared by a "
              "confirm capture or rerun):")
        for n, flagged, clearedby in flukes:
            print(f"  {n}: {flagged}, {clearedby}")
    if real_failures:
        print(f"\nREGRESSED TO FAILURE (ran in old, -1 in new, "
              f"no confirm capture clears it): {real_failures}")
    if still:
        print("\nREPRODUCED REGRESSIONS (normalized >1.5x AND >1.0s, "
              "not cleared by any confirm/rerun):")
        for n, norm, delta, src in still:
            print(f"  {n}: {norm:.2f}x norm, {delta:+.2f}s{layer_delta(n)} "
                  f"[{src}]")
    if not still and not real_failures:
        print("\nno regressions past the 1.5x-normalized + 1.0s-absolute "
              "double gate" + (" (after reproducibility adjudication)"
                               if flukes else ""))
    sys.exit(1 if still or real_failures else 0)


if __name__ == "__main__":
    main()

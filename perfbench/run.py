#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark (perfbench/build.sbt) into .bench_build/ (or $CARGO_TARGET_DIR);
later runs reuse the build until a source file changes. Each run:

  1. draws its inputs from --seed (query sample and order, stream jitter);
  2. starts one JVM (local[nproc]) that sets up, runs the workload for
     --seconds and writes raw measurements;
  3. checks the outputs outside the timed window (scripts/check_oracle.py
     for queries, the stream checks inside the JVM);
  4. prints every metric by name with its unit, then one JSON line.

--trace 0 reports the end-to-end metrics; --trace 1 attaches listeners
and reports the per-layer metrics (see perfbench/README.md).
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import bench_lib as lib  # noqa: E402

CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
WORKLOADS = ["batch_mix", "stream_stateful"]
# a run must end within this many seconds, build excluded
RUN_BUDGET_S = 170


def sf_dir():
    """The sf0.1 test tables: SPARK_GRAFT_SF_DIR (as for graft.Bench), or
    the directory TESTDATA.md lists for scale factor 0.1."""
    if "SPARK_GRAFT_SF_DIR" in os.environ:
        return os.environ["SPARK_GRAFT_SF_DIR"]
    for line in open(os.path.join(ROOT, "TESTDATA.md")):
        m = re.match(r"\|\s*0\.1\s*\|\s*`([^`]+)`", line)
        if m:
            return m.group(1).rstrip("/")
    fail("TESTDATA.md lists no sf0.1 directory; set SPARK_GRAFT_SF_DIR")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(build_dir):
    """Compile the engine and the benchmark with sbt, once per source
    state; returns (classpath, jvm options)."""
    launch = os.path.join(build_dir, "launch.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        os.makedirs(build_dir, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline",
                   PERFBENCH_LAUNCH=launch)
        # sbt keeps its global state (compiler bridge, server files) in
        # the build directory rather than the home directory
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={repos} "
                       "-Dsbt.offline=true -Xmx4g")
        log = os.path.join(build_dir, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 f"-Dsbt.global.base={build_dir}/sbt-global",
                 "perfbench/writeLaunch"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=850)
        if rc != 0 or not os.path.exists(launch):
            sys.stderr.write(open(log).read()[-4000:])
            fail("build failed", 3)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def batch_queries(workload, seed):
    """The frozen stratified sample plus the forced queries, in an order
    drawn from the seed. The sample itself comes from the fixed
    sample_seed: a sample drawn per run seed moved the pass time by about
    20 % between seeds."""
    import random
    cfg = CONFIG[workload]
    pop = [(name, f"{fam}:{tier}")
           for name, (fam, tier) in cfg["population"].items()]
    qs = sorted(lib.stratified_sample(pop, cfg["sample_seed"], cfg["quota"])
                + cfg["forced"])
    random.Random(seed).shuffle(qs)
    return qs


def run_jvm(cp, opts, args, scratch, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{CONFIG['heap']}", *CONFIG["jvm_options"], *opts,
           f"-Djava.io.tmpdir={scratch}/tmp", "-cp", cp, "perfbench.Main",
           *[f"{k}={v}" for k, v in args.items()]]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{scratch}/local",
               SPARK_GRAFT_ARTIFACTS=f"{scratch}/artifacts",
               SPARK_GRAFT_CPUS=str(args["cpus"]))
    log = os.path.join(scratch, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(signum, frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("benchmark JVM timed out" if rc is None
             else f"benchmark JVM exited with {rc}", 4)
    return json.load(open(args["out"]))


def host_cpu():
    """The host's cumulative CPU times from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def oracle_check(sf, dump, scratch):
    """scripts/check_oracle.py over the dumped queries; returns
    ({query: status}, {query: result rows}) for every query it saw."""
    report = os.path.join(scratch, "oracle.json")
    with open(os.path.join(scratch, "oracle.log"), "w") as out:
        subprocess.call([sys.executable,
                         os.path.join(ROOT, "scripts", "check_oracle.py"),
                         "--partial", sf, dump, report],
                        cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                        stdin=subprocess.DEVNULL, timeout=120)
    if not os.path.exists(report):
        return {}, {}
    rep = json.load(open(report))
    return ({q: r["status"] for q, r in rep.items()},
            {q: r.get("spark_rows") or 0 for q, r in rep.items()})


# ---------------------------------------------------------------- metrics

# the metric names and units BENCHMARK.json lists (tests/ keeps them equal)
END_TO_END = {"setup_s": "s", "pass_wall_s": "s", "op_p50_ms": "ms",
              "peak_rss_mb": "MB"}

PER_LAYER = {
    "dispatch.jobs": "count", "dispatch.stages": "count",
    "dispatch.tasks": "count", "dispatch.sched_gap_s": "s",
    "dispatch.coverage_share": "share", "dispatch.failed_tasks": "count",
    "storage.cached_bytes": "bytes",
    "scan.input_bytes": "bytes", "scan.input_rows": "count",
    "scan.rows_per_result_row": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "bytes",
    "compute.task_run_s": "s", "compute.task_cpu_s": "s", "compute.gc_s": "s",
    "plans.analysis_ms": "ms", "plans.optimize_ms": "ms",
    "plans.planning_ms": "ms",
    "operators.build_s": "s",
    "setup.session_s": "s", "setup.prepare_s": "s",
    "streaming.epochs": "count", "streaming.rows_per_epoch": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.state_rows_peak": "count",
    "streaming.state_bytes_peak": "bytes",
    "connectors.src_recv_ms_p50": "ms", "connectors.backlog_rows_max": "count",
    "connectors.generator_late_ms_p99": "ms",
    "self.compute_s": "s", "self.dispatch_s": "s", "self.plans_s": "s",
    "self.driver_s": "s", "self.epoch_s": "s", "self.build_s": "s",
    "trace.overhead_share": "share", "trace.selftime_residual_share": "share",
}

# the self-time layers, in the order that makes them disjoint: a task
# running, a job without a task running, planning, the rest of a SQL
# execution (driver), the rest of a micro-batch (epoch), and the client
# constructing queries (build)
SELF_LAYERS = ["compute", "dispatch", "plans", "driver", "epoch", "build"]

# traced layer self times must add up to the client's walls within this
# share; a larger residual means the listeners missed part of the run,
# and the traced run is reported as not correct
SELFTIME_TOLERANCE = 0.05


def setup_s(setup):
    """Session start-up plus the median set-up go (warm-up and cold
    prepare, repeated in fresh sessions inside the run)."""
    return setup["session_s"] + lib.median(
        [g["warm_s"] + g["prepare_s"] for g in setup["goes"]])


def passes(runs):
    """Group timed query runs by pass (their id is query#pass)."""
    out = {}
    for r in runs:
        out.setdefault(int(r["id"].rsplit("#", 1)[1]), []).append(r)
    return [out[k] for k in sorted(out)]


def batch_summary(res, statuses):
    """End-to-end samples of the batch workload, plus attempted/failed:
    a query fails when it threw or when its dump missed the oracle."""
    queries = list(res["dump"])
    untraced = [r for r in res["runs"] if not r["traced"]]
    bad = {q for q in queries
           if statuses.get(q) not in ("hash_match", "spec_gated")}
    attempted = len(queries) + len(res["runs"])
    failed = len(bad) + sum(1 for r in res["runs"]
                            if r["error"] is not None or r["query"] in bad)
    per_query = {}
    for r in untraced:
        per_query.setdefault(r["query"], []).append(r["wall_s"])
    # each query at its best time over the timed passes: the first timed
    # pass still warms the JIT, and a burst of host load can slow a pass
    best = [min(v) for v in per_query.values()]
    return {"pass_walls": [sum(r["wall_s"] for r in p)
                           for p in passes(untraced)],
            "best_pass": sum(best), "best_p50": lib.median(best),
            "per_query": per_query,
            "walls": [r["wall_s"] for r in untraced], "bad": sorted(bad),
            "attempted": attempted, "failed": failed}


def stream_summary(st):
    """Open-loop latencies, closed-loop drain and the delivery checks."""
    rate = st["rate"]
    t0 = st["t0_ms"] / 1e3
    lat = []
    for twin in st["twins"]:
        eps = sorted((e for e in st["open_epochs"]
                      if e["query"] == f"open_{twin}"),
                     key=lambda e: e["batch"])
        # the first epoch that carried rows started the query: skip it
        lat += lib.epoch_latencies(
            [(e["end_offset"], (e["start_ms"] + e["trigger_ms"]) / 1e3)
             for e in eps], t0, rate)[1:]
    problems = []
    lost_or_dup = 0
    for phase, rows in (("closed", st["feed_rows"]),
                        ("open", st["open_rows"])):
        for twin in st["twins"]:
            eps = sorted((e for e in st[f"{phase}_epochs"]
                          if e["query"] == f"{phase}_{twin}"),
                         key=lambda e: e["batch"])
            delivered = sum(e["rows"] for e in eps)
            # offsets must tile [0, rows) exactly: no gap, no overlap
            pos = 0
            for e in eps:
                if e["rows"] == 0:
                    continue
                if e["start_offset"] != pos or \
                        e["end_offset"] - e["start_offset"] != e["rows"]:
                    problems.append(f"{phase}/{twin}: epoch {e['batch']} "
                                    f"covers [{e['start_offset']}, "
                                    f"{e['end_offset']}) after {pos}")
                pos = max(pos, e["end_offset"])
            if delivered != rows or pos != rows:
                problems.append(f"{phase}/{twin}: delivered {delivered} "
                                f"of {rows} rows, last offset {pos}")
            lost_or_dup += abs(delivered - rows) + abs(pos - rows)
    twin_bad = [c for c in st["checks"] if c["error"] is not None]
    problems += [f"closed/{c['twin']}: {c['error']}" for c in twin_bad]
    attempted = len(st["twins"]) * (st["feed_rows"] + st["open_rows"])
    failed = min(attempted, lost_or_dup + st["feed_rows"] * len(twin_bad))
    late = lib.lateness([u / 1e6 for u in st["sent_us"]], 0.0, rate)
    return {"latency_s": lat, "late_p99_s": lib.nearest_rank(sorted(late),
                                                            0.99),
            "drain_s": st["drain_s"], "rows": st["feed_rows"],
            "problems": problems, "attempted": attempted, "failed": failed}


def layer_metrics(res, workload, result_rows):
    """Per-layer numbers of the traced run."""
    tr = res["trace"]
    if workload == "stream_stateful":
        st = res["stream"]
        ids = [f"closed_{t}" for t in st["twins"]]
        windows = [tuple(st["drain_window_ms"])]
        result_rows = sum(max(e["output_rows"], 0)
                          for e in st["closed_epochs"])
    else:
        first = passes([r for r in res["runs"] if r["traced"]])[0]
        ids = [r["id"] for r in first]
        windows = [(r["start_ms"], r["end_ms"]) for r in first]
    qs = [tr["queries"][i] for i in ids if i in tr["queries"]]

    def tot(k):
        return sum(q[k] for q in qs)
    job_wall = sum(lib.union_length(q["job_spans"]) for q in qs) / 1e3
    gap = sum(lib.uncovered(q["job_spans"], q["task_spans"])
              for q in qs) / 1e3
    m = {
        "setup.session_s": res["setup"]["session_s"],
        "setup.prepare_s": lib.median(
            [g["prepare_s"] for g in res["setup"]["goes"]]),
        "storage.cached_bytes": tr["cached_bytes_peak"],
        "dispatch.jobs": tot("jobs"), "dispatch.stages": tot("stages"),
        "dispatch.tasks": tot("tasks"),
        "dispatch.sched_gap_s": gap,
        "dispatch.coverage_share":
            (job_wall - gap) / job_wall if job_wall else 0.0,
        "dispatch.failed_tasks": tot("failed_tasks"),
        "scan.input_bytes": tot("input_bytes"),
        "scan.input_rows": tot("input_rows"),
        "scan.rows_per_result_row":
            tot("input_rows") / result_rows if result_rows else 0.0,
        "shuffle.write_bytes": tot("shuffle_write"),
        "shuffle.read_bytes": tot("shuffle_read"),
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3,
        "shuffle.spill_bytes": tot("spill"),
        "compute.task_run_s": tot("run_ms") / 1e3,
        "compute.task_cpu_s": tot("cpu_ns") / 1e9,
        "compute.gc_s": tot("gc_ms") / 1e3,
    }
    phase_ms = {"analysis": 0, "optimization": 0, "planning": 0}
    for name, s, e in tr["plan_phases"]:
        if name in phase_ms and any(in_window([(s, e)], lo, hi)
                                    for lo, hi in windows):
            phase_ms[name] += e - s
    m.update({"plans.analysis_ms": phase_ms["analysis"],
              "plans.optimize_ms": phase_ms["optimization"],
              "plans.planning_ms": phase_ms["planning"]})
    phases = [(s, e) for _, s, e in tr["plan_phases"]]
    if workload == "stream_stateful":
        m.update(stream_layers(res))
        lo, hi = windows[0]
        built = st["drain_started_ms"]
        m["operators.build_s"] = (built - lo) / 1e3
        # the four twins run at once: their intervals are pooled over the
        # drain window
        m.update(self_times([(lo, hi, {
            "compute": [t for q in qs for t in q["task_spans"]],
            "dispatch": [j for q in qs for j in q["job_spans"]],
            "plans": phases, "driver": tr["executions"],
            "epoch": [(e["start_ms"], e["start_ms"] + e["trigger_ms"])
                      for e in tr["epochs"]
                      if e["query"].startswith("closed_")],
            "build": [(lo, built)]})]))
        m["trace.overhead_share"] = res["stream"]["drain_s"] / \
            lib.median(res["untraced_drain_s"]) - 1
    else:
        m.update({k: 0.0 for k in PER_LAYER
                  if k.startswith(("streaming.", "connectors."))})
        m["operators.build_s"] = sum(r["build_s"] for r in first)
        parts = []
        for r in first:
            lo, hi = r["start_ms"], r["end_ms"]
            q = tr["queries"].get(r["id"], {"job_spans": [], "task_spans": []})
            parts.append((lo, hi, {
                "compute": q["task_spans"], "dispatch": q["job_spans"],
                "plans": in_window(phases, lo, hi),
                "driver": in_window(tr["executions"], lo, hi),
                "build": [(lo, lo + r["build_s"] * 1e3)]}))
        m.update(self_times(parts))
        # the last four passes ran traced, untraced, untraced, traced
        t1, u1, u2, t2 = [sum(r["wall_s"] for r in p)
                          for p in passes(res["runs"])[-4:]]
        m["trace.overhead_share"] = (t1 + t2) / (u1 + u2) - 1
    return m


def self_times(parts):
    """Layer self times over client-timed windows. `parts` holds one
    (lo, hi, {layer: intervals}) per window: each timed query of the
    batch pass, or the stream's closed-loop drain. The layers come from
    their own sources (tasks and jobs from the Spark listener, planning
    phases from the query-execution trackers, SQL executions from their
    start and end events, micro-batches from streaming progress,
    construction from the client's clock) and are made disjoint in the
    order of SELF_LAYERS. The residual is client wall time that no traced
    interval covers: time the listeners failed to account for."""
    out = {f"self.{k}_s": 0.0 for k in SELF_LAYERS}
    wall = residual = 0.0
    for lo, hi, ivs in parts:
        st, rest = lib.self_times([(k, ivs.get(k, [])) for k in SELF_LAYERS],
                                  lo, hi)
        for k, v in st.items():
            out[f"self.{k}_s"] += v / 1e3
        wall += hi - lo
        residual += rest
    out["trace.selftime_residual_share"] = residual / wall if wall else 0.0
    return out


def in_window(intervals, lo, hi):
    """The intervals that start inside [lo, hi]: one client runs the
    queries one after another, so untagged intervals (planning phases,
    SQL executions) belong to the query whose window holds their start."""
    return [(s, e) for s, e in intervals if lo <= s <= hi]


def stream_layers(res):
    st = res["stream"]
    epochs = res["trace"]["epochs"]
    closed = [e for e in epochs
              if e["query"].startswith("closed_") and e["rows"] > 0]
    opened = [e for e in epochs
              if e["query"].startswith("open_") and e["rows"] > 0]

    def p50(k, eps):
        return lib.median([e[k] for e in eps]) if eps else 0.0

    def peak(k):
        # each twin's peak, summed over the twins
        return sum(max([e[k] for e in closed if e["query"] == f"closed_{t}"]
                       or [0]) for t in st["twins"])
    return {
        "streaming.epochs": len(closed),
        "streaming.rows_per_epoch": p50("rows", closed),
        "streaming.trigger_ms_p50": p50("trigger_ms", closed),
        "streaming.add_batch_ms_p50": p50("add_batch_ms", closed),
        "streaming.state_commit_ms_p50": p50("state_commit_ms", closed),
        "streaming.state_rows_peak": peak("state_rows"),
        "streaming.state_bytes_peak": peak("state_bytes"),
        "connectors.src_recv_ms_p50": p50("src_ms", opened),
        "connectors.backlog_rows_max": max(
            [e["latest_offset"] - e["start_offset"] for e in opened] or [0]),
        "connectors.generator_late_ms_p99":
            stream_summary(st)["late_p99_s"] * 1e3,
    }


def report(a, res, sf, scratch):
    """Check the outputs, print every metric by name, and return the
    result object."""
    lines = []   # (name, value, unit, note)
    valid = True
    result_rows = 0
    if a.workload == "stream_stateful":
        s = stream_summary(res["stream"])
        limit = CONFIG["stream_stateful"]["generator_late_limit_ms"] / 1e3
        valid = s["late_p99_s"] <= limit
        lat_ms = sorted(x * 1e3 for x in s["latency_s"])
        tail_v, tail_p, n = lib.tail(lat_ms)
        e2e = {"pass_wall_s": s["drain_s"], "op_p50_ms": lib.median(lat_ms)}
        lines += [
            ("stream_rows_per_s", s["rows"] / s["drain_s"], "rows/s",
             "closed-loop drain of the feed by the four twins"),
            ("stream_latency_p50_ms", e2e["op_p50_ms"], "ms",
             f"open loop at {res['stream']['rate']:g} rows/s, n={n}"),
            ("stream_latency_p95_ms", lib.nearest_rank(lat_ms, 0.95), "ms",
             f"n={n}"),
            ("stream_latency_tail_ms", tail_v, "ms",
             f"p{tail_p:.1f} of n={n}"),
            ("generator_late_ms_p99", s["late_p99_s"] * 1e3, "ms",
             "ok" if valid else "INVALID RUN: the generator fell behind")]
        for p in s["problems"]:
            print(f"stream check failed: {p}")
    else:
        statuses, rows = oracle_check(sf, os.path.join(scratch, "dump"),
                                      scratch)
        s = batch_summary(res, statuses)
        result_rows = sum(rows.get(q, 0) for q in res["dump"])
        tail_v, tail_p, n = lib.tail(s["walls"])
        e2e = {"pass_wall_s": s["best_pass"],
               "op_p50_ms": s["best_p50"] * 1e3}
        lines += [
            ("batch_wall_s", e2e["pass_wall_s"], "s",
             f"each of {len(res['dump'])} queries at its best over passes "
             f"{[round(x, 2) for x in s['pass_walls']]}"),
            ("query_p50_s", e2e["op_p50_ms"] / 1e3, "s",
             f"median of the {len(res['dump'])} best times"),
            ("query_tail_s", tail_v, "s", f"p{tail_p:.1f} of n={n}")]
        for q in s["bad"]:
            print(f"query check failed: {q} ({statuses.get(q, 'no report')})")
        for q, walls in sorted(s["per_query"].items()):
            print(f"  {q:32s} walls {[round(w, 3) for w in walls]} s")
    e2e["setup_s"] = setup_s(res["setup"])
    e2e["peak_rss_mb"] = res["peak_rss_mb"]
    lines += [("setup_s", e2e["setup_s"], "s", "process start to ready"),
              ("peak_rss_mb", e2e["peak_rss_mb"], "MB", "VmHWM"),
              ("failed_share", s["failed"] / s["attempted"], "share",
               f"{s['failed']} of {s['attempted']}")]
    if a.trace:
        metrics = layer_metrics(res, a.workload, result_rows)
        units = PER_LAYER
        if metrics["trace.selftime_residual_share"] > SELFTIME_TOLERANCE:
            valid = False
            print("trace check failed: traced self times miss the client's "
                  f"walls by {metrics['trace.selftime_residual_share']:.1%}"
                  f" (tolerance {SELFTIME_TOLERANCE:.0%})")
    else:
        metrics, units = e2e, END_TO_END
    lines += [(k, metrics[k], units[k], "") for k in units]
    for name, v, unit, note in lines:
        print(f"{name:34s} {v:16.4f} {unit:7s} {note}".rstrip())
    return {"correct": s["failed"] == 0 and valid,
            "attempted": s["attempted"], "failed": s["failed"],
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in units}}


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for f in ("build.sbt", "TESTDATA.md", os.path.join("src", "main", "scala"),
              os.path.join("scripts", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"no {f} beside perfbench/: run from a full checkout")
    sf = sf_dir()
    if not os.path.isdir(sf):
        fail(f"test tables not found at {sf} (set SPARK_GRAFT_SF_DIR)")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                                  ".bench_build"))
    cp, opts = build(build_dir)
    deadline = time.time() + RUN_BUDGET_S

    scratch = os.path.join(build_dir, "runs",
                           f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "local", "dump", "ckpt"):
        os.makedirs(os.path.join(scratch, d))
    wcfg = CONFIG[a.workload]
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "sf": sf, "scratch": scratch,
            "cpus": len(os.sched_getaffinity(0)),
            "out": os.path.join(scratch, "result.json"),
            "trace_dir": os.path.join(build_dir, "traces",
                                      f"{a.workload}-s{a.seed}"),
            "prepare": int(wcfg.get("prepare", False)),
            "setup_reps": wcfg["setup_reps"]}
    if a.workload == "stream_stateful":
        args.update(rate=wcfg["rate"], days=wcfg["days"],
                    warm_rows=wcfg["warm_rows"],
                    max_rows_per_trigger=wcfg["max_rows_per_trigger"])
    else:
        args["queries"] = ",".join(batch_queries(a.workload, a.seed))
        args["min_passes"] = wcfg["min_passes"]
    try:
        t0 = time.time()
        cpu0 = host_cpu()
        res = run_jvm(cp, opts, args, scratch, deadline)
        jvm_s = time.time() - t0
        cpu1 = host_cpu()
        out = report(a, res, sf, scratch)
        if cpu0 and cpu1:
            # time the host's hypervisor gave our CPUs to others: it slows
            # whole runs, so it explains outliers; it corrects nothing
            d = [y - x for x, y in zip(cpu0, cpu1)]
            print(f"host steal during the run: {d[7] / sum(d):.1%} of CPU time")
        print(f"timing: jvm {jvm_s:.1f} s (results written at "
              f"{res['uptime_s']:.1f} s), total {time.time() - t0:.1f} s, "
              f"phases {res.get('stream', res).get('phase_s', '')}, "
              f"setup {res['setup']}")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

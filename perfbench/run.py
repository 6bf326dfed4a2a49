#!/usr/bin/env python3
"""The repository benchmark. See perfbench/README.md.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 15 --trace 0

builds the program and the harness from source (once per source state),
generates the workload's inputs from the seed, runs the harness JVM,
checks the program's outputs and prints each metric with its unit. The
last line of standard output is one JSON object: correct, attempted,
failed and metrics (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). The run's full record, environment
included, is written to ``perfbench/out/``.

``--record`` runs every registered query once and rewrites
``expected.json`` with their sink row counts and output digests.
"""

import argparse
import datetime
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import trades  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
OUT = os.path.join(HERE, "out")
TARGET = os.path.join(HERE, "target")
EXPECTED = os.path.join(HERE, "expected.json")
HEAP = "3g"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840

# trade_stream: 50 trades a line, 100 lines a micro-batch, so a drain of
# the log is 5 micro-batches with data; the warm-up log is 2, enough to
# close and flush its first windows.
TRADE_LINES = 500
WARMUP_LINES = 200
MAX_LINES_PER_TRIGGER = 100

# About how long one measured pass takes on a 4-core host: a run makes
# round(seconds / NOMINAL_PASS_S) measured passes, at least one. A traced
# run makes at least three: untraced, traced, untraced. A fixed pass
# count keeps the number of samples, and so the tail percentile, the
# same from run to run.
NOMINAL_PASS_S = {"sql_analytics": 3.0, "llm_pipeline": 3.0, "trade_stream": 8.0}
RUN_SECONDS = 24

# The query workloads' fixed query sets, run in a seed-shuffled order.
# See README.md for why these queries.
QUERIES = {
    "sql_analytics": [
        "q06_rolling_vwap", "q07_rolling_volatility", "q08_anomaly_flags",
        "q09_ohlcv_bars", "q31_sql_nation_revenue", "q02_revenue_filter",
        "q11_sort_limit", "q20_string_funcs", "q53_string_pad",
    ],
    "llm_pipeline": [
        "t30_bpe_merges", "d03_dedup_minhash_pairs", "d13_editdist_pairs",
        "s01_cosine_topk", "s05_quantize_int8", "t01_langid", "t04_fingerprint",
        "t11_redact", "p05_source_quota",
    ],
}


WORKLOADS = sorted(QUERIES) + ["trade_stream"]

# Metric name -> unit, in the order they are printed.
END_TO_END = {"mix_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "setup_s": "s"}
PER_LAYER = {
    "sources.resolve_ms": "ms", "sources.schema_jobs": "count",
    "sources.sink_files": "count", "sources.sink_bytes": "bytes",
    "sources.input_bytes": "bytes",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.analysis_s": "s", "plans.optimization_s": "s",
    "plans.planning_s": "s", "plans.aqe_updates": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.driver_only_s": "s",
    "scheduler.delay_s": "s", "scheduler.empty_task_frac": "ratio",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.fetch_wait_s": "s", "executor.shuffle_read_bytes": "bytes",
    "executor.shuffle_write_bytes": "bytes", "executor.spill_bytes": "bytes",
    "executor.peak_mem_bytes": "bytes", "executor.occupancy": "ratio",
    "streaming.batches": "count", "streaming.rows_in": "count",
    "streaming.latest_offset_ms": "ms", "streaming.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
    "streaming.late_rows_dropped": "count",
    "host.cpu_probe_s": "s", "host.peak_rss_mb": "MB", "trace.overhead_s": "s",
}
# progress phase -> metric
PHASES = {
    "latestOffset": "streaming.latest_offset_ms",
    "getBatch": "streaming.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(stamp):
    """Compiles the program and the harness with sbt unless the last
    build was of the same sources. Returns (classpath, jvm options)."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    opts_file = os.path.join(TARGET, "jvm-options.txt")
    stamp_file = os.path.join(TARGET, "source-stamp.txt")
    fresh = all(os.path.exists(f) for f in (cp_file, opts_file, stamp_file))
    if fresh:
        with open(stamp_file) as f:
            fresh = f.read() == stamp
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            repos = os.path.expanduser("~/.sbt/repositories")
            env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
                " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
                if os.path.exists(repos) else "")
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, "build.log"), "w") as log:
            code = run_process(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "writeLauncher"],
                HERE, env, log, BUILD_LIMIT_S)
        if code != 0:
            raise BenchError("build failed (exit %d), see perfbench/out/build.log" % code)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(cp_file) as f:
        classpath = f.read().strip()
    with open(opts_file) as f:
        options = [line.strip() for line in f if line.strip()]
    return classpath, options


def run_process(cmd, cwd, env, log, limit_s):
    """Runs ``cmd`` to completion or kills it after ``limit_s``; waits for
    it to end either way. Returns the exit code."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    try:
        return proc.wait(timeout=max(limit_s, 1))
    except BaseException:
        proc.kill()
        proc.wait()
        raise


def harness(classpath, options, work, args, limit_s):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "record.json")
    cmd = (["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp] + options +
           ["-cp", classpath, "perfbench.Harness", "--work", work, "--out", out] +
           [str(a) for a in args])
    with open(os.path.join(work, "harness.log"), "w") as log:
        try:
            code = run_process(cmd, work, env, log, limit_s)
        except subprocess.TimeoutExpired:
            raise BenchError("harness exceeded %.0f s, see %s" % (limit_s, log.name))
    if code != 0 or not os.path.exists(out):
        raise BenchError("harness failed (exit %d), see %s" % (code, log.name))
    with open(out) as f:
        rec = json.load(f)
    if rec.get("fatal"):
        raise BenchError("harness: " + rec["fatal"])
    return rec


# ---------------------------------------------------------------- metrics

def group_ops(rec, traced):
    """Measured operations (pass >= 1) with the given tracing, by pass.
    A stream's operation here is a whole round (drain)."""
    passes = {}
    for o in rec.get("ops", []) + rec.get("rounds", []):
        if o["pass"] >= 1 and o["traced"] == traced:
            passes.setdefault(o["pass"], []).append(o)
    return passes


def end_to_end(rec, setup_s, workload):
    """The end-to-end metrics from the untraced measured passes.

    An operation is a query, or a micro-batch of trade_stream keyed by
    its batch id within the drain; a pass is one pass over the query set,
    or one drain of the trade log. An operation's latency is its best
    time over the passes, which discards passes that a co-loaded host
    slowed. op_p50_ms and op_tail_ms are taken across operations; with 10
    operations or fewer the tail is the slowest one."""
    passes = group_ops(rec, traced=False)
    samples = {}
    walls = []
    for ops in passes.values():
        for o in ops:
            walls.append(o["end_ms"] - o["start_ms"])
            if workload == "trade_stream":
                for b in o["batches"]:
                    samples.setdefault(b["batch_id"], []).append(
                        b["duration_ms"]["triggerExecution"])
            else:
                samples.setdefault(o["name"], []).append(o["end_ms"] - o["start_ms"])
    latency = {k: min(v) for k, v in samples.items()}
    if workload == "trade_stream":
        mix_s = min(walls) / 1e3
    else:
        mix_s = sum(latency.values()) / 1e3
    pct, tail_ms = metrics.tail(latency.values())
    values = {
        "mix_s": mix_s,
        "op_p50_ms": statistics.median(latency.values()),
        "op_tail_ms": tail_ms,
        "setup_s": setup_s,
    }
    detail = {"operations": len(latency), "passes": len(passes),
              "op_tail_percentile": pct, "op_latency_ms": latency,
              "samples_ms": samples}
    if workload == "trade_stream":
        detail["trades_per_s"] = rec["trades"] / mix_s
    return values, detail


def attribute(rec):
    """Jobs and stages of the traced operations: op -> (jobs, stages).
    Query jobs carry their operation's job group; stream jobs run on the
    stream's thread and are attributed by time to the round they ran in."""
    stages = {s["id"]: s for s in rec.get("stages", [])}
    ops = {o["op"]: o for o in rec.get("ops", []) + rec.get("rounds", [])}
    by_op = {op: ([], []) for op in ops}
    for j in rec.get("jobs", []):
        if j["group"].startswith("op"):
            op = int(j["group"][2:])
        else:
            op = next((o["op"] for o in ops.values()
                       if o["start_ms"] <= j["start_ms"] <= o["end_ms"]), None)
        if op not in by_op:
            continue
        by_op[op][0].append(j)
        for sid in j["stages"]:
            if sid in stages:
                by_op[op][1].append(stages.pop(sid))
    return by_op


def layer_totals(ops, by_op, cores):
    """Per-layer totals over one traced pass (queries) or round (stream)."""
    t = {k: 0.0 for k in PER_LAYER}
    wall = tasks = empty = run_ms = 0.0
    for o in ops:
        jobs, stages = by_op[o["op"]]
        w = o["end_ms"] - o["start_ms"]
        wall += w
        busy = metrics.union_length([(j["start_ms"], j["end_ms"]) for j in jobs],
                                    o["start_ms"], o["end_ms"])
        t["scheduler.driver_only_s"] += (w - busy) / 1e3
        t["scheduler.jobs"] += len(jobs)
        t["scheduler.stages"] += len(stages)
        t["sources.schema_jobs"] += sum(1 for j in jobs if j["sources_call_site"])
        for s in stages:
            tasks += s["tasks"]
            empty += s["empty_tasks"]
            run_ms += s["run_ms"]
            t["scheduler.delay_s"] += s["delay_ms"] / 1e3
            t["executor.cpu_s"] += s["cpu_ns"] / 1e9
            t["executor.gc_s"] += s["gc_ms"] / 1e3
            t["executor.fetch_wait_s"] += s["fetch_wait_ms"] / 1e3
            t["executor.shuffle_read_bytes"] += s["shuffle_read_bytes"]
            t["executor.shuffle_write_bytes"] += s["shuffle_write_bytes"]
            t["executor.spill_bytes"] += s["spill_bytes"]
            t["sources.input_bytes"] += s["input_bytes"]
            t["executor.peak_mem_bytes"] = max(t["executor.peak_mem_bytes"],
                                               s["peak_mem_bytes"])
        if o.get("kind") == "query":
            t["queries.build_s"] += (o["built_ms"] - o["start_ms"]) / 1e3
            t["queries.build_jobs"] += sum(1 for j in jobs if j["start_ms"] < o["built_ms"])
            t["plans.analysis_s"] += o["phases_ms"].get("analysis", 0.0) / 1e3
            t["plans.optimization_s"] += o["phases_ms"].get("optimization", 0.0) / 1e3
            t["plans.planning_s"] += o["phases_ms"].get("planning", 0.0) / 1e3
            t["plans.aqe_updates"] += o["aqe_updates"]
        else:
            batches = o["batches"]
            t["sources.sink_files"] += o["sink_files"]
            t["sources.sink_bytes"] += o["sink_bytes"]
            t["streaming.batches"] += len(batches)
            t["streaming.rows_in"] += sum(b["rows_in"] for b in batches)
            for phase, name in PHASES.items():
                t[name] = statistics.median([b["duration_ms"].get(phase, 0) for b in batches])
            if batches:
                t["streaming.state_rows"] = sum(s["rows_total"] for s in batches[-1]["state"])
            t["streaming.state_mem_bytes"] = max(
                [sum(s["mem_bytes"] for s in b["state"]) for b in batches] or [0])
            t["streaming.late_rows_dropped"] += sum(
                s["dropped_by_watermark"] for b in batches for s in b["state"])
    t["scheduler.tasks"] = tasks
    t["scheduler.empty_task_frac"] = empty / tasks if tasks else 0.0
    t["executor.run_s"] = run_ms / 1e3
    t["executor.occupancy"] = metrics.occupancy(run_ms / 1e3, wall / 1e3, cores)
    return t


def per_layer(rec, cores):
    """Per-layer metrics: the median over traced passes of each pass's
    totals, plus per-query self times by span for the artifact."""
    by_op = attribute(rec)
    traced = group_ops(rec, traced=True)
    totals = [layer_totals(ops, by_op, cores) for ops in traced.values()]
    values = {k: statistics.median([t[k] for t in totals]) for k in PER_LAYER}
    resolve = rec.get("resolve_ms", {})
    values["sources.resolve_ms"] = statistics.median(resolve.values()) if resolve else 0.0
    values["host.cpu_probe_s"] = (rec["cpu_probe_pre_s"] + rec["cpu_probe_post_s"]) / 2
    values["host.peak_rss_mb"] = rec["peak_rss_kb"] / 1024.0

    def pass_wall(ops):
        return sum(o["end_ms"] - o["start_ms"] for o in ops) / 1e3
    untraced = group_ops(rec, traced=False)
    values["trace.overhead_s"] = (
        statistics.median([pass_wall(o) for o in traced.values()]) -
        statistics.median([pass_wall(o) for o in untraced.values()]))

    # spans: the harness's own, plus job and stage spans from the listener
    spans = list(rec["spans"])
    parent_of = {}
    for s in spans:
        if s["name"] in ("queries.build", "action", "round"):
            parent_of.setdefault(s["op"], []).append(s)
    traced_ops = {o["op"] for ops in traced.values() for o in ops}
    for op, (jobs, stages) in by_op.items():
        if op not in traced_ops:
            continue
        stage_of = {s["id"]: s for s in stages}
        for j in jobs:
            parent = next((p for p in parent_of.get(op, [])
                           if p["start_ms"] <= j["start_ms"] <= p["end_ms"]),
                          (parent_of.get(op) or [{"id": -1}])[0])
            jid = len(spans)
            spans.append({"id": jid, "parent": parent["id"], "name": "job", "op": op,
                          "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
            for sid in j["stages"]:
                s = stage_of.pop(sid, None)
                if s:
                    spans.append({"id": len(spans), "parent": jid, "name": "stage",
                                  "op": op, "start_ms": s["submit_ms"],
                                  "end_ms": s["complete_ms"]})
    spans = [s for s in spans if s["op"] in traced_ops]
    own = metrics.self_times(spans)
    names = {o["op"]: o.get("name", "round") for ops in traced.values() for o in ops}
    self_by_query, self_by_span = {}, {}
    for s in spans:
        q = self_by_query.setdefault(names[s["op"]], {})
        q[s["name"]] = q.get(s["name"], 0.0) + own[s["id"]] / 1e3
        self_by_span[s["name"]] = self_by_span.get(s["name"], 0.0) + own[s["id"]] / 1e3
    detail = {"traced_passes": len(totals), "pass_totals": totals,
              "resolve_ms": resolve, "self_s_by_span": self_by_span,
              "self_s_by_query": self_by_query}
    return values, detail


# ----------------------------------------------------------------- checks

def load_expected():
    with open(EXPECTED) as f:
        return json.load(f)


def check_queries(rec, expected):
    """Every operation's sink rows against the recorded count; in a
    traced run every deterministic output's digest too. Returns
    (attempted, failed, problems): each problem is one failed check."""
    problems = []
    attempted = 0
    for o in rec["ops"]:
        attempted += 1
        exp = expected["queries"][o["name"]]
        if o["error"]:
            problems.append("%s pass %d failed: %s" % (o["name"], o["pass"], o["error"]))
        elif o["rows"] != exp["rows"]:
            problems.append("%s pass %d: %d rows, expected %d" % (
                o["name"], o["pass"], o["rows"], exp["rows"]))
    for name, d in sorted(rec.get("digests", {}).items()):
        if name in expected["nondeterministic"]:
            continue
        attempted += 1
        if d != expected["queries"][name]["digest"]:
            problems.append("%s: digest %s, expected %s" % (
                name, d, expected["queries"][name]["digest"]))
    return attempted, len(problems), problems


def check_stream(rec, special, expected):
    """Every drain: each flushed bar equals the static recomputation,
    every window the final watermark closed was flushed, and the stream
    dropped exactly the trades made late. ``expected`` is (bars, late)
    for every round not in ``special``, a map round -> (bars, late).
    Returns (attempted, failed, problems): a drain is one check."""
    problems = []
    failed = 0
    for r in rec["rounds"]:
        found = len(problems)
        expect_bars, late = special.get(r["pass"], expected)
        tag = "round %d" % r["pass"]
        if r["error"]:
            problems.append("%s failed: %s" % (tag, r["error"]))
            failed += 1
            continue
        marks = [b["watermark"] for b in r["batches"] if b["watermark"]]
        wm = max(iso_ms(m) for m in marks) if marks else 0
        closed = {k for k in expect_bars if k[1] + trades.MINUTE_MS <= wm}
        got = {(b[0], b[1]): tuple(b[2:]) for b in r["bars"]}
        if len(got) != len(r["bars"]):
            problems.append("%s: duplicate bars in the sink" % tag)
        wrong = [k for k, v in got.items() if expect_bars.get(k) != v]
        missing = closed - set(got)
        if wrong:
            problems.append("%s: %d bars differ from the recomputation, e.g. %s: %s vs %s" % (
                tag, len(wrong), wrong[0], got[wrong[0]], expect_bars.get(wrong[0])))
        if missing:
            problems.append("%s: %d closed windows not flushed" % (tag, len(missing)))
        if not got:
            problems.append("%s: no bars flushed" % tag)
        dropped = sum(s["dropped_by_watermark"] for b in r["batches"] for s in b["state"])
        if dropped != late:
            problems.append("%s: %d late rows dropped, %d made late" % (tag, dropped, late))
        failed += len(problems) > found
    return len(rec["rounds"]), failed, problems


def iso_ms(iso):
    return int(datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000)


# ------------------------------------------------------------------- main

def check_environment():
    """The benchmark measures the program's defaults: only the CPU count
    may be set among the program's SPARK_GRAFT_* knobs."""
    knobs = sorted(k for k in os.environ
                   if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS")
    if knobs:
        raise BenchError("refusing to run with program knobs set: " + ", ".join(knobs))
    for p in ("src/main/scala/graft", "build.sbt"):
        if not os.path.exists(os.path.join(ROOT, p)):
            raise BenchError("program sources not found: " + p)


def steal_s():
    """CPU time the hypervisor gave to others, from /proc/stat (Linux)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def cores():
    n = os.environ.get("SPARK_GRAFT_CPUS")
    return int(n) if n else len(os.sched_getaffinity(0))


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def run(args):
    t_start = time.time()
    check_environment()
    stamp = source_stamp()
    classpath, options = build(stamp)
    n = cores()
    work = fresh_dir(os.path.join(OUT, "work-" + args.workload))
    passes = max(1 + 2 * args.trace, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    hargs = ["--workload", args.workload, "--cores", n, "--passes", passes,
             "--trace", args.trace]
    env = {"nproc": len(os.sched_getaffinity(0)), "cores": n, "heap": HEAP,
           "seed": args.seed, "sf_dir": os.path.relpath(DATA, ROOT),
           "git_commit": git_commit(), "source_stamp": stamp}
    t_setup = time.time()
    if args.workload == "trade_stream":
        files, late = trades.generate(args.seed, TRADE_LINES)
        trades.write(os.path.join(work, "log"), files)
        warm_files, warm_late = trades.generate(args.seed, WARMUP_LINES)
        trades.write(os.path.join(work, "warmup-log"), warm_files)
        loggen_s = time.time() - t_setup
        hargs += ["--log", os.path.join(work, "log"),
                  "--warmup-log", os.path.join(work, "warmup-log"),
                  "--max-lines", MAX_LINES_PER_TRIGGER]
    else:
        names = list(QUERIES[args.workload])
        random.Random(args.seed).shuffle(names)
        loggen_s = 0.0
        hargs += ["--data", DATA, "--queries", ",".join(names)]
        env["query_order"] = names
    t_launch = time.time()
    steal0 = steal_s()
    rec = harness(classpath, options, work, hargs, RUN_LIMIT_S - (t_launch - t_start))
    env["cpu_steal_s"] = steal_s() - steal0
    setup_s = (rec["setup_end_ms"] / 1e3 - t_launch) + loggen_s
    env.update({k: rec[k] for k in ("master", "spark_version", "java_version",
                                    "heap_max_bytes", "cpu_probe_pre_s",
                                    "cpu_probe_post_s")})
    env["peak_rss_mb"] = rec["peak_rss_kb"] / 1024.0
    if args.workload == "trade_stream":
        rec["trades"] = trades.trade_count(files)
        attempted, failed, problems = check_stream(
            rec, {0: (trades.expected_bars(warm_files), warm_late)},
            (trades.expected_bars(files), late))
        env.update({"trades": rec["trades"], "late_trades": late})
    else:
        attempted, failed, problems = check_queries(rec, load_expected())

    e2e, e2e_detail = end_to_end(rec, setup_s, args.workload)
    layers, layer_detail = per_layer(rec, n) if args.trace else ({}, {})
    shown = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    artifact = {
        "workload": args.workload, "environment": env,
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted, "problems": problems,
        "setup": {"setup_s": setup_s, "log_generation_s": loggen_s,
                  "session_s": rec["session_s"], "warmup_s": rec["warmup_s"]},
        "measure_s": rec["measure_s"], "end_to_end": e2e, "end_to_end_detail": e2e_detail,
        "per_layer": layers, "per_layer_detail": layer_detail,
    }
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, "%s-seed%d-trace%d.json" % (args.workload, args.seed, args.trace))
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)

    print("workload %s  seed %d  %s  cores %d  heap %s  spark %s  java %s  commit %s" % (
        args.workload, args.seed, env["master"], n, HEAP, env["spark_version"],
        env["java_version"], env["git_commit"] or "-"))
    print("host.cpu_probe_s %.3f / %.3f (before / after), cpu steal %.1f s, peak rss %.0f MB" % (
        env["cpu_probe_pre_s"], env["cpu_probe_post_s"], env["cpu_steal_s"],
        env["peak_rss_mb"]))
    for k, unit in units.items():
        print("%-32s %14.4f %s" % (k, shown[k], unit))
    print("failed_frac %.4f (%d of %d)" % (failed / attempted, failed, attempted))
    for p in problems[:20]:
        print("WRONG: " + p)
    print("output check: %s; record: %s" % ("passed" if not problems else "FAILED",
                                           os.path.relpath(path, ROOT)))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": shown[k], "unit": units[k]} for k in units}}))


def record(args):
    """Rewrites expected.json from one pass over every registered query.
    Outputs whose digest differs from the previous expected.json are
    reported, so a second call shows which outputs are not run-to-run
    deterministic."""
    check_environment()
    classpath, options = build(source_stamp())
    work = fresh_dir(os.path.join(OUT, "work-record"))
    rec = harness(classpath, options, work,
                  ["--workload", "record", "--cores", cores(), "--passes", 1,
                   "--trace", 0, "--data", DATA, "--queries", "all"], 3600)
    old = load_expected() if os.path.exists(EXPECTED) else {"queries": {}, "nondeterministic": {}}
    queries = {}
    for o in rec["ops"]:
        if o["error"]:
            raise BenchError("%s failed: %s" % (o["name"], o["error"]))
        queries[o["name"]] = {"rows": o["rows"], "digest": rec["digests"][o["name"]]}
        prev = old["queries"].get(o["name"])
        if prev and prev["digest"] != queries[o["name"]]["digest"]:
            print("digest changed: " + o["name"])
    with open(EXPECTED, "w") as f:
        json.dump({"sf_dir": os.path.relpath(DATA, ROOT), "queries": queries,
                   "nondeterministic": old["nondeterministic"]}, f, indent=1, sort_keys=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true")
    args = p.parse_args()
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.record:
            record(args)
        elif args.workload:
            run(args)
        else:
            p.error("--workload or --record is required")
    except BenchError as e:
        print("perfbench: " + str(e), file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the graded queries, end to end and layer by layer.

Usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--full]

Builds the engine from source (perfbench/build.py), runs the workload's
panel of graded queries on the sf0.1 fixture in perfbench/fixture, checks
every output against DuckDB, and prints one JSON line as the last line of
stdout. --full runs every query of the workload instead of its panel, one
timed pass, without the per-run time limit. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading

import build
import oracle

HERE = build.HERE
FIXTURE = HERE / "fixture" / "sf0.1"
PANELS = json.loads((HERE / "panels.json").read_text())
RUN_DIR = build.BUILD / "run"
JVM_TIMEOUT_S = 165
# a query's second and third runs: one pass alone carries more of the
# warm-up of the code the query compiles
MIN_PASSES = 2
TAIL_P = 90
CORES = 4
LAKE_PREFIXES = ("sink_", "merge_", "cdc_", "stream_replay_")
MB = 1048576.0


def workload_of(name):
    """The one workload a graded query belongs to, by name prefix."""
    if name.startswith("llm_"):
        return "llm_curate"
    if name.startswith(LAKE_PREFIXES):
        return "lake_write_replay"
    return "olap_read"


def self_test(names):
    """Every graded query falls in exactly one workload, and every panel
    query is a graded query of its own workload."""
    for n in names:
        hits = [n.startswith("llm_"), n.startswith(LAKE_PREFIXES),
                not n.startswith(("llm_",) + LAKE_PREFIXES)]
        if hits.count(True) != 1:
            raise SystemExit(f"perfbench: {n} falls in {hits.count(True)} workloads")
    for w, panel in PANELS.items():
        bad = [n for n in panel if n not in names or workload_of(n) != w]
        if bad or len(set(panel)) != len(panel):
            raise SystemExit(f"perfbench: panel {w} lists {bad or 'a query twice'}")


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -(-len(s) * p // 100) - 1))]


def run_jvm(args, queries):
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    tmp = RUN_DIR / "tmp"
    tmp.mkdir(parents=True)
    qfile = RUN_DIR / "queries.txt"
    qfile.write_text("\n".join(queries) + "\n")
    cmd = ["java", "-Xmx4g", *build.JVM_OPTS,
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(build.classpath()), "graft.perfbench.PerfBench",
           "--fixture", str(FIXTURE), "--out", str(RUN_DIR), "--queries", str(qfile),
           "--seconds", str(0 if args.full else args.seconds),
           "--min-passes", str(1 if args.full else MIN_PASSES), "--seed", str(args.seed),
           "--trace", str(args.trace)]
    timeout = None if args.full else JVM_TIMEOUT_S
    with open(RUN_DIR / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.PIPE, text=True,
                                start_new_session=True)
        killer = None
        if timeout:
            killer = threading.Timer(timeout, os.killpg, (proc.pid, signal.SIGKILL))
            killer.start()
        try:
            for line in proc.stderr:
                (sys.stderr if line.startswith("perfbench:") else log).write(line)
            proc.wait()
        finally:
            if killer:
                killer.cancel()
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: the JVM exited with {proc.returncode}; see {RUN_DIR}/jvm.log")
    return [json.loads(l) for l in (RUN_DIR / "records.jsonl").read_text().splitlines()]


def check_outputs(checks):
    """Returns (query name -> why its output is wrong, for every wrong
    output; query name -> oracle SQL)."""
    oracles = json.loads(build.ORACLES.read_text())
    expected = json.loads(oracle.EXPECTED.read_text())
    con = oracle.connect(FIXTURE)
    wrong = {}
    for c in checks:
        n = c["name"]
        why = c["error"] or oracle.check(con, RUN_DIR / "check" / n, oracles.get(n),
                                         expected.get(n))
        if why:
            wrong[n] = why
            print(f"perfbench: WRONG {n}: {why}", file=sys.stderr)
    con.close()
    return wrong, oracles


def query_medians(ok):
    """Each successful query's median wall time over the passes."""
    walls = {}
    for q in ok:
        walls.setdefault(q["name"], []).append(q["wall_s"])
    return [statistics.median(w) for w in walls.values()] or [0.0]


def end_to_end(by, runs, ok):
    setup = {s["step"]: s["s"] for s in by["setup"]}
    return {
        "setup_s": (setup["session"] + setup["warmup"] + sum(c["s"] for c in by["check"]), "s"),
        "queries_per_s": (len(ok) / max(1e-9, sum(q["wall_s"] for q in runs)), "1/s"),
    }


def per_layer(by, runs, ok, wrong, oracles, names):
    """Layer metrics of a traced run. Counters are per pass, from the first
    timed pass; times are per pass, averaged over the passes; *_p50_ms are
    medians over every timed run."""
    spans = {s["span"]: s for s in by.get("span", [])}
    zero = {k: 0 for k in ("jobs", "stages", "tasks", "infer_jobs", "checkpoint_jobs", "cpu_ns",
                           "gc_ms", "shuffle_write", "shuffle_read", "spill", "input",
                           "out_bytes", "out_rows")}
    first = [q for q in runs if q["pass"] == 0]
    passes = by["proc"][0]["passes"]

    def total(phase, key):
        return sum(spans.get(f"{q['name']}#0/{phase}", zero)[key] for q in first)

    def secs(phase):
        return sum(q.get(f"{phase}_s", 0.0) for q in runs) / passes

    def p50_ms(phase):
        xs = [q[f"{phase}_s"] for q in ok if f"{phase}_s" in q]
        return 1000 * statistics.median(xs) if xs else 0.0

    plans = {p["span"]: p for p in by.get("plan", [])}
    plan0 = [plans.get(f"{q['name']}#0", {}) for q in first]

    def nodes(k):
        return sum(p.get(k, 0) for p in plan0)

    first_spans = {f"{q['name']}#0/build" for q in first}
    batches = [b for b in by.get("batch", []) if b["span"] in first_spans]
    # self-test of the streaming capture: batches exactly when replays ran
    replays = [q for q in first if q["name"].startswith("stream_replay_")]
    if all(q["error"] is None for q in replays) and bool(replays) != bool(batches):
        raise SystemExit(f"perfbench: streaming self-test: {len(batches)} batches "
                         f"captured from {len(replays)} replays")
    setup = {s["step"]: s["s"] for s in by["setup"]}
    exec_jobs = total("exec", "jobs")
    exec_s0 = sum(q.get("exec_s", 0.0) for q in first)
    blocks = [q.get("blocks", 0) for q in runs] or [0]
    mem = [q.get("mem_mb", 0.0) for q in runs] or [0.0]
    untraced = [q for q in by.get("untraced", []) if q["pass"] == -2]
    qps_traced = len(ok) / max(1e-9, sum(q["wall_s"] for q in runs))
    qps_plain = (sum(1 for q in untraced if q["error"] is None)
                 / max(1e-9, sum(q["wall_s"] for q in untraced)))
    m = {
        "query_p50_s": (statistics.median(query_medians(ok)), "s"),
        "query_tail_s": (percentile(query_medians(ok), TAIL_P), "s"),
        "rss_peak_mb": (by["proc"][0]["rss_peak_mb"], "MB"),
        "tables.load_ms": (statistics.median(by["tables"][0]["load_ms"]), "ms"),
        "tables.infer_jobs": (total("build", "infer_jobs"), "count"),
        "build.s": (secs("build"), "s"),
        "build.p50_ms": (p50_ms("build"), "ms"),
        "build.jobs": (total("build", "jobs"), "count"),
        "build.checkpoint_jobs": (total("build", "checkpoint_jobs"), "count"),
        "build.cpu_s": (total("build", "cpu_ns") / 1e9, "s"),
        "build.write_mb": (total("build", "out_bytes") / MB, "MB"),
        "build.write_rows": (total("build", "out_rows"), "count"),
        "plan.s": (secs("plan"), "s"),
        "plan.p50_ms": (p50_ms("plan"), "ms"),
    }
    for k in ("shuffle_exchanges", "broadcast_exchanges", "reused_exchanges", "smj", "shj",
              "bhj", "bnlj", "sort_aggs"):
        m[f"plan.{k}"] = (nodes(k), "count")
    m["plan.broadcast_rows_max"] = (max([p.get("broadcast_rows_max", 0) for p in plan0] or [0]),
                                    "count")
    m.update({
        "exec.s": (secs("exec"), "s"),
        "exec.jobs": (exec_jobs, "count"),
        "exec.stages": (total("exec", "stages"), "count"),
        "exec.tasks": (total("exec", "tasks"), "count"),
        "exec.cpu_s": (total("exec", "cpu_ns") / 1e9, "s"),
        "exec.gc_s": (total("exec", "gc_ms") / 1e3, "s"),
        "exec.shuffle_write_mb": (total("exec", "shuffle_write") / MB, "MB"),
        "exec.shuffle_read_mb": (total("exec", "shuffle_read") / MB, "MB"),
        "exec.spill_mb": (total("exec", "spill") / MB, "MB"),
        "exec.input_mb": (total("exec", "input") / MB, "MB"),
        "exec.result_rows": (sum(p.get("result_rows", 0) for p in plan0), "count"),
        "exec.ms_per_job": (1000 * exec_s0 / max(1, exec_jobs), "ms"),
        "exec.cpu_util": (total("exec", "cpu_ns") / 1e9 / max(1e-9, exec_s0 * CORES), "frac"),
        "streaming.batches": (len(batches), "count"),
        "streaming.batch_p50_ms": (statistics.median([b["trigger_ms"] for b in batches])
                                   if batches else 0.0, "ms"),
        "streaming.add_batch_s": (sum(b["add_batch_ms"] for b in batches) / 1e3, "s"),
        "streaming.commit_s": (sum(b["commit_ms"] for b in batches) / 1e3, "s"),
        "streaming.state_rows": (sum(b["state_rows"] for b in batches), "count"),
        "streaming.state_commit_s": (sum(b["state_commit_ms"] for b in batches) / 1e3, "s"),
        "session_s": (setup["session"], "s"),
        "warmup_s": (setup["warmup"], "s"),
        "check_s": (sum(c["s"] for c in by["check"]), "s"),
        "storage.blocks_max": (max(blocks), "blocks"),
        "storage.mem_max_mb": (max(mem), "MB"),
        "storage.blocks_end": (blocks[-1], "blocks"),
        "check.mismatch": (sum(1 for c in by["check"] if c["error"] is None
                               and c["name"] in wrong), "count"),
        "check.error": (len({q["name"] for q in runs if q["error"]}
                            | {c["name"] for c in by["check"] if c["error"]}), "count"),
        "check.no_oracle": (sum(1 for n in names if n not in oracles), "count"),
        "check.failed_frac": ((len(runs) - len(ok)) / max(1, len(runs)), "frac"),
        "trace.overhead_frac": ((qps_plain - qps_traced) / max(1e-9, qps_plain), "frac"),
    })
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PANELS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true")
    args = ap.parse_args()

    if not (FIXTURE / "lineitem.parquet").is_file():
        raise SystemExit(f"perfbench: no fixture under {FIXTURE}")
    try:
        names = build.build()
    except build.BuildError as e:
        raise SystemExit(f"perfbench build: {e}")
    self_test(names)
    queries = ([n for n in names if workload_of(n) == args.workload] if args.full
               else PANELS[args.workload])
    recs = run_jvm(args, queries)
    by = {}
    for r in recs:
        by.setdefault(r["type"], []).append(r)
    wrong, oracles = check_outputs(by["check"])

    runs = by.get("query", [])
    ok = [q for q in runs if q["error"] is None and q["name"] not in wrong]
    failed = len(runs) - len(ok)
    metrics = (per_layer(by, runs, ok, wrong, oracles, queries) if args.trace
               else end_to_end(by, runs, ok))
    print(f"perfbench: {args.workload}: {len(queries)} queries x {by['proc'][0]['passes']} "
          f"passes; query_tail_s is p{TAIL_P} of {len(query_medians(ok))} per-query medians; "
          f"{failed} of {len(runs)} runs failed"
          + (f"; wrong: {', '.join(sorted(wrong))}" if wrong else ""))
    print(json.dumps({
        "correct": not wrong and failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

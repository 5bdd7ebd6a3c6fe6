#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload batch_query --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run compiles the library and
the harness (perfbench/build.py); every run then starts one fresh JVM at
local[nproc] over two private copies of the sf0.1 lake (one per
set-up round), with its own java.io.tmpdir and warehouse directory, and
deletes all of it at exit. The
seed fixes the lane order and nothing else. --trace 0 prints the
end-to-end metrics, --trace 1 the per-layer ones. The full run record,
with every timed pass's noise witnesses, is written to .bench_out/.
"""
import argparse
import glob
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

LAKE = "/root/testdata/sf0.1"
JVM_DEADLINE_S = 150
HEAP = "3g"
SETUP_ROUNDS = 2

WORKLOADS = {
    # read-only: a TPC-H analogue, time-series SQL, a pruning lane, text
    # kernels and dedup operators; no streaming, no lake writes
    "batch_query": [
        "q01_pricing_summary", "ts_window_tumbling", "ts_partition_prune",
        "doc_fingerprint", "doc_simhash", "doc_exact_dedup",
    ],
    # a wire decode beside two lake writes (a TTL rewrite and a
    # fragment-and-compact rewrite of the day-partitioned events layout)
    # and a stateful micro-batch replay
    "ingest_stream": ["ts_line_protocol", "ts_ttl_expire", "ts_compact_daylake", "stream_ewma"],
}

# What spark-submit would open on JDK 17; the same list as build.sbt's.
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def jvm_command(classes, run_dir, conf):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + opens + [
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        "-cp", os.pathsep.join([classes, build.classpath()]),
        "perfbench.Harness"] + [f"{k}={v}" for k, v in conf.items()])


def read_records(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def per_pass(lane_recs, key):
    """Sum of a lane field per pass, as {pass: total}."""
    out = {}
    for r in lane_recs:
        out[r["pass"]] = out.get(r["pass"], 0.0) + (r.get(key) or 0)
    return out


def summarize(recs, launched, verdict, n_cores, trace):
    by = lambda kind: [r for r in recs if r["kind"] == kind]  # noqa: E731
    timed = [r for r in by("lane") if r["phase"] == "timed"]
    passes = [r for r in by("pass") if r["phase"] == "timed"]
    setup = [r for r in by("pass") if r["phase"] == "setup"]
    rounds = by("setup_round")
    answer_recs = by("answer")

    attempted = len(timed) + len(answer_recs)
    failed = sum(1 for r in timed if r["error"]) + sum(1 for v in verdict.values() if v)
    ok = [r for r in timed if not r["error"]]
    walls = [r["wall_s"] for r in ok]
    by_lane = {}
    for r in ok:
        by_lane.setdefault(r["lane"], []).append(r["wall_s"])
    p90, n, beyond = stats.percentile(walls, 90)
    pass_walls = [p["wall_s"] for p in passes]
    session_s = by("session")[0]["at_ms"] / 1e3 - launched
    e2e = {
        "setup_s": session_s + stats.median(r["wall_s"] for r in rounds),
        "pass_s": stats.median(pass_walls),
        "lane_geomean_s": stats.geomean(stats.median(v) for v in by_lane.values()),
        "lane_p50_s": stats.median(walls),
        "live_heap_mb": by("heap")[0]["live_heap_mb"],
        "ok_ratio": 1 - stats.fail_ratio(failed, attempted),
    }
    record = {
        "attempted": attempted, "failed": failed,
        "fail_ratio": stats.fail_ratio(failed, attempted),
        "lane_p90_s": p90, "lane_samples": n, "lane_p90_samples_beyond": beyond,
        "session_s": session_s,
        "setup_rounds": [{k: r[k] for k in ("wall_s", "stage_s", "pass_s")} for r in rounds],
        "launch_to_timed_s": by("timed_start")[0]["at_ms"] / 1e3 - launched,
        "timed_s": by("timed_end")[0]["timed_s"],
        "setup_passes": [{k: p[k] for k in ("wall_s", "jit_s", "gc_s", "steal_s",
                                             "codegen_compiles")} for p in setup],
        "timed_passes": [{k: p[k] for k in ("wall_s", "jit_s", "gc_s", "steal_s",
                                             "codegen_compiles", "traced")} for p in passes],
        "pass_drift": pass_walls[-1] / pass_walls[0],
        "lane_median_s": {k: stats.median(v) for k, v in sorted(by_lane.items())},
        "executions": [{k: r[k] for k in ("phase", "pass", "lane", "build_s", "plan_s",
                                          "action_s", "wall_s", "error")} for r in by("lane")],
        "errors": sorted({f'{r["lane"]}: {r["error"]}' for r in timed if r["error"]}),
        "answers": verdict,
        "end_to_end": e2e,
    }
    if not trace:
        return e2e, record, attempted, failed

    traced = [r for r in timed if r["traced"]]
    traced_passes = [p for p in passes if p["traced"]]
    untraced_passes = [p for p in passes if not p["traced"]]
    pass_wall = {p["pass"]: p["wall_s"] for p in traced_passes}

    def med_sum(key, scale=1.0):
        return stats.median(per_pass(traced, key).values()) * scale

    gap = {}
    for r in traced:
        gap[r["pass"]] = gap.get(r["pass"], 0.0) + max(
            0.0, r["wall_s"] - r["plan_s"] - r["exec_s"])
    util = [sum(r["task_run_s"] for r in traced if r["pass"] == p) / (w * n_cores)
            for p, w in pass_wall.items()]
    trigger_ms = [t for r in traced for t in r["trigger_ms"]]
    layer = {r["name"]: r["value"] for r in by("layer")}
    per_layer = {
        "build_s": med_sum("build_s"),
        "plan_s": med_sum("plan_s"),
        "codegen_compiles": med_sum("codegen_compiles"),
        "codegen_compile_s": med_sum("codegen_compile_s"),
        "exec_s": med_sum("exec_s"),
        "jobs": med_sum("jobs"),
        "tasks": med_sum("tasks"),
        "task_cpu_s": med_sum("task_cpu_s"),
        "task_util": stats.median(util),
        "shuffle_write_mb": med_sum("shuffle_write_bytes", 1e-6),
        "spill_mb": med_sum("spill_bytes", 1e-6),
        "driver_gap_s": stats.median(gap.values()),
        "bytes_written_mb": med_sum("bytes_written", 1e-6),
        "stage_s": stats.median(r["stage_s"] for r in rounds),
        "triggers": med_sum("triggers"),
        "trigger_p50_ms": stats.median(trigger_ms) if trigger_ms else 0.0,
        "add_batch_ms": med_sum("add_batch_ms"),
        "wal_commit_ms": med_sum("wal_commit_ms"),
        "state_commit_ms": med_sum("state_commit_ms"),
        "state_rows": med_sum("state_rows"),
        "jit_s": stats.median(p["jit_s"] for p in passes),
        "gc_s": stats.median(p["gc_s"] for p in passes),
        "steal_s": stats.median(p["steal_s"] for p in passes),
        "pass_drift": record["pass_drift"],
        "trace_overhead_pct": 100 * (stats.median(p["wall_s"] for p in traced_passes) /
                                     stats.median(p["wall_s"] for p in untraced_passes) - 1),
    }
    per_layer.update(layer)
    record["per_layer"] = per_layer
    record["traced_lane_medians"] = {
        lane: {k: stats.median(r[k] for r in traced if r["lane"] == lane)
               for k in ("wall_s", "build_s", "plan_s", "exec_s", "task_cpu_s", "jobs")} |
        {"bytes_written_mb": stats.median(r["bytes_written"] for r in traced
                                          if r["lane"] == lane) * 1e-6}
        for lane in sorted({r["lane"] for r in traced})}
    return per_layer, record, attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--lake", default=LAKE)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.exit("perfbench: run from the root of a graft checkout (no src/main/scala here)")
    if not glob.glob(os.path.join(args.lake, "*.parquet")):
        sys.exit(f"perfbench: no lake at {args.lake}")
    classes = os.path.abspath(build.build(root))
    import answers  # the answer rule lives in the checkout's tools/

    lanes = list(WORKLOADS[args.workload])
    random.Random(args.seed).shuffle(lanes)
    run_dir = os.path.abspath(os.path.join(
        ".bench_run", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        lakes = [os.path.join(run_dir, f"lake{k}") for k in range(SETUP_ROUNDS)]
        for d in ["tmp", "warehouse", "answers"] + lakes:
            os.makedirs(os.path.join(run_dir, d))
        for p in glob.glob(os.path.join(args.lake, "*.parquet")):
            for lake in lakes:
                shutil.copy2(p, lake)
        lake = lakes[-1]  # where the timed passes run and the answers come from
        out = os.path.join(run_dir, "records.jsonl")
        n_cores = cores()
        conf = {"lakes": ",".join(lakes), "lanes": ",".join(lanes), "seconds": args.seconds,
                "trace": args.trace, "out": out, "check": os.path.join(run_dir, "answers"),
                "cores": n_cores}
        launched = time.time()
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(jvm_command(classes, run_dir, conf), cwd=run_dir,
                                    stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_DEADLINE_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit("perfbench: the JVM overran its deadline")
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-5000:])
            sys.exit(f"perfbench: the JVM exited with code {code}")
        recs = read_records(out)
        verdict = answers.check(lake, os.path.join(run_dir, "answers"),
                                [r for r in recs if r["kind"] == "answer"],
                                os.path.join(".bench_build", "oracle"))
        metrics, record, attempted, failed = summarize(
            recs, launched, verdict, n_cores, args.trace == 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record.update(workload=args.workload, seed=args.seed, trace=args.trace,
                  run_seconds=args.seconds, cores=n_cores, lane_order=lanes)
    os.makedirs(".bench_out", exist_ok=True)
    with open(os.path.join(".bench_out", tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    declared = declared_metrics(args.trace)
    missing = sorted(set(declared) - set(metrics))
    if missing:
        sys.exit(f"perfbench: the run produced no {', '.join(missing)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
    }
    print(json.dumps(result))


def declared_metrics(trace):
    """{name: unit} of the metrics BENCHMARK.json declares for this mode."""
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The repository's benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload <tick_ingest|batch_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the benchmark from
source (perfbench/build.py), generates the workload's inputs from the seed,
runs one JVM with Spark local[N] (N = the machine's CPU count, passed as
SPARK_GRAFT_CPUS), checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics of BENCHMARK.json, traced runs (--trace 1) the per-layer
metrics. A human-readable summary goes to stderr. Everything the run writes
stays under the build directory ($CARGO_TARGET_DIR, default .bench_build).
See perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH_DIR))
sys.dont_write_bytecode = True  # write nothing outside the build dir

import build  # noqa: E402

WORKLOADS = ("tick_ingest", "batch_mix")
# a run must end within this many seconds, build excluded
RUN_BUDGET_S = 170
# System.gc() must stay a full collection: heap_peak_mb samples the heap
# right after one (the program's own sbt `run` makes it concurrent, but
# no periodic ContextCleaner GC fires within a run's lifetime).
# -XX:-UsePerfData keeps the JVM from writing its perf-data file outside
# the build directory.
JVM_OPTS = [
    "-Xmx2g", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--corrupt", type=int, default=0, choices=(0, 1),
                    help="self-test: corrupt one output before checking")
    return ap.parse_args(argv)


def generate_tables(run_dir, seed):
    """Generate the catalog tables; returns the data dir and the time it
    took, which is part of the setup."""
    import tables
    data = run_dir / "data"
    t0 = time.perf_counter()
    tables.generate(data, seed)
    return data, time.perf_counter() - t0


def check_queries(run_dir, data, batch):
    """Check every query output the passes wrote with tools/check.py
    (against each query's DuckDB oracle, on the same tables); returns one
    (pass, query, reason) per wrong output."""
    wrong = []
    for i, queries in enumerate(batch["written"]):
        out = run_dir / "out" / f"p{i}"
        if not queries:
            continue
        (out / "oracle_sql.json").write_text(json.dumps(batch["oracle"]))
        (out / "queries.json").write_text(json.dumps(queries))
        p = subprocess.run(
            [sys.executable, "tools/check.py", str(out), str(data)],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        fails = [ln[5:].split(":", 1) for ln in p.stdout.splitlines()
                 if ln.startswith("FAIL ")]
        if p.returncode != 0 and not fails:
            fails = [[q, f"check.py exited {p.returncode}"] for q in queries]
        wrong += [(i, q, why.strip()) for q, why in fails]
    return wrong


def run_jvm(classpath, args, run_dir, data, deadline):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1) \
        if "SPARK_GRAFT_CPUS" not in os.environ else os.environ[
            "SPARK_GRAFT_CPUS"]
    cmd = [build.java_bin()] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dperfbench.corrupt={args.corrupt}",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", str(run_dir)]
    if data is not None:
        cmd += ["--data", str(data)]
    with open(run_dir / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jlog,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        log(f"JVM failed ({rc}); log tail:\n{tail}")
        sys.exit(3)
    return json.loads((run_dir / "result.json").read_text())


def main(argv):
    args = parse_args(argv)
    t_start = time.monotonic()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    classpath = build.build(Path("."))
    deadline = time.monotonic() + RUN_BUDGET_S
    runs = build.build_dir() / "runs"
    run_dir = runs / f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    try:
        data, gen_s = (generate_tables(run_dir, args.seed)
                       if args.workload == "batch_mix" else (None, 0.0))
        res = run_jvm(classpath, args, run_dir, data, deadline)
        attempted, failed = res["attempted"], res["failed"]
        notes = list(res["failures"])
        if args.workload == "batch_mix":
            # each wrong output is one failed timed execution
            for i, q, why in check_queries(run_dir, data, res["batch"]):
                notes.append(f"pass {i} {q}: {why}")
                failed += 1
            res["end_to_end"]["setup_s"] += gen_s
        if args.trace:
            import summarize
            spans = json.loads((run_dir / "spans.json").read_text())
            res["per_layer"].update(summarize.self_times(spans))
            group = "per_layer"
        else:
            group = "end_to_end"
        metrics = {}
        for m in spec[group]:
            v = res[group].get(m["name"], 0.0)
            metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
        correct = failed == 0 and attempted > 0
        host = res["host"]
        log(f"{args.workload} seed={args.seed} trace={args.trace}: "
            f"attempted={attempted} failed={failed} "
            f"failed_frac={failed / max(attempted, 1):.6f} "
            f"steal={host['steal_per_s']:.2f}/s ({host['verdict']}) "
            f"cpus={host['cpus']} wall={time.monotonic() - t_start:.1f}s")
        for n in notes[:20]:
            log(f"  failure: {n}")
        for name, m in metrics.items():
            log(f"  {name:<40} {m['value']:>14.4f} {m['unit']}")
        keep = build.build_dir() / "last"
        keep.mkdir(exist_ok=True)
        shutil.copy(run_dir / "result.json",
                    keep / f"{args.workload}-t{args.trace}.json")
        if args.trace:
            shutil.copy(run_dir / "spans.json",
                        keep / f"{args.workload}-spans.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main(sys.argv[1:])

#!/usr/bin/env python3
"""Lake benchmark: one workload, one seed, one run.

Usage (from the repository root):
    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source (perfbench/build.py), computes
the DuckDB oracle results (perfbench/oracle.py), runs the workload in one
Spark local[nproc] JVM and prints the metrics named in BENCHMARK.json. The
last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full result, with the environment and sample counts, and
the spans of a traced run are kept under .bench_build/perfbench/results/.
"""
import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
BENCH = build.BENCH
FIXTURE = BENCH / "fixture" / "sf0.01"
HEAP = "3g"
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die_with_parent():
    """Child processes receive SIGKILL if this script dies first."""
    try:
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def main():
    t_start = time.monotonic()
    # SIGTERM unwinds like an error, so the run dir is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"perfbench: unknown workload {args.workload!r}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    out = build.default_out()
    out.mkdir(parents=True, exist_ok=True)
    fresh_build = not (out / "stamp").is_file()
    _, cp, stamp = build.ensure_built(out)
    sqls = oracle.oracle_sql(out, cp, stamp)[args.workload]
    oracle_paths, oracle_errors = oracle.ensure_results(out, FIXTURE, sqls)
    manifest = out / f"oracles-{args.workload}.tsv"
    manifest.write_text("".join(f"{op}\t{p}\n" for op, p in sorted(oracle_paths.items())))

    results = out / "results"
    results.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result_file = results / f"{tag}.json"
    spans_file = results / f"spans-{args.workload}-seed{args.seed}.jsonl"
    log_file = results / f"{tag}.log"
    result_file.unlink(missing_ok=True)

    # private scratch root of this run: temp, local and warehouse dirs;
    # runs are sequential, so anything left in runs/ is from a killed run
    shutil.rmtree(out / "runs", ignore_errors=True)
    run_dir = out / "runs" / f"{tag}-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    env["TMPDIR"] = str(run_dir / "tmp")
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", *[a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", cp, "graft.perfbench.Harness", "run",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--fixture", str(FIXTURE), "--oracles", str(manifest),
           "--run-dir", str(run_dir), "--result", str(result_file),
           "--spans", str(spans_file), "--cpus", str(cpus)]
    limit = (FIRST_RUN_LIMIT_S if fresh_build else RUN_LIMIT_S) - (time.monotonic() - t_start)
    try:
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                    stderr=subprocess.STDOUT, preexec_fn=die_with_parent)
            try:
                rc = proc.wait(timeout=max(limit, 1))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit(f"perfbench: run exceeded {limit:.0f} s; log: {log_file}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not result_file.is_file():
        tail = log_file.read_text().splitlines()[-30:]
        sys.exit("perfbench: harness failed (exit %d); log tail:\n%s" % (rc, "\n".join(tail)))

    res = json.loads(result_file.read_text())
    res["failures"].update({op: e for op, e in oracle_errors.items() if op not in res["failures"]})
    values = res["per_layer"] if args.trace else res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        sys.exit(f"perfbench: harness did not report {missing}")
    detail = {k: res[k] for k in ("workload", "samples", "rounds", "failures",
                                  "setup_failures", "setup_phases", "env")}
    if args.trace:
        detail["spans_file"] = str(spans_file.relative_to(ROOT))
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": res["correct"] and not oracle_errors,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()

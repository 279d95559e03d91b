#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness (see build.py); every run then starts one JVM with a local Spark
session on all cores (`local[nproc]`). Work files (corpus, parquet, Spark
scratch, Derby log, spans, per-run records) go to `.bench_work/` in the
checkout. The last stdout line is the JSON result
`{"correct", "attempted", "failed", "metrics"}`; the exit code is non-zero
when an operation failed or an output check mismatched. See README.md.
"""
import argparse
import os
import shutil
import subprocess
import sys
import threading
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402

WORKLOADS = ["etl_backfill", "etl_incremental", "stream_replay", "registry_mix"]
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def java(run_dir: Path, main_class: str) -> list:
    """The JVM command line of a harness main, with its scratch in run_dir."""
    return (["java"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={run_dir / 'tmp'}",
               f"-Dderby.system.home={run_dir / 'derby'}",
               f"-Dderby.stream.error.file={run_dir / 'derby.log'}",
               "-Dspark.ui.enabled=false",
               "-cp", build.classpath(), main_class])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    # Test hook: make the first timed operation throw (op), every one throw
    # (all-ops) or the first output check mismatch (check), to prove the
    # harness counts it as failed.
    ap.add_argument("--inject-failure", choices=["op", "all-ops", "check"])
    args = ap.parse_args()

    classes = build.build()
    work = Path.cwd() / ".bench_work"
    run_dir = work / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cores = os.cpu_count() or 1
    cmd = (java(run_dir, "graftbench.Main")
           + ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--bench", str(BENCH), "--work", str(run_dir),
              "--records", str(work / "records")])
    if args.inject_failure:
        cmd += ["--inject-failure", args.inject_failure]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
    except BaseException:
        proc.kill()
        raise
    finally:
        proc.wait()
        watchdog.cancel()
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode == 0 and not (last or "").startswith('{"correct"'):
        print("run: harness printed no result line", file=sys.stderr)
        return 3
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())

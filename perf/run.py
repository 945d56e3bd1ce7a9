#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perf/run.py --workload pets_daily --seed 1 --seconds 12 --trace 0

Builds the engine plus the benchmark (perf/build.py) on first use, then runs
one JVM (perfbench.Main). Everything the run writes stays under
.bench_build/ in the checkout: classes, generated inputs, tables, Spark
scratch space, and the full artifact
.bench_build/artifacts/<workload>-seed<seed>-trace<t>.json (environment,
per-op samples, the workload's own metric names, spans).

Exit code 0 when every output check passed, 1 when one failed (the result
line then says "correct": false), 2 when the build or the run itself broke
(no result line).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("pets_daily", "lakehouse_mixed", "corpus_curate")
# local[k]: one executor thread per core, at most 4 (the load shape the
# workloads were sized for)
MAX_CORES = 4
RUN_TIMEOUT_S = 170


def git_commit():
    """HEAD of the checkout, or "" when it is not a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath, digest = build.build()
    except build.BuildError as e:
        print(f"[perf] build failed: {e}", file=sys.stderr)
        return 2

    cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(build.BUILD_DIR, "work", f"{run_id}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    artifacts = os.path.join(build.BUILD_DIR, "artifacts")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(artifacts, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    artifact = os.path.join(artifacts, run_id + ".json")

    cmd = [build.java_bin(), f"-Djava.io.tmpdir={tmp}"] + build.jvm_args()
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--heap", build.HEAP, "--work", work,
            "--result", result_file, "--artifact", artifact,
            "--source-hash", digest, "--git-commit", git_commit()]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            env=env, cwd=work)
    result = None
    try:
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"[perf] run exceeded {RUN_TIMEOUT_S} s; killed", file=sys.stderr)
            code = None
        if code in (0, 1) and os.path.exists(result_file):
            with open(result_file) as fh:
                result = fh.read().strip()
    finally:
        # on a timeout, SIGTERM or Ctrl-C the JVM is stopped and waited
        # for before the run leaves
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"[perf] no result (exit code {code})", file=sys.stderr)
        return 2
    print(f"[perf] artifact: {os.path.relpath(artifact, build.ROOT)}",
          file=sys.stderr)
    sys.stdout.write(result + "\n")
    return code


if __name__ == "__main__":
    sys.exit(main())

"""Storage-engine benchmark: one run of one workload.

Usage, from the repo root:
  python3 perfbench/run.py --workload <scan_olap|point_serve>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program if needed (perfbench/build.py), runs the
workload in one JVM on local[nproc], and prints the report as one JSON object
on the last line of stdout: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans go to <build dir>/runs/trace-<workload>.jsonl.
Exits non-zero, printing no report, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("scan_olap", "point_serve")
RUN_TIMEOUT_S = 170
# Spark needs these on JDK 17 when started outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    runs = os.path.join(build.BUILD_DIR, "runs")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}"] + ADD_OPENS +
           ["-cp", ":".join(classpath), "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stderr.write("".join(l + "\n" for l in err.splitlines()
                             if l.startswith("[perfbench]") or "Exception" in l or "Error" in l))
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-4000:])
        print(f"[perfbench] run failed (exit {proc.returncode})", file=sys.stderr)
        return 4
    report = json.loads(lines[-1])
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload terasort --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run compiles the program and the
benchmark (perfbench/build.py). Every metric is printed as
`name value unit`; the last stdout line is a compact JSON summary with the
keys correct, attempted, failed and metrics. `--trace 0` reports the
end-to-end metrics, `--trace 1` a separate traced run's per-layer metrics.
The full record (result, one line per operation, spans) is written under
.bench_build/perfbench/records/.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("terasort", "terasort_skew")
JVM_TIMEOUT_S = 165
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args(argv)
    if not 1 <= a.seconds <= 120:
        p.error(f"--seconds must be within 1..120, got {a.seconds}")
    return a


def java_cmd(work, main_class, args):
    """The JVM command line for `main_class`, with its temp dir under `work`.
    The heap is fixed and pre-touched so resident memory does not depend on
    how far the collector chose to grow the heap in a given run."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", build.classpath(), main_class] + args)


def run_jvm(cmd, env, log_path):
    """Run the benchmark JVM in its own process group; kill the whole group
    if it overruns or this script is interrupted, and wait for it."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(*_):
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

        signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop()
            return None
        except BaseException:
            stop()
            raise


def main(argv):
    a = parse_args(argv)
    try:
        build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    base = build.OUT
    work = base / "work" / a.workload
    records = base / "records"
    records.mkdir(parents=True, exist_ok=True)
    stem = f"{a.workload}_s{a.seed}_t{a.trace}"
    out = records / f"{stem}.json"
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=str(work / "scratch"))
    cmd = java_cmd(work, "perfbench.TeraBench",
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--cores", str(cores),
                    "--work", str(work), "--out", str(out)])
    if out.exists():
        out.unlink()
    log_path = records / f"{stem}.log"
    code = run_jvm(cmd, env, log_path)
    if code != 0 or not out.exists():
        tail = log_path.read_text(errors="replace")[-3000:]
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: benchmark JVM {why}; log tail:\n{tail}", file=sys.stderr)
        return 1

    result = json.loads(out.read_text())
    metrics = result["metrics"]
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    attempted, failed = result["attempted"], result["failed"]
    print(f"error_rate {failed / attempted} ratio ({failed} failed of {attempted} operations)")
    print(f"record {out}")
    summary = {"correct": result["correct"], "attempted": attempted, "failed": failed,
               "metrics": metrics}
    print(json.dumps(summary, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

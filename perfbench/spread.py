#!/usr/bin/env python3
"""Run a workload once per seed and report, per metric, the median, the
quartiles and the quartile spread as a share of the median (the stability
figure the benchmark's bounds are checked against).

    python3 perfbench/spread.py --workload terasort --seeds 1-10 [--trace 0] [--out FILE]

Run from the repository root. --seconds defaults to run_seconds in
BENCHMARK.json. Results (every run's summary and the statistics) go to
--out as JSON when given.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "n": len(values)}


def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    p.add_argument("--seconds", type=int)
    p.add_argument("--out")
    a = p.parse_args(argv)
    seconds = a.seconds or json.loads(Path("BENCHMARK.json").read_text())["run_seconds"]
    runs = []
    for s in seeds(a.seeds):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", a.workload, "--seed", str(s),
               "--seconds", str(seconds), "--trace", str(a.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"seed {s}: run.py exited with {proc.returncode}", file=sys.stderr)
            return 1
        summary = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append({"seed": s, **summary})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(summary["metrics"].items()))
        print(f"seed {s}: correct={summary['correct']} failed={summary['failed']}/{summary['attempted']} {vals}",
              flush=True)
    names = sorted(runs[0]["metrics"])
    table = {n: stats([r["metrics"][n]["value"] for r in runs]) for n in names}
    for n, st in table.items():
        spread = "n/a" if st["spread"] is None else f"{st['spread']:.4f}"
        print(f"{n}: median {st['median']:.6g} q1 {st['q1']:.6g} q3 {st['q3']:.6g} spread {spread}")
    if a.out:
        Path(a.out).write_text(json.dumps({"workload": a.workload, "trace": a.trace, "seconds": seconds,
                                           "runs": runs, "stats": table}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

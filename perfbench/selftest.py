#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/selftest.py

1. TeraValidate gate: a real TeraSort output passes, and swapped records,
   a dropped record, a changed payload byte and swapped part files each fail
   (perfbench.ValidateSelfTest).
2. Counter determinism: two traced runs of one seed on each TeraSort
   workload report identical job, stage and task counts, source bytes and
   exchange bytes, records and partition skew, so these may be cited as
   exact counts.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

EXACT = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks",
         "sources.read_bytes", "sources.write_bytes",
         "exchange.write_bytes", "exchange.write_records", "exchange.part_skew"]
SEED = 7
SECONDS = 5


def validate_gate():
    work = build.OUT / "work" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    cmd = run.java_cmd(work, "perfbench.ValidateSelfTest", [str(work / "data")])
    log = build.OUT / "records" / "selftest_validate.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    code = run.run_jvm(cmd, None, log)
    lines = [l for l in log.read_text(errors="replace").splitlines() if l.startswith("validate-selftest")]
    print("\n".join(lines))
    return code == 0 and len(lines) == 10 and all(": ok" in l for l in lines)


def traced(workload):
    proc = subprocess.run([sys.executable, str(Path(run.__file__)), "--workload", workload,
                           "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", "1"],
                          stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{workload}: run.py exited with {proc.returncode}")
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    if not summary["correct"]:
        raise SystemExit(f"{workload}: output failed validation")
    return {k: summary["metrics"][k]["value"] for k in EXACT}


def counter_determinism():
    ok = True
    for w in run.WORKLOADS:
        a, b = traced(w), traced(w)
        for k in EXACT:
            same = a[k] == b[k]
            ok &= same
            print(f"determinism {w} {k}: {a[k]} {'==' if same else '!='} {b[k]}")
    return ok


def main():
    build.build()
    results = {"validate_gate": validate_gate(), "counter_determinism": counter_determinism()}
    for name, ok in results.items():
        print(f"{name}: {'PASS' if ok else 'FAIL'}")
    return 0 if all(results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())

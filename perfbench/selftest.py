"""Toy-size self-test of the CDC benchmark.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json at toy size (a one-second run)
through the real command, untraced and traced, and checks that the run is correct and
that every metric BENCHMARK.json names is printed with its unit.  Then it
damages the final table of each workload and checks that the oracle check
flags it.  Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SECONDS, SEED = 1, 90_001


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def command_runs(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w["name"], "--seed", str(SEED),
                 "--seconds", str(SECONDS), "--trace", str(trace)],
                cwd=os.getcwd(), capture_output=True, text=True, timeout=600)
            tag = f"{w['name']} --trace {trace}"
            check(p.returncode == 0, f"{tag}: exit code {p.returncode}"
                  + ("" if p.returncode == 0 else "\n" + p.stderr[-3000:]))
            res = json.loads(p.stdout.strip().splitlines()[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{tag}: result keys")
            check(res["correct"] and res["failed"] == 0
                  and res["attempted"] >= 1, f"{tag}: correct, no failures")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{tag}: every {kind} metric with its unit")
            check(all(isinstance(v["value"], (int, float))
                      for v in res["metrics"].values()),
                  f"{tag}: every value is a number")


def oracle_flags_corruption(spec: dict) -> None:
    sys.path[:0] = [HERE, ROOT]
    from pyspark.sql import functions as F

    import run

    work = os.path.join(os.getcwd(), ".perfbench_work", "selftest")
    spark = run.build_spark(work, None)

    def corrupt(table):         # drop every row of turn 0
        table.overwrite(table.read().where(F.col("turn_idx") != 0))

    try:
        for w in spec["workloads"]:
            rec = run.run(w["name"], SEED, SECONDS, False, work,
                          spark=spark, corrupt=corrupt, warm=False)
            res = rec["result"]
            check(not res["correct"] and res["failed"] >= 1
                  and any("oracle mismatch" in e for e in rec["errors"]),
                  f"{w['name']}: oracle check flags a corrupted table")
    finally:
        run.stop_spark(spark)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    command_runs(spec)
    oracle_flags_corruption(spec)
    print("self-test passed")


if __name__ == "__main__":
    main()

"""Repeatability check for the benchmark.

    python3 perfbench/check_repeat.py

For each workload in ``BENCHMARK.json`` it makes four runs of
``perfbench/run.py`` from the current directory (the root of a checkout)
and checks two things:

* the deterministic counters of two traced runs with the same seed
  (``spark.jobs``, ``spark.stages``, ``plan.exchanges``,
  ``op.construct_jobs``, ``io.load_jobs``) are identical;
* every end-to-end metric of an untraced run with seed 2 is within that
  metric's bound in ``BENCHMARK.json`` of the value with seed 1.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

SEED, OTHER_SEED = 1, 2
EXACT = ("spark.jobs", "spark.stages", "plan.exchanges", "op.construct_jobs", "io.load_jobs")


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def main() -> int:
    bench = json.loads(Path("BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        a = _run(w, SEED, seconds, 1)
        b = _run(w, SEED, seconds, 1)
        for k in EXACT:
            same = a[k] == b[k]
            ok &= same
            print(f"{w:18s} {k:20s} {a[k]!r:>12} {b[k]!r:>12}  {'same' if same else 'DIFFERENT'}")
        x = _run(w, SEED, seconds, 0)
        y = _run(w, OTHER_SEED, seconds, 0)
        for m in bench["end_to_end"]:
            k, bound = m["name"], m["bound"]
            worse = (y[k] - x[k]) / x[k] if m["better"] == "lower" else (x[k] - y[k]) / x[k]
            within = abs(worse) <= bound
            ok &= within
            print(
                f"{w:18s} {k:20s} seed {SEED}: {x[k]:.4g}  seed {OTHER_SEED}: "
                f"{y[k]:.4g}  ({worse:+.1%} worse, bound {bound:.0%})  {'ok' if within else 'OUT'}"
            )
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

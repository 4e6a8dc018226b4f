"""Self-check of the benchmark on tiny inputs.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced at the ``smoke`` size
(200 repos, ~50k power-law edges) and asserts that
the last output line carries exactly the metrics ``BENCHMARK.json`` names,
each a finite number with its declared unit, with no failed check. Then runs
one pass with a deliberately perturbed PageRank result and asserts that the
perturbation is counted as a failed operation.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TIMEOUT_S = 300


def bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-4000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_result(result: dict, spec: list[dict], what: str) -> None:
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{what}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise SystemExit(f"{what}: checks failed: {result}")
    names = [m["name"] for m in spec]
    if list(result["metrics"]) != names:
        raise SystemExit(f"{what}: metrics {list(result['metrics'])} != declared {names}")
    for m in spec:
        got = result["metrics"][m["name"]]
        if got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)) \
                or not math.isfinite(got["value"]):
            raise SystemExit(f"{what}: bad metric {m['name']}: {got}")


def main() -> int:
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in (wl["name"] for wl in declared["workloads"]):
        for trace, spec in ((0, declared["end_to_end"]), (1, declared["per_layer"])):
            check_result(bench(w, trace), spec, f"{w} trace={trace}")
            print(f"smoke: {w} trace={trace} ok", flush=True)
    perturbed = bench("durable", 0, "--perturb")
    if perturbed["correct"] or perturbed["failed"] < 1:
        raise SystemExit(f"perturbed result not counted as failed: {perturbed}")
    print(f"smoke: perturbed result counted: failed={perturbed['failed']} "
          f"of attempted={perturbed['attempted']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

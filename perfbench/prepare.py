"""Generate a workload's seeded input and its reference, once per seed.

    python3 perfbench/prepare.py <workload> <seed> <bench|smoke> <cache dir>

Run by ``run.py`` in a child process before anything is measured, so the
measured process only reads the cached Parquet table and ``reference.npz``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import inputs
import reference

if __name__ == "__main__":
    workload, seed, size, cache = sys.argv[1], int(sys.argv[2]), sys.argv[3], Path(sys.argv[4])
    reference.load(workload, inputs.ensure_inputs(workload, seed, size, cache))

"""Seeded input generation, written to Parquet once per (workload, seed).

The measured program only ever reads these Parquet tables; generation runs
before the first timed set-up and is skipped when the cache is present.

* ``corpus`` — the (repo, path, commit, lang, content, sha) table in the
  shape of ``sources.corpus.synth_corpus``: every commit of a repo touches
  ``files_per_commit`` slots of a ``3 × files_per_commit`` file population
  (so commits share files), 1 in ``dup_mod`` files copies the content of one
  of ``num_repos // 10`` duplication groups (cross-repo sha256 collisions),
  content is 8..127 tokens of the engine's vocabulary. Generated with numpy
  rather than ``synth_corpus`` itself, which would need a Spark JVM of its
  own, ~20 s per new seed.
* ``durable`` — the ``scripts/scaling_bench.py`` power-law edge generator
  (src uniform, dst log-uniform, so low ids are hubs), scaled down and
  made canonical (src < dst, no self-loops, no duplicates).
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# generation parameters; "smoke" is the tiny-input self-check of the benchmark
SIZES = {
    "bench": {
        "corpus": {"num_repos": 500, "commits_per_repo": 4, "files_per_commit": 5},
        "durable": {"edge_rows": 60_000, "vertices": 2_000},
    },
    "smoke": {
        "corpus": {"num_repos": 200, "commits_per_repo": 4, "files_per_commit": 5},
        "durable": {"edge_rows": 20_000, "vertices": 1_000},
    },
}


def _corpus(seed: int, num_repos: int, commits_per_repo: int, files_per_commit: int,
            dup_mod: int = 20) -> pa.Table:
    from arabesque_spark.sources.corpus import _VOCAB, LANGS

    rng = np.random.default_rng([seed, 2])
    population = 3 * files_per_commit
    shape = (num_repos, population)
    lang = rng.integers(0, len(LANGS), shape)
    subdir = rng.integers(0, 4, shape)
    is_dup = rng.random(shape) < 1.0 / dup_mod
    group = rng.integers(0, max(num_repos // 10, 1), shape)
    commit = rng.integers(0, 2**63, (num_repos, commits_per_repo), dtype=np.int64)
    touched = rng.integers(0, population, (num_repos, commits_per_repo, files_per_commit))
    vocab = np.array(_VOCAB, dtype=object)

    def content(kind: int, key: int) -> str:
        r = np.random.default_rng([seed, 7, kind, key])
        return " ".join(vocab[r.integers(0, len(vocab), 8 + int(r.integers(0, 120)))])

    cols: dict[str, list] = {k: [] for k in ("repo", "path", "commit", "lang", "content", "sha")}
    for r in range(num_repos):
        for c in range(commits_per_repo):
            for fid in sorted(set(touched[r, c].tolist())):  # one row per (repo, path, commit)
                ext = LANGS[lang[r, fid]]
                text = content(0, int(group[r, fid])) if is_dup[r, fid] else content(1, r * population + fid)
                cols["repo"].append(f"repo{r:05d}")
                cols["path"].append(f"src/d{subdir[r, fid]}/f{fid:04d}.{ext}")
                cols["commit"].append(format(int(commit[r, c]), "x"))
                cols["lang"].append(ext)
                cols["content"].append(text)
                cols["sha"].append(hashlib.sha256(text.encode()).hexdigest())
    return pa.table(cols)


def _powerlaw_edges(seed: int, edge_rows: int, vertices: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    src = rng.integers(0, vertices, size=edge_rows, dtype=np.int64)
    dst = np.floor(np.exp(rng.random(edge_rows) * np.log(float(vertices)))).astype(np.int64)
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    pairs = np.unique(np.stack([lo[keep], hi[keep]], axis=1), axis=0)
    return pa.table({"src": pairs[:, 0], "dst": pairs[:, 1]})


def ensure_inputs(workload: str, seed: int, size: str, cache: Path) -> Path:
    """Directory holding the workload's Parquet input for ``seed``."""
    params = SIZES[size][workload]
    out = cache / f"{workload}-{size}-{seed}"
    if (out / "params.json").is_file():
        return out
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    generate = {"corpus": (_corpus, "corpus.parquet"), "durable": (_powerlaw_edges, "edges.parquet")}
    fn, name = generate[workload]
    pq.write_table(fn(seed, **params), out / name)
    # written last: its presence marks a complete cache entry
    (out / "params.json").write_text(json.dumps({"workload": workload, "seed": seed, **params}))
    return out

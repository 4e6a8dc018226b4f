"""Independent references the benchmark checks every engine result against.

Each is computed from the workload's Parquet input with numpy, pandas or
DuckDB (never with the engine), once per input and seed, and cached as an
``.npz`` beside the input.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

DAMPING = 0.85
LPA_ITERATIONS = 5
CODE_GRAPH_PAIRWISE_LIMIT = 16  # build_code_graph's default clique/star cut


def canonical(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """(E, 2) sorted unique undirected edges, src < dst, no self-loops."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    return np.unique(np.stack([lo[keep], hi[keep]], axis=1).astype(np.int64), axis=0)


def code_graph_edges(input_dir: Path) -> np.ndarray:
    """``build_code_graph`` re-derived in pandas: dense ids by (kind, key);
    shared-commit and content-hash groups become cliques up to the pairwise
    limit and stars on their minimum member above it; every file links to
    its repo."""
    corpus = pq.read_table(
        input_dir / "corpus.parquet", columns=["repo", "path", "commit", "sha"]
    ).to_pandas()
    corpus["fkey"] = corpus["repo"] + "\x1f" + corpus["path"]
    keys = sorted(set(corpus["fkey"])) + sorted(set(corpus["repo"]))  # "file" < "repo"
    vid = pd.Series(np.arange(len(keys), dtype=np.int64), index=keys)
    fvid = vid[corpus["fkey"]].to_numpy()
    rvid = vid[corpus["repo"]].to_numpy()

    members = pd.concat(
        [
            pd.DataFrame({"grp": corpus["repo"] + "\x1f" + corpus["commit"], "m": fvid}),
            pd.DataFrame({"grp": corpus["sha"], "m": fvid}),
        ]
    ).drop_duplicates()
    grouped = members.groupby("grp")["m"]
    members["gsz"] = grouped.transform("size")
    members["gmin"] = grouped.transform("min")
    small = members[members["gsz"] <= CODE_GRAPH_PAIRWISE_LIMIT]
    clique = small.merge(small, on="grp")
    clique = clique[clique["m_x"] < clique["m_y"]]
    star = members[(members["gsz"] > CODE_GRAPH_PAIRWISE_LIMIT) & (members["m"] != members["gmin"])]
    src = np.concatenate([clique["m_x"].to_numpy(), star["gmin"].to_numpy(), rvid])
    dst = np.concatenate([clique["m_y"].to_numpy(), star["m"].to_numpy(), fvid])
    return canonical(src, dst)


def _dense(edges: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(vids, src index, dst index) over the edge endpoints."""
    vids, inv = np.unique(edges, return_inverse=True)
    inv = inv.reshape(edges.shape)
    return vids, inv[:, 0], inv[:, 1]


def pagerank(edges: np.ndarray, tol: float = 1e-6) -> tuple[np.ndarray, np.ndarray]:
    """Undirected PageRank power iteration, stopping (as the engine does) at
    the first superstep whose max per-vertex change is below ``tol``."""
    vids, s, d = _dense(edges)
    n = vids.size
    deg = np.bincount(s, minlength=n) + np.bincount(d, minlength=n)
    rank = np.full(n, 1.0 / n)
    for _ in range(1_000):
        share = rank / deg
        new = (1.0 - DAMPING) / n + DAMPING * (
            np.bincount(s, weights=share[d], minlength=n)
            + np.bincount(d, weights=share[s], minlength=n)
        )
        delta = np.abs(new - rank).max()
        rank = new
        if delta < tol:
            break
    return vids, rank


def components(edges: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Min-vid component label per vertex (hook to min + pointer jumping)."""
    vids, s, d = _dense(edges)
    label = np.arange(vids.size)
    while True:
        m = np.minimum(label[s], label[d])
        new = label.copy()
        np.minimum.at(new, s, m)
        np.minimum.at(new, d, m)
        new = new[new]
        if np.array_equal(new, label):
            break
        label = new
    return vids, vids[label]


def lpa(edges: np.ndarray, iterations: int = LPA_ITERATIONS) -> tuple[np.ndarray, np.ndarray]:
    """Synchronous label propagation: most frequent neighbour label, ties to
    the smallest label, stopping early at a fixpoint."""
    vids, s, d = _dense(edges)
    to = np.concatenate([s, d])
    frm = np.concatenate([d, s])
    label = np.arange(vids.size)  # label indices; vids are sorted, so order is kept
    n = vids.size
    for _ in range(iterations):
        keys, cnt = np.unique(to * n + label[frm], return_counts=True)
        v, lab = keys // n, keys % n
        order = np.lexsort((lab, -cnt, v))  # per vertex: count desc, label asc
        v, lab = v[order], lab[order]
        first = np.ones(v.size, dtype=bool)
        first[1:] = v[1:] != v[:-1]
        new = label.copy()
        new[v[first]] = lab[first]
        if np.array_equal(new, label):
            break
        label = new
    return vids, vids[label]


def triangles(edges: np.ndarray) -> int:
    con = duckdb.connect()
    try:
        con.register("e", pd.DataFrame(edges, columns=["src", "dst"]))
        return int(
            con.execute(
                "SELECT count(*) FROM e a JOIN e b ON a.dst = b.src "
                "JOIN e c ON c.src = a.src AND c.dst = b.dst"
            ).fetchone()[0]
        )
    finally:
        con.close()


def compute(workload: str, input_dir: Path) -> dict[str, np.ndarray]:
    if workload == "corpus":
        edges = code_graph_edges(input_dir)
    else:
        raw = pq.read_table(input_dir / "edges.parquet")
        edges = canonical(raw.column("src").to_numpy(), raw.column("dst").to_numpy())
    out: dict[str, np.ndarray] = {"edges": edges}
    out["pr_vid"], out["pr_rank"] = pagerank(edges)
    out["cc_vid"], out["cc_label"] = components(edges)
    out["lpa_vid"], out["lpa_label"] = lpa(edges)
    out["triangles"] = np.array(triangles(edges))
    if workload == "corpus":
        out["source_rows"] = np.array(
            pq.read_table(input_dir / "corpus.parquet", columns=["repo"]).num_rows)
    return out


def load(workload: str, input_dir: Path) -> dict[str, np.ndarray]:
    """Reference for ``input_dir``, computed on first use and then cached."""
    path = input_dir / "reference.npz"
    if not path.is_file():
        tmp = input_dir / "reference.tmp.npz"
        np.savez(tmp, **compute(workload, input_dir))
        tmp.rename(path)
    with np.load(path) as npz:
        return {k: npz[k] for k in npz.files}

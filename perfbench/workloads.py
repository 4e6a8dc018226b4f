"""Set-up and job list of each workload, and the checks of their results.

=========  ==========================================  ==========================================
workload   set-up input (persisted)                    job list, one pass
=========  ==========================================  ==========================================
corpus     the corpus table                            ingest, code_graph, components, pagerank,
                                                       lpa (5 supersteps), triangles
durable    ``canonical_edges`` of the power-law table  pagerank (checkpoint_dir, 5 supersteps),
                                                       resume (to convergence), components
                                                       (checkpoint_dir), lpa (5), triangles
=========  ==========================================  ==========================================

Every call is timed together with fetching its result to the driver; the
checks against the reference run after the pass, outside the timed region.
"""

from __future__ import annotations

import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arabesque_spark.graph.build import canonical_edges, degrees
from arabesque_spark.graph.components import connected_components
from arabesque_spark.graph.lpa import label_propagation
from arabesque_spark.graph.pagerank import pagerank
from arabesque_spark.graph.triangles import triangle_count
from arabesque_spark.sources.code_graph import build_code_graph
from arabesque_spark.sources.corpus import ingest_corpus, verify_sha256

from host import cpu_s, steal_s
from reference import LPA_ITERATIONS

PR_TOL = 1e-6
PR_ATOL = 1e-6  # per-vertex allclose against the numpy reference
DURABLE_SEGMENT = 5  # PageRank supersteps before the interruption


def load_input(spark: SparkSession, workload: str, input_dir: Path) -> DataFrame:
    """The workload's persisted input: the link graph's edges, or the corpus."""
    if workload == "durable":
        df = canonical_edges(spark.read.parquet(str(input_dir / "edges.parquet")))
    else:
        df = spark.read.parquet(str(input_dir / "corpus.parquet"))
    df = df.persist()
    df.count()
    return df


@dataclass
class Pass:
    """What one run of the job list measured and found."""

    walls: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    cpu: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    groups: dict[str, list[str]] = field(default_factory=lambda: defaultdict(list))
    job_s: float = 0.0
    job_cpu_s: float = 0.0  # user + system seconds of the driver, JVM and workers
    steal_s: float = 0.0  # per-CPU time the hypervisor took away during the pass
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # per-layer numbers; those of one workload's stages only exist on that workload
    layer: dict[str, float] = field(default_factory=dict)

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


class Runner:
    """Runs one workload's job list against its loaded input."""

    def __init__(self, spark: SparkSession, workload: str, source: DataFrame, ref: dict,
                 scratch: Path, tracer) -> None:
        self.spark, self.workload, self.source, self.ref = spark, workload, source, ref
        self.scratch, self.tracer = scratch, tracer

    def _call(self, p: Pass, stage: str, fn):
        with self.tracer.span(stage) as sp:
            c0, t0 = cpu_s(), time.perf_counter()
            out = fn()
            p.walls[stage] += time.perf_counter() - t0
            p.cpu[stage] += cpu_s() - c0
        if sp is not None:
            p.groups[stage].append(sp.group)
        return out

    def run(self, perturb: bool = False) -> Pass:
        """One pass; ``perturb`` corrupts one PageRank score to prove the
        checks catch a wrong result."""
        p = Pass()
        shutil.rmtree(self.scratch, ignore_errors=True)
        self.scratch.mkdir(parents=True)
        out: dict = {}
        job = {"corpus": self._corpus, "durable": self._durable}
        c0, s0, t0 = cpu_s(), steal_s(), time.perf_counter()
        try:
            with self.tracer.span("job"):
                job[self.workload](p, out)
        except Exception as exc:  # a failed call fails the rest of the pass
            p.errors.append(f"{type(exc).__name__}: {exc}")
        p.job_s = time.perf_counter() - t0
        p.job_cpu_s, p.steal_s = cpu_s() - c0, steal_s() - s0
        if perturb and "ranks" in out:
            out["ranks"][1][0] += 10 * PR_ATOL
        self._check(p, out)
        if "done" in out:
            self._layer_numbers(p, out)
        return p

    # ---- job lists --------------------------------------------------------
    def _pagerank(self, p: Pass, out: dict, edges: DataFrame, stage: str = "pagerank", **kw):
        def call():
            res = pagerank(self.spark, edges, tol=PR_TOL, **kw)
            return res, _arrays(res.state, "vid", "rank")
        res, out["ranks"] = self._call(p, stage, call)
        out.setdefault("pr_runs", []).append(res)
        return res

    def _components(self, p: Pass, out: dict, edges: DataFrame, **kw) -> None:
        out["cc"] = self._call(p, "components", lambda: _arrays(
            connected_components(self.spark, edges, **kw), "vid", "component"))

    def _kernels(self, p: Pass, out: dict, edges: DataFrame) -> None:
        """The two kernels both workloads end with."""
        def lpa():
            res = label_propagation(self.spark, edges, max_iterations=LPA_ITERATIONS)
            return res, _arrays(res.state, "vid", "label")
        out["lpa"], out["labels"] = self._call(p, "lpa", lpa)
        out["triangles"] = self._call(p, "triangles", lambda: triangle_count(self.spark, edges))
        out["done"] = True

    def _corpus(self, p: Pass, out: dict) -> None:
        landed = self.scratch / "ingest"

        def ingest():
            back = ingest_corpus(self.spark, self.source, landed)
            return back, back.count()
        back, out["ingest_rows"] = self._call(p, "ingest", ingest)

        def code_graph():
            t = time.perf_counter()
            out["bad_sha"] = verify_sha256(back)
            out["verify_s"] = time.perf_counter() - t
            g = build_code_graph(back)
            out["code_graph_vertices"] = g.vertices.count()
            out["code_graph_build_s"] = time.perf_counter() - t - out["verify_s"]
            return g
        edges = out["edges"] = self._call(p, "code_graph", code_graph).edges
        self._components(p, out, edges)
        self._pagerank(p, out, edges)
        self._kernels(p, out, edges)

    def _durable(self, p: Pass, out: dict) -> None:
        edges = out["edges"] = self.source
        ck = self.scratch / "ckpt"
        seg = self._call(p, "pagerank", lambda: pagerank(
            self.spark, edges, tol=PR_TOL, checkpoint_dir=ck / "pagerank",
            max_iterations=DURABLE_SEGMENT))
        out["segment"] = seg
        out["pr_runs"] = [seg]
        out["resume"] = self._pagerank(p, out, edges, stage="resume",
                                       checkpoint_dir=ck / "pagerank", resume=True)
        self._components(p, out, edges, checkpoint_dir=ck / "components")
        self._kernels(p, out, edges)

    # ---- checks -----------------------------------------------------------
    def _check(self, p: Pass, out: dict) -> None:
        ref = self.ref
        checks = [
            ("edges", lambda: np.array_equal(_sorted_edges(out["edges"]), ref["edges"])),
            ("pagerank", lambda: out["pr_runs"][-1].converged
             and _same(out["ranks"], ref["pr_vid"], ref["pr_rank"], atol=PR_ATOL)),
            ("components", lambda: _same(out["cc"], ref["cc_vid"], ref["cc_label"])),
            ("lpa", lambda: _same(out["labels"], ref["lpa_vid"], ref["lpa_label"])),
            ("triangles", lambda: out["triangles"] == int(ref["triangles"])),
        ]
        if self.workload == "corpus":
            checks.append(("ingest", lambda: out["bad_sha"] == 0
                           and out["ingest_rows"] == int(ref["source_rows"])))
        else:
            checks += [
                ("segment", lambda: out["segment"].num_iterations == DURABLE_SEGMENT
                 and not out["segment"].converged),
                ("resume", lambda: out["resume"].resumed_from == DURABLE_SEGMENT - 1),
            ]
        for name, ok in checks:
            try:
                p.check(name, bool(ok()))
            except Exception as exc:  # no result to check: its call raised
                p.check(f"{name} ({type(exc).__name__})", False)

    # ---- per-layer numbers read off the results ---------------------------
    def _layer_numbers(self, p: Pass, out: dict) -> None:
        lay = p.layer
        edges = len(self.ref["edges"])
        deg = degrees(out["edges"]).agg(F.count(F.lit(1)), F.max("deg")).collect()[0]
        lay["build.edges"] = edges
        lay["build.vertices"], lay["build.max_degree"] = deg[0], deg[1]

        steps = [it.wall_s for res in out["pr_runs"] for it in res.iterations]
        pr_wall = p.walls["pagerank"] + p.walls["resume"]
        lay["pagerank.iterations"] = len(steps)
        lay["pagerank.superstep_s"] = statistics.median(steps)
        lay["pagerank.superstep_max_s"] = max(steps)
        lay["pagerank.setup_s"] = pr_wall - sum(steps)
        lay["pagerank.edges_per_s"] = 2 * edges * len(steps) / sum(steps)
        lay["pagerank.edges_per_cpu_s"] = 2 * edges * len(steps) / (p.cpu["pagerank"] + p.cpu["resume"])

        lpa_steps = [it.wall_s for it in out["lpa"].iterations]
        lay["lpa.superstep_s"] = statistics.median(lpa_steps)
        lay["lpa.changed_last"] = out["lpa"].iterations[-1].metrics["changed"]
        lay["triangles.count"] = out["triangles"]

        if self.workload == "corpus":
            for name in ("ingest", "code_graph"):
                lay[f"{name}_s"], lay[f"{name}_cpu_s"] = p.walls[name], p.cpu[name]
            lay["sources.verify_s"] = out["verify_s"]
            lay["sources.code_graph_build_s"] = out["code_graph_build_s"]
            lay["sources.ingest_rows"] = out["ingest_rows"]
            lay["sources.ingest_bytes"] = _du(self.scratch / "ingest")
            lay["sources.code_graph_edges"] = edges
            lay["sources.code_graph_vertices"] = out["code_graph_vertices"]
        else:
            lay["resume_s"], lay["resume_cpu_s"] = p.walls["resume"], p.cpu["resume"]
            lay["superstep.resume_setup_s"] = p.walls["resume"] - sum(
                it.wall_s for it in out["resume"].iterations)
            ck = self.scratch / "ckpt"
            lay["superstep.checkpoint_bytes"] = _du(ck / "pagerank")
            lay["superstep.manifest_entries"] = _lines(ck / "pagerank" / "manifest.jsonl")
            lay["components.rounds"] = _lines(ck / "components" / "manifest.jsonl")


def _arrays(df: DataFrame, key: str, val: str) -> tuple[np.ndarray, np.ndarray]:
    t = df.select(key, val).toArrow()
    k, v = t.column(0).to_numpy(), t.column(1).to_numpy()
    order = np.argsort(k, kind="stable")
    return k[order], v[order].copy()


def _sorted_edges(df: DataFrame) -> np.ndarray:
    t = df.select("src", "dst").toArrow()
    e = np.stack([t.column(0).to_numpy(), t.column(1).to_numpy()], axis=1)
    return e[np.lexsort((e[:, 1], e[:, 0]))]


def _same(got: tuple[np.ndarray, np.ndarray], vid: np.ndarray, val: np.ndarray,
          atol: float | None = None) -> bool:
    k, v = got
    if not np.array_equal(k, vid):
        return False
    return bool(np.allclose(v, val, rtol=0, atol=atol)) if atol else bool(np.array_equal(v, val))


def _du(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) if path.exists() else 0


def _lines(path: Path) -> int:
    return sum(1 for line in path.read_text().splitlines() if line.strip()) if path.exists() else 0

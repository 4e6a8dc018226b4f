"""Link-graph benchmark for arabesque_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 1 --trace 0

One client runs the workload's job list in a closed loop (one job at a time)
on ``local[nproc]`` for ``--seconds``, checks every result against an
independent reference, and prints as its last line one JSON object with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
named in ``BENCHMARK.json``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

from host import host_info, peak_rss_mb

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"  # inputs cache, Spark scratch, checkpoints, spans
SETUP_REPS = 3
DRIVER_MEM = "2g"
PREPARE_TIMEOUT_S = 120
KERNELS = ("components", "lpa", "triangles")


def pin_environment(nproc: int) -> dict:
    """Resources for this host, exported before any Spark JVM starts."""
    env = {
        "SPARK_GRAFT_MASTER": f"local[{nproc}]",
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_SHUFFLE": str(2 * nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # shuffle and spill on disk inside the checkout, not in /dev/shm
        "SPARK_GRAFT_LOCAL_DIR": str(WORK / "spark-local"),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
        # every JVM, the spark-submit launcher included: temp files in the
        # checkout, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python workers import the engine from this checkout
        "PYTHONPATH": os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    }
    for key in ("SPARK_GRAFT_LOCAL_DIR", "TMPDIR"):
        Path(env[key]).mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    return env


def spark_conf(event_log: Path | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a heap of fixed size: its resident size then depends less on when
        # the collector chose to grow it, which steadies peak_rss_mb
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def shutdown_jvm(timeout_s: float = 60) -> None:
    """End the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=timeout_s)


class Bench:
    """One workload on one seed: set-up, closed-loop passes, metrics."""

    def __init__(self, args, host: dict) -> None:
        import reference

        self.args, self.host = args, host
        self.input_dir = WORK / "inputs" / f"{args.workload}-{args.size}-{args.seed}"
        self.ref = reference.load(args.workload, self.input_dir)
        self.spark = None
        self.source = None

    def setup(self, tracer, event_log: Path | None = None) -> dict[str, float]:
        """Fresh SparkContext, Python worker warm-up, load + persist input."""
        from arabesque_spark.session import get_spark
        from workloads import load_input

        nproc = self.host["nproc"]
        self.stop()
        times = {}
        with tracer.span("setup"):
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                                       extra_conf=spark_conf(event_log))
            times["session.start_s"] = time.perf_counter() - t0
            tracer.sc = self.spark.sparkContext if tracer.enabled else None

            t = time.perf_counter()
            with tracer.span("session.warm"):
                self.spark.range(0, 4 * nproc, 1, nproc).mapInPandas(
                    lambda batches: batches, "id long").count()
            times["session.warm_s"] = time.perf_counter() - t

            t = time.perf_counter()
            with tracer.span("build.edges"):
                self.source = load_input(self.spark, self.args.workload, self.input_dir)
            times["build.edges_s"] = time.perf_counter() - t
            times["setup_s"] = time.perf_counter() - t0
        return times

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def loop(self, tracer, seconds: float, phase: str, perturb: bool = False) -> list:
        """Closed loop: one pass after another until ``seconds`` have passed."""
        from workloads import Runner

        runner = Runner(self.spark, self.args.workload, self.source, self.ref,
                        WORK / "job" / f"{self.args.workload}-{os.getpid()}", tracer)
        passes = []
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() < deadline:
            tracer.run_id = f"{self.args.workload}-{self.args.seed}-{phase}-{len(passes)}"
            p = runner.run(perturb=perturb)
            if tracer.enabled:
                for stage, layer in (("pagerank", "pagerank"), ("resume", "pagerank"),
                                     ("components", "components"), ("triangles", "triangles")):
                    jobs = sum(tracer.jobs(g) for g in p.groups[stage])
                    p.layer[f"{layer}.jobs"] = p.layer.get(f"{layer}.jobs", 0) + jobs
            passes.append(p)
        shutil.rmtree(runner.scratch, ignore_errors=True)
        return passes


def median_of(items, key) -> float:
    return statistics.median(key(x) for x in items)


def end_to_end(setups: list[dict], passes: list) -> dict[str, float]:
    return {
        "setup_s": median_of(setups, lambda s: s["setup_s"]),
        "job_cpu_s": median_of(passes, lambda p: p.job_cpu_s),
        "pagerank_cpu_s": median_of(passes, lambda p: p.cpu["pagerank"] + p.cpu["resume"]),
        "pagerank_edges_per_cpu_s": median_of(passes, lambda p: p.layer["pagerank.edges_per_cpu_s"]),
        # one sum: each kernel alone is a few CPU seconds, too few to be steady
        "kernels_cpu_s": median_of(passes, lambda p: sum(p.cpu[k] for k in KERNELS)),
        "peak_rss_mb": peak_rss_mb(),
    }


def breakdown(passes: list) -> dict[str, float]:
    """Wall-clock times to solution and each kernel's CPU seconds: printed
    every run, per-layer metrics of the traced run. Walls are not end-to-end
    metrics: on a shared VM the hypervisor's steal time (``steal_s``) moves
    them by more than any bound."""
    wall = lambda stage: median_of(passes, lambda p: p.walls[stage])  # noqa: E731
    out = {
        "job_s": median_of(passes, lambda p: p.job_s),
        "pagerank_s": median_of(passes, lambda p: p.walls["pagerank"] + p.walls["resume"]),
        "pagerank_edges_per_s": median_of(passes, lambda p: p.layer["pagerank.edges_per_s"]),
        "cc_s": wall("components"),
        "lpa_s": wall("lpa"),
        "triangles_s": wall("triangles"),
        "steal_s": median_of(passes, lambda p: p.steal_s),
    }
    for kernel, name in zip(KERNELS, ("cc", "lpa", "triangles")):
        out[f"{name}_cpu_s"] = median_of(passes, lambda p: p.cpu[kernel])
    return out


# job-group stages whose Spark task totals make up each layer's traced counters
TRACED_LAYERS = {
    "sources": ("ingest", "code_graph"),
    "pagerank": ("pagerank", "resume"),
    "components": ("components",),
    "lpa": ("lpa",),
    "triangles": ("triangles",),
}


def layer_medians(passes: list) -> dict[str, float]:
    return {key: median_of(passes, lambda p: p.layer[key]) for key in passes[0].layer}


def per_layer(setups: list[dict], untraced: list, warm: list, traced: list, groups: dict,
              spans: int) -> dict:
    out = breakdown(untraced)
    out.update({k: median_of(setups, lambda s: s[k])
                for k in ("session.start_s", "session.warm_s", "build.edges_s")})
    out.update(layer_medians(traced))
    for layer, stages in TRACED_LAYERS.items():
        st = [groups[g] for p in traced for s in stages for g in p.groups[s] if g in groups]
        if not st:  # a layer this workload does not run
            continue
        per_pass = lambda attr: sum(getattr(g, attr) for g in st) / len(traced)  # noqa: E731
        out[f"{layer}.shuffle_write_bytes"] = per_pass("shuffle_write_bytes")
        out[f"{layer}.shuffle_read_bytes"] = per_pass("shuffle_read_bytes")
        out[f"{layer}.spill_bytes"] = per_pass("spill_bytes")
        out[f"{layer}.gc_s"] = per_pass("gc_s")
        out[f"{layer}.task_skew"] = max((g.task_skew for g in st), default=0.0)
    out["trace.job_s"] = median_of(traced, lambda p: p.job_s)
    out["trace.overhead_s"] = out["trace.job_s"] - median_of(warm, lambda p: p.job_s)
    out["trace.spans"] = spans
    return out


def prepare(args) -> None:
    """Generate the seeded input and its reference in a child process, so the
    measured process only reads Parquet."""
    subprocess.run(
        [sys.executable, str(HERE / "prepare.py"), args.workload, str(args.seed), args.size,
         str(WORK / "inputs")],
        check=True, timeout=PREPARE_TIMEOUT_S, stdout=sys.stderr,
    )


def run(args) -> dict:
    from tracing import Tracer, read_event_log

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    host = host_info()
    env = pin_environment(host["nproc"])
    prepare(args)
    bench = Bench(args, host)
    untraced_tracer = Tracer()
    seconds = args.seconds if not args.trace else args.seconds / 2
    try:
        setups = [bench.setup(untraced_tracer) for _ in range(SETUP_REPS)]
        untraced = bench.loop(untraced_tracer, seconds, "plain", args.perturb)
        attempted = list(untraced)
        if not args.trace:
            metrics = {**end_to_end(setups, untraced), **breakdown(untraced),
                       **layer_medians(untraced)}
            spec = declared["end_to_end"]
        else:
            # the untraced side of the overhead: a second, warm pass, since
            # the traced pass below runs in the same (by then warm) JVM
            warm = bench.loop(untraced_tracer, 0, "plain-warm", args.perturb)
            attempted += warm
            tracer = Tracer(enabled=True)
            event_log = WORK / "eventlog" / f"{args.workload}-{args.seed}-{os.getpid()}"
            tracer.run_id = f"{args.workload}-{args.seed}-setup"
            traced_setups = [bench.setup(tracer, event_log)]
            traced = bench.loop(tracer, seconds, "traced", args.perturb)
            attempted += traced
            app_id = bench.spark.sparkContext.applicationId
            bench.stop()
            groups = read_event_log(event_log / app_id)
            shutil.rmtree(event_log, ignore_errors=True)
            tracer.write(WORK / "spans" / f"{args.workload}-{args.seed}.jsonl")
            metrics = per_layer(setups + traced_setups, untraced, warm, traced, groups,
                                len(tracer.spans))
            spec = declared["per_layer"]
    finally:
        bench.stop()
        shutdown_jvm()
    failed = sum(p.failed for p in attempted)
    checked = sum(p.attempted for p in attempted)
    for p in attempted:
        print(f"pass job_s={p.job_s:.3f} " + " ".join(f"{k}={v:.3f}" for k, v in p.walls.items()),
              file=sys.stderr)
        print(f"cpu job_cpu_s={p.job_cpu_s:.3f} steal_s={p.steal_s:.3f} "
              + " ".join(f"{k}={v:.3f}" for k, v in p.cpu.items()), file=sys.stderr)
        for err in p.errors:
            print(f"check failed: {err}", file=sys.stderr)
    listed = {m["name"] for m in spec}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host,
        "env": env, "passes": len(attempted), "failed_ops": failed / checked,
        # measured, but not a metric of BENCHMARK.json: wall times (trace 0),
        # stages of one workload only, counters that are 0 on these inputs
        "unlisted": {k: v for k, v in metrics.items() if k not in listed},
    }))
    return {
        "correct": failed == 0,
        "attempted": checked,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=("corpus", "durable"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench",
                    help="input size; smoke is the tiny self-check size")
    ap.add_argument("--perturb", action="store_true",
                    help="corrupt one PageRank result per pass (self-check of the checks)")
    args = ap.parse_args(argv)
    if not (ROOT / "arabesque_spark" / "__init__.py").is_file() or not (ROOT / "BENCHMARK.json").is_file():
        print(f"perfbench: {ROOT} is not an arabesque_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

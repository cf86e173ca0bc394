"""Link-graph engine benchmark: one closed-loop client, seeded workloads.

    python3 linkbench/run.py --workload ingest-iterate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine.  One process drives
``local[<cpus>]`` Spark and runs one operation at a time.  After session
start, input generation (repeated, median reported) and an untimed
warm-up, the workload's two calls alternate until ``--seconds`` have
passed (at least one round).  Every result is checked against an
independent oracle.  The last stdout line is the JSON result; the line
before it is a report with the named metrics, sample counts and an
environment record.  With ``--trace 1`` the Spark counters of each call's
job group are read back, spans are written to ``linkbench/.out/`` and the
metrics are the per-layer ones (see linkbench/README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
OUT = BENCH_DIR / ".out"
ENGINE = "parallel_betweenness_centrality_using_bsp_spark"
GEN_REPEATS = 3
DRIVER_MEMORY = "2g"

END_TO_END = {"call1_s": "s", "call2_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}
SELF_TIME_SPANS = ("session", "sources", "oracle", "warmup", "ingest", "iterate", "pagerank", "cc",
                   "superstep", "csr", "bsp")
SPARK_COUNTER_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "gc_ms": "ms", "run_ms": "ms",
}
# Per-layer metrics: name -> (unit, better).  Every workload reports all of
# them; a layer that the workload does not run reads 0.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "sources.gen_s": ("s", "lower"),
    "sources.edges": ("count", "higher"),
    "sources.files": ("count", "higher"),
    **{
        f"superstep.{algo}.{m}": (unit, "lower")
        for algo in ("pagerank", "cc")
        for m, unit in (
            ("count", "count"),
            ("step_ms_p50", "ms"),
            ("jobs_per_step", "count"),
            ("tasks_per_step", "count"),
            ("shuffle_write_bytes_per_step", "bytes"),
        )
    },
    "pagerank.prep_s": ("s", "lower"),
    "cc.prep_s": ("s", "lower"),
    "csr.prepare_s": ("s", "lower"),
    "csr.sweep_s": ("s", "lower"),
    "csr.kernel_ms_per_source": ("ms", "lower"),
    "csr.task_busy_s": ("s", "lower"),
    "csr.spark_share": ("ratio", "lower"),
    "csr.edges_traversed": ("count", "lower"),
    "csr.bytes_per_worker": ("bytes", "lower"),
    "bsp.supersteps": ("count", "lower"),
    "bsp.edges_traversed": ("count", "lower"),
    "bsp.jobs": ("count", "lower"),
    "bsp.stages": ("count", "lower"),
    "bsp.tasks": ("count", "lower"),
    "bsp.s_per_superstep": ("s", "lower"),
    "bsp.shuffle_write_bytes": ("bytes", "lower"),
    "bsp.task_busy_s": ("s", "lower"),
    "ingest.densify_s": ("s", "lower"),
    "ingest.derive_s": ("s", "lower"),
    "ingest.edges": ("count", "higher"),
    "ingest.vertices": ("count", "higher"),
    "ingest.jobs": ("count", "lower"),
    "ingest.shuffle_write_bytes": ("bytes", "lower"),
    "ingest.spill_bytes": ("bytes", "lower"),
    **{
        f"{layer}.spark.{k}": (unit, "lower")
        for layer in ("pagerank", "cc", "csr", "bsp", "ingest", "densify")
        for k, unit in SPARK_COUNTER_UNITS.items()
    },
    **{f"self_s.{name}": ("s", "lower") for name in SELF_TIME_SPANS},
    "trace.overhead_s": ("s", "lower"),
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_environment() -> None:
    """Keep every file the run writes inside the checkout and let Spark's
    Python workers import the engine.  Must run before the JVM starts."""
    tmp = OUT / "tmp"
    (tmp / "spark-local").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    # every JVM spark-submit starts, the launcher included, keeps its temp
    # files (and no hsperfdata) out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))


def start_session():
    from parallel_betweenness_centrality_using_bsp_spark import get_spark

    tmp = OUT / "tmp"
    return get_spark(
        app_name="linkbench",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # a heap committed and touched up front keeps the peak RSS from
            # depending on when G1 happens to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.local.dir": str(tmp / "spark-local"),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait for every process this run started."""
    from linkbench.procstat import alive, descendants

    started = descendants(os.getpid())  # the JVM and the Python workers it forked
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while left := [p for p in started if alive(p)]:
        if time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.1)


class Run:
    """Bookkeeping of one benchmark run: attempts, failures, spans, counters."""

    def __init__(self, tracer, counters, traced: bool):
        self.tracer = tracer
        self.counters = counters
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.overhead_s = 0.0

    def attempt(self, what: str, fn) -> bool:
        """Run ``fn``; an exception (or oracle mismatch) is a failed op."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception:
            self.failed += 1
            print(f"FAILED {what}:\n{traceback.format_exc()}", file=sys.stderr)
            return False

    def read_counters(self, gid: str) -> dict:
        t0 = time.perf_counter()
        try:
            return self.counters.read_group(gid)
        finally:
            self.overhead_s += time.perf_counter() - t0

    def call(self, call, layers: list[dict]):
        """One timed call plus its oracle check: (wall_s, work, result), or
        None when the call raised or its output was wrong."""
        out = {}

        def timed_and_checked():
            with self.counters.group(call.name) as gid, self.tracer.span(call.name):
                t0 = time.perf_counter()
                out["result"] = call.run()
                out["wall"] = time.perf_counter() - t0
            out["gid"] = gid
            with self.tracer.span("oracle"):
                call.check(out["result"])

        if not self.attempt(call.name, timed_and_checked):
            return None
        if self.traced:
            counters = self.read_counters(out["gid"])
            layers.append(call.layer(out["result"], out["wall"], counters, self))
        return out["wall"], float(call.work(out["result"])), out["result"]


def environment(seed: int) -> dict:
    import pyspark

    return {
        "nproc": cpus(),
        "loadavg_1m_start": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
    }


def median_by_key(dicts: list[dict]) -> dict:
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d[k] for d in dicts if k in d) for k in keys}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / ENGINE / "__init__.py").is_file():
        print(f"engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    configure_environment()
    from linkbench.procstat import PeakRss
    from linkbench.sparkstats import SparkCounters
    from linkbench.tracing import Tracer, self_times
    from linkbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    traced = bool(args.trace)
    env = environment(args.seed)
    tracer = Tracer(f"{workload.name}-{args.seed}-{os.getpid()}", enabled=traced)
    layer = dict.fromkeys(PER_LAYER, 0)

    with PeakRss() as rss:
        with tracer.span("session"):
            t0 = time.perf_counter()
            spark = start_session()
            spark.range(1).count()  # the first job pays the JVM's class loading
            session_s = time.perf_counter() - t0
        try:
            run = Run(tracer, SparkCounters(spark), traced)
            gen_s = []
            for _ in range(GEN_REPEATS):
                with tracer.span("sources"):
                    t0 = time.perf_counter()
                    layer.update(workload.generate(spark, args.seed))
                    gen_s.append(time.perf_counter() - t0)
            with tracer.span("oracle"):
                workload.prepare_oracle()
            calls = workload.calls(run)

            with tracer.span("warmup"):
                t0 = time.perf_counter()
                run.attempt("warmup", workload.warmup)
                warmup_s = time.perf_counter() - t0
            setup_s = session_s + statistics.median(gen_s) + warmup_s

            samples = {c.name: [] for c in calls}
            results = {c.name: [] for c in calls}
            layers = {c.name: [] for c in calls}
            deadline = time.perf_counter() + args.seconds
            while True:
                for c in calls:
                    got = run.call(c, layers[c.name])
                    if got is not None:
                        samples[c.name].append(got[:2])
                        results[c.name].append(got[2])
                if time.perf_counter() >= deadline:
                    break
            if traced:
                for c in calls:
                    layer.update(median_by_key(layers[c.name]))
                layer.update(workload.traced_extras(run))
        finally:
            stop_session(spark)
    env["loadavg_1m_end"] = os.getloadavg()[0]

    metrics = {}
    if all(samples.values()):
        metrics = {
            "call1_s": statistics.median(w for w, _ in samples[calls[0].name]),
            "call2_s": statistics.median(w for w, _ in samples[calls[1].name]),
            "peak_rss_mb": rss.peak / 2**20,
            "setup_s": setup_s,
        }
    report = {
        "workload": workload.name,
        "calls": [c.name for c in calls],
        "env": env,
        "setup_s": {"session_s": session_s, "gen_s": gen_s, "warmup_s": warmup_s, "total": setup_s},
        "failed_ops": run.failed / run.attempted,
        "peak_rss_mb": rss.peak / 2**20,
        "call_walls_s": {name: [w for w, _ in got] for name, got in samples.items()},
        **workload.report(samples, results),
    }
    if traced:
        OUT.mkdir(parents=True, exist_ok=True)
        spans_path = OUT / f"spans-{workload.name}-{args.seed}.jsonl"
        tracer.write(spans_path)
        layer["session.start_s"] = session_s
        layer["sources.gen_s"] = statistics.median(gen_s)
        for name, s in self_times(tracer.spans).items():
            if f"self_s.{name}" in layer:
                layer[f"self_s.{name}"] = s
        layer["trace.overhead_s"] = run.overhead_s
        report["spans"] = str(spans_path.relative_to(ROOT))
        report["end_to_end_traced"] = metrics
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": run.failed == 0 and bool(metrics),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

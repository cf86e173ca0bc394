"""The benchmark workloads.

Each workload generates its inputs from the seed, computes the reference
answers once (outside every timed region) and offers two timed calls into
the engine's public functions.  Each ``Call`` carries the oracle check for
its output and, for the traced run, the per-layer numbers read off the
values the call returned.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators import (
    betweenness_bsp,
    betweenness_csr,
    connected_components,
    densify_vertices,
    derive_edges,
    pagerank,
)
from parallel_betweenness_centrality_using_bsp_spark.operators import betweenness as bc_module
from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import (
    random_power_law_graph,
    random_uniform_graph,
)
from parallel_betweenness_centrality_using_bsp_spark.sources.repo_files import (
    expected_import_edges,
    generate_repo_files,
)

from linkbench import oracles


@dataclass
class Call:
    """One timed public call.  ``run`` is timed; ``check``, ``work`` and
    ``layer`` run afterwards.  ``work(result)`` is the call's unit count for
    throughput.  ``layer(result, wall_s, counters, ctx)`` returns the traced
    run's per-layer values; ``counters`` are the call's Spark counters."""

    name: str
    run: Callable[[], Any]
    check: Callable[[Any], None]
    layer: Callable[[Any, float, dict, Any], dict]
    work: Callable[[Any], float] = lambda _result: 1.0


def _spark_layer(prefix: str, counters: dict) -> dict:
    return {f"{prefix}.spark.{k}": v for k, v in counters.items()}


def _superstep_layer(algo: str, run, wall_s: float, counters: dict) -> dict:
    walls = [m["wall_ms"] / 1000.0 for m in run.metrics]
    steps = max(run.supersteps, 1)
    return {
        f"superstep.{algo}.count": run.supersteps,
        f"superstep.{algo}.step_ms_p50": statistics.median(walls) * 1000.0 if walls else 0.0,
        # the call's counters spread over its supersteps, one-off prep included
        f"superstep.{algo}.jobs_per_step": counters["jobs"] / steps,
        f"superstep.{algo}.tasks_per_step": counters["tasks"] / steps,
        f"superstep.{algo}.shuffle_write_bytes_per_step": counters["shuffle_write_bytes"] / steps,
        f"{algo}.prep_s": wall_s - sum(walls),
        **_spark_layer(algo, counters),
    }


@dataclass
class Timed:
    """A result with its wall time, Spark job group and span."""

    result: Any
    wall_s: float
    group: str
    span: Any


def timed_step(ctx, name: str, fn) -> Timed:
    with ctx.counters.group(name) as gid, ctx.tracer.span(name) as span:
        t0 = time.perf_counter()
        result = fn()
        wall = time.perf_counter() - t0
    return Timed(result, wall, gid, span)


class IngestIterate:
    """Import-edge derivation from repo_files, then PageRank and connected
    components on a uniform random graph."""

    name = "ingest-iterate"
    N_REPOS = 800
    FILES_PER_REPO = 25
    IMPORTS_PER_FILE = 3
    N_VERTICES = 20_000
    N_EDGES = 200_000
    PAGERANK_STEPS = 5

    @property
    def n_files(self) -> int:
        return self.N_REPOS * self.FILES_PER_REPO

    def generate(self, spark, seed: int) -> dict:
        self.spark, self.seed = spark, seed
        self.rf = generate_repo_files(
            spark,
            n_repos=self.N_REPOS,
            files_per_repo=self.FILES_PER_REPO,
            imports_per_file=self.IMPORTS_PER_FILE,
            seed=seed,
        ).localCheckpoint(eager=True)
        self.edges = random_uniform_graph(spark, self.N_VERTICES, self.N_EDGES, seed=seed).localCheckpoint(
            eager=True
        )
        return {"sources.files": self.rf.count(), "sources.edges": self.edges.count()}

    def prepare_oracle(self) -> None:
        self.n_import_edges = len(
            expected_import_edges(self.N_REPOS, self.FILES_PER_REPO, self.IMPORTS_PER_FILE, self.seed)
        )
        pdf = self.edges.toPandas()
        src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
        self.pr_ref = oracles.pagerank_reference(src, dst, iterations=self.PAGERANK_STEPS)
        self.cc_ref = oracles.components_reference(src, dst)

    def _derive(self) -> tuple[int, int]:
        vertices, edges = derive_edges(self.rf)
        return edges.count(), vertices.count()

    def _pagerank(self, max_supersteps: int):
        return pagerank(self.spark, self.edges, tol=0.0, max_supersteps=max_supersteps, count_rows=False)

    def _components(self, max_supersteps: int = 100):
        return connected_components(self.spark, self.edges, max_supersteps=max_supersteps, count_rows=False)

    def warmup(self) -> None:
        # derive_edges runs densify_vertices inside it; one PageRank
        # superstep compiles the plan shapes every later superstep reuses,
        # and the components call that follows PageRank shares most of them
        self._derive()
        self._pagerank(1)

    def calls(self, ctx) -> list[Call]:
        def check_ingest(counts) -> None:
            oracles.check_counts("ingest edges", counts[0], self.n_import_edges)
            oracles.check_counts("ingest vertices", counts[1], self.n_files)

        def ingest_layer(counts, wall, c, _ctx) -> dict:
            return {
                "ingest.derive_s": wall,
                "ingest.edges": counts[0],
                "ingest.vertices": counts[1],
                "ingest.jobs": c["jobs"],
                "ingest.shuffle_write_bytes": c["shuffle_write_bytes"],
                "ingest.spill_bytes": c["spill_bytes"],
                **_spark_layer("ingest", c),
            }

        def run_iterate() -> tuple[Timed, Timed]:
            return (
                timed_step(ctx, "pagerank", lambda: self._pagerank(self.PAGERANK_STEPS)),
                timed_step(ctx, "cc", self._components),
            )

        def check_iterate(steps) -> None:
            pr, cc = (t.result for t in steps)
            pdf = pr.state.select("vertex", "pr").toPandas()
            oracles.check_pagerank(pdf["vertex"].to_numpy(), pdf["pr"].to_numpy(), self.pr_ref)
            pdf = cc.state.select("vertex", "label").toPandas()
            oracles.check_components(pdf["vertex"].to_numpy(), pdf["label"].to_numpy(), self.cc_ref)

        def iterate_layer(steps, _wall, _c, ctx) -> dict:
            values = {}
            for algo, t in zip(("pagerank", "cc"), steps):
                values.update(_superstep_layer(algo, t.result, t.wall_s, ctx.read_counters(t.group)))
                walls = [m["wall_ms"] / 1000.0 for m in t.result.metrics]
                ctx.tracer.children_from_walls(t.span, "superstep", walls)
            return values

        return [
            Call("ingest", self._derive, check_ingest, ingest_layer, work=lambda _counts: self.n_files),
            Call("iterate", run_iterate, check_iterate, iterate_layer),
        ]

    def report(self, samples: dict, results: dict) -> dict:
        return {
            "ingest_files_per_s": rate(samples["ingest"], "1/s"),
            "pagerank_s": summary(sorted(t[0].wall_s for t in results["iterate"]), "s"),
            "cc_s": summary(sorted(t[1].wall_s for t in results["iterate"]), "s"),
        }

    def traced_extras(self, ctx) -> dict:
        """densify_vertices plus a count, timed alone on the same input."""
        t = timed_step(ctx, "densify", lambda: densify_vertices(self.rf, ["repo", "path"]).count())
        ctx.attempt("densify", lambda: oracles.check_counts("densify rows", t.result, self.n_files))
        return {"ingest.densify_s": t.wall_s, **_spark_layer("densify", ctx.read_counters(t.group))}


class BrandesPowerLaw:
    """CSR and BSP Brandes betweenness on a power-law graph (hub = vertex 0)."""

    name = "brandes-powerlaw"
    N_VERTICES = 10_000
    N_EDGES = 100_000
    GAMMA = 2.5
    CSR_SOURCES = list(range(64))
    BSP_SOURCES = [1, 2, 3, 4]
    KERNEL_SOURCES = 8  # sources timed one by one through the in-process kernel

    def generate(self, spark, seed: int) -> dict:
        self.spark = spark
        self.edges = random_power_law_graph(
            spark, self.N_VERTICES, self.N_EDGES, seed=seed, gamma=self.GAMMA
        ).localCheckpoint(eager=True)
        return {"sources.edges": self.edges.count()}

    def prepare_oracle(self) -> None:
        pdf = self.edges.toPandas()
        src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
        self.n = int(max(src.max(), dst.max())) + 1
        self.indptr, self.indices = oracles.undirected_csr(src, dst, self.n)
        self.dep_totals = {
            s: oracles.dependency_total(self.indptr, self.indices, s) for s in self.CSR_SOURCES
        }
        # undirected scores are halved (each pair counted from both ends)
        self.csr_total = 0.5 * sum(self.dep_totals.values())
        self.bsp_ref = oracles.betweenness_subset_reference(src, dst, self.BSP_SOURCES)

    def _csr(self, sources):
        return betweenness_csr(self.spark, self.edges, sources=sources)

    def warmup(self) -> None:
        # starts the Python workers and their imports; BSP is JVM-only
        self._csr(self.CSR_SOURCES[:4])

    def calls(self, ctx) -> list[Call]:
        arcs = len(self.indices)

        def run_bsp():
            res = betweenness_bsp(
                self.spark, self.edges, sources=self.BSP_SOURCES, batch_size=len(self.BSP_SOURCES)
            )
            res.bc.count()
            return res

        def check_csr(res) -> None:
            oracles.check_counts("csr edges traversed", res.edges_traversed, len(self.CSR_SOURCES) * arcs)
            total = res.bc.agg(F.sum("bc")).first()[0]
            oracles.check_dependency_total(total, self.csr_total, "csr")

        def check_bsp(res) -> None:
            pdf = res.bc.toPandas()
            oracles.check_betweenness(pdf["vertex"].to_numpy(), pdf["bc"].to_numpy(), self.bsp_ref)

        def csr_layer(res, _wall, c, _ctx) -> dict:
            return {
                "csr.edges_traversed": res.edges_traversed,
                "csr.bytes_per_worker": (self.n + 1 + arcs) * 8,
                **_spark_layer("csr", c),
            }

        def bsp_layer(res, wall, c, _ctx) -> dict:
            return {
                "bsp.supersteps": res.supersteps,
                "bsp.edges_traversed": res.edges_traversed,
                "bsp.jobs": c["jobs"],
                "bsp.stages": c["stages"],
                "bsp.tasks": c["tasks"],
                "bsp.s_per_superstep": wall / max(res.supersteps, 1),
                "bsp.shuffle_write_bytes": c["shuffle_write_bytes"],
                "bsp.task_busy_s": c["run_ms"] / 1000.0,
                **_spark_layer("bsp", c),
            }

        def traversed(res) -> float:
            return res.edges_traversed

        return [
            Call("csr", lambda: self._csr(self.CSR_SOURCES), check_csr, csr_layer, work=traversed),
            Call("bsp", run_bsp, check_bsp, bsp_layer, work=traversed),
        ]

    def report(self, samples: dict, _results: dict) -> dict:
        return {
            "bc_csr_edges_per_s": rate(samples["csr"], "1/s"),
            "bc_bsp_edges_per_s": rate(samples["bsp"], "1/s"),
        }

    def traced_extras(self, ctx) -> dict:
        """CSR sub-steps timed alone, and the numpy kernel without Spark."""
        with ctx.tracer.span("csr.prepare"):
            t0 = time.perf_counter()
            art, _ = bc_module.prepare_csr(self.spark, self.edges)
            prepare_s = time.perf_counter() - t0
        try:
            # the first sweep builds each worker's cached CSR; time the second
            bc_module.betweenness_csr_sweep(self.spark, art, self.CSR_SOURCES)
            sweep = timed_step(
                ctx, "csr.sweep", lambda: bc_module.betweenness_csr_sweep(self.spark, art, self.CSR_SOURCES)
            )
        finally:
            art.cleanup()
        busy_s = ctx.read_counters(sweep.group)["run_ms"] / 1000.0

        # the module's own kernel on build_csr_arrays output, in this process
        arc_src = np.repeat(np.arange(self.n, dtype=np.int64), np.diff(self.indptr))
        indptr, indices = bc_module.build_csr_arrays(arc_src, self.indices.copy(), self.n)
        per_source = []
        with ctx.tracer.span("csr.kernel"):
            for s in self.CSR_SOURCES[: self.KERNEL_SOURCES]:
                t0 = time.perf_counter()
                delta = bc_module._brandes_numpy(indptr, indices, self.n, np.array([s], dtype=np.int64))
                per_source.append(time.perf_counter() - t0)
                ctx.attempt(
                    f"kernel source {s}",
                    lambda: oracles.check_dependency_total(float(delta.sum()), self.dep_totals[s], "kernel"),
                )
        kernel_ms = statistics.median(per_source) * 1000.0
        kernel_total_s = kernel_ms / 1000.0 * len(self.CSR_SOURCES)
        return {
            "csr.prepare_s": prepare_s,
            "csr.sweep_s": sweep.wall_s,
            "csr.kernel_ms_per_source": kernel_ms,
            "csr.task_busy_s": busy_s,
            "csr.spark_share": 1.0 - kernel_total_s / busy_s if busy_s else 0.0,
        }


WORKLOADS = {w.name: w for w in (IngestIterate, BrandesPowerLaw)}


def rate(samples: list[tuple[float, float]], unit: str) -> dict:
    """Work-per-second summary of (wall, work) samples, slowest last."""
    return summary(sorted((work / wall for wall, work in samples), reverse=True), unit)


def summary(values: list[float], unit: str) -> dict:
    """Median, sample count, and the highest percentile that has at least
    ten samples beyond it (``values`` ordered best first)."""
    n = len(values)
    out: dict = {"median": statistics.median(values) if values else None, "n": n, "unit": unit}
    if n > 10:
        pct = int(100 * (n - 10) / n)
        out[f"p{pct}"] = values[min(n - 1, int(np.ceil(pct / 100 * n)) - 1)]
    return out

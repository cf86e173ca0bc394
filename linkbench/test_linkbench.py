"""Unit tests for the benchmark's own arithmetic: span self times, Spark
counter aggregation, timing summaries, the oracles on the golden graphs,
and agreement between BENCHMARK.json and the metrics the runner prints.

    python3 -m pytest linkbench -q -p no:cacheprovider
"""

import json
from pathlib import Path

import networkx as nx
import numpy as np
import pytest
from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python

from linkbench import oracles
from linkbench.sparkstats import COUNTERS, summarize
from linkbench.tracing import Span, Tracer, covered, self_times
from parallel_betweenness_centrality_using_bsp_spark.sources import graphs

GOLDEN = {
    "path": graphs.path_graph_edges(5),
    "cycle": graphs.cycle_graph_edges(6),
    "star": graphs.star_graph_edges(7),
    "complete": graphs.complete_graph_edges(5),
    "two_triangles": graphs.two_triangles_edges(),
}


def arrays(edges):
    e = np.array(edges, dtype=np.int64)
    return e[:, 0], e[:, 1]


# --- spans -----------------------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == pytest.approx(6)
    assert covered([], 0, 10) == 0
    assert covered([(-5, -1), (11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_only_from_their_parent():
    spans = [
        Span(0, "call", 0.0, 10.0, None, "r"),
        Span(1, "superstep", 1.0, 3.0, 0, "r"),
        Span(2, "superstep", 2.0, 5.0, 0, "r"),
        Span(3, "inner", 2.0, 2.5, 1, "r"),
        Span(4, "call", 20.0, 21.0, None, "r"),
    ]
    st = self_times(spans)
    assert st["call"] == pytest.approx(10 - 4 + 1)
    assert st["superstep"] == pytest.approx(2 - 0.5 + 3)
    assert st["inner"] == pytest.approx(0.5)


def test_synthesized_superstep_spans_end_with_their_call():
    tracer = Tracer("r", enabled=True)
    with tracer.span("pagerank") as call:
        pass
    call.start, call.end = 100.0, 110.0
    tracer.children_from_walls(call, "superstep", [1.0, 2.0, 3.0])
    steps = [s for s in tracer.spans if s.name == "superstep"]
    assert [(s.start, s.end) for s in steps] == [(104.0, 105.0), (105.0, 107.0), (107.0, 110.0)]
    assert all(s.parent == call.id for s in steps)
    assert self_times(tracer.spans)["pagerank"] == pytest.approx(4.0)


def test_disabled_tracer_records_nothing():
    tracer = Tracer("r", enabled=False)
    with tracer.span("x") as span:
        assert span is None
    tracer.children_from_walls(None, "superstep", [1.0])
    assert tracer.spans == []


# --- Spark counters --------------------------------------------------------

def stage(sid, read=0, write=0, mem=0, disk=0, gc=0, run=0):
    return {"stage_id": sid, "shuffle_read_bytes": read, "shuffle_write_bytes": write,
            "memory_spilled": mem, "disk_spilled": disk, "gc_ms": gc, "run_ms": run}


def test_counters_skip_unrun_stages_and_sum_every_attempt():
    jobs = {0: [0, 1], 1: [2, 3]}
    # stage 2 was skipped (its shuffle output reused); stage 3 retried once
    stages = {0: (4, 0), 1: (1, 0), 2: (0, 0), 3: (4, 1)}
    data = [
        stage(0, write=100, run=40, gc=3),
        stage(1, read=100, run=10),
        stage(2, read=999, run=999),
        stage(3, read=50, write=60, mem=7, disk=8, run=20, gc=1),
        stage(3, read=50, run=5),  # the failed attempt
        stage(9, write=12345),  # another group's stage
    ]
    out = summarize(jobs, stages, data)
    assert set(out) == set(COUNTERS)
    assert out == {
        "jobs": 2, "stages": 3, "tasks": 9, "failed_tasks": 1,
        "shuffle_read_bytes": 200, "shuffle_write_bytes": 160, "spill_bytes": 15,
        "gc_ms": 4, "run_ms": 75,
    }


def test_counters_of_an_empty_group_are_zero():
    assert summarize({}, {}, [stage(0, write=1)]) == dict.fromkeys(COUNTERS, 0)


# --- timing summaries ------------------------------------------------------

def test_summary_reports_percentile_only_with_ten_samples_beyond():
    from linkbench.workloads import rate, summary

    assert summary([3.0, 1.0, 2.0], "s") == {"median": 2.0, "n": 3, "unit": "s"}
    s = summary([float(i) for i in range(20)], "s")
    assert s["p50"] == 9.0  # ten samples (10..19) lie beyond it
    assert summary([float(i) for i in range(11)], "s")["p9"] == 0.0
    assert rate([(2.0, 10.0), (1.0, 10.0), (4.0, 10.0)], "1/s")["median"] == 5.0


# --- oracles on the golden graphs ------------------------------------------

@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_pagerank_reference_matches_networkx(name):
    src, dst = arrays(GOLDEN[name])
    verts, pr = oracles.pagerank_reference(src, dst, iterations=200)
    g = nx.DiGraph()
    g.add_edges_from(GOLDEN[name])
    # networkx's pure-Python power iteration (nx.pagerank itself needs scipy)
    want = _pagerank_python(g, alpha=0.85, tol=1e-14, max_iter=1000)
    np.testing.assert_allclose(pr, [want[int(v)] for v in verts], rtol=1e-9)
    oracles.check_pagerank(verts[::-1], pr[::-1], (verts, pr))
    with pytest.raises(oracles.OracleMismatch):
        oracles.check_pagerank(verts, pr * 1.001, (verts, pr))


def test_pagerank_reference_after_one_step_on_a_star():
    # hub 0 points at 7 leaves; leaves are dangling
    src, dst = arrays(GOLDEN["star"])
    verts, pr = oracles.pagerank_reference(src, dst, iterations=1)
    n = 8
    hub = 0.15 / n + 0.85 * (7 / n) / n
    leaf = 0.15 / n + 0.85 * ((1 / n) / 7 + (7 / n) / n)
    np.testing.assert_allclose(pr, [hub] + [leaf] * 7, rtol=1e-12)
    assert pr.sum() == pytest.approx(1.0)


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_components_reference_matches_networkx(name):
    src, dst = arrays(GOLDEN[name])
    verts, labels = oracles.components_reference(src, dst)
    g = nx.Graph()
    g.add_edges_from(GOLDEN[name])
    want = {v: min(c) for c in nx.connected_components(g) for v in c}
    assert labels.tolist() == [want[int(v)] for v in verts]


def test_component_check_accepts_renamed_labels_and_rejects_merges():
    src, dst = arrays(GOLDEN["two_triangles"])
    ref = oracles.components_reference(src, dst)
    v = np.array([5, 4, 3, 2, 1, 0])
    oracles.check_components(v, np.array([70, 70, 70, 9, 9, 9]), ref)
    with pytest.raises(oracles.OracleMismatch):
        oracles.check_components(v, np.zeros(6), ref)


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_dependency_identity_matches_networkx_betweenness(name):
    src, dst = arrays(GOLDEN[name])
    n = int(max(src.max(), dst.max())) + 1
    indptr, indices = oracles.undirected_csr(src, dst, n)
    total = 0.5 * sum(oracles.dependency_total(indptr, indices, s) for s in range(n))
    g = nx.Graph()
    g.add_edges_from(GOLDEN[name])
    bc = nx.betweenness_centrality(g, normalized=False)
    oracles.check_dependency_total(sum(bc.values()), total, name)


def test_bfs_distances_on_path_and_disconnected_graph():
    src, dst = arrays(GOLDEN["path"])
    indptr, indices = oracles.undirected_csr(src, dst, 5)
    assert oracles.bfs_distances(indptr, indices, 2).tolist() == [2, 1, 0, 1, 2]
    src, dst = arrays(GOLDEN["two_triangles"])
    indptr, indices = oracles.undirected_csr(src, dst, 6)
    assert oracles.bfs_distances(indptr, indices, 0).tolist() == [0, 1, 1, -1, -1, -1]


def test_betweenness_subset_reference_on_a_star():
    src, dst = arrays(GOLDEN["star"])
    ref = oracles.betweenness_subset_reference(src, dst, [1, 2])
    # each source's 6 other leaves route through the hub: 2·6, halved
    assert ref[0] == pytest.approx(6.0)
    verts = np.arange(8)
    oracles.check_betweenness(verts, np.array([ref[v] for v in range(8)]), ref)
    with pytest.raises(oracles.OracleMismatch):
        oracles.check_betweenness(verts, np.zeros(8), ref)


def test_count_check():
    oracles.check_counts("x", 3, 3)
    with pytest.raises(oracles.OracleMismatch):
        oracles.check_counts("x", 3, 4)


# --- BENCHMARK.json agrees with the runner ---------------------------------

def test_benchmark_json_matches_runner_metrics():
    from linkbench import run
    from linkbench.workloads import WORKLOADS

    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])

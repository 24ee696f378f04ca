"""Connected components: chains, stars, isolated vertices, convergence,
the driver-side union-find oracle, stats and the Spark jobs a call runs."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from arhivum_spark.config import DedupConfig
from arhivum_spark.operators.connected_components import (
    ConvergenceError,
    connected_components,
)
from tests.conftest import get_shared_spark, run_counting_jobs


def _frames(spark, vertex_ids, edge_list):
    v = spark.createDataFrame([(i,) for i in vertex_ids], "id long")
    e = spark.createDataFrame(edge_list, "src long, dst long")
    return v, e


def _cc(spark, n_vertices, edge_list, **kw):
    v, e = _frames(spark, n_vertices, edge_list)
    out = connected_components(v, e, **kw).collect()
    return {r["id"]: r["component"] for r in out}


def _union_find(vertex_ids, edge_list):
    """Driver-side oracle: vertex id -> min id of its component, over
    every edge (endpoints outside vertex_ids included)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in vertex_ids}


def test_long_chain_converges(spark):
    """A 24-node path graph needs multiple min-label iterations — the
    worst-case diameter shape for label propagation."""
    chain = list(range(24))
    got = _cc(spark, chain, [(i, i + 1) for i in range(23)])
    assert set(got.values()) == {0}


def test_disjoint_stars_and_isolates(spark):
    edges = [(0, i) for i in range(1, 5)] + [(10, i) for i in range(11, 15)]
    got = _cc(spark, list(range(20)), edges)
    assert {got[i] for i in range(5)} == {0}
    assert {got[i] for i in range(10, 15)} == {10}
    for iso in range(5, 10):
        assert got[iso] == iso  # isolated vertices keep their own id


def test_no_edges(spark):
    got = _cc(spark, [3, 7, 9], [])
    assert got == {3: 3, 7: 7, 9: 9}


def test_merging_two_stars_via_bridge(spark):
    edges = [(0, 1), (0, 2), (5, 6), (5, 7), (2, 7)]
    got = _cc(spark, list(range(8)), edges)
    assert {got[i] for i in (0, 1, 2, 5, 6, 7)} == {0}


def test_cc_long_chain_never_returns_partial_labels(spark):
    # pointer jumping roughly halves the label-path length per round, so
    # a diameter-d chain converges in ~log2(d) rounds; with max_iters=2 a
    # chain of 40 (diameter 39) cannot finish.
    n = 40
    edges = [(i, i + 1) for i in range(n - 1)]
    with pytest.raises(ConvergenceError):
        _cc(spark, range(n), edges, max_iters=2)
    assert set(_cc(spark, range(n), edges, max_iters=9).values()) == {0}


def test_cc_random_graph_matches_union_find(spark):
    random.seed(23)
    n = 300
    # random sparse graph: many components of varying shapes + isolates
    edges = [(random.randrange(n), random.randrange(n)) for _ in range(200)]
    assert _cc(spark, range(n), edges) == _union_find(range(n), edges)
    # a 200-long chain with consecutive ids, within the default budget
    chain = [(i, i + 1) for i in range(199)]
    assert set(_cc(spark, range(200), chain).values()) == {0}


@st.composite
def _graphs(draw):
    """(vertex ids, edge list): a random graph, chain, broom (a handle
    path ending in a star) or caterpillar (a spine path with legs), ids
    scrambled, plus duplicate and reversed edges, self-loops, vertices
    that no edge touches and edge endpoints outside the vertex set."""
    n = draw(st.integers(min_value=2, max_value=30))
    shape = draw(st.sampled_from(["random", "chain", "broom", "caterpillar"]))
    if shape == "random":
        node = st.integers(min_value=0, max_value=n - 1)
        edges = draw(st.lists(st.tuples(node, node), max_size=2 * n))
    elif shape == "chain":
        edges = [(i, i + 1) for i in range(n - 1)]
    elif shape == "broom":
        h = draw(st.integers(min_value=1, max_value=n - 1))
        edges = [(i, i + 1) for i in range(h)]
        edges += [(h, j) for j in range(h + 1, n)]
    else:
        s = draw(st.integers(min_value=1, max_value=n))
        edges = [(i, i + 1) for i in range(s - 1)]
        spine = st.integers(min_value=0, max_value=s - 1)
        edges += [(draw(spine), j) for j in range(s, n)]
    perm = draw(st.permutations(range(n)))
    edges = [(perm[a], perm[b]) for a, b in edges]
    if edges:
        again = draw(st.lists(st.sampled_from(edges), max_size=4))
        edges += again + [(b, a) for a, b in again]
    edges += [(x, x) for x in draw(st.lists(st.sampled_from(perm), max_size=3))]
    vertices = draw(st.sets(st.sampled_from(perm)))
    vertices |= {n + i for i in range(draw(st.integers(0, 3)))}
    return sorted(vertices), edges


@settings(max_examples=20, deadline=None)
@given(_graphs())
def test_cc_equals_union_find(graph):
    """connected_components against a classic driver-side union-find;
    the output is exactly one row per vertex (shared local session:
    hypothesis examples can't take pytest fixtures)."""
    vertex_ids, edges = graph
    v, e = _frames(get_shared_spark(), vertex_ids, edges)
    rows = connected_components(v, e).collect()
    assert sorted(r["id"] for r in rows) == vertex_ids
    got = {r["id"]: r["component"] for r in rows}
    assert got == _union_find(vertex_ids, edges)


def test_cc_stats_report_rounds(spark):
    """stats["rounds"] counts round 0 and the final round that changed
    nothing: 2 for a star, more for a deep chain, 1 with no edges."""
    star = [(0, i) for i in range(1, 10)]
    chain = [(i, i + 1) for i in range(39)]
    for vertex_ids, edges, rounds in (
        (range(10), star, 2), (range(40), chain, 6), ([3, 7], [], 1),
    ):
        stats: dict = {}
        v, e = _frames(spark, vertex_ids, edges)
        connected_components(v, e, stats=stats)
        assert stats == {"rounds": rounds}


def test_cc_two_rounds_run_only_checkpoint_and_emit_jobs(spark):
    """A 2-round call starts one job per round (its localCheckpoint, which
    also fills in the changed-label count and pins the symmetric edges)
    and the emit starts one more: no count() job, no eager edge pin. With
    adaptive execution and broadcast joins off, one action is one job."""
    v, e = _frames(spark, range(12), [(0, i) for i in range(1, 10)])
    v, e = v.localCheckpoint(), e.localCheckpoint()
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prior = {k: spark.conf.get(k) for k in confs}
    stats: dict = {}
    try:
        for k, value in confs.items():
            spark.conf.set(k, value)
        out, cc_jobs = run_counting_jobs(
            spark, lambda: connected_components(v, e, stats=stats)
        )
        rows, emit_jobs = run_counting_jobs(spark, out.collect)
    finally:
        for k, value in prior.items():
            spark.conf.set(k, value)
    assert stats["rounds"] == 2
    assert cc_jobs == 2
    assert emit_jobs == 1
    assert {r["id"]: r["component"] for r in rows} == {
        i: 0 if i < 10 else i for i in range(12)
    }


def test_config_rejects_cc_max_iters_below_one():
    # caught when the config is built, not in s4 after s1..s3b committed
    with pytest.raises(ValueError, match="cc_max_iters"):
        DedupConfig(cc_max_iters=0)
    assert DedupConfig(cc_max_iters=1).cc_max_iters == 1

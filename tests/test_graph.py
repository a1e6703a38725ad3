"""PageRank properties: mass conservation, positivity, determinism.

The oracle-parity test pins exact values; these pin the INVARIANTS that
make the values meaningful — a damped walk on a dangling-free graph
conserves total rank mass, every node keeps positive rank, and repeated
runs agree bit-for-bit (pure relational plan, no sampling)."""

from __future__ import annotations

import pytest

from spark_text_clustering_spark.operators.graph import graph_pagerank

from .conftest import SF_SMALL


def test_pagerank_mass_and_positivity(spark):
    rows = graph_pagerank(spark, SF_SMALL).collect()
    assert len(rows) > 100
    # scaled ranks have mean exactly 1 -> sum == node count (mass
    # conservation: both edge directions exist, so nothing dangles)
    total = sum(r["pr_scaled"] for r in rows)
    assert total == pytest.approx(len(rows), rel=1e-4)
    assert all(r["pr_scaled"] > 0 for r in rows)


def test_pagerank_deterministic(spark):
    a = sorted(tuple(r) for r in graph_pagerank(spark, SF_SMALL).collect())
    b = sorted(tuple(r) for r in graph_pagerank(spark, SF_SMALL).collect())
    assert a == b


def test_label_propagation_invariants(spark):
    """Exact values are pinned by the oracle; these pin the structure:
    every node gets exactly one community, every community label is a
    real node id, and the map is deterministic across runs."""
    from spark_text_clustering_spark.operators.graph import (
        graph_label_propagation,
        graph_pagerank,
    )

    rows = graph_label_propagation(spark, SF_SMALL).collect()
    nodes = {r["node_id"] for r in rows}
    assert len(rows) == len(nodes)  # one label per node
    labels = {r["community"] for r in rows}
    assert labels <= nodes  # labels are node ids
    assert 1 <= len(labels) < len(nodes)  # propagation actually merged
    # same node universe as the PageRank key (shared edge builder)
    pr_nodes = {r["node_id"] for r in graph_pagerank(spark, SF_SMALL).collect()}
    assert nodes == pr_nodes
    again = {
        r["node_id"]: r["community"]
        for r in graph_label_propagation(spark, SF_SMALL).collect()
    }
    assert again == {r["node_id"]: r["community"] for r in rows}


def test_personalized_pagerank_mass_and_seed_locality(spark):
    """PPR teleports to seeds only: mass still conserves (no dangling
    node — both edge directions exist), so scaled ranks sum to the
    seed count; and seeds must hold more average mass than non-seeds
    (teleport locality — the property that makes PPR a similarity)."""
    from spark_text_clustering_spark.operators.graph import (
        _PPR_SEED_MOD,
        graph_pagerank_personalized,
    )

    rows = graph_pagerank_personalized(spark, SF_SMALL).collect()
    assert len(rows) > 100
    seeds = [r for r in rows if r["node_id"] % _PPR_SEED_MOD == 0]
    others = [r for r in rows if r["node_id"] % _PPR_SEED_MOD != 0]
    assert seeds and others
    total = sum(r["ppr_scaled"] for r in rows)
    assert total == pytest.approx(len(seeds), rel=1e-3)
    assert all(r["ppr_scaled"] >= 0 for r in rows)
    mean_seed = sum(r["ppr_scaled"] for r in seeds) / len(seeds)
    mean_other = sum(r["ppr_scaled"] for r in others) / len(others)
    # measured ratio at sf0.001 is ~4.4x; 3x leaves noise margin while
    # still failing if teleport locality were lost (ratio would be ~1)
    assert mean_seed > 3 * mean_other


def test_triangle_count_invariants(spark):
    """Each triangle contributes exactly one count to each of its three
    corners, so the per-node counts sum to 3x the triangle total; and
    every reported node genuinely participates (count > 0)."""
    from spark_text_clustering_spark.operators.graph import graph_triangle_count

    rows = graph_triangle_count(spark, SF_SMALL).collect()
    assert len(rows) > 50
    assert all(r["triangles"] > 0 for r in rows)
    assert sum(r["triangles"] for r in rows) % 3 == 0


def test_kcore_matches_pure_python_peel(spark):
    """Golden twin: replay the 3 peeling rounds in pure Python over the
    collected sf0.001 edge list (700-ish edges) and require the exact
    same survivor->degree map — a full-value gate independent of the
    SQL oracle's own unroll."""
    from collections import Counter

    from spark_text_clustering_spark.operators.graph import (
        _KCORE_K,
        _KCORE_PEELS,
        _copurchase_edges,
        graph_kcore_peel,
    )

    edges = [
        (r["src"], r["dst"])
        for r in _copurchase_edges(spark, SF_SMALL).collect()
    ]
    for _ in range(_KCORE_PEELS):
        deg = Counter(s for s, _ in edges)
        keep = {n for n, d in deg.items() if d >= _KCORE_K}
        edges = [(s, d) for s, d in edges if s in keep and d in keep]
    want = dict(Counter(s for s, _ in edges))
    got = {
        r["node_id"]: r["degree"] for r in graph_kcore_peel(spark, SF_SMALL).collect()
    }
    assert got == want
    assert got  # non-degenerate: the sf0.001 cascade leaves a 2-node core


def test_clustering_coeff_consistent_with_triangle_key(spark):
    """cc(v) * d(v) * (d(v)-1) / 2 must reproduce the triangle key's
    per-node counts exactly (shared blocked graph), cc must sit in
    [0, 1], and every triangle-bearing node must be cc-eligible."""
    from spark_text_clustering_spark.operators.graph import (
        graph_clustering_coefficient,
        graph_triangle_count,
    )

    cc = {
        r["part_id"]: (r["degree"], r["clustering_coeff"])
        for r in graph_clustering_coefficient(spark, SF_SMALL).collect()
    }
    tri = {
        r["part_id"]: r["triangles"]
        for r in graph_triangle_count(spark, SF_SMALL).collect()
    }
    assert set(tri) <= set(cc)  # a triangle needs degree >= 2
    for pid, (d, c) in cc.items():
        assert 0.0 <= c <= 1.0
        implied = c * d * (d - 1) / 2
        assert implied == pytest.approx(tri.get(pid, 0), abs=2e-3), pid


def test_link_prediction_scores_only_new_links(spark):
    """Predicted pairs must be non-adjacent in the blocked graph,
    ordered a<b, share >= 2 neighbors, and carry a Jaccard in (0, 1]."""
    from spark_text_clustering_spark.operators.graph import (
        _brand_edges,
        graph_link_prediction_jaccard,
    )

    edges = {
        (r["a"], r["b"]) for r in _brand_edges(spark, SF_SMALL).collect()
    }
    rows = graph_link_prediction_jaccard(spark, SF_SMALL).collect()
    assert len(rows) > 50
    for r in rows:
        assert r["part_a"] < r["part_b"]
        assert (r["part_a"], r["part_b"]) not in edges
        assert r["common_cnt"] >= 2
        assert 0 < r["jaccard"] <= 1


def test_connected_components_match_union_find(spark):
    """Hash-min CC must equal a pure-Python union-find over the same
    brand-blocked edge list — every node labeled with the smallest id
    in its component, components never spanning brands."""
    from spark_text_clustering_spark.operators.graph import (
        _brand_edges,
        graph_connected_components,
    )

    pairs = [
        (r["a"], r["b"]) for r in _brand_edges(spark, SF_SMALL).collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    got = {
        r["part_id"]: r["component"]
        for r in graph_connected_components(spark, SF_SMALL).collect()
    }
    assert got == want
    # non-degenerate instance: brand blocking yields many components
    assert len(set(want.values())) > 10


def test_hash_min_cc_handcrafted_chain_and_isolate(spark):
    """A 5-chain, a 3-cycle and a self-loop isolate: labels are the
    component minima, and the chain exercises multi-round propagation
    (diameter 4 > 1 round)."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.graph import _hash_min_cc

    e = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (12, 10), (99, 99)]
    df = spark.createDataFrame(e, "u long, v long")
    und = df.unionAll(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
    got = {r["id"]: r["comp"] for r in _hash_min_cc(und).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_hash_min_cc_stride_invariant(spark):
    """Round-14 stride fusion: labels must be identical at every probe
    stride — the monotone-decrease argument in the docstring — on a
    chain long enough (diameter 9) that stride>1 probes genuinely skip
    intermediate states, including an odd length so stride 2 overshoots
    convergence by a no-op hop."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.graph import _hash_min_cc

    e = [(i, i + 1) for i in range(9)] + [(50, 51)]
    df = spark.createDataFrame(e, "u long, v long")
    und = df.unionAll(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
    want = {i: 0 for i in range(10)} | {50: 50, 51: 50}
    for stride in (1, 2, 3):
        got = {r["id"]: r["comp"] for r in _hash_min_cc(und, stride=stride).collect()}
        assert got == want, f"stride={stride}"


def test_hash_min_cc_stride_keeps_max_rounds_diameter(spark):
    """ADVICE r14: strides run in FULL (even past max_rounds) and the
    probe compares the stride's LAST hop only, so any graph stride 1
    supports converges at every stride. The 9-chain's labels last change
    at hop 9 and hop 10 confirms the fixpoint — max_rounds=10 is exactly
    enough at stride 1; stride 2's probe after hops {9,10} sees the
    identity hop 10, and stride 3 runs one full extra stride past the
    budget ({10,11,12}) instead of raising."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.graph import _hash_min_cc

    e = [(i, i + 1) for i in range(9)]
    df = spark.createDataFrame(e, "u long, v long")
    und = df.unionAll(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
    want = {i: 0 for i in range(10)}
    for stride in (1, 2, 3):
        got = {
            r["id"]: r["comp"]
            for r in _hash_min_cc(und, max_rounds=10, stride=stride).collect()
        }
        assert got == want, f"stride={stride}"

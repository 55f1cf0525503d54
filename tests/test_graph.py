"""RNG graph build tests — block all-pairs + RNG prune rule.

Mirrors the reference's graph invariants: bounded degree (NeighborhoodSize),
the RNG acceptance rule (`RelativeNeighborhoodGraph.h:18-35`), and edge
quality vs brute-force neighbors (the reference validates graphs by recall
of traversal; here we check the edges directly against exact top-k)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sptag_spark.index.graph import build_rng_graph, graph_stats

SF = "/root/testdata/sf0.001"
L = 8


@pytest.fixture(scope="module")
def graph(spark):
    from sptag_spark.tables import vectors_table

    v = vectors_table(spark, SF).cache()
    edges = build_rng_graph(v, L=L, block_ratio=0.1, replicas=4).cache()
    yield v, edges
    edges.unpersist()
    v.unpersist()


def test_degree_bounded(graph):
    _, edges = graph
    max_deg = (
        edges.groupBy("src").agg(F.count("*").alias("d")).agg(F.max("d")).first()[0]
    )
    assert max_deg <= L
    assert edges.filter(F.col("src") == F.col("dst")).count() == 0


def test_rng_rule_holds(graph):
    v, edges = graph
    vec = {r["id"]: np.array(r["vector"], dtype=np.float64) for r in v.collect()}
    by_src = {}
    for r in edges.collect():
        by_src.setdefault(r["src"], []).append((r["dist"], r["dst"]))
    for src, nbrs in list(by_src.items())[:50]:
        nbrs.sort()
        accepted = []
        for dist_j, j in nbrs:
            for i in accepted:
                d = vec[i] - vec[j]
                assert (d * d).sum() >= dist_j - 1e-9, (
                    f"edge {src}->{j} violates RNG rule vs accepted {i}"
                )
            accepted.append(j)


def test_edges_are_near_neighbors(graph):
    """Every kept edge must be among the source's true top-(4L) neighbors —
    blocks + replicas find near vectors, not random ones."""
    v, edges = graph
    rows = v.collect()
    ids = np.array([r["id"] for r in rows])
    X = np.array([list(r["vector"]) for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    id_to_row = {int(i): n for n, i in enumerate(ids)}
    ok = total = 0
    for r in edges.collect():
        s, d = id_to_row[r["src"]], id_to_row[r["dst"]]
        diff = X - X[s][None, :]
        dist = (diff * diff).sum(axis=1)
        dist[s] = np.inf
        rank = (dist < dist[d]).sum()
        total += 1
        ok += rank < 4 * L
    assert total > 0 and ok / total >= 0.95


def test_graph_stats_shape(spark, graph):
    _, edges = graph
    stats = {r["degree"]: r["n_nodes"] for r in graph_stats(edges).collect()}
    assert sum(stats.values()) > 0
    assert max(stats) <= L


@pytest.fixture(scope="module")
def walk_graph(spark, sf_dir):
    """(vectors, queries, edges) for the traversal tests."""
    from sptag_spark.tables import queries_table, vectors_table

    vectors = vectors_table(spark, sf_dir).cache()
    edges = build_rng_graph(vectors, L=8, replicas=4).cache()
    yield vectors, queries_table(spark, sf_dir), edges
    edges.unpersist()
    vectors.unpersist()


def _reference_walk(vec, adj, q, seeds, k, max_hops, beam):
    """Best-first walk in plain numpy, one query: per hop the `beam` best
    of the last hop's new nodes by (dist, id) expand their edges and the
    unvisited neighbours are scored; → the k best visited (dist, id)."""

    def dist(i):
        d = vec[i] - q
        return float((d * d).sum())

    visited = {int(i): dist(i) for i in seeds}
    front = list(visited)
    for _ in range(max_hops):
        best = sorted(front, key=lambda i: (visited[i], i))[:beam]
        new = {j for i in best for j in adj.get(i, ()) if j not in visited}
        if not new:
            break
        visited.update((j, dist(j)) for j in new)
        front = list(new)
    return sorted((d, i) for i, d in visited.items())[:k]


def test_graph_search_recall(walk_graph):
    """The graph must actually be searchable: best-first traversal over the
    RNG edges, seeded from a select_heads sample (no seeds, no heads
    given), reaches >=0.85 recall@10 vs exact."""
    from sptag_spark.index.graph import graph_search_broadcast
    from sptag_spark.operators.knn import knn
    from sptag_spark.operators.recall import recall_per_query, recall_summary

    vectors, queries, edges = walk_graph
    truth = knn(vectors, queries, k=10)
    got = graph_search_broadcast(
        vectors, edges, queries, k=10, max_hops=6, beam=16
    )
    summary = recall_summary(recall_per_query(got, truth, 10)).first()
    assert summary["avg_recall"] >= 0.85, summary
    assert summary["n_queries"] == queries.count()


def test_broadcast_walk_matches_reference_walk(walk_graph):
    """With explicit seeds, the broadcast walk returns exactly the rows of
    _reference_walk: same seeds, same (dist, id) expansion order, same
    float64 l2 values, same (dist, id) top-k."""
    from sptag_spark.index.graph import graph_search_broadcast
    from sptag_spark.index.heads import select_heads
    from sptag_spark.operators.knn import knn

    vectors, queries, edges = walk_graph
    entry = select_heads(vectors, ratio=0.05)
    seeds = knn(
        entry.select(F.col("head_id").alias("id"), "vector"), queries, k=8
    ).select("query_id", "id").cache()
    got = graph_search_broadcast(
        vectors, edges, queries, k=10, seeds=seeds, max_hops=4, beam=16
    )
    vec = {
        r["id"]: np.asarray(r["vector"], dtype=np.float64)
        for r in vectors.collect()
    }
    adj, seed_map = {}, {}
    for r in edges.collect():
        adj.setdefault(r["src"], []).append(r["dst"])
    for r in seeds.collect():
        seed_map.setdefault(r["query_id"], []).append(r["id"])
    want = []
    for r in queries.collect():
        q = np.asarray(r["vector"], dtype=np.float64)
        top = _reference_walk(
            vec, adj, q, seed_map[r["query_id"]], k=10, max_hops=4, beam=16
        )
        want += [(r["query_id"], n, i, d) for n, (d, i) in enumerate(top, 1)]
    assert sorted(map(tuple, got.collect())) == sorted(want)
    seeds.unpersist()


def test_broadcast_walk_head_seeding_recall(walk_graph):
    """Seeding from given heads (the serve shape the driver query uses)
    holds the same recall gate."""
    from sptag_spark.index.graph import graph_search_broadcast
    from sptag_spark.index.heads import select_heads
    from sptag_spark.operators.knn import knn
    from sptag_spark.operators.recall import recall_per_query, recall_summary

    vectors, queries, edges = walk_graph
    heads = select_heads(vectors, ratio=0.1)
    truth = knn(vectors, queries, k=10)
    got = graph_search_broadcast(
        vectors, edges, queries, k=10, heads=heads, max_hops=6, beam=16
    )
    summary = recall_summary(recall_per_query(got, truth, 10)).first()
    assert summary["avg_recall"] >= 0.85, summary
    assert summary["n_queries"] == queries.count()

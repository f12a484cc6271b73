"""The 100 TB approximate path (sketches) + connected-components unit."""

from __future__ import annotations

from pyspark.sql import functions as F

from smfg_datawarehouse_spark.operators.dedup import connected_components
from smfg_datawarehouse_spark.queries import load_events

SF_DIR = "/root/testdata/sf0.001"


def test_approx_count_distinct_within_tolerance(spark):
    """HLL sketch (one pass, mergeable, fixed memory) vs exact distinct —
    the scale path for q27-style cardinalities; rsd=0.02 bound, asserted
    loosely at 3x."""
    e = load_events(spark, SF_DIR)
    exact = e.agg(F.countDistinct("user_id").alias("d")).first()["d"]
    approx = e.agg(F.approx_count_distinct("user_id", rsd=0.02).alias("d")).first()["d"]
    assert abs(approx - exact) <= max(1, 0.06 * exact)


def test_approx_percentile_within_tolerance(spark):
    e = load_events(spark, SF_DIR)
    exact = e.agg(F.expr("percentile(value, 0.5)").alias("p")).first()["p"]
    approx = e.agg(F.percentile_approx("value", 0.5, 1000).alias("p")).first()["p"]
    spread = (
        e.agg((F.max("value") - F.min("value")).alias("s")).first()["s"] or 1.0
    )
    assert abs(approx - exact) <= 0.05 * spread


def test_connected_components_known_graph(spark):
    # two components {1,2,3,9} (chain) and {5,7}; singleton 100 not in edges
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 7)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_id"], r["group_id"])
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (9, 1), (5, 5), (7, 5)}


def test_cc_driver_and_iterative_tiers_agree(spark):
    """The union-find fast path (edges ≤ cap) and the distributed
    min-label path must produce identical (doc_id, group_id) labels."""
    import random

    from smfg_datawarehouse_spark.operators.dedup import connected_components

    rng = random.Random(7)
    pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    fast = sorted(
        map(tuple, connected_components(edges).collect())
    )
    dist = sorted(
        map(tuple, connected_components(edges, driver_edge_cap=-1).collect())
    )
    assert fast == dist and len(fast) > 0


def test_semantic_dedup_greedy_lowest_id_wins(spark):
    """Synthetic: vectors 0/1/2 near-identical (same cell, cos ≈ 1), 3
    orthogonal-ish. Greedy lowest-id-wins keeps 0, removes 1 and 2, keeps
    3 — and the centroid (vec 0's cell) assignment is deterministic."""
    from smfg_datawarehouse_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.1]),
        (1, [1.0, 0.01, 0.1]),
        (2, [0.99, 0.0, 0.11]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df.where("vec_id IN (0, 3)")
    out = {
        r["vec_id"]: (r["cid"], r["keep"])
        for r in semantic_dedup(df, cents).collect()
    }
    assert out[0] == (0, True)
    assert out[1] == (0, False)
    assert out[2] == (0, False)
    assert out[3] == (3, True)


def test_triangle_counts_known_graph(spark):
    # square 1-2-3-4 with one diagonal (2,3): exactly 2 triangles
    # (1,2,3) and (2,3,4); node degrees 2,3,3,2
    from smfg_datawarehouse_spark.operators.dedup import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (2, 4)], "doc_a long, doc_b long"
    )
    rows = {r["doc_id"]: r for r in triangle_counts(edges).collect()}
    assert {k: v["triangles"] for k, v in rows.items()} == {1: 1, 2: 2, 3: 2, 4: 1}
    assert rows[1]["degree"] == 2 and rows[2]["degree"] == 3
    # node 2: deg 3 -> 3 possible wedges, 2 closed
    assert abs(rows[2]["clustering"] - 2 * 2 / (3 * 2)) < 1e-15
    # node 1: deg 2 -> 1 possible wedge, closed
    assert rows[1]["clustering"] == 1.0


def test_triangle_counts_triangle_free(spark):
    # path graph: no triangles anywhere, coefficients all zero
    from smfg_datawarehouse_spark.operators.dedup import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    rows = triangle_counts(edges).collect()
    assert all(r["triangles"] == 0 for r in rows)
    assert all(r["clustering"] == 0.0 for r in rows)


def test_majority_round_tie_breaks_to_lowest_label(spark):
    # node 10 has two labeled neighbors with one vote each: label 1 wins
    # the tie over label 4; already-labeled nodes never re-vote
    from pyspark.sql import functions as F
    from smfg_datawarehouse_spark.operators.dedup import _majority_round

    sym_pairs = [(10, 1), (1, 10), (10, 2), (2, 10), (1, 2), (2, 1)]
    sym = spark.createDataFrame(sym_pairs, "src long, dst long")
    labeled = spark.createDataFrame(
        [(1, 4, 0), (2, 1, 0)], "id long, label long, assigned_round long"
    )
    out = _majority_round(sym, labeled, rnd=1).collect()
    assert len(out) == 1
    assert out[0]["id"] == 10 and out[0]["label"] == 1 and out[0]["assigned_round"] == 1

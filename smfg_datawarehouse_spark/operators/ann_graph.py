"""k-NN graph construction over an embedding column [X].

The batch artifact every embedding-driven curation step downstream of
ANN consumes (SemDeDup clustering, label propagation, graph dedup,
hard-negative mining all start from "each vector's k nearest
neighbors"): for EVERY vector, its top-k cosine neighbors — built the
IVF way (probe a bounded number of coarse cells, score only in-cell
candidates) so the pair space is Σ|cell|·nprobe, never N².

Everything is expression-level (zip_with/aggregate left-to-right folds,
array_min tie-breaks) — zero Python in the hot path, and the cell
assignment + probing + scoring replay exactly in the DuckDB oracle, so
the *approximate* graph is still a bit-exact certified artifact (same
discipline as x11's IVF top-k; reference scope: SURVEY.md §2.12
extension surface — the reference has no analytics engine to cite).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.functions.vectors import dot_product
from smfg_datawarehouse_spark.queries import register, t

KNN_K = 5
KNN_NPROBE = 2
_CENT_RULE = 29, 7  # centroid seed: vec_id % 29 == 7 (x11's deterministic rule)


def _fold_cosine(a: Column, b: Column) -> Column:
    """Left-to-right fold cosine of two array<double> columns — the exact
    arithmetic DuckDB's ``list_reduce`` replays (see similarity._DCOS)."""
    return dot_product(a, b) / (
        F.sqrt(dot_product(a, a)) * F.sqrt(dot_product(b, b))
    )


def knn_graph(emb: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rank) — IVF-celled ``KNN_K``-NN
    graph.

    One Arrow-batched corpus pass assigns every vector to its nearest
    coarse cell AND derives its ``KNN_NPROBE`` probe cells: the (bounded)
    centroid matrix is broadcast as numpy and each batch scores against
    it vectorized (``_lr_cosine``'s per-dimension left fold — the same
    certified kernel x10/x11 use, bit-identical to the SQL
    ``list_reduce`` replay). A literal-expression variant (the x57
    ``_km_assign`` idiom) works for O(10) centroids but generates a
    Catalyst expression tree proportional to centroids×dim — at ~200
    coarse cells compile time dominated the query, so assignment is
    numpy-side by design here. The only shuffle is the probe⋈cell
    equi-join keyed on cell id: candidate volume is Σ_cells
    |cell|·(probes into that cell), the IVF contract that holds at any
    corpus size. Ranking is one window partitioned by query_id.

    Determinism: folds are left-to-right; cell assignment sorts by
    (−cos, cid) (negation is an exact sign flip, ties → lowest centroid
    id); neighbor rank tie-breaks on neighbor_id — every branch replayed
    by the oracle's ROW_NUMBER.
    """
    import numpy as np
    import pandas as pd

    from smfg_datawarehouse_spark.operators.similarity import (
        _collect_matrix,
        _lr_cosine,
    )

    vecs = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    mod, rem = _CENT_RULE
    cids, cmat = _collect_matrix(
        vecs.where(F.col("vec_id") % mod == rem), "vec_id", "v"
    )  # bounded coarse-quantizer table; a config artifact at 100 TB
    bc = vecs.sparkSession.sparkContext.broadcast((cids, cmat))

    def assign(it):
        acids, acmat = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            vm = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            sims = _lr_cosine(vm, acmat)  # n×C, left-fold exact
            # self-norm emitted ONCE per vector (r10): the identical
            # dim-ordered fold + sqrt the per-pair scoring recomputed
            # TWICE per pair below — np.sqrt and the JVM's Math.sqrt are
            # both IEEE correctly-rounded, so the value is bit-equal
            vn_acc = np.zeros(len(vm))
            for i in range(vm.shape[1]):
                vn_acc = vn_acc + vm[:, i] * vm[:, i]
            rows = {
                "vec_id": pdf["vec_id"],
                "v": pdf["v"],
                "vn": np.sqrt(vn_acc),
            }
            picked = [
                acids[np.lexsort((acids, -sims[i]))[:KNN_NPROBE]].tolist()
                for i in range(len(pdf))
            ]
            rows["cell"] = [p[0] for p in picked]
            rows["probes"] = picked
            yield pd.DataFrame(rows)

    from smfg_datawarehouse_spark.session import ensure_min_parallelism

    base = ensure_min_parallelism(vecs).mapInPandas(
        assign,
        "vec_id long, v array<double>, vn double, cell long, probes array<long>",
    ).localCheckpoint()  # read twice below (probe side + member side)
    cand = base.select(
        "vec_id", "v", "vn", F.explode(F.col("probes")).alias("probe_cell")
    )
    members = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("vn").alias("nvn"),
        F.col("cell").alias("probe_cell"),
    )

    # r10 (guide §4.2, second iteration): the r9 form evaluated THREE
    # interpreted aggregate∘zip_with folds per candidate pair (dot +
    # both self-norms). A full numpy cogroup-per-cell rewrite was TRIED
    # and REVERTED — measured 0.75×/0.84× on x120/x145 in a same-window
    # A/B: the two extra exchanges + per-group Python overhead cost more
    # than the fold saved at this scale. Kept instead: the norms are
    # computed ONCE per vector inside the assignment kernel (bit-equal,
    # see above), so the broadcast join survives unchanged and only ONE
    # interpreted fold (the pair dot) remains per pair — a 3× cut of
    # the per-pair interpreted CPU with zero plan change.
    pairs = cand.join(members, "probe_cell").where(
        F.col("vec_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        F.col("vec_id").alias("query_id"),
        "neighbor_id",
        (dot_product(F.col("v"), F.col("nv")) / (F.col("vn") * F.col("nvn"))).alias(
            "cos_sim"
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= KNN_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


_DCOS = (
    "list_reduce(list_transform(list_zip({a}, {b}), s -> s[1] * s[2]), (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_transform({b}, x -> x * x), (x, y) -> x + y)))"
)


def _dcos(a: str, b: str) -> str:
    return _DCOS.format(a=a, b=b)


_KNN_GRAPH_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, v AS cv FROM vecs
             WHERE vec_id % {_CENT_RULE[0]} = {_CENT_RULE[1]}),
    cell_scores AS (
      SELECT t.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                ORDER BY {_dcos('t.v', 'c.cv')} DESC, c.cid) AS rn
      FROM vecs t CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, cid AS cell FROM cell_scores WHERE rn = 1),
    probe AS (SELECT vec_id, cid AS probe_cell FROM cell_scores
              WHERE rn <= {KNN_NPROBE}),
    scored AS (
      SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
             {_dcos('qv.v', 'nv.v')} AS cos_sim
      FROM probe p
      JOIN assign a ON a.cell = p.probe_cell AND a.vec_id <> p.vec_id
      JOIN vecs qv ON qv.vec_id = p.vec_id
      JOIN vecs nv ON nv.vec_id = a.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {KNN_K}
"""


@register("x120_knn_graph", _KNN_GRAPH_ORACLE)
def x120_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] IVF-celled k-NN graph over the embeddings table: every
    vector's top-5 cosine neighbors among the vectors sharing its 2
    probed coarse cells — the neighbor-graph build that feeds SemDeDup
    (x54), graph dedup (x06/x88), label spread (x115) and hard-negative
    mining (x64) at corpus scale without an N² pair space."""
    return knn_graph(t(spark, sf_dir, "embeddings"))


_X145_ORACLE = f"""
    WITH g AS ({_KNN_GRAPH_ORACLE})
    SELECT a.query_id AS vec_a, a.neighbor_id AS vec_b,
           a.cos_sim,
           a.rank AS rank_ab, b.rank AS rank_ba
    FROM g a
    JOIN g b ON b.query_id = a.neighbor_id
            AND b.neighbor_id = a.query_id
    WHERE a.query_id < a.neighbor_id
"""


@register("x145_mutual_nn_pairs", _X145_ORACLE)
def x145_mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] MUTUAL (reciprocal) NEAREST-NEIGHBOR PAIRS — edges of the
    x120 k-NN graph that survive in BOTH directions (a in b's top-5 AND
    b in a's top-5, emitted once with a < b). Reciprocity is the
    standard high-precision filter on top of any kNN artifact: bitext
    mining keeps mutual pairs (Artetxe & Schwenk margin prefilter),
    duplicate verification promotes mutual edges before transitive
    clustering (one-directional edges are hub artifacts — a generic
    vector is many things' neighbor but they are not its), and
    mutual-kNN graphs are the usual input to density clustering.

    Scale shape: builds on the certified x120 kernel (IVF-celled,
    Σ|cell|·nprobe pair space) and adds ONE self-equi-join of the
    k·N-row edge list keyed on the (neighbor, query) pair — edge-list
    sized, never corpus²."""
    g = knn_graph(t(spark, sf_dir, "embeddings")).localCheckpoint(
        eager=False
    )  # built once, consumed twice — don't replay the IVF pass per side
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(
            b,
            (F.col("b.query_id") == F.col("a.neighbor_id"))
            & (F.col("b.neighbor_id") == F.col("a.query_id")),
        )
        .where(F.col("a.query_id") < F.col("a.neighbor_id"))
        .select(
            F.col("a.query_id").alias("vec_a"),
            F.col("a.neighbor_id").alias("vec_b"),
            F.col("a.cos_sim").alias("cos_sim"),
            F.col("a.rank").alias("rank_ab"),
            F.col("b.rank").alias("rank_ba"),
        )
    )

"""Round-10 pins: ADVICE fixes + every r10 optimization that changed an
operator's internals gets a focused equivalence test here.

- The t() schema memo must serve DEFENSIVE COPIES: a caller mutating a
  returned DataFrame's schema (StructType.add mutates in place!) must
  never widen later memoized reads (the s26 'wave' poisoning).
- nullable_copy: schema caches (ManifestTable/VersionedTable) normalize
  to all-nullable so declared reads match what parquet inference
  returned, and the stored object is detached from the caller's.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from smfg_datawarehouse_spark.queries import t
from smfg_datawarehouse_spark.sources.manifest import ManifestTable, nullable_copy

SF = "/root/testdata/sf0.001"


def test_schema_memo_immune_to_caller_mutation(spark):
    d1 = t(spark, SF, "documents")
    ncols = len(d1.schema.fields)
    # the exact aliasing bug ADVICE flagged: StructType.add mutates the
    # caller-visible schema object in place
    d1.schema.add("phantom", "long")
    d2 = t(spark, SF, "documents")
    assert "phantom" not in d2.columns
    assert len(d2.schema.fields) == ncols
    # and the memoized read still matches a fresh inference read
    fresh = spark.read.parquet(f"{SF}/documents.parquet")
    assert [f.name for f in d2.schema.fields] == [
        f.name for f in fresh.schema.fields
    ]


def test_nullable_copy_relaxes_and_detaches():
    src = StructType(
        [
            StructField("a", LongType(), False),
            StructField(
                "b",
                StructType([StructField("c", LongType(), False)]),
                False,
            ),
            StructField("d", ArrayType(LongType(), containsNull=False), True),
        ]
    )
    cp = nullable_copy(src)
    assert all(f.nullable for f in cp.fields)
    assert cp["b"].dataType["c"].nullable
    assert cp["d"].dataType.containsNull
    # detached: mutating the copy never touches the source
    cp.add("extra", "long")
    assert "extra" not in src.fieldNames()
    # field metadata is user data, not a type node: it round-trips as is
    meta = {"nullable": False, "note": {"containsNull": False}}
    with_meta = StructType([StructField("m", LongType(), False, metadata=meta)])
    relaxed = nullable_copy(with_meta)
    assert relaxed["m"].nullable
    assert relaxed["m"].metadata == meta


def test_manifest_declared_read_matches_inference(spark, tmp_path):
    mt = ManifestTable(spark, str(tmp_path / "t"))
    # range() yields a NON-nullable id column; parquet inference on read
    # relaxes it — the cached-schema read must agree with inference
    df = spark.range(0, 10).withColumnRenamed("id", "k")
    assert not df.schema["k"].nullable
    mt.write(df)
    got = mt.read()
    assert got.schema["k"].nullable
    assert sorted(r.k for r in got.collect()) == list(range(10))


# ---------------------------------------------------------------------------
# r10 kernel promotions (guide §4.2): each numpy kernel must reproduce the
# Catalyst expression form BIT-exactly on real fixture data.
# ---------------------------------------------------------------------------


def _vecs(spark):
    return t(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def test_km_assign_np_matches_expression(spark):
    """The numpy assignment inside :func:`_km_partials_np` ("final"
    partials) must assign like the expression reference
    :func:`_km_assign`: per cluster the same count, micro-summed inertia
    and repr-exact max dist."""
    from smfg_datawarehouse_spark.operators.similarity import (
        _km_assign,
        _km_partials_np,
        _quant,
    )

    vecs = _vecs(spark)
    init = vecs.orderBy("vec_id").limit(8).collect()
    cents = [
        (cid, [_quant(float(x)) for x in row.v]) for cid, row in enumerate(init)
    ]

    assigned = _km_assign(vecs, cents)
    old_final = {
        r["cluster"]: (r["n_vectors"], repr(r["inertia"]), repr(r["max_dist"]))
        for r in assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            (
                F.sum(
                    F.floor(F.col("dist") * 1000000.0 + 0.5).cast("long")
                ).cast("double")
                / 1000000.0
            ).alias("inertia"),
            F.max("dist").alias("max_dist"),
        )
        .collect()
    }
    new_final = {
        r["cluster"]: (r["n_vectors"], repr(r["inertia"]), repr(r["max_dist"]))
        for r in _km_partials_np(vecs, cents, "final")
        .groupBy("cluster")
        .agg(
            F.sum("n").alias("n_vectors"),
            (F.sum("msd").cast("double") / 1000000.0).alias("inertia"),
            F.max("mx").alias("max_dist"),
        )
        .collect()
    }
    assert old_final == new_final and len(old_final) > 0


def test_km_partials_tie_and_identical_centroids(spark):
    """The live assignment kernel breaks distance ties like the
    expression reference: to the lowest centroid id."""
    from collections import Counter

    from smfg_datawarehouse_spark.session import local_rows_df
    from smfg_datawarehouse_spark.operators.similarity import (
        _km_assign,
        _km_partials_np,
    )

    # centroids 1 and 3 identical -> every tie must break to cid 1
    cents = [(0, [9.0, 9.0]), (1, [1.0, 2.0]), (3, [1.0, 2.0])]
    vecs = local_rows_df(
        spark,
        [(10, [1.0, 2.0]), (11, [0.0, 0.0]), (12, [9.0, 8.9])],
        "vec_id long, v array<double>",
    )
    old = Counter(r["cluster"] for r in _km_assign(vecs, cents).collect())
    new = {
        r["cluster"]: r["n"]
        for r in _km_partials_np(vecs, cents, "final")
        .groupBy("cluster")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert old == new
    assert new == {0: 1, 1: 2}  # ties broke to the lower cid


def test_cosine_cells_np_matches_x106_expression_form(spark):
    from smfg_datawarehouse_spark.functions.vectors import dot_product, l2_norm
    from smfg_datawarehouse_spark.operators.similarity import _cosine_cells_np
    from smfg_datawarehouse_spark.session import local_rows_df
    from pyspark.sql import Window as W

    vecs = _vecs(spark)
    cent_rows = sorted(
        (r["vec_id"], list(r["v"]))
        for r in vecs.where(F.col("vec_id") % 29 == 7).collect()
    )
    cents = local_rows_df(
        spark,
        cent_rows,
        "cid long, cv array<double>",
    )
    cos = dot_product(F.col("v"), F.col("cv")) / (
        l2_norm(F.col("v")) * l2_norm(F.col("cv"))
    )
    w = W.partitionBy("vec_id").orderBy(F.col("_cos").desc(), F.col("cid"))
    old = {
        r["vec_id"]: r["cid"]
        for r in vecs.crossJoin(F.broadcast(cents))
        .withColumn("_cos", cos)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("vec_id", "cid")
        .collect()
    }
    new = {
        r["vec_id"]: r["cid"]
        for r in _cosine_cells_np(vecs, cent_rows, carry_v=False).collect()
    }
    assert old == new and len(old) > 0


def test_knn_cell_scoring_matches_fold(spark):
    """x120's cogroup numpy block must equal the old join + interpreted
    _fold_cosine per pair, score for score (repr-exact doubles)."""
    from smfg_datawarehouse_spark.operators.ann_graph import (
        _fold_cosine,
        knn_graph,
    )

    e = t(spark, SF, "embeddings")
    new = {
        (r["query_id"], r["neighbor_id"]): (repr(r["cos_sim"]), r["rank"])
        for r in knn_graph(e).collect()
    }
    # reconstruct the pre-r10 expression path: same base assignment (the
    # numpy probe/cell pass is unchanged), old join + per-pair fold
    import numpy as np

    from smfg_datawarehouse_spark.operators.similarity import (
        _collect_matrix,
        _lr_cosine,
    )
    import pandas as pd
    from pyspark.sql import Window as W

    vecs = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cids, cmat = _collect_matrix(
        vecs.where(F.col("vec_id") % 29 == 7), "vec_id", "v"
    )

    def assign(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            vm = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            sims = _lr_cosine(vm, cmat)
            rows = {"vec_id": pdf["vec_id"], "v": pdf["v"]}
            picked = [
                cids[np.lexsort((cids, -sims[i]))[:2]].tolist()
                for i in range(len(pdf))
            ]
            rows["cell"] = [p[0] for p in picked]
            rows["probes"] = picked
            yield pd.DataFrame(rows)

    base = vecs.repartition(8).mapInPandas(
        assign, "vec_id long, v array<double>, cell long, probes array<long>"
    ).localCheckpoint()
    cand = base.select("vec_id", "v", F.explode("probes").alias("probe_cell"))
    members = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("cell").alias("probe_cell"),
    )
    scored = (
        cand.join(members, "probe_cell")
        .where(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            F.col("vec_id").alias("query_id"),
            "neighbor_id",
            _fold_cosine(F.col("v"), F.col("nv")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    old = {
        (r["query_id"], r["neighbor_id"]): (repr(r["cos_sim"]), r["rank"])
        for r in scored.withColumn(
            "rank", F.row_number().over(w).cast("long")
        )
        .where(F.col("rank") <= 5)
        .collect()
    }
    assert old == new and len(new) > 0


def test_jl_projection_np_matches_expression(spark):
    from smfg_datawarehouse_spark.operators.ann_quantized import (
        JL_DIM,
        _jl_proj_expr,
        jl_signs,
    )
    import numpy as np

    signs = jl_signs(JL_DIM, 64)
    vecs = _vecs(spark)
    rows = (
        vecs.withColumn("p", F.expr(_jl_proj_expr("v", signs, spark_side=True)))
        .orderBy("vec_id")
        .collect()
    )
    S = np.array(signs, dtype=np.float64)
    V = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    P = np.zeros((len(V), S.shape[0]))
    for i in range(V.shape[1]):
        P = P + V[:, i][:, None] * S[:, i][None, :]
    expr_P = np.stack([np.asarray(r["p"], dtype=np.float64) for r in rows])
    assert len(rows) > 0
    assert all(
        repr(a) == repr(b) for a, b in zip(P.ravel().tolist(), expr_P.ravel().tolist())
    )


def test_x73_byte_histogram_matches_expression(spark):
    from smfg_datawarehouse_spark.operators.text_quality import _LETTERS
    from smfg_datawarehouse_spark.session import local_rows_df

    def expression_form(d):
        txt = F.lower(F.col("text"))  # noqa: F841 (kept for parity w/ r9 code)
        counts = [
            F.length(txt)
            - F.length(F.expr(f"replace(lower(text), '{c}', '')"))
            for c in _LETTERS
        ]
        n_alpha = counts[0]
        for c in counts[1:]:
            n_alpha = n_alpha + c
        sq = counts[0] * counts[0]
        for c in counts[1:]:
            sq = sq + c * c
        n_alpha = n_alpha.cast("long")
        sq = sq.cast("long")
        gini = F.when(
            n_alpha > 0,
            (n_alpha * n_alpha - sq).cast("double") / (n_alpha * n_alpha),
        ).otherwise(F.lit(0.0))
        return d.select(
            "doc_id",
            n_alpha.alias("n_alpha"),
            gini.alias("gini"),
            ((n_alpha > 0) & (gini >= 0.9)).alias("is_diverse"),
        )

    def rows(df):
        return sorted(
            (r["doc_id"], r["n_alpha"], repr(r["gini"]), r["is_diverse"])
            for r in df.collect()
        )

    from smfg_datawarehouse_spark.operators.text_quality import (
        x73_char_diversity_filter,
    )

    # full fixture
    d = t(spark, SF, "documents")
    assert rows(x73_char_diversity_filter(spark, SF)) == rows(expression_form(d))

    # edges: uppercase (lower parity), digits/punct (excluded from a-z),
    # empty text, degenerate repetition (gini -> 0)
    edge = local_rows_df(
        spark,
        [
            (1, "AbC xyz!! 123"),
            (2, ""),
            (3, "aaaaaaa"),
            (4, "The quick brown fox JUMPS over 42 lazy dogs?"),
        ],
        "doc_id long, text string",
    )
    import smfg_datawarehouse_spark.operators.text_quality as tq

    got = {
        r["doc_id"]: (r["n_alpha"], repr(r["gini"]), r["is_diverse"])
        for r in expression_form(edge).collect()
    }
    # run the kernel on the same edge frame by calling the registered
    # operator's internals through a monkeypatched loader is overkill —
    # the kernel is pure, so recompute directly:
    import numpy as np

    for r in edge.collect():
        b = np.frombuffer((r["text"] or "").lower().encode("utf-8"), np.uint8)
        h = np.bincount(b, minlength=123)[97:123].astype(np.int64)
        n = int(h.sum())
        sq = int((h * h).sum())
        gini = float((n * n - sq) / float(n * n)) if n > 0 else 0.0
        assert got[r["doc_id"]] == (n, repr(gini), bool(n > 0 and gini >= 0.9))


def test_pq_assignment_np_matches_expression(spark):
    """x85's numpy subspace assignment must equal the _pq_best
    expression form (squared-L2 left fold, array_min ties -> lowest cid)
    on real fixture sub-vectors."""
    import numpy as np

    from smfg_datawarehouse_spark.operators.ann_quantized import _pq_best
    from smfg_datawarehouse_spark.operators.similarity import _quant

    vecs = _vecs(spark)
    first = vecs.orderBy("vec_id").limit(16).collect()
    m, dim = 4, len(first[0]["v"])
    dsub = dim // m
    cb = {
        sub: [
            (cid, [_quant(float(x)) for x in row.v[sub * dsub:(sub + 1) * dsub]])
            for cid, row in enumerate(first)
        ]
        for sub in range(m)
    }
    expr_codes = {
        r["vec_id"]: list(r["codes"])
        for r in vecs.select(
            "vec_id",
            F.array(
                *[
                    _pq_best(f"slice(v, {sub * dsub + 1}, {dsub})", cb[sub])[
                        "cid"
                    ].cast("long")
                    for sub in range(m)
                ]
            ).alias("codes"),
        ).collect()
    }
    rows = vecs.collect()
    for r in rows:
        V = np.asarray(r["v"], dtype=np.float64)
        got = []
        for sub in range(m):
            C = np.stack([np.asarray(cv, np.float64) for _, cv in cb[sub]])
            S = V[sub * dsub:(sub + 1) * dsub]
            D = np.zeros(len(C))
            for i in range(dsub):
                diff = S[i] - C[:, i]
                D = D + diff * diff
            got.append(int(np.argmin(np.where(np.isnan(D), np.inf, D))))
        assert got == expr_codes[r["vec_id"]], r["vec_id"]


def test_km_partials_match_posexplode_aggregation(spark):
    """x57's in-kernel "update" partials (the centroid recompute) must
    equal the expression reference (:func:`_km_assign`) followed by the
    posexplode/groupBy pipeline exactly (integer micro sums, counts)."""
    from smfg_datawarehouse_spark.operators.similarity import (
        _km_assign,
        _km_partials_np,
        _quant,
    )

    vecs = _vecs(spark)
    init = vecs.orderBy("vec_id").limit(8).collect()
    cents = [
        (cid, [_quant(float(x)) for x in row.v]) for cid, row in enumerate(init)
    ]

    assigned = _km_assign(vecs, cents)
    old_update = {
        (r["cluster"], r["dim"]): (r["ms"], r["n"])
        for r in assigned.select(
            "cluster", F.posexplode("v").alias("dim", "val")
        )
        .groupBy("cluster", "dim")
        .agg(
            F.sum(F.floor(F.col("val") * 1000000.0 + 0.5).cast("long")).alias(
                "ms"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    new_update = {
        (r["cluster"], r["dim"]): (r["ms"], r["n"])
        for r in _km_partials_np(vecs, cents, "update")
        .groupBy("cluster", "dim")
        .agg(F.sum("ms").alias("ms"), F.sum("n").alias("n"))
        .collect()
    }
    assert old_update == new_update and len(old_update) > 0

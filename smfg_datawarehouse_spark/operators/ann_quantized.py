"""Compressed / quantized ANN ladder [X]: SQ8, PQ-ADC, JL random
projection, Matryoshka prefix recall, and reciprocal-rank-fusion hybrid
retrieval.

Split out of ``operators/similarity.py`` (round-5 module-size split,
zero behavior change). Every scorer here runs the shared vector top-k
scan of that module — one capped driver collect (``_collect_matrix``),
one broadcast corpus pass (``_scan_topk``) and, for the two-stage
ladders, one exact rerank (``_exact_rerank``); each keeps only its own
quantizer, ADC table or projection and its per-batch scoring.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.functions.vectors import max_abs
from smfg_datawarehouse_spark.operators.similarity import (
    _collect_matrix,
    _dcos,
    _exact_rerank,
    _km_dist,
    _lr_cosine,
    _quant,
    _scan_topk,
    _topk_rows,
    _vectors,
    brute_force_topk,
    hyperplane_weight,
)
from smfg_datawarehouse_spark.queries import micro_np, register, t
from smfg_datawarehouse_spark.session import ensure_min_parallelism, local_rows_df

SQ8_COARSE_K = 50


def _sq8_codes(df: DataFrame) -> DataFrame:
    """(vid, v double[], scale, c int64-codes[]) of ``embedding`` with the x13 symmetric-SQ8
    layout: scale = max_abs/127, code = clamp(floor(x/scale + 0.5), ±127).
    Zero vectors code to all-zero (scale 0). Pure scan-side expressions."""
    v = F.col("embedding").cast("array<double>")
    base = df.select(
        F.col("vec_id").cast("long").alias("vid"), v.alias("v"),
        (max_abs(v) / 127.0).alias("scale"),
    )
    scale = F.col("scale")
    code = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.floor(x / scale + 0.5))
        ).cast("long"),
    )
    zeros = F.transform(F.col("v"), lambda x: F.lit(0).cast("long"))
    return base.withColumn(
        "c", F.when(scale == 0.0, zeros).otherwise(code)
    )


def sq8_rerank_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Two-stage ANN, the production memory-bound layout: the corpus is
    scanned as int8 codes (4× smaller than float32, 8× smaller than the
    double working set), a coarse top-``SQ8_COARSE_K`` per query is selected
    on the compressed approximation, and only those candidates are
    re-scored with exact double cosine for the final top-10.

    Coarse score = int-dot(codes)·scale_c·scale_q — the integer dot is
    EXACT (≤ dim·127² fits long), so the approximation itself is
    deterministic and the oracle replays both stages bit-for-bit.
    Plan shape: ONE compressed corpus scan (:func:`_scan_topk`, query
    codes broadcast, partial top-coarse_k, nothing pair-shaped shuffled),
    then :func:`_exact_rerank` joins the Q×coarse_k candidate set
    (broadcast — KBs) back to corpus vectors, so full-precision vectors
    are touched only for 0.01% of the corpus."""
    qids, qc, qsc = _collect_matrix(
        _sq8_codes(queries), "vid", "c", extra=(F.col("scale"),)
    )

    def score(pdf, ids, qscale, qcode):
        nid = pdf["vid"].to_numpy(dtype=np.int64)
        csc = pdf["scale"].to_numpy(dtype=np.float64)
        cm = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["c"]])
        idot = cm @ qcode.T  # exact int64
        # mirror the oracle: (CAST(idot AS DOUBLE) * scale_c) * scale_q
        approx = (idot.astype(np.float64) * csc[:, None]) * qscale[None, :]
        yield _topk_rows(approx, nid, ids, SQ8_COARSE_K)

    coarse = _scan_topk(
        _sq8_codes(corpus).select("vid", "scale", "c"),
        (qids, qsc, qc.astype(np.int64)),
        score,
        SQ8_COARSE_K,
    ).select("query_id", "neighbor_id", F.col("cos_sim").alias("approx_score"))
    return _exact_rerank(coarse, corpus, queries, 10)


_SQ8_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    sc AS (
      SELECT vec_id, v,
             list_reduce(list_transform(v, x -> abs(x)),
                         (a, b) -> greatest(a, b)) / 127.0 AS scale
      FROM vecs
    ),
    codes AS (
      SELECT vec_id, v, scale,
             CASE WHEN scale = 0.0
                  THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> CAST(greatest(-127.0, least(127.0,
                         floor(x / scale + 0.5))) AS BIGINT)) END AS c
      FROM sc
    ),
    q AS (
      SELECT vec_id AS query_id, v AS qv, scale AS qs, c AS qc
      FROM codes WHERE vec_id % 25 = 0
    ),
    coarse0 AS (
      SELECT q.query_id, t.vec_id AS neighbor_id,
             (CAST(list_reduce(list_transform(range(1, len(t.c) + 1),
                     i -> t.c[i] * q.qc[i]), (x, y) -> x + y) AS DOUBLE)
               * t.scale) * q.qs AS approx_score
      FROM codes t CROSS JOIN q
      WHERE t.vec_id <> q.query_id
    ),
    coarse AS (
      SELECT query_id, neighbor_id, approx_score FROM (
        SELECT query_id, neighbor_id, approx_score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY approx_score DESC, neighbor_id) AS rn
        FROM coarse0
      ) WHERE rn <= {SQ8_COARSE_K}
    ),
    rr AS (
      SELECT c.query_id, c.neighbor_id, c.approx_score,
             {_dcos('q.qv', 't.v')} AS cos_sim
      FROM coarse c
      JOIN q ON q.query_id = c.query_id
      JOIN vecs t ON t.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, approx_score, cos_sim,
           CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id, approx_score, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM rr
      WHERE cos_sim IS NOT NULL AND isfinite(cos_sim)
    ) WHERE rank <= 10
"""


@register("x59_sq8_rerank_topk", _SQ8_ORACLE)
def x59_sq8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Two-stage ANN top-10 for every 25th vector: int8-compressed
    coarse top-50 (exact integer dot × scales) + exact double-cosine
    rerank. Both the approximation and the rerank are replayed exactly by
    the oracle — the full compressed-search pipeline is hash-certified."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % 25 == 0)
    return sq8_rerank_topk(e, queries)


# ---------------------------------------------------------------------------
# PQ two-stage ANN: product-quantized codes + ADC coarse scan + exact rerank
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_K = 16  # centroids per subspace codebook
PQ_COARSE_K = 50


def _pq_best(sv_sql: str, cb_sub: list[tuple[int, list[float]]]):
    """Nearest-codebook-entry struct(dist, cid) for one subspace —
    expression-only, same literal-centroid trick as :func:`_km_assign`:
    the codebook enters the plan as bytes, assignment is a scan-side
    ``transform`` + ``array_min`` with zero joins/shuffles. Squared-L2
    folds left-to-right; struct ordering breaks dist ties on lowest cid,
    matching the oracle's ``ORDER BY dist, cid``.

    Built as ONE ``F.expr`` SQL string, not nested ``F.lit`` columns: the
    codebook is k×dim literals and constructing them as Column objects
    costs a py4j round trip each (~1.5 s of pure driver time per
    assignment at k=16, dim=64) — a single parsed string is one call for
    the same Catalyst tree. ``repr(float)`` + ``D`` suffix round-trips
    every double bit-exactly through the SQL parser."""
    cents = ",".join(
        f"named_struct('cid',{cid},'cv',array({','.join(f'{x!r}D' for x in cv)}))"
        for cid, cv in cb_sub
    )
    return F.expr(
        f"array_min(transform(array({cents}),"
        "c -> named_struct("
        f"'dist', aggregate(zip_with({sv_sql}, c.cv,"
        " (a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x),"
        "'cid', c.cid)))"
    )


def pq_adc_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Product-quantization ANN top-10 (Jégou et al., IEEE TPAMI 2011 — the
    memory-bound complement to :func:`sq8_rerank_topk`'s scalar
    quantization): vectors are split into ``m = PQ_M`` subspaces, each subspace
    gets its own ``kc = PQ_K``-entry codebook (deterministic Lloyd: lowest-id
    seeds + one micro-grid update round — the same kernel/grid as
    :func:`kmeans_lloyd`), and the corpus is stored as ``m`` small codes
    per vector (m·log2(kc) bits ≈ 2 bytes/vector here vs 256 bytes of
    raw doubles — a 100 TB corpus's codes fit a fraction of cluster RAM).

    Search is **ADC** (asymmetric distance computation): each query
    precomputes a (m × kc) table of exact squared-L2 distances from its
    sub-vectors to every codebook entry, micro-quantized to int64; a
    corpus vector's approximate distance is then the EXACT integer sum of
    m table lookups — no float accumulation order to diverge on, so the
    approximation is bit-reproducible and the oracle replays training,
    encoding, ADC, and rerank end-to-end.

    Plan shape at scale: codebook training touches the corpus twice
    (assign + micro-mean, k·m·dim aggregated rows to the driver — KBs);
    the ADC scan is ONE ``mapInPandas`` pass over the corpus that encodes
    each Arrow batch and sums its table lookups, with the per-query
    tables broadcast (:func:`_scan_topk`: nothing pair-shaped shuffles,
    partial top-k per partition); the exact-cosine
    rerank (:func:`_exact_rerank`) touches full-precision vectors for only
    Q×``PQ_COARSE_K`` candidates (broadcast join)."""
    # widen before persist (r9): the corpus arrives as one scan split at
    # test scale, so the Lloyd assign (m·kc distance evals per row)
    # otherwise runs as ONE task. r10 (VERDICT r9 item 3): gated on the
    # plan — a naturally-wide scan keeps its partitioning. The ADC scan
    # reads ``proj`` and widens it itself (:func:`_scan_topk`), so the
    # returned plan widens once.
    proj = _vectors(corpus, "vec_id", "embedding", "vec_id", "v")
    vecs = ensure_min_parallelism(proj).persist()
    try:
        first = vecs.orderBy("vec_id").limit(PQ_K).collect()
        if not first:
            raise ValueError("empty corpus")
        dim = len(first[0]["v"])
        if dim % PQ_M:
            raise ValueError(f"dim {dim} not divisible by PQ_M={PQ_M}")
        dsub = dim // PQ_M
        # init: sub-slices of the kc lowest-id vectors, micro-quantized
        cb: dict[int, list[tuple[int, list[float]]]] = {
            sub: [
                (
                    cid,
                    [_quant(float(x)) for x in row.v[sub * dsub:(sub + 1) * dsub]],
                )
                for cid, row in enumerate(first)
            ]
            for sub in range(PQ_M)
        }
        # ONE Lloyd update round across ALL subspaces in a single job.
        # r10 (guide §4.2, the l25/x57 kernel promotion): the r9 form
        # evaluated the m×kc literal-tree squared-L2 folds INTERPRETED
        # per row (m·kc·dsub = 1024 lambda evaluations/row) and then
        # posexploded |corpus|×dim (sub, cid, dim, val) rows through the
        # shuffle. The same assignment now runs vectorized per Arrow
        # batch — per-dim ascending fold, first-argmin = lowest cid, NaN
        # masked +inf (Spark's NaN-greatest double order) — and each
        # batch emits only its EXACT-integer micro-unit partial sums per
        # (sub, cid, dim): the shuffle carries m·kc·dsub rows per batch
        # instead of |corpus|·dim. Partial integer sums are associative,
        # so the driver-side means are bit-identical.
        def _cb_mats(cb_state):
            mats = []
            for sub_ in range(PQ_M):
                entries = cb_state[sub_]  # cid-ascending by construction
                mats.append(
                    (
                        np.array([c for c, _ in entries], dtype=np.int64),
                        np.stack(
                            [np.asarray(cv, dtype=np.float64) for _, cv in entries]
                        ),
                    )
                )
            return mats

        def _assign_subs(V, mats):
            """(n×dim) → (n×PQ_M) best-cid per subspace, expression-identical."""
            picks = np.empty((len(V), PQ_M), dtype=np.int64)
            for sub_ in range(PQ_M):
                cids_, C = mats[sub_]
                S = V[:, sub_ * dsub:(sub_ + 1) * dsub]
                D = np.zeros((len(S), len(C)))
                for i in range(dsub):
                    diff = S[:, i][:, None] - C[:, i][None, :]
                    D = D + diff * diff
                picks[:, sub_] = cids_[
                    np.argmin(np.where(np.isnan(D), np.inf, D), axis=1)
                ]
            return picks

        mats0 = _cb_mats(cb)

        def lloyd_partials(it):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf["v"].values).astype(np.float64)
                picks = _assign_subs(V, mats0)
                micros = micro_np(V)
                out = {"sub": [], "cid": [], "dim": [], "ms": [], "n": []}
                for sub_ in range(PQ_M):
                    Ssub = micros[:, sub_ * dsub:(sub_ + 1) * dsub]
                    for cid_ in np.unique(picks[:, sub_]):
                        rows_ = Ssub[picks[:, sub_] == cid_]
                        ms = rows_.sum(axis=0)
                        for d_ in range(dsub):
                            out["sub"].append(sub_)
                            out["cid"].append(int(cid_))
                            out["dim"].append(d_)
                            out["ms"].append(int(ms[d_]))
                            out["n"].append(len(rows_))
                yield pd.DataFrame(out)

        rows = (
            vecs.mapInPandas(
                lloyd_partials, "sub int, cid int, dim int, ms long, n long"
            )
            .groupBy("sub", "cid", "dim")
            .agg(F.sum("ms").alias("ms"), F.sum("n").alias("n"))
            .collect()
        )
        means: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            means.setdefault((r.sub, r.cid), {})[r.dim] = _quant(
                float(r.ms) / 1000000.0 / r.n
            )
        cb = {
            sub: [
                (
                    cid,
                    [means[(sub, cid)][d] for d in range(dsub)]
                    if (sub, cid) in means
                    else cv,  # empty cluster keeps its previous centroid
                )
                for cid, cv in cb[sub]
            ]
            for sub in range(PQ_M)
        }

        mats1 = _cb_mats(cb)

        # per-query ADC tables: exact left-to-right folds on the driver
        # (Q·m·kc·dsub float ops — trivial), micro-quantized to int64 so
        # the executor-side sum over subspaces is exact integer arithmetic
        qids, qmat = _collect_matrix(queries, "vec_id", "embedding")
        dt = np.empty((len(qids), PQ_M, PQ_K), dtype=np.int64)
        for qi in range(len(qids)):
            for sub in range(PQ_M):
                qoff = sub * dsub
                for cid, cv in cb[sub]:
                    acc = 0.0
                    for i in range(dsub):
                        dlt = float(qmat[qi, qoff + i]) - cv[i]
                        acc += dlt * dlt
                    dt[qi, sub, cid] = micro_np(acc)

        def score(pdf, ids, dtab):
            nid = pdf["vec_id"].to_numpy(dtype=np.int64)
            # encode the batch with the trained codebooks (the Lloyd
            # assignment kernel), then sum its table lookups
            cm = _assign_subs(np.stack(pdf["v"].values).astype(np.float64), mats1)
            approx = np.zeros((len(nid), len(ids)), dtype=np.int64)
            for sub in range(PQ_M):
                # dtab[:, sub, :] is Q×kc; gather per corpus code → Q×b
                approx += dtab[:, sub, :][:, cm[:, sub]].T
            # negate so _topk_rows' score-DESC order = distance ASC;
            # int64/1e6 → double is exact at these magnitudes
            yield _topk_rows(-(approx.astype(np.float64) / 1e6), nid, ids, PQ_COARSE_K)

        coarse = _scan_topk(proj, (qids, dt), score, PQ_COARSE_K).select(
            "query_id", "neighbor_id", (-F.col("cos_sim")).alias("adc_dist")
        )
        return _exact_rerank(coarse, corpus, queries, 10)
    finally:
        # the persist only serves the bounded training collects; the
        # returned plan re-reads the source (one extra scan) rather than
        # pinning corpus-sized cache in a long-lived app
        vecs.unpersist()


_PQ_SUBV = (
    f"SELECT vec_id, sub, list_slice(v, sub * {64 // PQ_M} + 1, "
    f"(sub + 1) * {64 // PQ_M}) AS sv "
    f"FROM vecs, (SELECT unnest(range({PQ_M})) AS sub)"
)

_PQ_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    subv AS ({_PQ_SUBV}),
    c0 AS (
      SELECT sub,
             CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                  AS INTEGER) AS cid,
             list_transform(sv, x -> floor(x * 1000000.0 + 0.5) / 1000000.0) AS cv
      FROM subv
      WHERE vec_id IN (SELECT vec_id FROM vecs ORDER BY vec_id LIMIT {PQ_K})
    ),
    a1 AS (
      SELECT vec_id, sub, sv, cid FROM (
        SELECT t.vec_id, t.sub, t.sv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.sub
                                  ORDER BY {_km_dist('t.sv', 'c.cv')}, c.cid) AS rn
        FROM subv t JOIN c0 c ON c.sub = t.sub
      ) WHERE rn = 1
    ),
    m1 AS (
      SELECT sub, cid, dim,
             CAST(SUM(CAST(floor(val * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / COUNT(*) AS mean
      FROM (SELECT sub, cid, unnest(sv) AS val,
                   unnest(range(len(sv))) AS dim FROM a1)
      GROUP BY sub, cid, dim
    ),
    c1 AS (
      SELECT p.sub, p.cid, COALESCE(mm.cv, p.cv) AS cv
      FROM c0 p LEFT JOIN (
        SELECT sub, cid, list(floor(mean * 1000000.0 + 0.5) / 1000000.0
                              ORDER BY dim) AS cv
        FROM m1 GROUP BY sub, cid
      ) mm ON mm.sub = p.sub AND mm.cid = p.cid
    ),
    codes AS (
      SELECT vec_id, sub, cid FROM (
        SELECT t.vec_id, t.sub, c.cid,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.sub
                                  ORDER BY {_km_dist('t.sv', 'c.cv')}, c.cid) AS rn
        FROM subv t JOIN c1 c ON c.sub = t.sub
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id % 25 = 0),
    qsub AS (
      SELECT query_id, sub, list_slice(qv, sub * {64 // PQ_M} + 1,
                                       (sub + 1) * {64 // PQ_M}) AS qs
      FROM q, (SELECT unnest(range({PQ_M})) AS sub)
    ),
    dtab AS (
      SELECT s.query_id, c.sub, c.cid,
             CAST(floor({_km_dist('s.qs', 'c.cv')} * 1000000.0 + 0.5)
                  AS BIGINT) AS dmicro
      FROM qsub s JOIN c1 c ON c.sub = s.sub
    ),
    adc AS (
      SELECT d.query_id, k.vec_id AS neighbor_id,
             CAST(SUM(d.dmicro) AS DOUBLE) / 1000000.0 AS adc_dist
      FROM codes k JOIN dtab d ON d.sub = k.sub AND d.cid = k.cid
      WHERE k.vec_id <> d.query_id
      GROUP BY d.query_id, k.vec_id
    ),
    coarse AS (
      SELECT query_id, neighbor_id, adc_dist FROM (
        SELECT query_id, neighbor_id, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc
      ) WHERE rn <= {PQ_COARSE_K}
    ),
    rr AS (
      SELECT c.query_id, c.neighbor_id, c.adc_dist,
             {_dcos('q.qv', 't.v')} AS cos_sim
      FROM coarse c
      JOIN q ON q.query_id = c.query_id
      JOIN vecs t ON t.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, adc_dist, cos_sim,
           CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id, adc_dist, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM rr
      WHERE cos_sim IS NOT NULL AND isfinite(cos_sim)
    ) WHERE rank <= 10
"""


@register("x85_pq_adc_topk", _PQ_ORACLE)
def x85_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] PRODUCT-QUANTIZATION ANN top-10 for every 25th vector: m=4
    subspace codebooks (16 entries each, deterministic one-round Lloyd on
    the micro-grid), int codes + exact-integer ADC coarse top-50, exact
    double-cosine rerank. Training, encoding, the ADC table, and the
    rerank are all replayed bit-for-bit by the oracle — the complete
    compressed-index lifecycle is hash-certified, complementing x59's
    scalar quantization with the sub-byte/vector memory layout a 100 TB
    index actually ships."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % 25 == 0)
    return pq_adc_topk(e, queries)


JL_DIM = 16
JL_SHORTLIST = 25
JL_K = 5
#: offset into the hyperplane_weight hash family so the JL sign matrix is
#: decorrelated from the SimHash planes (h 0..15 are taken by x05).
_JL_H0 = 1000


def jl_signs(out_dim: int, in_dim: int) -> list[list[float]]:
    """Rademacher ±1 sign matrix for a Johnson-Lindenstrauss projection
    (Achlioptas 2001, "Database-friendly random projections": ±1 entries
    satisfy the JL lemma like Gaussians do, and the projection becomes
    pure adds). Deterministic integer-hash derivation — baked as literals
    into the oracle so DuckDB replays the identical projection."""
    return [
        [hyperplane_weight(_JL_H0 + j, i) for i in range(in_dim)]
        for j in range(out_dim)
    ]


def _jl_proj_expr(vcol: str, signs: list[list[float]], spark_side: bool) -> str:
    """SQL text computing the projected vector of ``vcol`` — ONE parsed
    expression per side (py4j literal trees are a driver bottleneck; see
    x85's codebook note). Spark: aggregate/zip_with with 0.0D init;
    DuckDB: list_reduce/list_zip without init — identical IEEE fold
    because 0.0 + x == x."""
    dots = []
    for row in signs:
        if spark_side:
            lit = "array(" + ",".join(f"{x:.1f}D" for x in row) + ")"
            dots.append(
                f"aggregate(zip_with({vcol}, {lit}, (x, y) -> x * y),"
                f" 0.0D, (acc, z) -> acc + z)"
            )
        else:
            lit = "[" + ",".join(f"{x:.1f}" for x in row) + "]"
            dots.append(
                f"list_reduce(list_transform(list_zip({vcol}, {lit}),"
                f" s -> s[1] * s[2]), (x, y) -> x + y)"
            )
    return ("array(" if spark_side else "[") + ",\n          ".join(dots) + (
        ")" if spark_side else "]"
    )


def _jl_oracle() -> str:
    signs = jl_signs(JL_DIM, 64)
    proj = _jl_proj_expr("v", signs, spark_side=False)
    return f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    proj AS (SELECT vec_id, v, {proj} AS p FROM vecs),
    q AS (SELECT vec_id AS query_id, v AS qv, p AS qp FROM proj
          WHERE vec_id % 25 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, c.v AS cv, q.qv AS qv,
             {_dcos('q.qp', 'c.p')} AS pcos
      FROM proj c CROSS JOIN q
      WHERE c.vec_id <> q.query_id
    ),
    short AS (
      SELECT query_id, neighbor_id, cv, qv FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY pcos DESC, neighbor_id) AS prank
        FROM scored
      ) WHERE prank <= {JL_SHORTLIST}
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id, {_dcos('qv', 'cv')} AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY {_dcos('qv', 'cv')} DESC,
                                         neighbor_id) AS rank
      FROM short
    ) WHERE rank <= {JL_K}
"""


@register("x99_jl_projection_topk", _jl_oracle())
def x99_jl_projection_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] ANN via Johnson-Lindenstrauss random projection: embeddings are
    projected 64→16 dims through a deterministic Rademacher ±1 matrix
    (Achlioptas 2001), the shortlist (top-25 per query by PROJECTED
    cosine) is found in the cheap 16-dim space, and only the shortlist is
    reranked by exact 64-dim cosine (top-5). The memory/FLOP complement
    to x59's SQ8 and x85's PQ: JL shrinks the scoring matrix 4× with no
    codebook training, so it's the zero-setup first rung of the ANN
    ladder. At 100 TB: projection is a scan-local expression (no
    shuffle), the shortlist pass streams the projected corpus through the
    same single-scan partial-top-k kernel as x10, and the exact rerank
    touches only Q×25 fetched vectors. Both the projection AND the
    approximation are replayed bit-exactly by the oracle."""
    signs = jl_signs(JL_DIM, 64)
    e = t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    proj = ed.withColumn("p", F.expr(_jl_proj_expr("v", signs, spark_side=True)))
    queries = proj.where(F.col("vec_id") % 25 == 0)
    # r10 (guide §4.2): the CORPUS-side projection evaluated 16
    # aggregate∘zip_with folds (16×64 interpreted lambda evaluations)
    # per row before scoring. The projection now happens in numpy INSIDE
    # the scoring pass — per projected dim j, acc += v_i·s_ji in
    # ascending-i order, the IEEE-identical left fold of the SQL
    # expression (init 0.0; pinned in tests/test_r10_optimizations.py)
    # — so only (vec_id, v) crosses the Arrow boundary and the
    # interpreted tree survives only on the Q-row query side (whose
    # filter prunes it to the driver-collected batch).
    qids, qmat = _collect_matrix(queries, "vec_id", "p")
    S = np.array(signs, dtype=np.float64)  # (JL_DIM, 64)

    def score(pdf, ids, qm, signs_):
        nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        V = np.stack(pdf["cv"].values).astype(np.float64)
        P = np.zeros((len(V), signs_.shape[0]))
        for i in range(V.shape[1]):
            P = P + V[:, i][:, None] * signs_[:, i][None, :]
        yield _topk_rows(_lr_cosine(P, qm), nid, ids, JL_SHORTLIST)

    short = _scan_topk(
        _vectors(ed, "vec_id", "v", "neighbor_id", "cv"),
        (qids, qmat, S),
        score,
        JL_SHORTLIST,
    ).select("query_id", "neighbor_id")
    return _exact_rerank(short, ed, queries, JL_K, vec_col="v")


MRL_PREFIXES = (4, 8, 16, 32)
MRL_K = 10


def multi_prefix_topk(
    corpus: DataFrame, queries: DataFrame, prefixes: tuple[int, ...], k: int
) -> DataFrame:
    """Exact cosine top-k of ``(vec_id, v)`` frames for EVERY prefix
    dimension in ONE corpus scan:
    (prefix_dim, query_id, neighbor_id, cos_sim, rank). Each Arrow batch
    is scored once per prefix on numpy slices of the SAME decoded
    matrix — bit-identical to running ``brute_force_topk`` per sliced
    frame (same ``_lr_cosine`` left-to-right dim fold on the same
    values), at 1/|prefixes| of the scan + decode cost. The global
    resolve is one (prefix, query)-keyed window over |prefixes|×Q×k
    partial rows."""
    prefixes = tuple(prefixes)

    def score(pdf, ids, qm):
        nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        cm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
        for L in prefixes:
            out = _topk_rows(_lr_cosine(cm[:, :L], qm[:, :L]), nid, ids, k)
            out.insert(0, "prefix_dim", np.int64(L))
            yield out

    return _scan_topk(
        _vectors(corpus, "vec_id", "v", "neighbor_id", "cv"),
        _collect_matrix(queries, "vec_id", "v"),
        score,
        k,
        keys=("prefix_dim", "query_id"),
    )


def _mrl_oracle() -> str:
    branches = []
    for L in MRL_PREFIXES:
        branches.append(f"""
    SELECT CAST({L} AS BIGINT) AS prefix_dim, e.query_id,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / {MRL_K} AS recall_at_{MRL_K}
    FROM exact e LEFT JOIN (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_dcos(f'q.qv[1:{L}]', f'c.v[1:{L}]')} DESC,
                          c.vec_id) AS rank
        FROM vecs c CROSS JOIN q
        WHERE c.vec_id <> q.query_id
      ) WHERE rank <= {MRL_K}
    ) a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id""")
    body = "\n    UNION ALL\n".join(branches)
    return f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id % 25 = 0),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_dcos('q.qv', 'c.v')} DESC,
                                           c.vec_id) AS rank
        FROM vecs c CROSS JOIN q
        WHERE c.vec_id <> q.query_id
      ) WHERE rank <= {MRL_K}
    )
    {body}
"""


@register("x100_matryoshka_prefix_recall", _mrl_oracle())
def x100_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Matryoshka-embedding evaluation (Kusupati et al. 2022,
    arXiv:2205.13147): recall@10 of prefix-dimension search (first
    4/8/16/32 of 64 dims) against the full-dim exact top-10, per query.
    This is the measurement loop that decides how far an MRL-trained
    embedding can be truncated before retrieval quality collapses — the
    storage/bandwidth decision for a 100 TB vector corpus (a 4× prefix
    truncation is a 4× scan-cost cut on every downstream ANN pass). Each
    prefix search reuses the single-scan partial-top-k kernel on sliced
    vectors (slice is a scan-local expression; nothing pair-shaped
    shuffles); recalls are exact-integer ratios, so the whole curve is
    bit-stable and the oracle replays it dimension for dimension."""
    e = t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qd = ed.where(F.col("vec_id") % 25 == 0)
    exact = brute_force_topk(ed, qd, vec_col="v", k=MRL_K).select(
        "query_id", "neighbor_id"
    )
    # all four prefix rankings come from ONE corpus scan (bit-identical
    # to per-prefix runs — same slice values, same fold order)
    approx = multi_prefix_topk(ed, qd, MRL_PREFIXES, MRL_K).select(
        F.col("prefix_dim").alias("a_dim"),
        F.col("query_id").alias("a_qid"),
        F.col("neighbor_id").alias("a_nid"),
    )
    anchor = exact.crossJoin(
        F.broadcast(
            local_rows_df(
                spark, [(int(L),) for L in MRL_PREFIXES], "prefix_dim long"
            )
        )
    )
    return (
        anchor.join(
            approx,
            (F.col("prefix_dim") == F.col("a_dim"))
            & (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("prefix_dim", "query_id")
        .agg((F.count("a_nid") / F.lit(MRL_K)).alias(f"recall_at_{MRL_K}"))
        .select("prefix_dim", "query_id", f"recall_at_{MRL_K}")
    )


RRF_DIMS = (64, 16, 4)
RRF_K0 = 60
RRF_LIST_K = 10
RRF_OUT_K = 5


def _rrf_oracle() -> str:
    branches = []
    for L in RRF_DIMS:
        qe = "q.qv" if L == 64 else f"q.qv[1:{L}]"
        ce = "c.v" if L == 64 else f"c.v[1:{L}]"
        branches.append(f"""
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY {_dcos(qe, ce)} DESC,
                                         c.vec_id) AS rank
      FROM vecs c CROSS JOIN q
      WHERE c.vec_id <> q.query_id
    ) WHERE rank <= {RRF_LIST_K}""")
    body = "\n    UNION ALL\n".join(branches)
    return f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id % 25 = 0),
    lists AS (
    {body}
    ),
    fused AS (
      SELECT query_id, neighbor_id,
             SUM(1000000000 // ({RRF_K0} + rank)) AS rrf_nano,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM lists GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, n_lists,
           CAST(rrf_nano AS DOUBLE) / 1000000000.0 AS rrf_score,
           CAST(rn AS BIGINT) AS fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_nano DESC, neighbor_id) AS rn
      FROM fused
    ) WHERE rn <= {RRF_OUT_K}
"""


@register("x112_rank_fusion_rrf", _rrf_oracle())
def x112_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] RECIPROCAL RANK FUSION (Cormack/Clarke/Buettcher 2009) — the
    ensemble-retrieval combinator every hybrid RAG stack ships: three
    retrievers rank the corpus per query (full 64-dim exact cosine, and
    the 16- and 4-dim Matryoshka prefixes x100 evaluates — three cost
    tiers of the same index), each contributes 1/(60+rank) for its
    top-10, and candidates are re-ranked by the summed score. RRF needs
    no score calibration between retrievers (it only consumes RANKS),
    which is exactly why it wins in production over weighted-score
    blending. Per-retriever lists reuse the certified single-scan
    partial-top-k kernel; the fuse itself is one groupBy on
    (query, candidate) over ≤ 3×10 rows per query — volume is
    lists × k, independent of corpus size. Contributions are fixed to
    exact integer nano-units (1e9 DIV (60+rank)) before the SUM —
    float addition is fold-order-sensitive, integer addition is not —
    so fused scores and ranks replay bit-exactly in the oracle."""
    e = t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qd = ed.where(F.col("vec_id") % 25 == 0)
    lists = None
    for L in RRF_DIMS:
        edl = ed if L == 64 else ed.select("vec_id", F.slice("v", 1, L).alias("v"))
        qdl = qd if L == 64 else qd.select("vec_id", F.slice("v", 1, L).alias("v"))
        lst = brute_force_topk(edl, qdl, vec_col="v", k=RRF_LIST_K).select(
            "query_id", "neighbor_id", "rank"
        )
        lists = lst if lists is None else lists.unionByName(lst)
    fused = lists.groupBy("query_id", "neighbor_id").agg(
        F.sum(F.expr(f"1000000000L DIV ({RRF_K0} + rank)")).alias("rrf_nano"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("rrf_nano").desc(), F.col("neighbor_id"))
    return (
        fused.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= RRF_OUT_K)
        .select(
            "query_id",
            "neighbor_id",
            "n_lists",
            (F.col("rrf_nano").cast("double") / 1000000000.0).alias("rrf_score"),
            F.col("rn").cast("long").alias("fused_rank"),
        )
    )


# ---------------------------------------------------------------------------
# x153: MRR of prefix-dimension retrieval — x100 measures recall@10 (set
# overlap, order-blind); MRR asks the sharper serving question: at WHAT
# RANK does the true nearest neighbor surface when searching truncated
# vectors? A prefix that keeps recall but pushes the true hit from rank
# 1 to rank 20 still wrecks a top-3 product surface; this is the curve
# that catches it (the second half of the MRL truncation decision).
# ---------------------------------------------------------------------------

MRR_SHORTLIST = 25


def _x153_oracle() -> str:
    branches = []
    for L in MRL_PREFIXES:
        branches.append(f"""
    SELECT CAST({L} AS BIGINT) AS prefix_dim,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(COALESCE(rr_micro, 0)) AS BIGINT) AS mrr_micro_sum,
           CAST(SUM(COALESCE(rr_micro, 0)) AS DOUBLE)
             / (COUNT(*) * 1000000.0) AS mrr
    FROM truth t LEFT JOIN (
      SELECT query_id, neighbor_id, 1000000 // rank AS rr_micro FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_dcos(f'q.qv[1:{L}]', f'c.v[1:{L}]')} DESC,
                          c.vec_id) AS rank
        FROM vecs c CROSS JOIN q
        WHERE c.vec_id <> q.query_id
      ) WHERE rank <= {MRR_SHORTLIST}
    ) a ON a.query_id = t.query_id AND a.neighbor_id = t.nn_id""")
        branches[-1] += "\n    GROUP BY 1"
    body = "\n    UNION ALL\n".join(branches)
    return f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id % 25 = 0),
    truth AS (
      SELECT query_id, neighbor_id AS nn_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_dcos('q.qv', 'c.v')} DESC,
                                           c.vec_id) AS rank
        FROM vecs c CROSS JOIN q
        WHERE c.vec_id <> q.query_id
      ) WHERE rank = 1
    )
    {body}
"""


@register("x153_mrr_prefix_eval", _x153_oracle())
def x153_mrr_prefix_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] MEAN RECIPROCAL RANK of prefix-dimension retrieval: per
    Matryoshka prefix (4/8/16/32 of 64 dims), find the rank at which the
    FULL-dim true nearest neighbor appears in the truncated-vector
    ranking (shortlist 25; absent → reciprocal 0) and report the
    per-prefix MRR. Complements x100's recall@10 — recall is order-blind
    and MRR is the top-rank serving metric the truncation decision
    actually rides on.

    Determinism: reciprocals are the exact-integer rationalization
    1e6 DIV rank summed as BIGINT (the x148 recipe — a float 1/rank sum
    would be partition-order-dependent); MRR itself is ONE division of
    two exact integers. Ranking ties break on vec_id, matching the
    oracle's ORDER BY exactly.

    Scale shape: truth is one full-dim run of the single-scan
    partial-top-k kernel (k=1); each prefix ranking reuses the same
    kernel on sliced vectors (slice is scan-local); the rank lookup is a
    (query, neighbor)-keyed left join against Q rows. Nothing beyond the
    x10/x100 scan family."""
    e = t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qd = ed.where(F.col("vec_id") % 25 == 0)
    truth = brute_force_topk(ed, qd, vec_col="v", k=1).select(
        "query_id", F.col("neighbor_id").alias("nn_id")
    )
    # all four prefix shortlists from ONE corpus scan (bit-identical to
    # per-prefix runs — same slice values, same fold order)
    approx = multi_prefix_topk(ed, qd, MRL_PREFIXES, MRR_SHORTLIST).select(
        F.col("prefix_dim").alias("a_dim"),
        F.col("query_id").alias("a_qid"),
        F.col("neighbor_id").alias("a_nid"),
        F.expr("1000000 DIV rank").cast("long").alias("rr_micro"),
    )
    anchor = truth.crossJoin(
        F.broadcast(
            local_rows_df(
                spark, [(int(L),) for L in MRL_PREFIXES], "prefix_dim long"
            )
        )
    )
    return (
        anchor.join(
            approx,
            (F.col("prefix_dim") == F.col("a_dim"))
            & (F.col("query_id") == F.col("a_qid"))
            & (F.col("nn_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("prefix_dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum(F.coalesce(F.col("rr_micro"), F.lit(0)))
            .cast("long")
            .alias("mrr_micro_sum"),
        )
        .select(
            "prefix_dim",
            "n_queries",
            "mrr_micro_sum",
            (
                F.col("mrr_micro_sum").cast("double")
                / (F.col("n_queries") * 1000000.0)
            ).alias("mrr"),
        )
    )

"""Similarity search [X] over embedding columns (``array<float>``).

The compressed/quantized ANN ladder (SQ8, PQ-ADC, JL projection,
Matryoshka, RRF fusion) lives in ``operators/ann_quantized.py`` and the
IVF-celled k-NN graph in ``operators/ann_graph.py`` (round-5 module
split); the shared kernels they import stay here.

**The shared vector top-k scan.** Every ANN scorer (brute force, IVF,
hard negatives, SQ8, PQ-ADC, JL, Matryoshka prefixes) is one call of
:func:`_scan_topk`: the small query side is collected once under the
driver-size cap (:func:`_collect_matrix`), broadcast, and the corpus
streams through ONE ``mapInPandas`` pass that keeps a partial top-k per
Arrow batch; one window resolves the global top-k. The two-stage
ladders finish with one :func:`_exact_rerank`. A scorer owns only its
per-batch scoring (and its quantizer, ADC table or projection).

Three strategies, all oracle-checked (SURVEY §2.12; reference has no vector
ops — this is the BASELINE.json LLM-pipeline extension surface):

- **Brute-force cosine top-k** (:func:`brute_force_topk`) — exact baseline.
  The shared scan with the query matrix as payload: every batch is scored
  against every query. Nothing pair-shaped is shuffled — the final global
  top-k window sees only (partitions × Q × k) rows. At 100 TB: one scan,
  no pair materialization.
- **IVF (inverted-file) top-k** (:func:`ivf_topk`) — the ANN scale path.
  A deterministic centroid set coarse-quantizes the corpus; each query
  probes its ``nprobe`` nearest cells and scores only vectors assigned
  there. The same shared scan; compute drops by ~nprobe/n_centroids.
  Centroid choice is data-derived + deterministic, so DuckDB can replay the
  exact assignment and the result is hash-checkable (recall < 1 by design,
  but *deterministically* so).
- **Cosine near-duplicate pairs** (:func:`cosine_near_dup`) — random-
  hyperplane (SimHash-family) LSH banding for deduplication: sign-bit
  sketches over deterministic pseudo-random hyperplanes put each vector in
  one bucket per hash table; only same-bucket pairs are exactly verified.
  Candidate volume is Σ_buckets |b|² instead of N² — the standard
  embedding-dedup layout for web-scale corpora.

Numeric determinism: every dot/norm accumulates over dimensions
left-to-right (``acc += x_i·y_i``), the identical IEEE-754 fold DuckDB's
``list_reduce`` performs — similarity scores are bit-exact against the
oracle, which is what lets top-k ranks and threshold cuts hash-match.

Precondition: embedding vectors are assumed NONZERO-NORM. A zero vector
(e.g. a padding row) makes cosine 0/0, where engines legitimately differ
(Spark SQL NULL, numpy NaN, DuckDB NaN/Inf) — filter such rows upstream;
``x81_embedding_alignment`` is the audit that surfaces coverage/padding
problems before any similarity stage runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.functions.vectors import (
    dot_product,
    l2_norm,
    max_abs,
    squared_l2,
)
from smfg_datawarehouse_spark.queries import MICRO, micro, micro_np, register, t
from smfg_datawarehouse_spark.session import ensure_min_parallelism, local_rows_df

# ---------------------------------------------------------------------------
# numpy kernels (bit-exact with the DuckDB list_reduce left-to-right fold)
# ---------------------------------------------------------------------------


def _lr_cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n×d, m×d) → n×m cosine matrix, per-dimension left-to-right fold."""
    n, m, dim = a.shape[0], b.shape[0], a.shape[1]
    dot = np.zeros((n, m))
    an = np.zeros(n)
    bn = np.zeros(m)
    for i in range(dim):
        dot += np.outer(a[:, i], b[:, i])
        an += a[:, i] * a[:, i]
        bn += b[:, i] * b[:, i]
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot / np.outer(np.sqrt(an), np.sqrt(bn))


def _topk_rows(
    cos: np.ndarray,
    nid: np.ndarray,
    qids: np.ndarray,
    k: int,
    extra_mask: np.ndarray | None = None,
) -> pd.DataFrame:
    """Per-query top-k from a (corpus_batch × queries) score matrix.

    Selection order (cos desc, neighbor_id asc) matches the global window,
    so partial top-k commutes with the final one. Non-finite scores
    (zero-norm vectors) are excluded, as the oracle ranks NULLs last.
    ``extra_mask`` (corpus_batch × queries, True = exclude) lets callers
    add predicates like x64's different-label constraint.
    """
    sel = np.where(np.isfinite(cos), cos, -np.inf)
    sel[nid[:, None] == qids[None, :]] = -np.inf  # self-match exclusion
    if extra_mask is not None:
        sel[extra_mask] = -np.inf
    b = sel.shape[0]
    kk = min(k, b)
    out_q, out_n, out_c = [], [], []
    for j in range(sel.shape[1]):
        col = sel[:, j]
        cand = np.argpartition(-col, kk - 1)[:kk] if kk < b else np.arange(b)
        order = cand[np.lexsort((nid[cand], -col[cand]))]
        keep = order[col[order] > -np.inf]
        out_q.append(np.full(len(keep), qids[j], dtype=np.int64))
        out_n.append(nid[keep])
        out_c.append(cos[keep, j])
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q) if out_q else np.array([], dtype=np.int64),
            "neighbor_id": np.concatenate(out_n) if out_n else np.array([], dtype=np.int64),
            "cos_sim": np.concatenate(out_c) if out_c else np.array([], dtype=np.float64),
        }
    )


def _cosine_cells_np(
    vecs: DataFrame, cent_rows: list[tuple[int, list[float]]], carry_v: bool
) -> DataFrame:
    """(vec_id, v) → nearest-centroid-by-cosine assignment: (cid, vec_id[, v]).

    The l25-certified numpy kernel (r9), factored out in r10 so every
    IVF-style assignment (l25 build, x106 audit) shares ONE bit-exactness
    contract instead of each re-running the interpreted Catalyst fold:

    - dot and both norms accumulate per-dimension in ascending order
      (``acc = acc + v[i]*c[i]``) — the IEEE-identical left fold of the
      ``aggregate∘zip_with`` expression form and DuckDB's ``list_reduce``;
    - centroids evaluate in ascending-cid order and ``argmax`` keeps the
      FIRST max — ``max_by((cos, -cid))`` / ``ROW_NUMBER() OVER (ORDER BY
      cos DESC, cid)`` tie semantics; NaN stays maximal in both engines
      (numpy argmax returns the first NaN index, Spark sorts NaN last
      under DESC);
    - a zero-norm vector RAISES — the ANSI DIVIDE_BY_ZERO contract of
      the expression form (session runs ANSI mode), never a silent NaN.

    Centroids ride the task closure: k×dim doubles — the same bytes the
    expression form shipped as a literal tree, collected once by the
    caller under the driver-size contract. An empty centroid set yields
    an EMPTY frame (the cross join's behavior); callers that must fail
    on it (l25's cell-layout check) raise before calling.
    """
    cent_rows = sorted(cent_rows)
    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    C = (
        np.stack([np.asarray(v, dtype=np.float64) for _, v in cent_rows])
        if cent_rows
        else np.zeros((0, 1))
    )
    cn_acc = np.zeros(len(C))
    for i in range(C.shape[1]):
        cn_acc = cn_acc + C[:, i] * C[:, i]
    cn = np.sqrt(cn_acc)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(cids) == 0:
                continue
            V = np.stack(pdf["v"].values).astype(np.float64)
            vn_acc = np.zeros(len(V))
            dot = np.zeros((len(V), len(C)))
            for i in range(V.shape[1]):
                vi = V[:, i]
                vn_acc = vn_acc + vi * vi
                dot = dot + vi[:, None] * C[:, i][None, :]
            denom = np.sqrt(vn_acc)[:, None] * cn[None, :]
            if np.any(denom == 0.0):
                raise ArithmeticError(
                    "zero-norm vector in IVF assignment (ANSI "
                    "divide-by-zero contract)"
                )
            cos = dot / denom
            pick = np.argmax(cos, axis=1)  # first max = lowest cid
            out = {"cid": cids[pick], "vec_id": pdf["vec_id"].values}
            if carry_v:
                out["v"] = pdf["v"].values
            yield pd.DataFrame(out)

    schema = "cid long, vec_id long" + (", v array<double>" if carry_v else "")
    return vecs.mapInPandas(assign, schema)


#: Hard ceiling on driver-collected vector sets (ANN query batches and IVF
#: centroid tables). The brute-force/IVF contract broadcasts the *query*
#: side as a numpy matrix — fine for eval-sized batches, a driver OOM for
#: corpus-sized ones. Above this, route the large side through the IVF /
#: LSH paths (or swap roles: score the big set as the corpus).
MAX_COLLECTED_VECTORS = 100_000


def _collect_matrix(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_rows: int | None = None,
    extra: tuple[Column, ...] = (),
) -> tuple[np.ndarray, ...]:
    """Collect a small vector table to ``(ids, matrix, *extras)``, sorted
    by id — the one driver collect of the vector family.

    Enforces the small-side contract: raises ``ValueError`` when the table
    exceeds ``max_rows`` (default :data:`MAX_COLLECTED_VECTORS`, read at
    call time; checked with a ``limit(max+1).count()`` probe — never
    collects the oversized set). ``extra`` scalar columns ride the same
    collect, one numpy array each (sq8's code scales, x64's labels). An
    empty table yields empty ids and a 0×0 matrix; callers that must
    fail on it (l25's cell-layout check) raise themselves."""
    if max_rows is None:
        max_rows = MAX_COLLECTED_VECTORS
    probe = df.limit(max_rows + 1).count()
    if probe > max_rows:
        raise ValueError(
            f"refusing to collect >{max_rows} vectors to the driver "
            f"({id_col}/{vec_col}); ANN query batches must be driver-sized — "
            "for large query sets use ivf_topk with the big side as corpus, "
            "or cosine_near_dup's LSH banding"
        )
    rows = df.select(
        F.col(id_col).cast("long"),
        F.col(vec_col).cast("array<double>"),
        *extra,
    ).collect()
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = (
        np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
        if rows
        else np.zeros((0, 0))
    )
    extras = [np.array([r[2 + j] for r in rows]) for j in range(len(extra))]
    return (ids, mat, *extras)


def _vectors(df: DataFrame, id_col: str, vec_col: str, id_as: str, vec_as: str) -> DataFrame:
    """``(id long, vector array<double>)`` under the given names — the
    typed shape every scorer and rerank reads."""
    return df.select(
        F.col(id_col).cast("long").alias(id_as),
        F.col(vec_col).cast("array<double>").alias(vec_as),
    )


def _scan_topk(
    frame: DataFrame,
    payload: tuple,
    score_batch,
    k: int,
    keys: tuple[str, ...] = ("query_id",),
) -> DataFrame:
    """The one vector top-k scan every ANN scorer runs.

    ``payload`` — the driver-side query arrays, probe maps or ADC tables —
    is broadcast once. ``frame`` streams through ONE ``mapInPandas`` pass
    (widened by :func:`ensure_min_parallelism`); for each non-empty Arrow
    batch ``score_batch(pdf, *payload)`` yields partial top-k frames of
    ``(*keys, neighbor_id, cos_sim)``. One ``(*keys, cos_sim DESC,
    neighbor_id)`` window then resolves the global top-``k``:
    ``(*keys, neighbor_id, cos_sim, rank)``. Partial selection uses the
    window's own order (:func:`_topk_rows`), so the result is the same
    for any partitioning of ``frame``; nothing pair-shaped is shuffled —
    the window sees only partitions × queries × k rows."""
    bc = frame.sparkSession.sparkContext.broadcast(payload)

    def score_partition(batches):
        args = bc.value
        for pdf in batches:
            if len(pdf):
                yield from score_batch(pdf, *args)

    schema = "".join(f"{c} long, " for c in keys) + "neighbor_id long, cos_sim double"
    partial = ensure_min_parallelism(frame).mapInPandas(score_partition, schema)
    w = W.partitionBy(*keys).orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*keys, "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def _exact_rerank(
    cands: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine top-``k`` over an ANN candidate set — the second stage
    of the SQ8, PQ and JL ladders.

    ``cands`` is ``(query_id, neighbor_id, *extra)`` (Q × shortlist rows);
    it and the query vectors are broadcast into the corpus, so full
    vectors are touched only for the candidates. The cosine is the
    left-to-right expression fold (``functions.vectors``), bit-exact with
    the oracle's ``list_reduce``. Non-finite scores (zero-norm vectors)
    are dropped: Spark's DESC sort would rank NaN first, the oracle ranks
    NULL last. Returns ``(query_id, neighbor_id, *extra, cos_sim, rank)``."""
    extra = [c for c in cands.columns if c not in ("query_id", "neighbor_id")]
    qv, cv = F.col("qv"), F.col("cv")
    scored = (
        _vectors(corpus, "vec_id", vec_col, "neighbor_id", "cv")
        .join(F.broadcast(cands), "neighbor_id")
        .join(F.broadcast(_vectors(queries, "vec_id", vec_col, "query_id", "qv")), "query_id")
        .select(
            "query_id", "neighbor_id", *extra,
            (dot_product(qv, cv) / (l2_norm(qv) * l2_norm(cv))).alias("cos_sim"),
        )
        .where(
            F.col("cos_sim").isNotNull()
            & ~F.isnan("cos_sim")
            & (F.abs("cos_sim") != float("inf"))
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", *extra, "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# brute-force exact top-k
# ---------------------------------------------------------------------------


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_sim, rank)."""

    def score(pdf, qids, qmat):
        nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        cm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
        yield _topk_rows(_lr_cosine(cm, qmat), nid, qids, k)

    return _scan_topk(
        _vectors(corpus, id_col, vec_col, "neighbor_id", "cv"),
        _collect_matrix(queries, id_col, vec_col),
        score,
        k,
    )


# ---------------------------------------------------------------------------
# IVF — coarse-quantized ANN (the scale path)
# ---------------------------------------------------------------------------


def ivf_topk(corpus: DataFrame, queries: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF approximate top-10: probe the 3 nearest centroid cells.

    Assignment = argmax cosine over centroids (ties → lowest centroid id;
    centroid matrix is sorted by id so ``argmax``'s first-max rule matches
    the oracle's ``ORDER BY cos DESC, cid`` exactly). One corpus scan:
    each batch assigns its rows to cells, then scores rows only against the
    queries probing that cell — compute scales with 3/n_centroids,
    never N×Q. Recall is deterministic, so the DuckDB replay hash-matches.
    """
    cids, cmat = _collect_matrix(centroids, "vec_id", "embedding")
    qids, qmat = _collect_matrix(queries, "vec_id", "embedding")
    # driver-side probe: per query the 3 best cells (cos desc, cid asc)
    qcos = _lr_cosine(qmat, cmat)
    qsel = np.where(np.isfinite(qcos), qcos, -np.inf)
    cell_to_q: dict[int, list[int]] = {}
    for qi in range(len(qids)):
        order = np.lexsort((cids, -qsel[qi]))[:3]
        for ci in order:
            cell_to_q.setdefault(int(ci), []).append(qi)

    def score(pdf, ids, qm, cm_, c2q):
        nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        vm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
        acos = _lr_cosine(vm, cm_)
        assign = np.argmax(np.where(np.isfinite(acos), acos, -np.inf), axis=1)
        for cell in np.unique(assign):
            qidx = c2q.get(int(cell))
            if not qidx:
                continue
            rows = np.flatnonzero(assign == cell)
            yield _topk_rows(_lr_cosine(vm[rows], qm[qidx]), nid[rows], ids[qidx], 10)

    return _scan_topk(
        _vectors(corpus, "vec_id", "embedding", "neighbor_id", "cv"),
        (qids, qmat, cmat, cell_to_q),
        score,
        10,
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH near-duplicate pairs
# ---------------------------------------------------------------------------

HYPER_TABLES = 4
HYPER_BITS = 4


def hyperplane_weight(h: int, i: int) -> float:
    """±1 weight of hyperplane ``h`` for dimension ``i`` — derived from an
    integer hash, reproducible in any engine (baked as literals into the
    oracle SQL). No runtime RNG."""
    x = (h * 1_000_003 + i * 7919 + 12345) & 0xFFFFFFFF
    x ^= x >> 16
    x = (x * 0x45D9F3B) & 0xFFFFFFFF
    x ^= x >> 16
    return 1.0 if x & 1 else -1.0


def hyperplanes(n_tables: int, bits: int, dim: int) -> list[list[float]]:
    return [
        [hyperplane_weight(t * bits + j, i) for i in range(dim)]
        for t in range(n_tables)
        for j in range(bits)
    ]


def cosine_near_dup(corpus: DataFrame, dim: int) -> DataFrame:
    """Near-duplicate vector pairs: LSH-banded candidates, exact verify.

    Each vector gets one bucket id per hash table (``HYPER_BITS`` sign bits
    of deterministic hyperplane projections). Same-bucket pairs in ANY of
    the ``HYPER_TABLES`` tables are verified with exact cosine ≥ 0.45.
    Shuffle = one groupBy per (table, bucket); per-bucket all-pairs verify
    runs vectorized inside ``applyInPandas``. At scale, raise the bits
    (smaller buckets / lower recall per table) and the tables (recall back
    up) — candidate cost is
    Σ|bucket|², tunable independently of N². Returns (vec_a, vec_b,
    cos_sim), vec_a < vec_b, deduped across tables.
    """
    planes = np.array(hyperplanes(HYPER_TABLES, HYPER_BITS, dim))  # (tables*bits, dim)
    spark = corpus.sparkSession
    bp = spark.sparkContext.broadcast(planes)
    nh = HYPER_TABLES * HYPER_BITS

    sig_schema = "vec_id long, v array<double>, " + ", ".join(
        f"b{t} long" for t in range(HYPER_TABLES)
    )

    def bucketize(it):
        pl = bp.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            vm = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            proj = np.zeros((vm.shape[0], nh))
            for i in range(dim):
                proj += np.outer(vm[:, i], pl[:, i])
            bits_ = (proj >= 0).astype(np.int64)
            out = {"vec_id": pdf["vec_id"], "v": pdf["v"]}
            for t_ in range(HYPER_TABLES):
                acc = np.zeros(vm.shape[0], dtype=np.int64)
                for j in range(HYPER_BITS):
                    acc += bits_[:, t_ * HYPER_BITS + j] << j
                out[f"b{t_}"] = acc
            yield pd.DataFrame(out)

    sig = (
        ensure_min_parallelism(
            corpus.select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("embedding").cast("array<double>").alias("v"),
            )
        )
        .mapInPandas(bucketize, sig_schema)
    )
    # every row carries ALL table buckets (b0..bN): the verifier uses them
    # to emit each pair only in its FIRST colliding table, so the output is
    # globally duplicate-free WITHOUT a distinct() — one whole shuffle round
    # on the verified pairs removed vs the emit-everywhere-then-dedup shape
    bcols = [f"b{t_}" for t_ in range(HYPER_TABLES)]
    stacked = sig.select(
        "vec_id",
        "v",
        *bcols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t_).alias("tbl"), F.col(f"b{t_}").alias("bucket"))
                    for t_ in range(HYPER_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "v", *bcols, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []}).astype(
            {"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        tbl = int(pdf["tbl"].iloc[0])
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        iu, ju = np.triu_indices(len(ids), k=1)
        # first-collision ownership: skip pairs that already co-bucket in an
        # earlier table (that table's group verifies them)
        keep = np.ones(len(iu), dtype=bool)
        for t_ in range(tbl):
            bt = pdf[f"b{t_}"].to_numpy(dtype=np.int64)
            keep &= bt[iu] != bt[ju]
        if not keep.any():
            return empty
        iu, ju = iu[keep], ju[keep]
        vm = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
        cos = _lr_cosine(vm, vm)
        with np.errstate(invalid="ignore"):
            m = cos[iu, ju] >= 0.45
        return pd.DataFrame(
            {"vec_a": ids[iu[m]], "vec_b": ids[ju[m]], "cos_sim": cos[iu[m], ju[m]]}
        )

    return stacked.groupBy("tbl", "bucket").applyInPandas(
        verify, "vec_a long, vec_b long, cos_sim double"
    )


# ---------------------------------------------------------------------------
# registered queries + oracles
# ---------------------------------------------------------------------------

_DCOS = (
    "list_reduce(list_transform(list_zip({a}, {b}), s -> s[1] * s[2]), (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_transform({b}, x -> x * x), (x, y) -> x + y)))"
)


def _dcos(a: str, b: str) -> str:
    return _DCOS.format(a=a, b=b)


_TOPK_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id % 25 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_dcos('q.qv', 'c.v')} AS cos_sim
      FROM vecs c CROSS JOIN q
      WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
"""


@register("x10_ann_bruteforce_topk", _TOPK_ORACLE)
def x10_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Exact cosine top-10 neighbors for every 25th vector."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % 25 == 0)
    return brute_force_topk(e, queries, k=10)


_IVF_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, v AS cv FROM vecs WHERE vec_id % 29 = 7),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT t.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                  ORDER BY {_dcos('t.v', 'c.cv')} DESC, c.cid) AS rn
        FROM vecs t CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id % 25 = 0),
    probe AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_dcos('q.qv', 'c.cv')} DESC, c.cid) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= 3
    ),
    scored AS (
      SELECT q.query_id, tv.vec_id AS neighbor_id,
             {_dcos('q.qv', 'tv.v')} AS cos_sim
      FROM q
      JOIN probe p ON p.query_id = q.query_id
      JOIN assign a ON a.cid = p.cid
      JOIN vecs tv ON tv.vec_id = a.vec_id
      WHERE tv.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
"""


@register("x11_ann_ivf_topk", _IVF_ORACLE)
def x11_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] IVF ANN top-10: centroids = every 29th vector (deterministic
    coarse quantizer), nprobe=3. The oracle replays assignment + probing
    exactly, so even the *approximation* is hash-checked."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % 25 == 0)
    cents = e.where(F.col("vec_id") % 29 == 7)
    return ivf_topk(e, queries, cents)


def _near_dup_oracle() -> str:
    planes = hyperplanes(HYPER_TABLES, HYPER_BITS, 64)
    bucket_exprs = []
    for t_ in range(HYPER_TABLES):
        terms = []
        for j in range(HYPER_BITS):
            w = planes[t_ * HYPER_BITS + j]
            lit = "[" + ", ".join(f"{x:.1f}" for x in w) + "]"
            dot = (
                f"list_reduce(list_transform(list_zip(v, {lit}), s -> s[1] * s[2]),"
                f" (x, y) -> x + y)"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {2**j} ELSE 0 END)")
        bucket_exprs.append("(" + " + ".join(terms) + f") AS b{t_}")
    buckets = ",\n             ".join(bucket_exprs)
    same = " OR ".join(f"a.b{t_} = b.b{t_}" for t_ in range(HYPER_TABLES))
    return f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    sig AS (
      SELECT vec_id, v,
             {buckets}
      FROM vecs
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_dcos('a.v', 'b.v')} AS cos_sim
    FROM sig a JOIN sig b
      ON a.vec_id < b.vec_id AND ({same})
    WHERE {_dcos('a.v', 'b.v')} >= 0.45
"""


@register("x05_cosine_near_dup", _near_dup_oracle())
def x05_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Embedding-cosine near-duplicate pairs via random-hyperplane LSH
    banding (4 tables × 4 bits, deterministic hyperplanes baked into the
    oracle as literals) + exact cosine ≥ 0.45 verification."""
    e = t(spark, sf_dir, "embeddings")
    return cosine_near_dup(e, dim=64)


_RECALL_ORACLE = f"""
    WITH exact AS ({_TOPK_ORACLE}),
    approx AS ({_IVF_ORACLE})
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / 10 AS recall_at_10
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
"""


@register("x12_ivf_recall_at_10", _RECALL_ORACLE)
def x12_ivf_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] In-engine ANN quality evaluation: recall@10 of the IVF index vs
    the exact brute-force ground truth, per query — the measurement loop an
    embedding pipeline runs when tuning nprobe/centroids. Composes the two
    oracle-checked operators; ratio of exact ints, so bit-stable."""
    exact = x10_ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = x11_ann_ivf_topk(spark, sf_dir).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg((F.count("a_nid").cast("double") / 10).alias("recall_at_10"))
    )


@register(
    "x08_label_centroids",
    """
    WITH ex AS (
      SELECT label,
             unnest(embedding) AS val,
             unnest(range(len(embedding))) AS dim
      FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(dim AS BIGINT) AS dim,
           CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
                AS DOUBLE) / 1000000.0 / COUNT(*) AS centroid_val,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM ex GROUP BY 1, 2
    """,
)
def x08_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Per-label embedding centroids (long form: one row per label ×
    dimension) — the vector-aggregation primitive behind IVF training and
    class-prototype similarity. posexplode fans each vector into (dim, val)
    rows, but partial aggregation collapses them map-side to |labels|×dim
    rows before the one small shuffle — at 100 TB the shuffle volume is the
    centroid table, not the corpus. Per-dimension sums accumulate in exact
    integer micro-units (``floor(x·1e6 + 0.5)`` — identical IEEE ops on any
    engine, same convention as the stateful streaming accumulator), so
    centroids are bit-identical at any partition count. Float→DECIMAL casts
    are NOT used here: Spark and DuckDB resolve their decimal rounding ties
    differently for float inputs."""
    from smfg_datawarehouse_spark.queries import t

    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("dim", "val"),
    )
    return (
        ex.groupBy("label", F.col("dim").cast("long").alias("dim"))
        .agg(
            (
                F.sum(micro(F.col("val").cast("double"))).cast("double")
                / 1000000.0
                / F.count(F.lit(1))
            ).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


@register(
    "x13_embedding_quantization",
    """
    WITH xd AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), scaled AS (
      SELECT vec_id, v, CAST(len(v) AS BIGINT) AS dim,
             list_reduce(list_transform(v, x -> abs(x)),
                         (a, b) -> greatest(a, b)) AS max_abs,
             list_reduce(list_transform(v, x -> abs(x)),
                         (a, b) -> greatest(a, b)) / 127.0 AS scale
      FROM xd
    )
    SELECT vec_id, dim, max_abs, scale,
           CASE WHEN max_abs = 0.0 THEN 0.0 ELSE
             list_reduce(
               list_transform(v, x ->
                 (x - greatest(-127.0, least(127.0, floor(x / scale + 0.5)))
                    * scale)
                 * (x - greatest(-127.0, least(127.0, floor(x / scale + 0.5)))
                    * scale)),
               (a, b) -> a + b)
           END AS sq_err
    FROM scaled
    """,
)
def x13_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Symmetric int8 vector quantization with per-vector scale
    (max-abs / 127 — the faiss/SQ8 storage layout that cuts an embedding
    lake 4x) plus exact reconstruction error, computed fully in-plan: a
    scan-side expression per row, ZERO shuffles, so at 100 TB it runs at
    parquet read speed. Rounding is floor(x/scale + 0.5) (half-up, one
    IEEE divide) and the residual sum-of-squares folds left-to-right —
    both bit-identical to the DuckDB ``list_reduce`` oracle at any
    parallelism. The [-127, 127] clamp keeps the code domain symmetric
    (no -128), matching standard symmetric-quantizer practice."""
    from smfg_datawarehouse_spark.queries import t

    emb = t(spark, sf_dir, "embeddings")
    xd = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    amax = max_abs(F.col("v"))
    scaled = xd.select(
        "vec_id",
        F.size("v").cast("long").alias("dim"),
        "v",
        amax.alias("max_abs"),
        (amax / 127.0).alias("scale"),
    )
    scale = F.col("scale")

    def _resid(x):
        q = F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.floor(x / scale + 0.5))
        )
        return (x - q * scale) * (x - q * scale)

    sq_err = F.when(F.col("max_abs") == 0.0, F.lit(0.0)).otherwise(
        F.aggregate(
            F.transform(F.col("v"), _resid), F.lit(0.0), lambda a, b: a + b
        )
    )
    return scaled.select("vec_id", "dim", "max_abs", "scale", sq_err.alias("sq_err"))


@register(
    "x42_embedding_dim_stats",
    """
    WITH ex AS (
      SELECT unnest(embedding) AS val,
             unnest(range(len(embedding))) AS dim
      FROM embeddings
    ), u AS (
      SELECT dim,
             CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS uv
      FROM ex
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(uv) AS DOUBLE) / 1000000.0 AS min_val,
           CAST(MAX(uv) AS DOUBLE) / 1000000.0 AS max_val,
           CAST(SUM(uv) AS DOUBLE) / 1000000.0 / COUNT(*) AS mean_val,
           sqrt(greatest(
             (CAST(SUM(uv * uv) AS DOUBLE)
              - CAST(SUM(uv) AS DOUBLE) * CAST(SUM(uv) AS DOUBLE) / COUNT(*))
             / COUNT(*), 0.0)) / 1000000.0 AS std_val
    FROM u GROUP BY dim
    """,
)
def x42_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Per-dimension embedding statistics (min/max/mean/std) across the
    corpus — the feature-drift monitor run before/after an embedding-model
    swap (a dimension whose distribution shifts flags a model or pipeline
    change; a zero-std dimension flags dead capacity). One posexplode +
    one (dim)-keyed rollup: |vectors| x dim rows shuffle-reduced map-side
    to |dim| partials — at 100 TB this is a single pass at scan speed.
    Values quantize to exact micro-unit BIGINTs (floats re-round
    differently in decimal across engines; ints don't), so SUM and
    SUM(sq) are exact integers; mean/variance/sqrt are then a fixed
    chain of IEEE ops on exactly-representable operands — bit-stable at
    any parallelism. greatest(.., 0) clamps the catastrophic-cancellation
    negative-zero case."""
    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(F.col("embedding")).alias("dim", "val")
    ).select(
        F.col("dim").cast("long").alias("dim"),
        micro(F.col("val").cast("double")).alias("uv"),
    )
    s = F.sum("uv").cast("double")
    ssq = F.sum(F.col("uv") * F.col("uv")).cast("double")
    n = F.count(F.lit(1))
    var = F.greatest((ssq - s * s / n) / n, F.lit(0.0))
    return ex.groupBy("dim").agg(
        n.cast("long").alias("n"),
        (F.min("uv").cast("double") / 1e6).alias("min_val"),
        (F.max("uv").cast("double") / 1e6).alias("max_val"),
        (s / 1e6 / n).alias("mean_val"),
        (F.sqrt(var) / 1e6).alias("std_val"),
    )


@register(
    "x43_centroid_distances",
    """
    WITH ex AS (
      SELECT label,
             unnest(embedding) AS val,
             unnest(range(len(embedding))) AS dim
      FROM embeddings
    ), cen AS (
      SELECT label, dim,
             CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5)
                           AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*) AS c
      FROM ex GROUP BY label, dim
    )
    SELECT CAST(a.label AS BIGINT) AS label_a,
           CAST(b.label AS BIGINT) AS label_b,
           sqrt(CAST(SUM(CAST(floor(
                  (a.c - b.c) * (a.c - b.c) * 1e15 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e15) AS l2_dist
    FROM cen a JOIN cen b ON a.dim = b.dim AND a.label < b.label
    GROUP BY a.label, b.label
    """,
)
def x43_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Pairwise L2 distance between label centroids — the class-
    separation / confusion-structure probe run on embedding spaces (labels
    whose centroids collapse together predict classifier confusion and
    mislabeled data). Builds on x08's exact micro-unit centroids; the
    pair join keys on DIM (each dim's 10 label values self-join to 45
    pairs in-partition), so the shuffled relation is |labels| x |dims| —
    centroid-sized, NEVER vector-count-sized, and the per-pair sum
    reduces map-side. Each centroid is exactly derived (micro-int / 1e6 /
    count) and each squared gap is a fixed IEEE chain; the cross-dim sum
    would be order-dependent in double, so gaps quantize to femto-unit
    BIGINTs (floor(g2*1e15 + 0.5); 64 dims x <=4e15 fits long) and the
    sum is EXACT integer — sqrt of one exactly-summed value, bit-stable
    at any parallelism."""
    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "val")
    ).select(
        "label",
        "dim",
        micro(F.col("val").cast("double")).alias("uv"),
    )
    cen = ex.groupBy("label", "dim").agg(
        (F.sum("uv").cast("double") / 1e6 / F.count(F.lit(1))).alias("c")
    )
    a = cen.select(
        F.col("label").cast("long").alias("label_a"),
        F.col("dim").alias("dim_a"),
        F.col("c").alias("ca"),
    )
    b = cen.select(
        F.col("label").cast("long").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("c").alias("cb"),
    )
    gap2 = (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
    g2u = F.floor(gap2 * 1e15 + 0.5).cast("long")
    return (
        a.join(b, (F.col("dim_a") == F.col("dim_b")) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(F.sqrt(F.sum(g2u).cast("double") / 1e15).alias("l2_dist"))
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication by embedding clusters
# ---------------------------------------------------------------------------


def semantic_dedup(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): drop semantically
    redundant items by clustering embeddings and removing, within each
    cluster, every vector that has a higher-priority (lower-id) neighbor
    with cosine ≥ 0.3.

    Scale shape — the whole point of clustering first: pairwise cosine is
    confined to cells, so the compute is Σ|cell|² instead of N² and no
    pair-shaped data crosses cells. One corpus scan assigns cells against
    a broadcast centroid matrix (``mapInPandas``, argmax cosine, ties →
    lowest centroid id — identical to the IVF quantizer so the oracle can
    replay it); one cell-keyed shuffle then runs the vectorized intra-cell
    dedup (``applyInPandas``). At 100 TB, raise the centroid count so
    cells stay executor-sized — recall degrades gracefully (only
    cross-cell near-dups are missed), exactly the trade the paper makes.

    Greedy lowest-id-wins: a vector is removed when ANY lower-id vector
    in its cell (removed or not) is cosine-≥ τ. Chains therefore collapse
    entirely — with A(0)≈B(1) and B(1)≈C(2) but C≉A, both B and C are
    removed (C's trigger B is itself removed). This is deliberately NOT
    check-against-survivors: it needs no iteration, and the oracle
    replays the same rule. Cosines use the left-to-right fold, bit-exact
    with the DuckDB oracle.

    Returns (vec_id, cid, keep) for every corpus vector.
    """
    cids, cmat = _collect_matrix(centroids, "vec_id", "embedding")
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((cids, cmat))

    def assign_partition(it):
        cs, cm = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            vm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            acos = _lr_cosine(vm, cm)
            cell = np.argmax(np.where(np.isfinite(acos), acos, -np.inf), axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cid": cs[cell], "v": pdf["v"]}
            )

    assigned = (
        ensure_min_parallelism(
            corpus.select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("embedding").cast("array<double>").alias("v"),
            )
        )
        .mapInPandas(assign_partition, "vec_id long, cid long, v array<double>")
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        vm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        cos = _lr_cosine(vm, vm)
        with np.errstate(invalid="ignore"):
            dup = np.triu(cos >= 0.3, k=1)  # [i, j]: i (lower id) ≥ τ j
        removed = dup.any(axis=0)
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "cid": pdf["cid"], "keep": ~removed}
        )

    return assigned.groupBy("cid").applyInPandas(
        dedup_cell, "vec_id long, cid long, keep boolean"
    )


_SEMDEDUP_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, v AS cv FROM vecs WHERE vec_id % 29 = 7),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT t.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                  ORDER BY {_dcos('t.v', 'c.cv')} DESC, c.cid) AS rn
        FROM vecs t CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    av AS (
      SELECT a.vec_id, a.cid, v.v FROM assign a JOIN vecs v USING (vec_id)
    ),
    removed AS (
      SELECT DISTINCT b.vec_id
      FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {_dcos('a.v', 'b.v')} >= 0.3
    )
    SELECT CAST(av.vec_id AS BIGINT) AS vec_id,
           CAST(av.cid AS BIGINT) AS cid,
           r.vec_id IS NULL AS keep
    FROM av LEFT JOIN removed r ON r.vec_id = av.vec_id
"""


@register("x54_semantic_dedup", _SEMDEDUP_ORACLE)
def x54_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] SemDeDup over the embeddings table: IVF-style deterministic
    cells (centroids = every 29th vector, same quantizer as x11), then
    greedy lowest-id-wins removal of intra-cell cosine-0.3 neighbors.
    Both the clustering AND the dedup decision are replayed exactly by
    the oracle — the approximation itself is hash-checked."""
    e = t(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") % 29 == 7)
    return semantic_dedup(e, cents)


# ---------------------------------------------------------------------------
# k-means (Lloyd) — IVF quantizer training as a first-class operator
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2

_KM_DIST = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
)


def _km_dist(a: str, b: str) -> str:
    return _KM_DIST.format(a=a, b=b)


def _quant(x: float) -> float:
    """Snap to the 1e-6 grid: floor(x·1e6 + 0.5)/1e6 — the same half-up
    micro-unit convention the SQL oracle and x08 centroids use, so driver-
    side Python arithmetic and engine-side folds stay bit-identical."""
    return float(micro_np(x)) / MICRO


def _km_assign(vecs: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Assign each vector to its nearest centroid — expression-only.

    Centroids enter the plan as an array-of-structs LITERAL (k×dim doubles
    — bytes, not data), so assignment is a scan-side ``transform`` +
    ``array_min`` with ZERO joins and ZERO shuffles: at 100 TB each Lloyd
    iteration costs one corpus scan plus one centroid-sized aggregation.
    Squared-L2 folds left-to-right (zip_with + aggregate), tie-break lowest
    centroid id — both replayed exactly by the oracle's ROW_NUMBER.
    ``kmeans_lloyd`` runs :func:`_km_partials_np`; this form is the
    reference the tests hold that kernel to."""
    carr = F.array(
        *[
            F.struct(
                F.lit(cid).alias("cid"),
                F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
            )
            for cid, cv in cents
        ]
    )
    scored = F.transform(
        carr,
        lambda c: F.struct(
            squared_l2(F.col("v"), c["cv"]).alias("dist"),
            c["cid"].alias("cid"),
        ),
    )
    best = F.array_min(scored)
    return vecs.select(
        "vec_id", "v", best["cid"].alias("cluster"), best["dist"].alias("dist")
    )


def _km_partials_np(
    vecs: DataFrame, cents: list[tuple[int, list[float]]], mode: str
) -> DataFrame:
    """Assignment + EXACT-INTEGER partial aggregation in one Arrow pass
    (r10, guide §2.3 "aggregate before you shuffle" — the x85 move).

    The Lloyd loop only ever consumes AGGREGATES of the assignment:

    - ``mode="update"``: per (cluster, dim) micro-unit coordinate sums —
      the old path posexploded |corpus|×dim (cluster, dim, val) rows
      through the shuffle; each batch now emits at most k×dim integer
      partial rows. floor(val·1e6 + 0.5) per element is the identical
      IEEE chain, and integer partial sums are associative, so the
      driver-side means are bit-identical at any partition count.
    - ``mode="final"``: per cluster (n, Σ micro-dist, max dist) — same
      argument (count/int-sum/max are all associative; np.max and
      Spark's MAX both treat NaN as greatest).

    Assignment is :func:`_km_assign`'s arithmetic run vectorized per Arrow
    batch instead of as k×dim interpreted Catalyst lambdas per row: for
    each dim in ascending order, ``acc += (v_i - c_i)²`` — the identical
    IEEE left fold (init 0.0, same add/sub/mul order per element).
    Tie-break: centroids are evaluated in ascending-cid order and
    ``argmin`` keeps the FIRST minimum — exactly ``array_min`` over
    struct(dist, cid). NaN dists (possible only from NaN inputs) are
    masked to +inf for the pick, matching Spark's NaN-is-greatest double
    ordering, while the dist kept for ``mode="final"`` is the raw fold
    value. ``tests/test_r10_optimizations.py`` pins both modes against
    :func:`_km_assign`.
    """
    cents = sorted(cents)
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.stack([np.asarray(cv, dtype=np.float64) for _, cv in cents])

    def partials(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].values).astype(np.float64)
            D = np.zeros((len(V), len(C)))
            for i in range(V.shape[1]):
                diff = V[:, i][:, None] - C[:, i][None, :]
                D = D + diff * diff
            pick = np.argmin(np.where(np.isnan(D), np.inf, D), axis=1)
            clusters = cids[pick]
            if mode == "update":
                micros = micro_np(V)
                out = {"cluster": [], "dim": [], "ms": [], "n": []}
                for cid in np.unique(clusters):
                    rows = micros[clusters == cid]
                    ms = rows.sum(axis=0)
                    for d in range(V.shape[1]):
                        out["cluster"].append(int(cid))
                        out["dim"].append(d)
                        out["ms"].append(int(ms[d]))
                        out["n"].append(len(rows))
                yield pd.DataFrame(out)
            else:
                dist = D[np.arange(len(V)), pick]
                md = micro_np(dist)
                out = {"cluster": [], "n": [], "msd": [], "mx": []}
                for cid in np.unique(clusters):
                    mask = clusters == cid
                    out["cluster"].append(int(cid))
                    out["n"].append(int(mask.sum()))
                    out["msd"].append(int(md[mask].sum()))
                    out["mx"].append(float(np.max(dist[mask])))
                yield pd.DataFrame(out)

    schema = (
        "cluster long, dim int, ms long, n long"
        if mode == "update"
        else "cluster long, n long, msd long, mx double"
    )
    return vecs.mapInPandas(partials, schema)


def kmeans_lloyd(emb: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """Deterministic Lloyd k-means over an embedding column — the training
    step that produces IVF coarse quantizers (x11 consumes such centroids).

    Init = the k lowest-id vectors (deterministic seeding); each round
    assigns scan-side (see :func:`_km_partials_np`) and recomputes means with
    exact integer micro-unit sums, re-snapped to the 1e-6 grid, so every
    centroid coordinate — and hence every assignment — is bit-identical
    in any engine at any parallelism. Empty clusters keep their previous
    centroid. Per-iteration driver traffic is k×dim aggregated rows (KB),
    never corpus rows. Returns per-cluster (n_vectors, inertia, max_dist),
    inertia accumulated in exact micro-units."""
    vecs = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # a compact source arrives as ONE scan split at test scale (and as
    # too-few splits after heavy filters at any scale): 3 assignment
    # passes + the per-dim update aggregation would run single-task.
    # Gate on the OBSERVED partition count (VERDICT r9 item 4 — never an
    # unconditional corpus-wide exchange: a naturally-wide scan keeps
    # its partitioning).
    vecs = ensure_min_parallelism(vecs).cache()
    init = vecs.orderBy("vec_id").limit(KMEANS_K).collect()
    cents = [(cid, [_quant(float(x)) for x in row.v]) for cid, row in enumerate(init)]
    for _ in range(iters):
        # r10: partial-aggregate INSIDE the assignment pass — the old
        # path shipped the full assignment through Arrow and posexploded
        # |corpus|×dim rows into the shuffle just to micro-sum them
        rows = (
            _km_partials_np(vecs, cents, "update")
            .groupBy("cluster", "dim")
            .agg(F.sum("ms").alias("ms"), F.sum("n").alias("n"))
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in rows:
            means.setdefault(r.cluster, {})[r.dim] = _quant(
                float(r.ms) / 1000000.0 / r.n
            )
        cents = [
            (cid, [means[cid][d] for d in range(len(cv))] if cid in means else cv)
            for cid, cv in cents
        ]
    out = (
        _km_partials_np(vecs, cents, "final")
        .groupBy("cluster")
        .agg(
            F.sum("n").alias("n_vectors"),
            (F.sum("msd").cast("double") / 1000000.0).alias("inertia"),
            F.max("mx").alias("max_dist"),
        )
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "n_vectors",
            "inertia",
            "max_dist",
        )
    )
    return out


def _km_iter_sql(prev: str, n: int) -> str:
    return f"""
    a{n} AS (
      SELECT vec_id, v, cid FROM (
        SELECT t.vec_id, t.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                  ORDER BY {_km_dist('t.v', 'c.cv')}, c.cid) AS rn
        FROM vecs t CROSS JOIN {prev} c
      ) WHERE rn = 1
    ),
    m{n} AS (
      SELECT cid, dim,
             CAST(SUM(CAST(floor(val * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / COUNT(*) AS mean
      FROM (SELECT cid, unnest(v) AS val, unnest(range(len(v))) AS dim FROM a{n})
      GROUP BY cid, dim
    ),
    c{n} AS (
      SELECT p.cid, COALESCE(mm.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN (
        SELECT cid, list(floor(mean * 1000000.0 + 0.5) / 1000000.0
                         ORDER BY dim) AS cv
        FROM m{n} GROUP BY cid
      ) mm ON mm.cid = p.cid
    )"""


_KMEANS_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             list_transform(v, x -> floor(x * 1000000.0 + 0.5) / 1000000.0) AS cv
      FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT {KMEANS_K})
    ),{_km_iter_sql('c0', 1)},{_km_iter_sql('c1', 2)},
    af AS (
      SELECT vec_id, cid, dist FROM (
        SELECT t.vec_id, c.cid, {_km_dist('t.v', 'c.cv')} AS dist,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                  ORDER BY {_km_dist('t.v', 'c.cv')}, c.cid) AS rn
        FROM vecs t CROSS JOIN c2 c
      ) WHERE rn = 1
    )
    SELECT CAST(cid AS BIGINT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CAST(floor(dist * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0 AS inertia,
           MAX(dist) AS max_dist
    FROM af GROUP BY cid
"""


@register("x57_kmeans_lloyd", _KMEANS_ORACLE)
def x57_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Deterministic Lloyd k-means (k=8, 2 update rounds) over the
    embeddings corpus — IVF-quantizer training as a certified operator.
    The oracle replays init, both assignment+update rounds, and the final
    assignment exactly (micro-unit centroid grid), so even the iterative
    algorithm is hash-checked end to end."""
    e = t(spark, sf_dir, "embeddings")
    return kmeans_lloyd(e)


# ---------------------------------------------------------------------------
# SQ8 two-stage ANN: int8-compressed coarse scan + exact rerank
# ---------------------------------------------------------------------------

_SEMCON_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    ev AS (
      SELECT d.doc_id, d.source, v.v
      FROM documents d JOIN vecs v ON v.vec_id = d.doc_id
      WHERE d.source IN ('src0', 'src1')
    ),
    tr AS (
      SELECT d.doc_id, v.v
      FROM documents d JOIN vecs v ON v.vec_id = d.doc_id
      WHERE d.source NOT IN ('src0', 'src1')
    ),
    scored AS (
      SELECT ev.doc_id AS eval_doc_id, ev.source,
             tr.doc_id AS nearest_train_doc,
             {_dcos('ev.v', 'tr.v')} AS cos_sim
      FROM ev CROSS JOIN tr
    )
    SELECT eval_doc_id, source, nearest_train_doc, cos_sim,
           cos_sim >= 0.8 AS contaminated
    FROM (
      SELECT eval_doc_id, source, nearest_train_doc, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY eval_doc_id
                                ORDER BY cos_sim DESC, nearest_train_doc) AS rn
      FROM scored
    ) WHERE rn = 1
"""


@register("x63_semantic_contamination", _SEMCON_ORACLE)
def x63_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Semantic (embedding-level) eval contamination: for every
    held-out eval document (src0/src1 — the same split x58 checks
    LEXICALLY with 4-grams), find its nearest TRAINING document by cosine
    and flag pairs above 0.8 — catching paraphrased/translated eval
    leakage that n-gram overlap misses. Together x58+x63 are the standard
    two-level decontamination gate (e.g. GPT-3 app. C lexically, SemDeDup
    -style embedding checks semantically).

    Embeddings attach by doc_id = vec_id (the fixture's 1:1 layout). The
    eval side is small by contract → broadcast as the query matrix of
    :func:`brute_force_topk`: ONE streaming pass over the train corpus,
    per-partition top-1, nothing pair-shaped shuffled. At 100 TB the
    train-side doc↔embedding join is id-keyed (co-partitioned lake
    layout, cf. l04 bucketing); here AQE broadcasts it."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    emb = t(spark, sf_dir, "embeddings")
    is_eval = F.col("source").isin("src0", "src1")
    ev = (
        emb.join(docs.where(is_eval), emb.vec_id == docs.doc_id)
        .select("doc_id", "embedding")
    )
    tr = (
        emb.join(docs.where(~is_eval), emb.vec_id == docs.doc_id)
        .select("doc_id", "embedding")
    )
    top1 = brute_force_topk(tr, ev, id_col="doc_id", k=1)
    src = docs.where(is_eval)
    return (
        top1.join(F.broadcast(src), top1.query_id == src.doc_id)
        .select(
            F.col("query_id").alias("eval_doc_id"),
            "source",
            F.col("neighbor_id").alias("nearest_train_doc"),
            "cos_sim",
            (F.col("cos_sim") >= 0.8).alias("contaminated"),
        )
    )


def hard_negatives_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the 5
    most-similar corpus vectors with a DIFFERENT label — the examples a
    dual-encoder trainer wants in its negatives batch because they are
    maximally confusable.

    One :func:`_scan_topk` pass with the query labels broadcast beside
    the query matrix; the label constraint is applied INSIDE the scoring
    kernel so excluded same-label rows never inflate the partial
    candidate sets."""
    qids, qmat, qlab = _collect_matrix(
        queries, "vec_id", "embedding", extra=(F.col("label").cast("long"),)
    )

    def score(pdf, ids, qm, ql):
        nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        nlab = pdf["nl"].to_numpy(dtype=np.int64)
        cm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
        same_label = nlab[:, None] == ql[None, :]
        yield _topk_rows(_lr_cosine(cm, qm), nid, ids, 5, extra_mask=same_label)

    frame = corpus.select(
        F.col("vec_id").cast("long").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
        F.col("label").cast("long").alias("nl"),
    )
    return _scan_topk(frame, (qids, qmat, qlab.astype(np.int64)), score, 5)


_HARDNEG_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, label AS qlabel, v AS qv
      FROM vecs WHERE vec_id % 25 = 0
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_dcos('q.qv', 'c.v')} AS cos_sim
      FROM vecs c CROSS JOIN q
      WHERE c.vec_id <> q.query_id AND c.label <> q.qlabel
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
"""


@register("x64_hard_negative_mining", _HARDNEG_ORACLE)
def x64_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Top-5 hard negatives (most-similar DIFFERENT-label corpus
    vectors) for every 25th vector — the negatives-batch construction
    step of dual-encoder / contrastive embedding training. Label
    constraint enforced inside the partial top-k kernel; oracle replays
    it as a predicate on the exact cross join."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % 25 == 0)
    return hard_negatives_topk(e, queries)


def covariance_partials(vectors: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Per-partition partial sums for the embedding covariance matrix.

    The 100 TB shape for second-moment statistics: each partition folds its
    rows into ONE d×d integer accumulator (Arrow-batched numpy outer
    products, chunked so the r×d×d intermediate stays ~8 MB), and only the
    d(d+1)/2 upper-triangle partials per partition are shuffled — the
    corpus itself never moves. Per-element quantization BEFORE summation
    (``floor(x_i·x_j·1e12 + 0.5)`` / ``floor(x_i·1e9 + 0.5)``) makes every
    partial an exact integer, so the merge is associative and
    partition-count-independent — same micro-unit convention as the x08
    centroids and x57 k-means kernels.

    int64 headroom: each per-row product unit is ≤ |x|²·1e12; a partition
    partial stays exact while rows_per_partition · max(|x|²) ≪ 9.2e6 — at
    1e6-row partitions that allows |x| ≤ 3, far above unit-normalized
    embeddings. The cross-partition merge upcasts to DECIMAL(38,0).
    """
    dim_row = vectors.select(F.size("embedding").alias("d")).head()
    dim = int(dim_row["d"])

    def fold(it):
        acc12 = np.zeros((dim, dim), np.int64)
        acc1 = np.zeros(dim, np.int64)
        n = 0
        for pdf in it:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            for s in range(0, len(m), 256):
                c = m[s : s + 256]
                acc12 += (
                    np.floor(np.einsum("ri,rj->rij", c, c) * 1e12 + 0.5)
                    .astype(np.int64)
                    .sum(axis=0)
                )
                acc1 += np.floor(c * 1e9 + 0.5).astype(np.int64).sum(axis=0)
                n += len(c)
        if n == 0:
            return
        iu, ju = np.triu_indices(dim)
        yield pd.DataFrame(
            {
                "i": (iu + 1).astype("int32"),
                "j": (ju + 1).astype("int32"),
                "s12": acc12[iu, ju],
                "si": acc1[iu],
                "sj": acc1[ju],
                "n": np.full(len(iu), n, np.int64),
            }
        )

    return (
        ensure_min_parallelism(vectors.select("embedding"), n_parts)
        .mapInPandas(fold, "i int, j int, s12 long, si long, sj long, n long")
    )


@register(
    "x69_embedding_covariance",
    """
    WITH idx AS (SELECT unnest(generate_series(1, 64)) AS k),
    u AS (
      SELECT e.vec_id, k.k AS k, CAST(e.embedding[k.k] AS DOUBLE) AS x
      FROM embeddings e, idx k
    ), pairs AS (
      SELECT a.k AS i, b.k AS j,
             CAST(floor(a.x * b.x * 1e12 + 0.5) AS BIGINT) AS u12,
             CAST(floor(a.x * 1e9 + 0.5) AS BIGINT) AS ui,
             CAST(floor(b.x * 1e9 + 0.5) AS BIGINT) AS uj
      FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.k <= b.k
    ), agg AS (
      SELECT i, j, SUM(u12) AS s12, SUM(ui) AS si, SUM(uj) AS sj,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY i, j
    )
    SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
           CAST(si AS DOUBLE) / 1e9 / n AS mean_i,
           CAST(sj AS DOUBLE) / 1e9 / n AS mean_j,
           (CAST(s12 AS DOUBLE) / 1e12 / n)
             - (CAST(si AS DOUBLE) / 1e9 / n)
               * (CAST(sj AS DOUBLE) / 1e9 / n) AS cov
    FROM agg
    """,
)
def x69_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.11] Distributed covariance matrix of the embedding corpus —
    the statistics pass behind PCA / whitening / drift monitoring on a
    vector store. Upper triangle as (i, j, mean_i, mean_j, cov) rows,
    cov = E[x_i·x_j] − E[x_i]·E[x_j] with every expectation built from
    EXACT integer unit sums (see :func:`covariance_partials`), so the
    result is bit-identical to the oracle's d²-explode replay while the
    engine-side plan shuffles only |partitions| · d(d+1)/2 partial rows —
    at 100 TB the corpus is scanned once and never exploded.

    The d×d second-moment accumulation is the textbook mergeable-state
    pattern: identical to what a tree-aggregated ML summarizer does, but
    expressed as mapInPandas partials + one groupBy so it stays inside
    the engine's oracle-checkable surface."""
    e = t(spark, sf_dir, "embeddings")
    agg = (
        covariance_partials(e)
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("s12").cast("decimal(38,0)")).alias("S12"),
            F.sum(F.col("si").cast("decimal(38,0)")).alias("Si"),
            F.sum(F.col("sj").cast("decimal(38,0)")).alias("Sj"),
            F.sum("n").cast("long").alias("N"),
        )
    )
    mean_i = F.col("Si").cast("double") / 1e9 / F.col("N")
    mean_j = F.col("Sj").cast("double") / 1e9 / F.col("N")
    m2 = F.col("S12").cast("double") / 1e12 / F.col("N")
    return agg.select(
        "i",
        "j",
        mean_i.alias("mean_i"),
        mean_j.alias("mean_j"),
        (m2 - mean_i * mean_j).alias("cov"),
    )


# ---------------------------------------------------------------------------
# JL random-projection ANN (x99) and Matryoshka prefix-dim recall (x100)
# ---------------------------------------------------------------------------

_X106_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, v AS cv FROM vecs WHERE vec_id % 29 = 7),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT t.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                  ORDER BY {_dcos('t.v', 'c.cv')} DESC, c.cid) AS rn
        FROM vecs t CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    cells AS (SELECT cid, COUNT(*) AS n_assigned FROM assigned GROUP BY cid),
    tot AS (
      SELECT cid, n_assigned,
             SUM(n_assigned) OVER () AS n,
             COUNT(*) OVER () AS k
      FROM cells
    )
    SELECT cid, CAST(n_assigned AS BIGINT) AS n_assigned,
           CAST(n_assigned * k AS DOUBLE) / n AS imbalance,
           CAST(n_assigned * n_assigned AS BIGINT) AS pair_cost
    FROM tot
"""


@register("x106_ivf_cell_balance", _X106_ORACLE)
def x106_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] IVF INDEX HEALTH audit — the check that decides when to
    recluster: every vector is assigned to its nearest centroid (same
    deterministic coarse quantizer as x11, exact cosine argmax), and
    each cell reports its population, its imbalance factor
    (n·k/N — 1.0 is perfectly balanced; a hot cell inflates every probe
    that touches it), and its Σ-pair cost n² (what x54's SemDeDup pass
    pays inside the cell). Skewed cells are THE failure mode of IVF at
    100 TB — probes hit the big cells disproportionately and in-cell
    passes go quadratic — so this audit runs after every (re)build.
    Assignment is one broadcast of k centroids crossed with a single
    corpus scan + per-vector argmax window (exactly the index build's
    own cost); the rollup is cell-sized. Oracle replays assignment,
    counts, and both derived factors bit-for-bit."""
    e = t(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # r10 (guide §4.2/§2.4): the assignment ran as a k-way broadcast
    # CROSS JOIN with the cosine folded INTERPRETED per (vec, centroid)
    # pair, then a row_number window that SHUFFLED all N×k scored rows
    # (each still carrying both 64-dim vectors) just to keep rank 1.
    # The shared l25-certified numpy kernel computes the same argmax
    # scan-side: one corpus pass, zero pair rows, the only remaining
    # exchange is the cell-sized groupBy. Bit-exactness contract on
    # :func:`_cosine_cells_np` (same fold/tie/ANSI semantics the
    # expression form had); pinned in tests/test_r10_optimizations.py.
    cids, cmat = _collect_matrix(
        vecs.where(F.col("vec_id") % 29 == 7), "vec_id", "v"
    )
    cent_rows = list(zip(cids.tolist(), cmat.tolist()))
    vecs = ensure_min_parallelism(vecs)
    assigned = _cosine_cells_np(vecs, cent_rows, carry_v=False).select(
        "vec_id", "cid"
    )
    cells = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_assigned"))
    wall = W.partitionBy()
    tot = cells.select(
        "cid",
        "n_assigned",
        F.sum("n_assigned").over(wall).alias("n"),
        F.count(F.lit(1)).over(wall).alias("k"),
    )
    return tot.select(
        "cid",
        F.col("n_assigned").cast("long").alias("n_assigned"),
        ((F.col("n_assigned") * F.col("k")).cast("double") / F.col("n")).alias(
            "imbalance"
        ),
        (F.col("n_assigned") * F.col("n_assigned")).cast("long").alias("pair_cost"),
    )


@register("l25_ann_index_persistence", _IVF_ORACLE)
def l25_ann_index_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/S2/S3] ANN INDEX AS A LAKE ARTIFACT — the production IVF shape:
    build once (centroid table + corpus CLUSTERED BY CELL, written
    ``partitionBy(cid)``), query many (read the index back from disk,
    probe nprobe=3 cells per query, and let partition pruning skip every
    unprobed cell's files). x11 certifies the in-memory IVF kernel; this
    certifies the round trip through storage — same centroids, same
    deterministic assignment (exact cosine argmax in Catalyst, the form
    x106 audits), so the SAME oracle replays it bit-for-bit. The cert
    RAISES unless the query-side scan actually carries a ``cid``
    partition filter (an index that re-scans every cell is a no-op) and
    unless every cell directory landed. At 100 TB: the build is one
    corpus scan + a k-centroid broadcast; each query batch reads only
    nprobe/k of the index bytes — that I/O asymmetry, invisible in x11's
    in-memory form, is the entire point of persisting the index."""
    import os as _os

    from smfg_datawarehouse_spark.queries import _scratch_dir

    base = _scratch_dir(spark, "l25")
    cents_path = _os.path.join(base, "ivf_centroids")
    index_path = _os.path.join(base, "ivf_index")

    e = t(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # ---- build: centroids + cell-clustered corpus -------------------------
    # The centroid table is k×dim, collected ONCE under the driver-size
    # cap; the lake artifact is written from the Arrow local frame, and
    # the in-memory frame serves both the assignment and the probe, so no
    # disk re-read of the same k rows is needed.
    cids, cmat = _collect_matrix(
        vecs.where(F.col("vec_id") % 29 == 7), "vec_id", "v"
    )
    cent_rows = list(zip(cids.tolist(), cmat.tolist()))
    n_cells = len(cent_rows)
    cents = local_rows_df(spark, cent_rows, "cid long, cv array<double>")
    # k×dim rows are ONE file at any scale (k centroids) — a 32-slice
    # local-relation write costs ~0.5 s of tiny-file task overhead here
    # and lands 32 shard files for 69 rows (guide §6 small-files)
    cents.coalesce(1).write.mode("overwrite").parquet(cents_path)
    # norms are factored OUT of the pair loops below (computed once per
    # centroid/query/neighbor, not once per pair — identical IEEE values,
    # the division just reads the precomputed column)
    cents = cents.withColumn("_cn", l2_norm(F.col("cv")))
    # Assignment kernel (r9 optimization, guide §4.2; factored into the
    # shared :func:`_cosine_cells_np` in r10): the argmax over
    # |corpus|×k cosines ran as Catalyst higher-order folds
    # (aggregate∘zip_with), which allocate a zipped array per PAIR and
    # evaluate interpreted — 1.0-1.4 s of pure CPU at sf0.1. The same
    # fold now runs per BATCH in numpy inside mapInPandas (bit-exactness
    # contract documented on the kernel; pinned by
    # tests/test_r09_optimizations.py on the full fixture).
    #
    # An empty centroid set would make the numpy argmax raise an opaque
    # zero-width-axis ValueError inside the worker — fail at the driver
    # with the same cell-layout error the old expression form hit
    if n_cells == 0:
        raise RuntimeError("l25 index build landed unexpected cell layout")
    # hash-distribute on the partition key before the partitioned write
    # (Iceberg's write.distribution-mode=hash posture): the single scan
    # task otherwise writes all k cell files SEQUENTIALLY (~19 ms of
    # writer open/close per file = 1.3 s of the cert); k tasks write
    # their own cells concurrently, one file per (task, cell) either way
    (
        _cosine_cells_np(vecs, cent_rows, carry_v=True)
        .repartition(spark.sparkContext.defaultParallelism, "cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(index_path)
    )
    cell_dirs = [d for d in _os.listdir(index_path) if d.startswith("cid=")]
    # empty cells legitimately land no directory; more dirs than centroids
    # (or none at all) means the clustering write went wrong
    if not cell_dirs or len(cell_dirs) > n_cells:
        raise RuntimeError("l25 index build landed unexpected cell layout")

    # ---- query: disk index + probe-pruned scan -----------------------------
    q = vecs.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        l2_norm(F.col("v")).alias("_qn"),
    )
    qcos = dot_product(F.col("qv"), F.col("cv")) / (
        F.col("_qn") * F.col("_cn")
    )
    w2 = W.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("cid"))
    probe = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("_cos", qcos)
        .withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= 3)
        .select("query_id", "cid")
    )
    probed_cells = sorted({r["cid"] for r in probe.collect()})  # Q×nprobe ids
    idx = (
        spark.read.parquet(index_path)
        .where(F.col("cid").isin([int(c) for c in probed_cells]))
        .select(F.col("cid").cast("long").alias("cid"),
                F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"),
                l2_norm(F.col("v")).alias("_nn"))
    )
    ncos = dot_product(F.col("qv"), F.col("nv")) / (
        F.col("_qn") * F.col("_nn")
    )
    w3 = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    out = (
        probe.join(F.broadcast(q), "query_id")
        .join(idx, "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", ncos)
        .withColumn("rank", F.row_number().over(w3))
        .where(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )
    from smfg_datawarehouse_spark.plans import partition_filters

    if not any("cid" in f for f in partition_filters(out)):
        raise RuntimeError(
            "l25 query path lost its cid partition filter — the index scan "
            "would read every cell"
        )
    return out




# x142: nearest-centroid classification — the cheapest embedding-space
# classifier there is (Rocchio), and the standard fast baseline for
# "do these embeddings separate the labels at all?" before training
# anything. Doubles as the evaluation harness for labeled-centroid
# routing (the same argmin kernel IVF uses, but against class means).

_X142_ORACLE = """
    WITH vecs AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), dims AS (
      SELECT label, CAST(i AS INTEGER) AS dim, v[CAST(i AS INTEGER)] AS val
      FROM vecs, UNNEST(range(1, len(v) + 1)) AS r(i)
    ), micro AS (
      SELECT label, dim,
             SUM(CAST(floor(val * 1000000.0 + 0.5) AS BIGINT)) AS ms,
             COUNT(*) AS n
      FROM dims GROUP BY label, dim
    ), cent AS (
      SELECT label,
             list(floor(CAST(ms AS DOUBLE) / 1000000.0 / n * 1000000.0 + 0.5)
                  / 1000000.0 ORDER BY dim) AS c
      FROM micro GROUP BY label
    ), scored AS (
      SELECT vecs.vec_id, vecs.label AS true_label,
             cent.label AS cand_label,
             list_reduce(list_transform(list_zip(v, c),
                                        s -> (s[1] - s[2]) * (s[1] - s[2])),
                         (x, y) -> x + y) AS d2
      FROM vecs CROSS JOIN cent
    ), pred AS (
      SELECT vec_id, true_label, cand_label AS pred_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2, cand_label) AS rn
      FROM scored
    )
    SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM pred WHERE rn = 1 GROUP BY true_label, pred_label
"""


@register("x142_centroid_label_eval", _X142_ORACLE)
def x142_centroid_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] NEAREST-CENTROID CLASSIFIER (Rocchio) over the labeled
    embeddings — per-label class means, every vector assigned to its
    L2-nearest centroid, emitted as the CONFUSION MATRIX (true x
    predicted x count). The go/no-go probe run before any training:
    if class centroids can't separate the labels, the embedding space
    won't support the downstream classifier either — and the argmin
    kernel is byte-for-byte the IVF cell-routing step (x11/x54) pointed
    at class means instead of k-means cells.

    Determinism: class means use x57's exact micro-unit recipe — integer
    1e-6 sums per (label, dim), the mean re-snapped to the micro grid —
    so every centroid coordinate is bit-identical in any engine at any
    parallelism; distances fold per-row in dim order (left fold, same
    association as the oracle's list_reduce); argmin ties break on
    label.

    Scale shape: centroid training is ONE map-combined (label, dim)-
    keyed agg (|labels|x|dims| partials — KB); assignment broadcasts the
    |labels|-row centroid table and scans the corpus ONCE, scan-side
    argmin per row via a size-|labels| array fold, nothing pair-shaped
    shuffled; the confusion rollup is a |labels|²-key agg."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    sums = (
        e.select("label", F.posexplode("v").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(
            F.sum(micro("val")).alias("ms"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    cent = (
        sums.select(
            "label",
            "dim",
            (
                micro(F.col("ms").cast("double") / 1000000.0 / F.col("n").cast("double"))
                / 1000000.0
            ).alias("m"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )
        .select(F.col("label").alias("cand_label"), "c")
    )
    # Scan-side argmin: the |labels| centroids collapse to ONE row
    # holding an array of (cand_label, c) structs; each corpus row folds
    # over that broadcast array and takes array_min of (d2, cand_label)
    # structs — struct comparison is field-lexicographic, so ties break
    # on the smaller label exactly like the oracle's ORDER BY d2,
    # cand_label. Nothing pair-shaped is ever shuffled: the only
    # exchanges are the (label, dim) centroid agg and the |labels|²-key
    # confusion rollup.
    cent_arr = cent.agg(
        F.array_sort(F.collect_list(F.struct("cand_label", "c"))).alias(
            "cents"
        )
    )

    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda cand: F.struct(
                squared_l2(F.col("v"), cand["c"]).alias("d2"),
                cand["cand_label"].alias("cand_label"),
            ),
        )
    )
    return (
        e.crossJoin(F.broadcast(cent_arr))
        .select(
            F.col("label").alias("true_label"),
            best["cand_label"].alias("pred_label"),
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )


# x144: farthest-point (maxmin / Gonzalez) diversity sampling — pick k
# vectors that maximize the minimum pairwise spread: the standard
# coreset / diverse-subset selection for "show me k maximally different
# examples" and the 2-approximation initializer for k-center clustering
# (Gonzalez 1985; the deterministic cousin of k-means++ seeding x57
# initializes without).

_X144_K = 6


def _x144_d2(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"z -> (z[1] - z[2]) * (z[1] - z[2])), (x, y) -> x + y)"
    )


def _x144_oracle() -> str:
    parts = [
        "WITH vecs AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
        "FROM embeddings), "
        "p1 AS (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 1), "
        f"m1 AS (SELECT a.vec_id, a.v, {_x144_d2('a.v', 's.v')} AS mind "
        "FROM vecs a CROSS JOIN p1 s WHERE a.vec_id <> s.vec_id)"
    ]
    for i in range(2, _X144_K + 1):
        parts.append(
            f"p{i} AS (SELECT vec_id, v, mind FROM m{i - 1} "
            f"ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        if i < _X144_K:
            parts.append(
                f"m{i} AS (SELECT a.vec_id, a.v, "
                f"LEAST(a.mind, {_x144_d2('a.v', 'p.v')}) AS mind "
                f"FROM m{i - 1} a CROSS JOIN p{i} p "
                f"WHERE a.vec_id <> p.vec_id)"
            )
    selects = [
        "SELECT 1 AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS mind FROM p1"
    ] + [
        f"SELECT {i} AS sel_rank, vec_id, mind FROM p{i}"
        for i in range(2, _X144_K + 1)
    ]
    return ", ".join(parts) + " " + " UNION ALL ".join(selects)


@register("x144_maxmin_diversity_sample", _x144_oracle())
def x144_maxmin_diversity_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[X] FARTHEST-POINT (maxmin) DIVERSITY SAMPLE — Gonzalez's greedy
    k-center: seed with the lowest vec_id, then 5 rounds of "pick the
    vector farthest from everything selected so far" (argmax of the
    running min-L2², ties to the lowest id). The selection a curation
    run uses for maximally-diverse few-shot exemplars / eval panels, and
    the certified deterministic seeding k-center clustering starts from.
    The oracle replays every round exactly (chained CTEs), so the
    ITERATIVE algorithm — not just one scan — is hash-checked.

    Determinism: distances fold per-row in dim order (left fold == the
    oracle's list_reduce), the running minimum is LEAST of previously
    certified values, and every argmax breaks ties on vec_id — no float
    accumulation across rows anywhere.

    Scale shape: each round is ONE corpus scan computing a scalar argmax
    (map-side partial top-1, k×1 driver rows total) plus a scan-side
    LEAST update against the newest selected vector broadcast as a
    literal — the same per-round cost profile as x57's Lloyd iterations;
    the frontier is localCheckpointed so round r's plan does not replay
    rounds 1..r-1."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seed = e.orderBy("vec_id").limit(1).first()

    def d2_to(vec: list[float]):
        return squared_l2(F.col("v"), F.array(*[F.lit(float(x)) for x in vec]))

    selected = [(1, int(seed.vec_id), None)]
    cur = (
        e.where(F.col("vec_id") != int(seed.vec_id))
        .withColumn("mind", d2_to(list(seed.v)))
        .localCheckpoint(eager=False)
    )
    for i in range(2, _X144_K + 1):
        pick = cur.orderBy(F.col("mind").desc(), "vec_id").limit(1).first()
        selected.append((i, int(pick.vec_id), float(pick.mind)))
        if i < _X144_K:
            cur = (
                cur.where(F.col("vec_id") != int(pick.vec_id))
                .withColumn("mind", F.least("mind", d2_to(list(pick.v))))
                .localCheckpoint(eager=False)
            )
    return local_rows_df(
        spark, selected, "sel_rank int, vec_id long, mind double"
    )

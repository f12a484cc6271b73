"""Sampling / mixture operators [X]: the data-mixture side of the
LLM-pipeline surface — DSIR importance weights, group-wise splits,
temperature-mixture application, shard layout planning, per-source
quota top-k, epoch/repetition budgeting, and weighted reproducible
Bernoulli sampling (SURVEY.md §2.12).

Moved verbatim out of ``text_analysis.py`` (pure move, no behavior
change) — that module keeps the scan-statistics / quality families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.functions import word_tokens
from smfg_datawarehouse_spark.queries import exact, md5_int, register, t
from smfg_datawarehouse_spark.session import ensure_min_parallelism

DSIR_BUCKETS = 1024


@register(
    "x62_dsir_importance_weights",
    rf"""
    WITH tk AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), tok AS (
      SELECT doc_id, lang, i - 1 AS pos,
             ('0x' || substring(md5(t[i]), 1, 8))::BIGINT % {DSIR_BUCKETS}
               AS bucket
      FROM tk, unnest(range(1, len(t) + 1)) AS u(i)
    ), counts AS (
      SELECT bucket,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
             COUNT(*) AS cr
      FROM tok GROUP BY bucket
    ), tot AS (
      SELECT SUM(ct) AS t_tot, SUM(cr) AS r_tot FROM counts
    ), wts AS (
      SELECT bucket,
             CAST((ct + 1) * (r_tot + {DSIR_BUCKETS}) AS DOUBLE)
               / CAST((cr + 1) * (t_tot + {DSIR_BUCKETS}) AS DOUBLE) AS w
      FROM counts, tot
    ), perdoc AS (
      SELECT tok.doc_id, list(w ORDER BY pos) AS ws
      FROM tok JOIN wts USING (bucket) GROUP BY tok.doc_id
    )
    SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           list_reduce(ws, (a, b) -> a * b) AS importance
    FROM perdoc
    """,
)
def x62_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] DSIR-style importance-sampling weights (Xie et al. 2023,
    arXiv:2302.03169): documents are scored by how much more likely their
    hashed-unigram features are under the TARGET distribution (here the
    ``lang='en'`` slice stands in for the high-quality target corpus) than
    under the RAW distribution. Per-bucket weight is the add-one-smoothed
    likelihood ratio ((c_t+1)/(T+B)) / ((c_r+1)/(R+B)) — kept as ONE
    division of exact integer products so it is engine-exact — and a
    document's importance is the positional-order product of its tokens'
    bucket weights (the likelihood ratio of the whole doc under the
    hashed unigram model), folded left-to-right identically in both
    engines. This is the data-selection op that picks pretraining docs
    matching a target domain without training a classifier.

    Scale shape: the bucket table is FIXED-width (B=1024 rows regardless
    of corpus size) — counts aggregate map-side, the weight table
    broadcasts back into the token stream, and the per-doc product is one
    doc-keyed shuffle. Two linear corpus passes, nothing vocabulary- or
    pair-shaped. The hash family is the engine-portable md5-prefix used by
    MinHash (dedup.py)."""
    d = t(spark, sf_dir, "documents")
    tok = (
        ensure_min_parallelism(d)
        .select(
            "doc_id",
            "lang",
            F.posexplode(word_tokens(F.col("text"))).alias("pos", "tok"),
        )
        .select(
            "doc_id",
            "lang",
            "pos",
            (
                md5_int("tok")
                % DSIR_BUCKETS
            ).alias("bucket"),
        )
    )
    counts = tok.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )
    tot = counts.agg(
        F.sum("ct").alias("t_tot"), F.sum("cr").alias("r_tot")
    )
    wts = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            ((F.col("ct") + 1) * (F.col("r_tot") + DSIR_BUCKETS)).cast("double")
            / ((F.col("cr") + 1) * (F.col("t_tot") + DSIR_BUCKETS)).cast("double")
        ).alias("w"),
    )
    perdoc = (
        tok.join(F.broadcast(wts), "bucket")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "w"))).alias("pw"))
    )
    importance = F.aggregate(
        F.transform(F.col("pw"), lambda s: s["w"]),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    return perdoc.select(
        "doc_id",
        F.size("pw").cast("long").alias("n_tokens"),
        importance.alias("importance"),
    )



@register(
    "x66_group_split_by_source",
    """
    WITH s AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN md5(source) < 'c' THEN 'train' ELSE 'heldout' END
               AS split
      FROM documents
    )
    SELECT split, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY split, source
    """,
)
def x66_group_split_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] GROUP-wise train/heldout split: the split key is the SOURCE
    hash, not the document hash — every document of a source lands in the
    same partition, which is what prevents group leakage when near-
    duplicate documents cluster within sources (a doc-level split like
    x29 would put one copy in train and its sibling in eval). The
    sklearn-GroupShuffleSplit analogue at corpus scale; same md5-prefix
    convention as x29 so both splits are reproducible, join-free,
    scan-side expressions. Emits per-(split, source) stats — the
    group-integrity certificate is that each source appears under exactly
    ONE split."""
    d = t(spark, sf_dir, "documents")
    # group by source alone (split is functionally dependent on it), then
    # derive the split from the aggregated row: md5 runs once per SOURCE,
    # not once per document, and one-split-per-source holds structurally
    split = F.when(F.md5(F.col("source")) < "c", "train").otherwise("heldout")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(split.alias("split"), "source", "n_docs", "total_chars")
    )


@register(
    "x67_mixture_sampling_apply",
    r"""
    WITH tk AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  w -> w <> '')) AS BIGINT) AS n
      FROM documents
    ), s AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_s,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM tk GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM s
    ), r AS (
      SELECT s.source, s.n_docs,
             CAST(floor(sqrt(CAST(s.n_s AS DOUBLE) / tot.n) * 1e12 + 0.5)
                  AS BIGINT) AS u
      FROM s CROSS JOIN tot
    ), r2 AS (
      SELECT source, n_docs,
             CAST(u * 1000000 // (SELECT MAX(u) FROM r) AS BIGINT)
               AS rate_milli
      FROM r
    ), adm AS (
      SELECT d.source,
             CAST(SUM(CASE WHEN ('0x' || substring(
                      md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                      % 1000000 < r2.rate_milli
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
      FROM documents d JOIN r2 USING (source)
      GROUP BY d.source
    )
    SELECT r2.source, r2.n_docs, r2.rate_milli, adm.n_admitted
    FROM r2 JOIN adm USING (source)
    """,
)
def x67_mixture_sampling_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] APPLY a temperature-scaled source mixture: x39 computes the
    target weights; this operator turns them into per-source admission
    RATES (largest source keeps everything, smaller sources are
    down-sampled proportionally to their sqrt-share — rate_milli =
    u_s·10⁶ ÷ max(u), integer arithmetic so both engines agree exactly)
    and then ADMITS documents deterministically: a doc survives iff
    ``md5('mix:'‖doc_id)₃₂ mod 10⁶ < rate_milli`` — the salted-hash
    Bernoulli gate that makes the sample reproducible run-over-run and
    engine-portable, with no RNG state to coordinate across executors.

    Scale shape: pass 1 is the per-source token rollup; the global
    normalizer and max run as UNPARTITIONED WINDOWS over that
    |sources|-row aggregate (not as joins back to re-derived sub-aggs —
    each such join re-executes the corpus rollup lineage), so the corpus
    is tokenized exactly once. The finished rate table broadcasts into
    pass 2's pure scan — the corpus shuffles ZERO rows, and the admit
    decision runs inside whole-stage codegen. This is the missing link
    between weight COMPUTATION (x39) and split/dedup machinery: the
    operator a 100 TB mixing run executes once per source epoch."""
    d = t(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id", "source", F.size(word_tokens(F.col("text"))).cast("long").alias("n")
    )
    s = tk.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_s"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    # the window frame is the whole |sources|-row aggregate — one tiny
    # single-partition pass, never the corpus
    wall = W.partitionBy()
    u = F.floor(
        F.sqrt(F.col("n_s").cast("double") / F.sum("n_s").over(wall)) * 1e12 + 0.5
    ).cast("long")
    r2 = (
        s.select("source", "n_docs", u.alias("u"))
        .select(
            "source",
            "n_docs",
            F.expr("u * 1000000 DIV max(u) OVER ()").cast("long").alias("rate_milli"),
        )
    )
    h = (
        md5_int(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
        % 1000000
    )
    # n_docs/rate_milli ride along the broadcast and come back out via
    # max() (functionally dependent on source) — r2's lineage runs ONCE,
    # with no second join
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(r2), "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            F.max("rate_milli").cast("long").alias("rate_milli"),
            F.sum((h < F.col("rate_milli")).cast("long")).cast("long").alias("n_admitted"),
        )
        .select("source", "n_docs", "rate_milli", "n_admitted")
    )



_X72_S = 16  # shard count


@register(
    "x72_shard_layout_plan",
    f"""
    WITH tk AS (
      SELECT doc_id,
             ('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {_X72_S} AS shard,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  w -> w <> '')) AS BIGINT) AS n
      FROM documents
    ), s AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM tk GROUP BY shard
    ), tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM s)
    SELECT shard, n_docs, n_tokens,
           CAST(n_tokens * {_X72_S} AS DOUBLE) / tot.t AS load_ratio
    FROM s CROSS JOIN tot
    """,
)
def x72_shard_layout_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/S2] Hash-shard LAYOUT PLANNING: before a 100 TB corpus is
    written, assign every document to one of S shards by salted md5 and
    report each shard's document count, token mass, and load ratio
    (shard tokens ÷ ideal share) — the balance check that decides
    whether hash sharding suffices or a skew-aware planner (x44-style
    packing, q44-style salting) is needed before the write fan-out.
    Deterministic hash → the plan is reproducible and the oracle replays
    it exactly; load_ratio is one divide of exact integers.

    Plan shape: one tokenizing scan + one |S|-row rollup; the global
    total attaches via an unpartitioned window over those S rows (same
    tiny-aggregate pattern as x67), so the corpus is scanned once."""
    d = t(spark, sf_dir, "documents")
    shard = (
        md5_int(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
        % _X72_S
    )
    tk = d.select(
        shard.alias("shard"),
        F.size(word_tokens(F.col("text"))).cast("long").alias("n"),
    )
    s = tk.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
    )
    wall = W.partitionBy()
    return s.select(
        "shard",
        "n_docs",
        "n_tokens",
        (
            (F.col("n_tokens") * _X72_S).cast("double") / F.sum("n_tokens").over(wall)
        ).alias("load_ratio"),
    )



@register(
    "x75_source_quota_topk",
    r"""
    WITH feats AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  w -> w <> '')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT)
               AS n_alpha,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    ), sc AS (
      SELECT doc_id, source, n_tokens,
             0.4 * (CAST(n_alpha AS DOUBLE) / n_chars)
               + 0.6 * (CAST(LEAST(n_chars, 500) AS DOUBLE) / 500.0) AS score
      FROM feats
    ), rk AS (
      SELECT doc_id, source, n_tokens, score,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id) AS rk
      FROM sc
    )
    SELECT source, CAST(rk AS BIGINT) AS rank, doc_id, n_tokens, score
    FROM rk WHERE rk <= 10
    """,
)
def x75_source_quota_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.6] Per-source CURATION QUOTA: keep each source's top-k
    documents by quality score (fixed 0.4·alpha_ratio + 0.6·length_norm
    — a rational, transcendental-free composite), deterministic
    tie-break on doc_id — the per-domain cap that keeps one giant
    crawl domain from swamping a training mix even after x67's
    rate-based sampling (quota selects the BEST n, sampling keeps a
    random-but-reproducible fraction; real pipelines run both).

    Scale shape: scoring is a pure scan expression; the per-source
    window shuffles on source — and because k ≪ group size, Spark
    plans the rank filter with partial top-k pushed BELOW the final
    sort within each partition (window + filter, no global sort). At
    extreme per-source skew, q44's salting composes in front."""
    d = t(spark, sf_dir, "documents")
    txt = F.col("text")
    n_chars = F.length(txt).cast("long")
    n_alpha = F.length(F.regexp_replace(F.lower(txt), "[^a-z]", "")).cast("long")
    score = (
        F.lit(0.4) * (n_alpha.cast("double") / n_chars)
        + F.lit(0.6) * (F.least(n_chars, F.lit(500)).cast("double") / F.lit(500.0))
    )
    sc = d.select(
        "doc_id",
        "source",
        F.size(word_tokens(txt)).cast("long").alias("n_tokens"),
        score.alias("score"),
    )
    w = W.partitionBy("source").orderBy(F.col("score").desc(), "doc_id")
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .select("source", "rank", "doc_id", "n_tokens", "score")
    )



@register(
    "x80_epoch_budget_plan",
    r"""
    WITH tk AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  w -> w <> '')) AS BIGINT) AS n
      FROM documents
    ), s AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_s FROM tk GROUP BY source
    ), tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM s),
    q AS (
      SELECT s.source, s.n_s,
             CAST(floor(sqrt(CAST(s.n_s AS DOUBLE) / tot.n) * 1e12 + 0.5)
                  AS BIGINT) AS u
      FROM s CROSS JOIN tot
    )
    SELECT source, n_s AS natural_tokens,
           CAST((1000000 * u) // SUM(u) OVER () AS BIGINT) AS alloc_tokens,
           CAST((1000000 * u) // SUM(u) OVER () AS DOUBLE) / n_s AS epochs,
           (1000000 * u) // SUM(u) OVER () > n_s AS repeats_data
    FROM q
    """,
)
def x80_epoch_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.6] EPOCH/REPETITION PLAN for a token budget under the x39
    temperature mix: allocating a fixed budget (B = 1M tokens here) by
    the α=0.5 temperature weights tells each source how many tokens it
    contributes — and dividing by its natural mass gives its EPOCH count
    (>1 ⇒ the source repeats; data-constrained scaling work shows value
    decays after ~4 epochs, so `repeats_data` sources are where a mix
    silently over-trains). Composes x39 (weights) with x41 (budget):
    the decision artifact a 100 TB mix planner actually reads.

    Determinism: the weight share is x39's pico-quantized integer ``u``;
    the allocation is PURE INTEGER floor division (B·u // Σu) — no
    double normalizer — and epochs is one double division of exact
    ints. Scale shape: one corpus scan → |sources| rows; every window
    runs on that tiny frame."""
    d = t(spark, sf_dir, "documents")
    tk = d.select(
        "source", F.size(word_tokens(F.col("text"))).cast("long").alias("n")
    )
    s = tk.groupBy("source").agg(F.sum("n").cast("long").alias("n_s"))
    tot = s.agg(F.sum("n_s").cast("long").alias("n"))
    u = F.floor(
        F.sqrt(F.col("n_s").cast("double") / F.col("n")) * 1e12 + 0.5
    ).cast("long")
    w = W.partitionBy()
    q = (
        s.join(F.broadcast(tot))
        .select("source", "n_s", u.alias("u"))
        .withColumn("su", F.sum("u").over(w))
    )
    # EXACT integer floor division (Spark `div`), matching DuckDB's `//`
    # on BIGINTs — a double divide + floor would lose bits above 2^53
    # (B·u reaches 1e18) and drift off the oracle by ±1 token.
    alloc_int = F.expr("(CAST(1000000 AS BIGINT) * u) div su").cast("long")
    return q.select(
        "source",
        F.col("n_s").alias("natural_tokens"),
        alloc_int.alias("alloc_tokens"),
        (alloc_int.cast("double") / F.col("n_s")).alias("epochs"),
        (alloc_int > F.col("n_s")).alias("repeats_data"),
    )



@register(
    "x84_weighted_bernoulli_sample",
    """
    WITH s AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    m AS (SELECT MIN(n_docs) AS n_min FROM s),
    p AS (
      SELECT source, n_docs, CAST(n_min AS DOUBLE) / n_docs AS p_target
      FROM s CROSS JOIN m
    ),
    u AS (
      SELECT source,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM documents
    )
    SELECT p.source, CAST(p.n_docs AS BIGINT) AS n_docs, p.p_target,
           CAST(SUM(CASE WHEN u.u < p.p_target THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(SUM(CASE WHEN u.u < p.p_target THEN 1 ELSE 0 END) AS DOUBLE)
             / p.n_docs AS achieved_rate
    FROM u JOIN p USING (source)
    GROUP BY p.source, p.n_docs, p.p_target
    """,
)
def x84_weighted_bernoulli_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] REPRODUCIBLE WEIGHTED DOWNSAMPLING — the one-pass rebalancing
    stage that evens out a source-skewed corpus: each source's inclusion
    probability is ``n_min / n_source`` (level every source down to the
    smallest's share), and each document's inclusion decision is a pure
    function of its id — ``u(doc_id) < p(source)`` with u the portable
    md5 32-bit-prefix uniform (x29's split hash). No RNG state, no seed
    plumbing: the SAME doc ids survive on any cluster, any partitioning,
    any retry — which is what makes a 100 TB sampling stage auditable and
    resumable (re-running a failed partition cannot change the sample).
    Output is the per-source audit row: target probability vs achieved
    rate (exact counts, certified), the report a curation run logs before
    committing the sampled corpus.

    Determinism: p_target is ONE int/int double division; u is one
    division of an exact 32-bit integer; the comparison and counts are
    exact — bit-identical in any engine. Scale shape: one
    map-side-combined groupBy for the source stats (≤ |sources| rows), a
    broadcast join back onto the corpus scan, one more tiny rollup —
    corpus-linear, single data shuffle, no skew sensitivity (the decision
    needs only the row itself plus a broadcast scalar per source)."""
    d = t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    m = s.agg(F.min("n_docs").alias("n_min"))
    p = s.crossJoin(F.broadcast(m)).select(
        "source",
        "n_docs",
        (F.col("n_min").cast("double") / F.col("n_docs")).alias("p_target"),
    )
    u = d.select(
        "source",
        (
            md5_int(F.col("doc_id").cast("string"))
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    hit = F.when(F.col("u") < F.col("p_target"), 1).otherwise(0)
    return (
        u.join(F.broadcast(p), "source")
        .groupBy("source", "n_docs", "p_target")
        .agg(F.sum(hit).cast("long").alias("n_sampled"))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "p_target",
            "n_sampled",
            (F.col("n_sampled").cast("double") / F.col("n_docs")).alias(
                "achieved_rate"
            ),
        )
    )





SKIPGRAM_T = 0.001  # Mikolov subsampling threshold
SKIPGRAM_WINDOW = 2
SKIPGRAM_TOPK = 50

# md5-uniform per token OCCURRENCE (doc_id:pos) — portable across engines,
# partition/retry-invariant (same idiom as x84's weighted Bernoulli).
_SG_U_DUCK = (
    "('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || "
    "CAST(pos AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0"
)

_SKIPGRAM_ORACLE = rf"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS ts
      FROM documents
    ), tok AS (
      SELECT doc_id, i - 1 AS pos, ts[i] AS w
      FROM tk, unnest(range(1, len(ts) + 1)) AS u(i)
    ), freq AS (
      SELECT w, COUNT(*) AS c FROM tok GROUP BY w
    ), tot AS (
      SELECT COUNT(*) AS n FROM tok
    ), keep AS (
      SELECT w,
             LEAST(1.0, sqrt({SKIPGRAM_T} / (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
                        + {SKIPGRAM_T} / (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) AS p
      FROM freq, tot
    ), surv AS (
      SELECT tok.doc_id, tok.pos, tok.w
      FROM tok JOIN keep USING (w)
      WHERE {_SG_U_DUCK} < p
    ), nbr AS (
      SELECT doc_id, w,
             lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS n1,
             lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS n2
      FROM surv
    ), pairs AS (
      SELECT w AS center, n1 AS context FROM nbr WHERE n1 IS NOT NULL
      UNION ALL SELECT n1, w FROM nbr WHERE n1 IS NOT NULL
      UNION ALL SELECT w, n2 FROM nbr WHERE n2 IS NOT NULL
      UNION ALL SELECT n2, w FROM nbr WHERE n2 IS NOT NULL
    )
    SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1, 2
    ORDER BY n_pairs DESC, center, context LIMIT {SKIPGRAM_TOPK}
"""


@register("x101_skipgram_pairs", _SKIPGRAM_ORACLE)
def x101_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] word2vec skip-gram training-pair extraction with frequency
    subsampling (Mikolov et al. 2013, arXiv:1310.4546 §2.3): each token
    occurrence survives with probability min(1, sqrt(t/f) + t/f) decided
    by a seedless md5 uniform (replayable, partition/retry-invariant);
    (center, context) pairs are then generated over the SURVIVING
    sequence — deletions shrink the effective window, exactly as the
    reference implementation behaves — for a ±2 window, emitted in both
    directions, counted, and top-50 returned. At 100 TB this is one scan
    + a vocab-sized broadcast (keep probabilities) + two ``lead`` windows
    sharing one doc-keyed sort + a pair-count shuffle with map-side
    combine; the top-50 is TakeOrderedAndProject, never a global sort.
    The pair stream is what a distributed embedding trainer consumes."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(word_tokens(F.col("text"))).alias("pos", "w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # corpus token total = SUM of vocab counts (exact integers), computed
    # as a vocab-sized window — saves a second scan of the token stream
    f = F.col("c").cast("double") / F.col("n").cast("double")
    r = F.lit(SKIPGRAM_T) / f
    keep = freq.withColumn("n", F.sum("c").over(W.partitionBy())).select(
        "w", F.least(F.lit(1.0), F.sqrt(r) + r).alias("p")
    )
    u = (
        md5_int(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string")
            )
        )
        / F.lit(4294967296.0)
    )
    surv = tok.join(F.broadcast(keep), "w").where(u < F.col("p"))
    w_ = W.partitionBy("doc_id").orderBy("pos")
    nbr = surv.select(
        "doc_id",
        "w",
        F.lead("w", 1).over(w_).alias("n1"),
        F.lead("w", 2).over(w_).alias("n2"),
    )
    # ONE pass over the windowed rows: a 4-way unionAll of selects from
    # the same window DF makes Catalyst re-run the whole upstream
    # (scan+join+window) per branch — explode emits all four directed
    # pairs per row in place instead
    pair = F.explode(
        F.array(
            F.struct(F.col("w").alias("c"), F.col("n1").alias("x")),
            F.struct(F.col("n1").alias("c"), F.col("w").alias("x")),
            F.struct(F.col("w").alias("c"), F.col("n2").alias("x")),
            F.struct(F.col("n2").alias("c"), F.col("w").alias("x")),
        )
    )
    pairs = (
        nbr.select(pair.alias("p"))
        .where(F.col("p.c").isNotNull() & F.col("p.x").isNotNull())
        .select(F.col("p.c").alias("center"), F.col("p.x").alias("context"))
    )
    return (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "center", "context")
        .limit(SKIPGRAM_TOPK)
    )


_X109_ORACLE = r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS ts
      FROM documents
    ), tok AS (
      SELECT ts[i] AS w
      FROM tk, unnest(range(1, len(ts) + 1)) AS u(i)
    ), freq AS (
      SELECT w, COUNT(*) AS c FROM tok GROUP BY w
    ), p AS (
      SELECT w, c, sqrt(sqrt(CAST(c AS DOUBLE) * c * c)) AS u FROM freq
    ), z AS (
      SELECT CAST(SUM(CAST(u AS DECIMAL(30,6))) AS DOUBLE) AS z FROM p
    )
    SELECT w AS word, CAST(c AS BIGINT) AS n_occurrences,
           u / z AS noise_prob,
           (u / z) * 10000.0 AS expected_per_10k
    FROM p, z
    ORDER BY n_occurrences DESC, word LIMIT 50
"""


@register("x109_negative_sampling_table", _X109_ORACLE)
def x109_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] word2vec NEGATIVE-SAMPLING noise distribution (Mikolov et al.
    2013 §2.2): unigram counts raised to the 3/4 power and renormalized —
    the distribution the trainer draws negatives from, completing x101's
    positive-pair side. The 3/4 power is computed TRANSCENDENTAL-FREE as
    sqrt(sqrt(c·c·c)): every step (double multiplies, two sqrts) is an
    IEEE correctly-rounded single operation, so the value is bit-identical
    across engines — the repo's no-log/no-pow discipline extended to a
    fractional power (pow() itself is NOT correctly rounded and would
    diverge). Normalizer = exact-decimal sum of the u-values; top-50 by
    count via TakeOrderedAndProject. One token scan + a vocab-sized
    aggregate; the output is the broadcast-sized sampling table every
    executor holds during embedding training."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(F.explode(word_tokens(F.col("text"))).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    cd = F.col("c").cast("double")
    p = freq.withColumn("u", F.sqrt(F.sqrt(cd * F.col("c") * F.col("c"))))
    z = F.sum(exact("u")).over(W.partitionBy()).cast("double")
    return (
        p.withColumn("z", z)
        .select(
            F.col("w").alias("word"),
            F.col("c").cast("long").alias("n_occurrences"),
            (F.col("u") / F.col("z")).alias("noise_prob"),
            ((F.col("u") / F.col("z")) * 10000.0).alias("expected_per_10k"),
        )
        .orderBy(F.desc("n_occurrences"), "word")
        .limit(50)
    )


_X114_ORACLE = """
    WITH r AS (
      SELECT source,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b,
             CASE WHEN ('0x' || substring(
                          md5('rr:' || CAST(doc_id AS VARCHAR)), 1, 8
                        ))::BIGINT % 4 = 0
                  THEN 1 ELSE 0 END AS flip
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b) AS BIGINT) AS true_pos,
           CAST(SUM(CASE WHEN flip = 1 THEN 1 - b ELSE b END) AS BIGINT)
             AS reported_pos,
           CAST(4 * SUM(CASE WHEN flip = 1 THEN 1 - b ELSE b END)
                - COUNT(*) AS DOUBLE) / (2 * COUNT(*)) AS debiased_rate,
           CAST(ABS(4 * SUM(CASE WHEN flip = 1 THEN 1 - b ELSE b END)
                    - COUNT(*) - 2 * SUM(b)) AS DOUBLE)
             / (2 * COUNT(*)) AS abs_err
    FROM r GROUP BY source
"""


@register("x114_randomized_response", _X114_ORACLE)
def x114_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.6] RANDOMIZED RESPONSE (Warner 1965) — the local-DP
    mechanism for releasing a sensitive per-document binary (here:
    lang='en' stands in for the secret) without trusting the
    aggregator: each row's bit is FLIPPED with probability q=1/4 before
    it ever reaches the rollup, giving ε = ln((1−q)/q) = ln 3 local
    differential privacy per record, and the per-source rate is
    recovered by the standard debiasing p̂ = (mean−q)/(1−2q). Completes
    the release ladder with x79/x104/x113 (those audit a release; this
    one MECHANIZES it). The flip coin is the repo's seedless md5-prefix
    uniform (u32 % 4 = 0 is exactly q=1/4 — no float threshold, no RNG
    state, partition/retry-invariant), the debiased estimate collapses
    to the integer form (4·reported − n)/(2n), and the estimator error
    keeps an integer numerator |4·reported − n − 2·true|/(2n) — each
    output is one exact-integer ratio, bit-replayable. Shape: one scan,
    one map-combined groupBy; nothing but per-source counters cross the
    wire — the mechanism is embarrassingly scan-local at 100 TB."""
    d = t(spark, sf_dir, "documents")
    b = F.when(F.col("lang") == "en", 1).otherwise(0)
    u32 = md5_int(F.concat(F.lit("rr:"), F.col("doc_id").cast("string")))
    flip = F.when(u32 % 4 == 0, 1).otherwise(0)
    r = d.select(
        "source",
        b.alias("b"),
        flip.alias("flip"),
    ).withColumn("rep", F.when(F.col("flip") == 1, 1 - F.col("b")).otherwise(F.col("b")))
    return r.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("b").cast("long").alias("true_pos"),
        F.sum("rep").cast("long").alias("reported_pos"),
        (
            (F.sum("rep") * 4 - F.count(F.lit(1))).cast("double")
            / (F.count(F.lit(1)) * 2)
        ).alias("debiased_rate"),
        (
            F.abs(F.sum("rep") * 4 - F.count(F.lit(1)) - F.sum("b") * 2).cast("double")
            / (F.count(F.lit(1)) * 2)
        ).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# x132: Feistel-network epoch shuffle — the shuffle-free deterministic
# global permutation a multi-epoch pretraining run consumes instead of
# ORDER BY rand(): each epoch's position is a pure O(1) function of
# (doc_id, epoch), so the "shuffle" costs zero exchanges and is
# bit-reproducible on any cluster, any partitioning, any retry.
# ---------------------------------------------------------------------------

_FEISTEL_ROUNDS = 4
_FEISTEL_EPOCHS = 2


def _x132_oracle() -> str:
    """Unrolled Feistel rounds as chained CTEs (same keys as the engine)."""
    ctes = [
        "e AS (SELECT unnest(range(0, {ep})) AS epoch)".format(ep=_FEISTEL_EPOCHS),
        "r0 AS (SELECT doc_id, epoch, doc_id // 65536 AS l, doc_id % 65536 AS r"
        " FROM documents CROSS JOIN e)",
    ]
    for i in range(_FEISTEL_ROUNDS):
        f = (
            "('0x' || substring(md5('feistel:' || CAST(epoch AS VARCHAR) || "
            f"':{i}:' || CAST(r AS VARCHAR)), 1, 4))::BIGINT"
        )
        ctes.append(
            f"r{i + 1} AS (SELECT doc_id, epoch, r AS l, xor(l, {f}) AS r"
            f" FROM r{i})"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
           CAST(l * 65536 + r AS BIGINT) AS perm_pos
    FROM r{_FEISTEL_ROUNDS}
    """
    )


@register("x132_feistel_epoch_shuffle", _x132_oracle())
def x132_feistel_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] FEISTEL EPOCH SHUFFLE — the deterministic global permutation a
    multi-epoch pretraining run uses as its data order. A 4-round Feistel
    network over the 32-bit id domain (16-bit halves, round function =
    md5-prefix of (epoch, round, right-half) — the repo's portable
    seedless hash family) is a BIJECTION on [0, 2^32) by construction:
    every (doc_id, epoch) maps to a distinct ``perm_pos``, no two docs
    collide, and each epoch's permutation is independent. The trainer
    sorts (or range-partitions) by ``perm_pos`` to consume the corpus in
    shuffled order; re-running any partition, any retry, any cluster
    reproduces the identical order — the auditability property
    ``ORDER BY rand()`` fundamentally lacks. Luby-Rackoff gives the
    pseudorandomness argument for >=4 rounds (public-knowledge
    construction; used for exactly this by format-preserving encryption,
    NIST SP 800-38G).

    Scale shape: ZERO shuffles — position assignment is a per-row scalar
    expression chain (2 md5 calls per round unrolled at plan time), so
    the whole operator is one scan with whole-stage codegen; the only
    later cost is whatever range-partitioning the consumer was going to
    pay anyway. Contrast x29 (hash-split) and x84 (hash-sample): same
    hash family, but this one is invertible — a position maps back to
    exactly one document, so epoch order is checkpointable by offset.
    Domain contract: doc_id < 2^32 (wider ids would use 32-bit halves
    over 2^64; the fixture's ids are far below)."""
    d = t(spark, sf_dir, "documents")
    out = d.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(i) for i in range(_FEISTEL_EPOCHS)])
        ).alias("epoch"),
    ).select(
        "doc_id",
        F.col("epoch").cast("long").alias("epoch"),
        F.expr("doc_id DIV 65536").alias("l"),
        (F.col("doc_id") % 65536).alias("r"),
    )
    for i in range(_FEISTEL_ROUNDS):
        f_i = md5_int(
            F.concat(
                F.lit("feistel:"),
                F.col("epoch").cast("string"),
                F.lit(f":{i}:"),
                F.col("r").cast("string"),
            ),
            1,
            4,
        )
        out = out.select(
            "doc_id",
            "epoch",
            F.col("r").alias("l"),
            F.col("l").bitwiseXOR(f_i).alias("r"),
        )
    return out.select(
        "doc_id",
        "epoch",
        (F.col("l") * 65536 + F.col("r")).cast("long").alias("perm_pos"),
    )


# x143: Neyman (optimal) stratified sample allocation — given a total
# annotation/inspection budget, how many docs should each stratum
# (source) contribute? Proportional allocation wastes budget on
# low-variance strata; Neyman allocates n_h ∝ N_h·S_h (population size ×
# within-stratum std), the variance-minimizing split (Neyman 1934) —
# the planning table behind every "label 1k docs for the quality model"
# run. Integerized by floor + largest-remainder so the plan sums to the
# budget EXACTLY.

_X143_BUDGET = 1000

_X143_ORACLE = f"""
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_c,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS sumsq_c
      FROM documents GROUP BY source
    ), w AS (
      SELECT source, n_docs,
             sqrt((CAST(sumsq_c AS DOUBLE)
                   - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE)
                     / CAST(n_docs AS DOUBLE))
                  / CAST(n_docs AS DOUBLE)) AS std_chars
      FROM s
    ), tot AS (
      SELECT list_reduce(list(CAST(n_docs AS DOUBLE) * std_chars
                              ORDER BY source),
                         (a, b) -> a + b) AS total
      FROM w
    ), a AS (
      SELECT source, n_docs, std_chars,
             {_X143_BUDGET} * (CAST(n_docs AS DOUBLE) * std_chars)
               / tot.total AS raw
      FROM w CROSS JOIN tot
    ), b AS (
      SELECT source, n_docs, std_chars, raw,
             CAST(floor(raw) AS BIGINT) AS base,
             raw - floor(raw) AS rem
      FROM a
    ), r AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rnk,
             {_X143_BUDGET} - SUM(base) OVER () AS deficit
      FROM b
    )
    SELECT source, n_docs, std_chars, raw AS alloc_raw,
           base + CASE WHEN rnk <= deficit THEN 1 ELSE 0 END AS n_alloc
    FROM r
"""


@register("x143_neyman_allocation", _X143_ORACLE)
def x143_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] NEYMAN-OPTIMAL STRATIFIED SAMPLE ALLOCATION — per source
    stratum, the share of a 1000-doc budget that minimizes the estimator
    variance for mean doc length: n_h ∝ N_h·S_h (stratum size × exact
    population std of n_chars), integerized by floor + largest-remainder
    so Σ n_alloc == budget exactly. The planning step of every
    annotation / quality-audit run over a stratified corpus, and x140's
    design-side complement (x140 certifies the estimate given a sample
    design; this certifies the design).

    Determinism: stratum moments are EXACT BIGINT sums (Σx, Σx²); std,
    weights, and the allocation are a fixed chain of double ops per
    stratum row; remainder ties break on source. The ranking windows run
    over |strata| rows (tens), not the corpus.

    Scale shape: ONE map-combined source-keyed agg over the corpus —
    everything after is |strata|-sized. RAISE-gated on Σ n_alloc ==
    budget (the integerization invariant) and on ≥2 strata."""
    d = t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_c"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("sumsq_c"),
    )
    std = F.sqrt(
        (
            F.col("sumsq_c").cast("double")
            - F.col("sum_c").cast("double")
            * F.col("sum_c").cast("double")
            / F.col("n_docs").cast("double")
        )
        / F.col("n_docs").cast("double")
    )
    w = s.select("source", "n_docs", std.alias("std_chars"))
    wa = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    # Σ N_h·S_h folded in SOURCE order (a plain SUM over doubles would
    # accumulate in partition order and drift from the oracle by a ULP
    # once |strata| weights stop being exactly representable sums)
    tot = w.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "source",
                            (
                                F.col("n_docs").cast("double")
                                * F.col("std_chars")
                            ).alias("w_h"),
                        )
                    )
                ),
                lambda s: s["w_h"],
            ),
            F.lit(0.0),
            lambda acc, z: acc + z,
        ).alias("total")
    )
    a = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "std_chars",
        (
            F.lit(float(_X143_BUDGET))
            * (F.col("n_docs").cast("double") * F.col("std_chars"))
            / F.col("total")
        ).alias("raw"),
    )
    b = a.select(
        "*",
        F.floor("raw").cast("long").alias("base"),
        (F.col("raw") - F.floor("raw")).alias("rem"),
    )
    r = b.select(
        "*",
        F.row_number().over(W.orderBy(F.col("rem").desc(), "source")).alias("rnk"),
        (F.lit(_X143_BUDGET) - F.sum("base").over(wa)).alias("deficit"),
    )
    out = r.select(
        "source",
        "n_docs",
        "std_chars",
        F.col("raw").alias("alloc_raw"),
        (
            F.col("base")
            + F.when(F.col("rnk") <= F.col("deficit"), 1).otherwise(0)
        ).cast("long").alias("n_alloc"),
    )
    stats = out.agg(
        F.sum("n_alloc").alias("total"), F.count(F.lit(1)).alias("n_strata")
    ).first()
    if stats.total != _X143_BUDGET or stats.n_strata < 2:
        raise RuntimeError(
            f"allocation invariant broken: total={stats.total} "
            f"strata={stats.n_strata}"
        )
    return out


# ---------------------------------------------------------------------------
# x160: stratified eval-set construction under a near-dup exclusion
# constraint — the artifact every model release needs: a heldout set that
# (a) matches the corpus's (lang, length-band) marginals via exact
# integer quotas, (b) contains ZERO documents with any LSH near-dup in
# the corpus (conservative leakage guard: an eval doc whose twin trains
# is x157's straddle case — here it is excluded up front), and (c) is
# reproducible bit-for-bit from the corpus alone (salted-md5 ranking, no
# RNG state). Composes three certified kernels: x79's QI cells, x03's
# banding edges, x66's md5-order discipline.
# ---------------------------------------------------------------------------

_X160_EVAL_TOTAL = 500


def _x160_oracle() -> str:
    from smfg_datawarehouse_spark.operators.dedup import _MINHASH_ORACLE

    return f"""
    WITH e AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})),
    dup_ids AS (
      SELECT doc_a AS doc_id FROM e UNION SELECT doc_b FROM e
    ),
    cells AS (
      SELECT doc_id, lang,
             CAST(LEAST(length(text) // 100, 9) AS BIGINT) AS len_bucket,
             doc_id IN (SELECT doc_id FROM dup_ids) AS has_neardup
      FROM documents
    ),
    stats AS (
      SELECT lang, len_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_corpus,
             CAST(SUM(CASE WHEN NOT has_neardup THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_eligible
      FROM cells GROUP BY lang, len_bucket
    ),
    tot AS (SELECT CAST(SUM(n_corpus) AS BIGINT) AS n FROM stats),
    quotas AS (
      SELECT s.lang, s.len_bucket, s.n_corpus, s.n_eligible,
             CAST({_X160_EVAL_TOTAL} * s.n_corpus // tot.n AS BIGINT)
               AS quota
      FROM stats s CROSS JOIN tot
    ),
    ranked AS (
      SELECT lang, len_bucket,
             ROW_NUMBER() OVER (
               PARTITION BY lang, len_bucket
               ORDER BY md5('eval:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM cells WHERE NOT has_neardup
    )
    SELECT q.lang, q.len_bucket, q.n_corpus, q.n_eligible, q.quota,
           CAST(COALESCE(sel.n_selected, 0) AS BIGINT) AS n_selected
    FROM quotas q
    LEFT JOIN (
      SELECT r.lang, r.len_bucket, COUNT(*) AS n_selected
      FROM ranked r JOIN quotas q2
        ON q2.lang = r.lang AND q2.len_bucket = r.len_bucket
      WHERE r.rk <= q2.quota
      GROUP BY r.lang, r.len_bucket
    ) sel ON sel.lang = q.lang AND sel.len_bucket = q.len_bucket
"""


def _register_x160() -> None:
    @register("x160_eval_set_construction", _x160_oracle())
    def x160_eval_set_construction(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """[X] STRATIFIED EVAL-SET CONSTRUCTION with a near-dup exclusion
        constraint: per (lang, 100-char-band) cell — x79's
        quasi-identifier cells — an exact integer quota
        ``EVAL_TOTAL · n_cell // N`` keeps the heldout set's marginals
        proportional to the corpus; candidates are ranked inside each
        cell by the salted portable md5 (x66/x84's reproducible-order
        discipline, no RNG state) and only documents with NO x03 LSH
        near-dup edge anywhere in the corpus are eligible (the
        conservative leakage guard — an eval doc whose near-twin remains
        in train is exactly x157's straddle case). Emits the
        construction audit per cell: corpus mass, eligible mass, quota,
        and how many the quota actually filled (a cell whose dup-heavy
        population can't fill its quota surfaces here — the
        re-stratification signal).

        Determinism: quotas are exact BIGINT floor divisions; ranking is
        md5-ordered with doc_id ties; selection counts are exact.

        Scale shape: one x03 LSH pass bounds the exclusion set (edge
        endpoints, corpus-sublinear); eligibility is an edge-id
        anti-join; ranking is ONE (lang, band)-keyed window; quotas ride
        a broadcast one-row total. No pairwise anything beyond the
        certified banding."""
        from smfg_datawarehouse_spark.operators.dedup import (
            minhash_candidates,
        )

        d = t(spark, sf_dir, "documents")
        edges = minhash_candidates(d, est_threshold=0.5)
        dup_ids = (
            edges.select(F.col("doc_a").alias("doc_id"))
            .unionAll(edges.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        len_bucket = F.least(
            F.floor(F.length("text") / 100).cast("long"),
            F.lit(9).cast("long"),
        )
        cells = d.select(
            "doc_id", "lang", len_bucket.alias("len_bucket")
        ).join(
            dup_ids.withColumn("_dup", F.lit(True)), "doc_id", "left"
        ).select(
            "doc_id",
            "lang",
            "len_bucket",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("has_neardup"),
        ).localCheckpoint(eager=False)  # 2 consumers: stats + ranked —
        # without it each replays the whole LSH edge derivation
        stats = cells.groupBy("lang", "len_bucket").agg(
            F.count(F.lit(1)).cast("long").alias("n_corpus"),
            F.sum(F.when(~F.col("has_neardup"), 1).otherwise(0))
            .cast("long")
            .alias("n_eligible"),
        )
        tot = stats.agg(F.sum("n_corpus").cast("long").alias("n"))
        quotas = stats.crossJoin(F.broadcast(tot)).select(
            "lang",
            "len_bucket",
            "n_corpus",
            "n_eligible",
            F.expr(f"CAST({_X160_EVAL_TOTAL} * n_corpus DIV n AS BIGINT)")
            .alias("quota"),
        )
        wr = W.partitionBy("lang", "len_bucket").orderBy(
            F.md5(F.concat(F.lit("eval:"), F.col("doc_id").cast("string"))),
            F.col("doc_id"),
        )
        ranked = (
            cells.where(~F.col("has_neardup"))
            .withColumn("rk", F.row_number().over(wr))
            .select("lang", "len_bucket", "rk")
        )
        selected = (
            ranked.join(
                quotas.select("lang", "len_bucket", "quota"),
                ["lang", "len_bucket"],
            )
            .where(F.col("rk") <= F.col("quota"))
            .groupBy("lang", "len_bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_selected"))
        )
        return quotas.join(selected, ["lang", "len_bucket"], "left").select(
            "lang",
            "len_bucket",
            "n_corpus",
            "n_eligible",
            "quota",
            F.coalesce(F.col("n_selected"), F.lit(0)).cast("long").alias(
                "n_selected"
            ),
        )


_register_x160()

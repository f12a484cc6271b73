"""Corpus quality / decontamination / calibration band (x58-x87): eval-gram and leakage decontamination, Gopher gates, datacard, collocations, LM-score buckets, containment dupes, char diversity, quality calibration, Zipf, fertility, k-anonymity, embedding alignment, lang confusion, cluster histograms, DoReMi reweighting.

Split out of ``operators/text_analysis.py`` (round 5, VERDICT r4 #8 —
module size only; zero behavior change). Shared tokenization helpers stay
in ``text_analysis``; conventions are documented in ``queries.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.queries import micro, register, t
from smfg_datawarehouse_spark.operators.text_analysis import (
    _STOPWORDS_EN,
    doc_mean_token_prob,
    winnowing_fingerprints,
    lang_id,
    fingerprint,
    quality_features,
    BPE_PATTERN,
    WINNOW_W,
    WINNOW_K,
    word_tokens,
)
from smfg_datawarehouse_spark.session import ensure_min_parallelism

@register(
    "x58_eval_gram_decontamination",
    r"""
    WITH tk AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, source, unnest(list_distinct(
               list_transform(range(1, GREATEST(length(t) - 2, 1)),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                        || ' ' || t[i+3])
             )) AS gram
      FROM tk WHERE length(t) >= 4
    ), ev AS (
      SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1')
    ), tr AS (
      SELECT g.doc_id, g.source, g.gram,
             CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM g LEFT JOIN ev ON ev.gram = g.gram
      WHERE g.source NOT IN ('src0', 'src1')
    )
    SELECT doc_id, source,
           CAST(SUM(hit) AS BIGINT) AS n_eval_grams,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS contamination_ratio
    FROM tr GROUP BY doc_id, source
    HAVING SUM(hit) > 0
    """,
)
def x58_eval_gram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] GPT-3-style training-set decontamination (Brown et al. 2020,
    app. C): flag every TRAINING document sharing a word 4-gram with the
    held-out EVAL sources (src0/src1 stand in for the eval suite). Unlike
    x34 (source-pair overlap counts) this is the per-document dirty list a
    pipeline actually quarantines before training.

    Scale shape: the eval gram set is small by contract (eval suites are
    MBs, not TBs) — distinct once, then BROADCAST into the training-gram
    scan, so the corpus crosses the wire exactly once for the per-doc
    groupBy; nothing pair-shaped, nothing corpus² — at 100 TB this is one
    explode + one broadcast-probe + one doc-keyed shuffle."""
    from smfg_datawarehouse_spark.functions import word_shingles

    d = t(spark, sf_dir, "documents")
    g = ensure_min_parallelism(d).select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.col("text"), 4)).alias("gram"),
    )
    ev = (
        g.where(F.col("source").isin("src0", "src1"))
        .select("gram")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        g.where(~F.col("source").isin("src0", "src1"))
        .join(F.broadcast(ev), "gram", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_eval_grams"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            (
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("contamination_ratio"),
        )
        .where(F.col("n_eval_grams") > 0)
    )


def _gopher_gates(docs: DataFrame, *keep) -> DataFrame:
    """The Gopher rule gates (Rae et al. 2021, §A1.1) per non-empty
    document: ``keep`` columns, the features (``n_words``,
    ``mean_word_len``, ``frac_alpha_words``, ``n_stopword_hits``), one flag
    per gate and their conjunction ``passes_gopher``. Every double is one
    division of exact integers, so each verdict is engine-exact."""
    base = docs.select(*keep, word_tokens(F.col("text")).alias("t")).where(
        F.size("t") >= 1
    )
    n_words = F.size("t").cast("long")
    sum_len = F.aggregate(
        F.transform(F.col("t"), lambda w: F.length(w)), F.lit(0), lambda a, b: a + b
    )
    mean_wl = sum_len.cast("double") / F.size("t")
    alpha = F.size(F.filter(F.col("t"), lambda w: w.rlike("^[a-z]+$")))
    frac_alpha = alpha.cast("double") / F.size("t")
    stops = F.size(F.filter(F.col("t"), lambda w: w.isin(_STOPWORDS_EN))).cast("long")
    feats = base.select(
        *keep,
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        stops.alias("n_stopword_hits"),
    )
    f_wc = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    f_mwl = (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)
    f_alpha = F.col("frac_alpha_words") >= 0.8
    f_stop = F.col("n_stopword_hits") >= 2
    return feats.select(
        *keep, "n_words", "mean_word_len", "frac_alpha_words", "n_stopword_hits",
        f_wc.alias("flag_word_count"),
        f_mwl.alias("flag_mean_word_len"),
        f_alpha.alias("flag_alpha"),
        f_stop.alias("flag_stopwords"),
        (f_wc & f_mwl & f_alpha & f_stop).alias("passes_gopher"),
    )


@register(
    "x60_gopher_quality_gates",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), feats AS (
      SELECT doc_id,
             CAST(length(t) AS BIGINT) AS n_words,
             CAST(list_reduce(list_transform(t, w -> length(w)),
                              (a, b) -> a + b) AS DOUBLE)
               / length(t) AS mean_word_len,
             CAST(length(list_filter(t,
                    w -> regexp_full_match(w, '[a-z]+'))) AS DOUBLE)
               / length(t) AS frac_alpha_words,
             CAST(length(list_filter(t,
                    w -> w IN ('the','a','of','and','to','in','is','it')))
               AS BIGINT) AS n_stopword_hits
      FROM tk WHERE length(t) >= 1
    )
    SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stopword_hits,
           n_words BETWEEN 50 AND 100000 AS flag_word_count,
           mean_word_len BETWEEN 3.0 AND 10.0 AS flag_mean_word_len,
           frac_alpha_words >= 0.8 AS flag_alpha,
           n_stopword_hits >= 2 AS flag_stopwords,
           (n_words BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3.0 AND 10.0)
             AND frac_alpha_words >= 0.8
             AND n_stopword_hits >= 2 AS passes_gopher
    FROM feats
    """,
)
def x60_gopher_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Gopher-style rule gates (Rae et al. 2021, §A1.1) as explicit
    per-document booleans — the filter a web-scale pipeline applies before
    any model-based scoring: word-count bounds, mean-word-length bounds,
    alphabetic-word fraction, and a minimum stop-word count. x21 emits a
    composite score; this emits the individual pass/fail rules + verdict
    so a curation run can report WHY each document was dropped.

    Scan-side Catalyst expressions only — zero shuffles, runs at parquet
    read speed at any corpus size; every double is a single division of
    exact integers so the verdict booleans are engine-exact."""
    return _gopher_gates(t(spark, sf_dir, "documents"), "doc_id")


@register(
    "x65_corpus_datacard",
    r"""
    WITH tk AS (
      SELECT source, lang, text,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), feats AS (
      SELECT source, lang, t,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                  AS DOUBLE) / length(text) AS alpha_ratio,
             CAST(LEAST(length(text), 500) AS DOUBLE) / 500.0 AS len_norm
      FROM tk WHERE length(t) >= 1
    ), scored AS (
      SELECT source, lang,
             length(t) AS n_tokens,
             0.4 * alpha_ratio
               + 0.3 * (CASE WHEN length(t) > 0
                             THEN CAST(length(list_filter(t,
                                    w -> w IN ('the','a','of','and','to',
                                               'in','is','it'))) AS DOUBLE)
                                  / length(t)
                             ELSE 0.0 END)
               + 0.3 * len_norm AS q,
             (length(t) BETWEEN 50 AND 100000)
               AND (CAST(list_reduce(list_transform(t, w -> length(w)),
                                     (a, b) -> a + b) AS DOUBLE) / length(t)
                    BETWEEN 3.0 AND 10.0)
               AND (CAST(length(list_filter(t,
                      w -> regexp_full_match(w, '[a-z]+'))) AS DOUBLE)
                    / length(t) >= 0.8)
               AND (length(list_filter(t,
                      w -> w IN ('the','a','of','and','to','in','is','it')))
                    >= 2) AS gopher_pass
      FROM feats
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_doc_tokens,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS pct_en_labeled,
           CAST(SUM(CAST(floor(q * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / COUNT(*) AS mean_quality,
           CAST(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS gopher_pass_rate
    FROM scored GROUP BY source
    """,
)
def x65_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Per-source corpus datacard — the one-page sign-off artifact a
    data owner reviews before a source enters a training mix (Datasheets
    for Datasets practice): volume (docs/tokens), language composition,
    mean composite quality, and Gopher-gate pass rate, all in ONE corpus
    scan with one source-keyed shuffle of aggregated rows. Complements
    x55 (dedup impact) — together they are the admission report.

    The composite quality is x21's; the rule gates are x60's
    (:func:`_gopher_gates`, which also drops empty/whitespace-only docs:
    their ratio denominators are undefined and they carry no admission
    signal). Every double is engine-exact."""
    d = t(spark, sf_dir, "documents")
    text = F.col("text")
    n_chars = F.length(text)
    alpha_ratio = (
        F.length(F.regexp_replace(F.lower(text), "[^a-z]", "")).cast("double")
        / n_chars
    )
    len_norm = F.least(n_chars, F.lit(500)).cast("double") / F.lit(500.0)
    gates = _gopher_gates(
        d.select(
            "source", "lang", "text",
            alpha_ratio.alias("alpha_ratio"), len_norm.alias("len_norm"),
        ),
        "source", "lang", "alpha_ratio", "len_norm",
    )
    n_tokens = F.col("n_words")
    q = (
        F.lit(0.4) * F.col("alpha_ratio")
        + F.lit(0.3)
        * F.when(
            n_tokens > 0, F.col("n_stopword_hits").cast("double") / n_tokens
        ).otherwise(0.0)
        + F.lit(0.3) * F.col("len_norm")
    )
    scored = gates.select(
        "source", "lang", n_tokens.alias("n_tokens"), q.alias("q"),
        F.col("passes_gopher").alias("gopher_pass"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias(
            "avg_doc_tokens"
        ),
        (
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("pct_en_labeled"),
        # micro-unit mean, NOT davg: q is a computed double, and a value
        # landing on a .0000005 boundary rounds differently under Spark's
        # half-up vs DuckDB's half-even DECIMAL cast (observed at sf0.1);
        # floor(q*1e6+0.5) is pure IEEE arithmetic — identical everywhere
        # (same reasoning as x08's centroid accumulation)
        (
            F.sum(micro("q")).cast("double")
            / 1000000.0
            / F.count(F.lit(1))
        ).alias("mean_quality"),
        (
            F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("gopher_pass_rate"),
    )


@register(
    "x68_collocation_lift",
    r"""
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS tk
      FROM documents
    ), bi AS (
      SELECT unnest([tk[i] || ' ' || tk[i + 1] for i in range(1, len(tk))])
               AS bg
      FROM toks
    ), nab AS (
      SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_ab FROM bi GROUP BY bg
    ), uni AS (
      SELECT unnest(tk) AS w FROM toks
    ), na AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w FROM uni GROUP BY w
    ), tot AS (
      SELECT CAST(SUM(n_w) AS BIGINT) AS n FROM na
    ), btot AS (
      SELECT CAST(SUM(n_ab) AS BIGINT) AS b FROM nab
    ), sc AS (
      SELECT split_part(bg, ' ', 1) AS tok_a,
             split_part(bg, ' ', 2) AS tok_b,
             n_ab,
             ((CAST(n_ab AS DOUBLE) * tot.n) * tot.n)
               / ((CAST(btot.b AS DOUBLE) * x.n_w) * y.n_w) AS lift
      FROM nab CROSS JOIN tot CROSS JOIN btot
      JOIN na x ON x.w = split_part(bg, ' ', 1)
      JOIN na y ON y.w = split_part(bg, ' ', 2)
      WHERE n_ab >= 5
    )
    SELECT tok_a, tok_b, n_ab, lift
    FROM sc ORDER BY lift DESC, tok_a, tok_b LIMIT 50
    """,
)
def x68_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Collocation mining by LIFT — word2phrase-style phrase discovery
    for tokenizer/vocab construction: for each bigram (a,b) with support
    ≥ 5, lift = P(ab) / (P(a)·P(b)) ≫ 1 marks pairs that co-occur far
    above chance (phrase candidates worth merging into one token). Lift
    is the exponential of PMI but avoids transcendentals entirely: the
    score is ONE fixed-shape chain of IEEE multiplies/divide over exact
    integer counts — ((n_ab·N)·N)/((B·n_a)·n_b) — bit-identical in any
    engine, where a log-based PMI would drift in the last ulp.

    Scale shape: bigram counts generate inside the token array (x27's
    transform — no self-join, no positional explode), shuffling only
    |distinct bigrams| partials; unigram counts shuffle |vocab|; the two
    count tables then join bigram→unigram twice — vocab-sized, broadcast
    here and still dimension-like at 100 TB (vocab grows ~log corpus) —
    and TakeOrderedAndProject caps the result at 50 with a full
    tie-break (lift DESC, tok_a, tok_b)."""
    d = t(spark, sf_dir, "documents")
    tk = F.col("_tk")
    pairs = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.slice(tk, 1, F.size(tk) - 1),
            lambda w, i: F.struct(
                w.alias("tok_a"), F.element_at(tk, i + F.lit(2)).alias("tok_b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<tok_a:string,tok_b:string>>"))
    toks = ensure_min_parallelism(d).withColumn("_tk", word_tokens(F.col("text")))
    # cached: both the bigram and the unigram rollup re-derive the token
    # array from the raw text otherwise (two full tokenization passes)
    toks = toks.select("_tk").cache()
    nab = (
        toks.select(F.explode(pairs).alias("p"))
        .select("p.tok_a", "p.tok_b")
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    na = (
        toks.select(F.explode(tk).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n_w"))
    )
    # totals come from ONE pass over the cached token arrays (N = Σ|tk|,
    # B = Σ max(|tk|−1, 0)) — deriving them from na/nab would re-run
    # those groupBys' full lineage, and at scale an unpartitioned window
    # over a vocab-sized table would funnel it into one partition
    tots = toks.agg(
        F.sum(F.size(tk)).cast("long").alias("n"),
        F.sum(F.greatest(F.size(tk) - 1, F.lit(0))).cast("long").alias("b"),
    )
    lift = (
        (F.col("n_ab").cast("double") * F.col("n")) * F.col("n")
    ) / ((F.col("b").cast("double") * F.col("na_w")) * F.col("nb_w"))
    return (
        nab.where(F.col("n_ab") >= 5)
        .join(F.broadcast(na.withColumnRenamed("w", "tok_a").withColumnRenamed("n_w", "na_w")), "tok_a")
        .join(F.broadcast(na.withColumnRenamed("w", "tok_b").withColumnRenamed("n_w", "nb_w")), "tok_b")
        .join(F.broadcast(tots))
        .select("tok_a", "tok_b", "n_ab", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "tok_a", "tok_b")
        .limit(50)
    )


@register(
    "x70_lm_score_buckets",
    r"""
    WITH tk AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), tok AS (
      SELECT doc_id, lang, tokw FROM tk, UNNEST(t) AS u(tokw)
    ), ct AS (
      SELECT tokw, CAST(COUNT(*) AS BIGINT) AS c_t FROM tok GROUP BY tokw
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok
    ), sc AS (
      SELECT tok.doc_id, tok.lang,
             CAST(SUM(CAST(floor(CAST(ct.c_t AS DOUBLE) / tot.n * 1e15 + 0.5)
                           AS BIGINT)) AS DOUBLE) / 1e15 / COUNT(*)
               AS mtp
      FROM tok JOIN ct USING (tokw) CROSS JOIN tot
      GROUP BY tok.doc_id, tok.lang
    ), th AS (
      SELECT lang,
             quantile_cont(mtp, CAST(1 AS DOUBLE) / 3) AS t1,
             quantile_cont(mtp, CAST(2 AS DOUBLE) / 3) AS t2
      FROM sc GROUP BY lang
    )
    SELECT sc.lang,
           CASE WHEN sc.mtp >= th.t2 THEN 'head'
                WHEN sc.mtp >= th.t1 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(floor(sc.mtp * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1e12 / COUNT(*) AS mean_prob
    FROM sc JOIN th USING (lang)
    GROUP BY 1, 2
    """,
)
def x70_lm_score_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] CCNet-style head/middle/tail bucketing (Wenzek et al.,
    arXiv:1911.00359): documents are scored under a corpus LM and split
    per LANGUAGE at the score terciles — 'head' feeds high-quality
    training mixes, 'tail' gets dropped or down-weighted. The LM score is
    x37's transcendental-free mean unigram probability (same ranking as
    unigram perplexity, bit-stable across engines); thresholds are exact
    interpolated terciles computed per language.

    Scale shape: the per-doc score pipeline is x37's (vocab broadcast
    onto the token stream, doc-keyed rollup); the threshold table is
    |langs| rows — an aggregate over doc-level scores, NOT the corpus —
    and broadcasts back into the doc-score stream for bucketing, so the
    corpus is tokenized once and the extra bucketing cost is one
    doc-level shuffle. Exact percentile is doc-level-feasible even at
    100 TB corpus scale (scores are one row per doc); approx_percentile
    is the drop-in if doc counts outgrow it (x52 gates that sketch)."""
    d = t(spark, sf_dir, "documents")
    # cached: consumed by BOTH the threshold aggregate and the bucketing
    # join — doc-level (one row per doc), so the cache is corpus-small
    sc = (
        doc_mean_token_prob(d, extra_cols=["lang"])
        .withColumnRenamed("mean_token_prob", "mtp")
        .cache()
    )
    th = sc.groupBy("lang").agg(
        F.expr("percentile(mtp, CAST(1 AS DOUBLE) / 3)").alias("t1"),
        F.expr("percentile(mtp, CAST(2 AS DOUBLE) / 3)").alias("t2"),
    )
    bucket = (
        F.when(F.col("mtp") >= F.col("t2"), "head")
        .when(F.col("mtp") >= F.col("t1"), "middle")
        .otherwise("tail")
    )
    return (
        sc.join(F.broadcast(th), "lang")
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (
                F.sum(F.floor(F.col("mtp") * 1e12 + 0.5).cast("long")).cast("double")
                / 1e12
                / F.count(F.lit(1))
            ).alias("mean_prob"),
        )
    )


_X71_ORACLE = f"""
    WITH g AS (
      SELECT doc_id, length(text) - {WINNOW_K - 1} AS ng, u.pos,
             ('0x' || substring(
                md5(substring(lower(text), u.pos, {WINNOW_K})), 1, 8))::BIGINT
               * 10000000 + (9999999 - u.pos) AS enc
      FROM documents,
           LATERAL unnest(generate_series(1, length(text) - {WINNOW_K} + 1)) AS u(pos)
    ),
    sel AS (
      SELECT doc_id, pos, ng,
             min(enc) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS menc
      FROM g
    ),
    fps AS (
      SELECT DISTINCT doc_id, menc // 10000000 AS fp_hash
      FROM sel WHERE pos <= ng - {WINNOW_W - 1}
    ),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM fps GROUP BY doc_id
    ),
    sh AS (
      SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM fps a JOIN fps b ON a.fp_hash = b.fp_hash AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT inner_doc, outer_doc, si.n AS n_inner_fps, so.n AS n_outer_fps
    FROM sh
    JOIN sizes si ON si.doc_id = sh.inner_doc
    JOIN sizes so ON so.doc_id = sh.outer_doc
    WHERE sh.shared = si.n AND si.n >= 3 AND si.n < so.n
"""


@register("x71_containment_dupes", _X71_ORACLE)
def x71_containment_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] CONTAINMENT dedup — the asymmetric near-dup class symmetric
    similarity misses: doc A subsumed by a larger doc B (quotes, reposts,
    page-in-page boilerplate), detected as A's winnowing fingerprint set
    being a SUBSET of B's (shared == |fps(A)|, with |fps(A)| < |fps(B)|
    so mutual containment / identical docs stay with x01/x23, and a ≥3
    floor against trivial sets). Winnowing guarantees any shared run of
    ≥ w+k−1 chars contributes a shared fingerprint, so subset-ness is a
    faithful proxy for textual containment at the gram scale.

    Scale shape: same fp_hash-keyed candidate join as x23 (Σ|bucket|²,
    never all-pairs), then the directed pair table joins the doc-level
    size table on its keys — all key-shuffles, nothing broadcastier than
    it can afford (the size table is corpus-row-count sized, so it joins
    by key rather than broadcasting)."""
    d = t(spark, sf_dir, "documents")
    fps = winnowing_fingerprints(d).cache()
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = fps.select(F.col("doc_id").alias("inner_doc"), "fp_hash")
    b = fps.select(F.col("doc_id").alias("outer_doc"), "fp_hash")
    sh = (
        a.join(b, "fp_hash")
        .where(F.col("inner_doc") != F.col("outer_doc"))
        .groupBy("inner_doc", "outer_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    si = sizes.select(F.col("doc_id").alias("inner_doc"), F.col("n").alias("n_inner_fps"))
    so = sizes.select(F.col("doc_id").alias("outer_doc"), F.col("n").alias("n_outer_fps"))
    return (
        sh.join(si, "inner_doc")
        .join(so, "outer_doc")
        .where(
            (F.col("shared") == F.col("n_inner_fps"))
            & (F.col("n_inner_fps") >= 3)
            & (F.col("n_inner_fps") < F.col("n_outer_fps"))
        )
        .select("inner_doc", "outer_doc", "n_inner_fps", "n_outer_fps")
    )


_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_X73_N_SQL = " + ".join(
    f"(strlen(t) - strlen(replace(t, '{c}', '')))" for c in _LETTERS
)
_X73_SQ_SQL = " + ".join(
    f"(strlen(t) - strlen(replace(t, '{c}', ''))) * (strlen(t) - strlen(replace(t, '{c}', '')))"
    for c in _LETTERS
)


@register(
    "x73_char_diversity_filter",
    f"""
    WITH lt AS (SELECT doc_id, lower(text) AS t FROM documents),
    h AS (
      SELECT doc_id,
             CAST({_X73_N_SQL} AS BIGINT) AS n_alpha,
             CAST({_X73_SQ_SQL} AS BIGINT) AS sq
      FROM lt
    )
    SELECT doc_id, n_alpha,
           CASE WHEN n_alpha > 0
                THEN CAST(n_alpha * n_alpha - sq AS DOUBLE) / (n_alpha * n_alpha)
                ELSE 0.0 END AS gini,
           (n_alpha > 0 AND
            CAST(n_alpha * n_alpha - sq AS DOUBLE) / (n_alpha * n_alpha) >= 0.9)
             AS is_diverse
    FROM h
    """,
)
def x73_char_diversity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Gibberish/low-diversity filter via CHARACTER GINI IMPURITY —
    the transcendental-free stand-in for character-entropy filtering
    (aaaaaa…-style degenerate text scores near 0, natural text near the
    alphabet's impurity ceiling): gini = 1 − Σp_c² = (n² − Σc_i²)/n²
    over the 26-letter histogram, ONE division of exact integers — no
    log(), bit-identical in any engine. The histogram itself is 26
    `strlen − strlen(replace(…))` expressions: zero explode, zero
    shuffle, pure whole-stage-codegen scan — at 100 TB this runs at I/O
    speed where a char-explode would 157× the row count (mean doc
    length) before aggregating it back."""
    d = t(spark, sf_dir, "documents")
    # r10 (guide §4.2): the histogram ran as 26 `length − length(replace)`
    # expression pairs, EACH re-lowering and re-scanning the full text —
    # 52 string scans (plus 26 lowered copies) per row of pure JVM CPU,
    # at any scale. One numpy pass now bincounts the UTF-8 bytes of the
    # lowered text per row: a-z byte values (0x61-0x7A) never occur
    # inside multi-byte UTF-8 sequences, so byte counts == the character
    # occurrence counts the expressions measured, exactly. n_alpha/sq
    # stay exact integers; gini is the same single IEEE divide.
    # Equivalence pinned on the full fixture + case/symbol edges in
    # tests/test_r10_optimizations.py.
    import numpy as np
    import pandas as pd

    def hist(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts = pdf["text"].values
            null = pd.isna(texts)
            n = np.zeros(len(texts), dtype=np.int64)
            sq = np.zeros(len(texts), dtype=np.int64)
            for j, s in enumerate(texts):
                if null[j]:
                    continue
                b = np.frombuffer(s.lower().encode("utf-8"), dtype=np.uint8)
                h = np.bincount(b, minlength=123)[97:123].astype(np.int64)
                n[j] = h.sum()
                sq[j] = (h * h).sum()
            n2 = (n * n).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                gini = np.where(n > 0, (n * n - sq) / n2, 0.0)
            # NULL text: n_alpha and is_diverse are NULL (SQL propagation
            # through the oracle), gini takes the CASE's ELSE 0.0
            n_alpha = pd.array(n, dtype="Int64")
            is_diverse = pd.array((n > 0) & (gini >= 0.9), dtype="boolean")
            n_alpha[null] = pd.NA
            is_diverse[null] = pd.NA
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_alpha": n_alpha,
                    "gini": gini,
                    "is_diverse": is_diverse,
                }
            )

    return ensure_min_parallelism(d.select("doc_id", "text")).mapInPandas(
        hist, "doc_id long, n_alpha long, gini double, is_diverse boolean"
    )


@register(
    "x74_eval_leakage_coverage",
    r"""
    WITH tk AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, source, unnest(list_distinct(
               list_transform(range(1, GREATEST(length(t) - 2, 1)),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                        || ' ' || t[i+3])
             )) AS gram
      FROM tk WHERE length(t) >= 4
    ), tr AS (
      SELECT DISTINCT gram FROM g WHERE source NOT IN ('src0', 'src1')
    ), ev AS (
      SELECT g.doc_id, g.source, g.gram,
             CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM g LEFT JOIN tr ON tr.gram = g.gram
      WHERE g.source IN ('src0', 'src1')
    )
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(hit) AS BIGINT) AS n_covered,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS coverage
    FROM ev GROUP BY doc_id, source
    """,
)
def x74_eval_leakage_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Per-EVAL-document leakage coverage — x58's reversed quadrant:
    for every held-out eval document (src0/src1), the fraction of its
    distinct word 4-grams that appear ANYWHERE in the training corpus —
    the ROUGE-recall-style severity score benchmark audits report per
    item (x58 answers "which training docs to quarantine"; this answers
    "how burned is each eval item", including 0%-covered items).

    Scale shape inverts x58's broadcast: the training gram set is
    corpus-sized and canNOT broadcast, so the (small) eval gram set
    broadcasts into the training-gram scan to produce the matched-gram
    set — eval-sized by construction — which then broadcasts back into
    the per-eval-doc rollup. The corpus crosses the wire exactly once;
    nothing corpus-sized is ever collected or broadcast."""
    from smfg_datawarehouse_spark.functions import word_shingles

    d = t(spark, sf_dir, "documents")
    g = ensure_min_parallelism(d).select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.col("text"), 4)).alias("gram"),
    )
    is_eval = F.col("source").isin("src0", "src1")
    ev_grams = g.where(is_eval)
    ev_gram_set = ev_grams.select("gram").distinct()
    matched = (
        g.where(~is_eval)
        .select("gram")
        .join(F.broadcast(ev_gram_set), "gram")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        ev_grams.join(F.broadcast(matched), "gram", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_covered"),
            (
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("coverage"),
        )
    )


_QUALITY_SCORE_SQL = r"""
      SELECT doc_id, source,
             0.4 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                         AS DOUBLE) / length(text))
               + 0.3 * (CASE WHEN len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                                  w -> w <> '')) > 0
                             THEN CAST(len(list_filter(
                                      regexp_split_to_array(lower(text), '\s+'),
                                      w -> w IN ('the','a','of','and','to','in','is','it')))
                                    AS DOUBLE)
                                  / len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                                    w -> w <> ''))
                             ELSE 0.0 END)
               + 0.3 * (CAST(LEAST(length(text), 500) AS DOUBLE) / 500.0)
               AS quality_score
      FROM documents
"""


@register(
    "x76_quality_calibration",
    f"""
    WITH sc AS ({_QUALITY_SCORE_SQL}),
    rk AS (
      SELECT doc_id, source, quality_score,
             PERCENT_RANK() OVER (PARTITION BY source
                                  ORDER BY quality_score, doc_id) AS pct_rank
      FROM sc
    )
    SELECT doc_id, source, quality_score, pct_rank,
           CAST(LEAST(9, CAST(FLOOR(pct_rank * 10) AS BIGINT)) AS BIGINT) AS decile
    FROM rk
    """,
)
def x76_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.6] Cross-source QUALITY CALIBRATION: x21's raw composite
    quality score is re-expressed as a within-source percentile
    (PERCENT_RANK over the source partition, doc_id tie-break) plus a
    decile bucket. Raw scores are not comparable across crawl domains —
    a 0.6 from a boilerplate-heavy domain may be its best content while
    the same 0.6 is another domain's worst — so curation thresholds in
    real mixes (e.g. CCNet's per-language/per-domain buckets) cut on the
    WITHIN-SOURCE rank, which this makes a first-class column.

    Determinism: percent_rank = (rank-1)/(n-1) is a ratio of exact ints;
    the doc_id tie-break makes the ordering total, and the decile floor
    runs on bit-identical doubles in both engines. Scale shape: pure scan
    expression + ONE window shuffle on source; at extreme source skew the
    window is per-key linear (no buffering — percent_rank streams)."""
    d = quality_features(t(spark, sf_dir, "documents"))
    w = W.partitionBy("source").orderBy("quality_score", "doc_id")
    pct = F.percent_rank().over(w)
    return d.select(
        "doc_id",
        "source",
        "quality_score",
        pct.alias("pct_rank"),
        F.least(F.lit(9), F.floor(pct * 10).cast("long")).cast("long").alias("decile"),
    )


@register(
    "x77_zipf_constant",
    r"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                w -> w <> '')) AS tok
      FROM documents
    ),
    freqs AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
    top AS (
      SELECT tok, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rnk
      FROM freqs QUALIFY rnk <= 50
    )
    SELECT tok,
           CAST(freq AS BIGINT) AS freq,
           CAST(rnk AS BIGINT) AS rank,
           CAST(rnk * freq AS BIGINT) AS zipf_c,
           CAST(rnk * freq AS DOUBLE)
             / MAX(CASE WHEN rnk = 1 THEN rnk * freq END) OVER () AS rel_c
    FROM top
    """,
)
def x77_zipf_constant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.6] ZIPF-FIT corpus health check, transcendental-free: under
    Zipf's law rank×frequency is ~constant, so the per-rank constant
    ``zipf_c = rank·freq`` and its ratio to the rank-1 constant
    (``rel_c``) expose distribution anomalies — synthetic/templated text
    shows a flat head (rel_c ≈ 1 far down the ranks), boilerplate
    duplication shows cliffs — without fitting a log-log slope (log()
    differs in the last ulp across libm builds; integer products never
    do). Stopwords are kept: Zipf is about the NATURAL frequency head.

    Scale shape: explode + map-side-combined groupBy (vocabulary-sized
    output, sublinear in corpus), TakeOrderedAndProject top-50, then
    rank/normalize windows over the 50-row result — the only global
    windows run AFTER the limit."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(F.explode(word_tokens(F.col("text"))).alias("tok"))
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(50)
    )
    ranked = top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.col("freq").desc(), "tok")).cast("long")
    ).withColumn("zipf_c", (F.col("rank") * F.col("freq")).cast("long"))
    c1 = F.max(F.when(F.col("rank") == 1, F.col("zipf_c"))).over(W.partitionBy())
    return ranked.select(
        "tok",
        F.col("freq").cast("long").alias("freq"),
        "rank",
        "zipf_c",
        (F.col("zipf_c").cast("double") / c1).alias("rel_c"),
    )


@register(
    "x78_tokenizer_fertility",
    f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len(regexp_extract_all(text, '{BPE_PATTERN}'))) AS BIGINT)
             AS total_bpe_tokens,
           CASE WHEN SUM(len(regexp_extract_all(text, '{BPE_PATTERN}'))) > 0
                THEN CAST(SUM(strlen(text)) AS DOUBLE)
                     / SUM(len(regexp_extract_all(text, '{BPE_PATTERN}')))
                END AS bytes_per_token,
           CASE WHEN SUM(len(regexp_extract_all(text, '{BPE_PATTERN}'))) > 0
                THEN CAST(SUM(length(text)) AS DOUBLE)
                     / SUM(len(regexp_extract_all(text, '{BPE_PATTERN}')))
                END AS chars_per_token
    FROM documents
    GROUP BY lang
    """,
)
def x78_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.6] TOKENIZER FERTILITY by language: bytes-per-token and
    chars-per-token of the BPE-ish pre-tokenization (x24's pattern) per
    language bucket — the metric that decides whether a tokenizer's byte
    budget is being spent evenly across a multilingual mix (high fertility
    = a language pays more tokens per byte of content; mixes are then
    re-weighted or the vocab re-trained). UTF-8 byte length via
    octet_length ≠ char length in general (ASCII fixture makes them equal
    — the distinction still exercises both code paths).

    Determinism: every output is a BIGINT sum or a single double division
    of two exact sums. Scale shape: one narrow scan, map-side-combined
    groupBy on lang (≤ dozens of groups) — corpus-linear, shuffle is
    group-count-sized."""
    d = t(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0)))
    return (
        d.select(
            "lang",
            F.octet_length("text").cast("long").alias("b"),
            F.length("text").cast("long").alias("c"),
            bpe.cast("long").alias("tk"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("b").cast("long").alias("total_bytes"),
            F.sum("c").cast("long").alias("total_chars"),
            F.sum("tk").cast("long").alias("total_bpe_tokens"),
            # zero-token guard: Spark yields NULL on 0/0 double division
            # but DuckDB yields Infinity — make NULL explicit in BOTH
            F.when(
                F.sum("tk") > 0, F.sum("b").cast("double") / F.sum("tk")
            ).alias("bytes_per_token"),
            F.when(
                F.sum("tk") > 0, F.sum("c").cast("double") / F.sum("tk")
            ).alias("chars_per_token"),
        )
    )


@register(
    "x79_k_anonymity_risk",
    """
    WITH cells AS (
      SELECT lang, source,
             CAST(LEAST(length(text) // 100, 9) AS BIGINT) AS len_bucket,
             COUNT(*) AS cell_size
      FROM documents
      GROUP BY lang, source, LEAST(length(text) // 100, 9)
    )
    SELECT lang, source, len_bucket,
           CAST(cell_size AS BIGINT) AS cell_size,
           cell_size < 5 AS below_k
    FROM cells
    """,
)
def x79_k_anonymity_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.6] K-ANONYMITY risk report over quasi-identifiers: documents
    are binned by the (lang, source, length-bucket) quasi-identifier
    tuple and every cell smaller than k=5 is flagged — records in such
    cells are re-identifiable by their metadata alone, the standard
    privacy gate a training corpus passes before release (alongside
    x33's direct-PII masking: x33 removes identifiers IN the text, this
    finds identifying COMBINATIONS of attributes). Length is bucketed to
    100-char bands capped at 9 so the quasi-identifier stays
    low-cardinality (raw lengths would make every doc its own cell and
    the report vacuous). Character length on both sides (Spark
    ``F.length`` == DuckDB ``length``), per the repo's byte-vs-char
    discipline — bands are *char* bands as named.

    Scale shape: one map-side-combined groupBy onto the QI-cell frame
    (|langs|·|sources|·10 rows) — corpus-linear, output tiny; the
    below-k flag is a scan expression on the aggregate."""
    d = t(spark, sf_dir, "documents")
    len_bucket = F.least(
        F.floor(F.length("text") / 100).cast("long"), F.lit(9).cast("long")
    )
    return (
        d.groupBy("lang", "source", len_bucket.alias("len_bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("cell_size"))
        .withColumn("below_k", F.col("cell_size") < 5)
    )


@register(
    "x81_embedding_alignment",
    """
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(e.vec_id) AS BIGINT) AS n_paired,
           CAST(COUNT(e.vec_id) AS DOUBLE) / COUNT(*) AS coverage,
           CAST(COUNT(DISTINCT e.label) AS BIGINT) AS n_labels,
           CAST(SUM(CASE WHEN e.vec_id IS NOT NULL
                         THEN length(d.text) END) AS BIGINT) AS paired_chars
    FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.source
    """,
)
def x81_embedding_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/J/§2.6] TEXT↔EMBEDDING ALIGNMENT audit: left-join documents to
    their precomputed embedding rows (doc_id = vec_id) and report
    per-source pairing coverage, label diversity among paired docs, and
    the paired character mass — the pre-flight check before any
    embedding-dependent stage (x05/x10/x54): a source with low coverage
    would silently vanish from semantic dedup/ANN results, which this
    makes visible instead (sf0.1 has 2000 embeddings for 5000 docs by
    fixture design, so partial coverage is actually exercised).

    Scale shape: ONE key-shuffled left join (both sides hash-partitioned
    on the id — at 100 TB this is the canonical co-partitioned join, and
    bucketing both tables on the id makes it shuffle-free per l04), then
    a map-side-combined rollup to |sources| rows. COUNT(DISTINCT label)
    runs as a two-phase partial-distinct aggregate, not a global
    collect."""
    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "embeddings")
    j = d.join(e, d.doc_id == e.vec_id, "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("vec_id").cast("long").alias("n_paired"),
        (F.count("vec_id").cast("double") / F.count(F.lit(1))).alias("coverage"),
        F.count_distinct("label").cast("long").alias("n_labels"),
        # character length (== DuckDB length), not octet_length: the
        # column is named paired_CHARS — byte-vs-char discipline
        F.sum(
            F.when(F.col("vec_id").isNotNull(), F.length("text"))
        ).cast("long").alias("paired_chars"),
    )


@register(
    "x82_lang_confusion",
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS tk
      FROM documents
    ), hits AS (
      SELECT doc_id, lang,
             CAST(length(list_filter(tk, w -> w IN ('the','and','of','to','is'))) AS BIGINT) AS hits_en,
             CAST(length(list_filter(tk, w -> w IN ('le','la','et','les','des'))) AS BIGINT) AS hits_fr,
             CAST(length(list_filter(tk, w -> w IN ('der','die','und','das','ist'))) AS BIGINT) AS hits_de,
             CAST(length(list_filter(tk, w -> w IN ('el','la','los','que','es'))) AS BIGINT) AS hits_es
      FROM toks
    ), pred AS (
      SELECT lang,
             CASE WHEN hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_es
                       AND hits_en > 0 THEN 'en'
                  WHEN hits_fr >= hits_de AND hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
                  WHEN hits_de >= hits_es AND hits_de > 0 THEN 'de'
                  WHEN hits_es > 0 THEN 'es'
                  ELSE 'und' END AS pred_lang
      FROM hits
    )
    SELECT lang AS declared_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY lang) AS row_frac,
           lang = pred_lang AS agree
    FROM pred
    GROUP BY lang, pred_lang
    """,
)
def x82_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.6] LANGUAGE-LABEL CONFUSION MATRIX: the table's declared
    ``lang`` column crossed with x22's stopword-heuristic detection —
    per (declared, detected) cell counts and row-normalized fractions.
    Declared labels in crawled corpora are noisy (CLD mislabels, site
    metadata lies); the confusion matrix is how a pipeline decides
    whether to TRUST the upstream label, re-run detection, or drop the
    disagreeing slice — and its diagonal mass is the detector's
    agreement rate, computed without any ground-truth annotation.

    Determinism: counts are exact ints, row_frac one double division.
    Scale shape: detection is a pure scan expression; ONE
    map-side-combined groupBy to a |langs|² matrix; the normalizing
    window runs on that tiny frame."""
    d = lang_id(t(spark, sf_dir, "documents"))
    m = d.groupBy(
        F.col("lang").alias("declared_lang"), "pred_lang"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = W.partitionBy("declared_lang")
    return m.select(
        "declared_lang",
        "pred_lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias("row_frac"),
        (F.col("declared_lang") == F.col("pred_lang")).alias("agree"),
    )


@register(
    "x83_dup_cluster_histogram",
    """
    WITH clusters AS (
      SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             COUNT(*) AS cluster_size
      FROM documents GROUP BY 1
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS removable_docs,
           CAST(cluster_size * COUNT(*) AS DOUBLE)
             / SUM(cluster_size * COUNT(*)) OVER () AS doc_frac
    FROM clusters GROUP BY cluster_size
    """,
)
def x83_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.6] DUPLICATE-CLUSTER SIZE HISTOGRAM: exact-dup clusters
    (x01's whitespace-normalized md5 identity) rolled up by cluster
    size — how much of the corpus sits in singletons vs heavy
    boilerplate clusters, and the removable mass (size−1 per cluster)
    deduplication would reclaim. This is the histogram behind every
    dedup-impact decision (x55 reports the before/after totals; this
    shows the SHAPE — a corpus with 10-doc clusters dedups very
    differently from one with two 10k-doc template blobs).

    Determinism: pure integer counts, one double fraction. Scale
    shape: two map-side-combined groupBys (fingerprint → size,
    size → histogram) — the classic two-level rollup; output is
    ≤ max-cluster-size rows; the normalizing window runs on that tiny
    frame."""
    d = t(spark, sf_dir, "documents")
    clusters = d.groupBy(fingerprint(F.col("text")).alias("fp")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    w = W.partitionBy()
    return hist.select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.col("n_clusters")).cast("long").alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.col("n_clusters"))
        .cast("long")
        .alias("removable_docs"),
        (
            (F.col("cluster_size") * F.col("n_clusters")).cast("double")
            / F.sum(F.col("cluster_size") * F.col("n_clusters")).over(w)
        ).alias("doc_frac"),
    )


@register(
    "x87_domain_reweighting",
    r"""
    WITH tk AS (
      SELECT source,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), tok AS (
      SELECT source, tokw FROM tk, UNNEST(t) AS u(tokw)
    ), cst AS (
      SELECT source, tokw, CAST(COUNT(*) AS BIGINT) AS c_st
      FROM tok GROUP BY source, tokw
    ), nd AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), ns AS (
      SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM cst GROUP BY source
    ), ct AS (
      SELECT tokw, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst GROUP BY tokw
    ), tot AS (
      SELECT CAST(SUM(c_st) AS BIGINT) AS n FROM cst
    ), pu AS (
      SELECT tokw, c_t, tot.n,
             CAST(floor(CAST(c_t AS DOUBLE) / tot.n * 1e15 + 0.5)
                  AS BIGINT) AS p_units
      FROM ct CROSS JOIN tot
    ), src AS (
      SELECT cst.source,
             CAST(SUM(cst.c_st * pu.p_units) AS DOUBLE) / 1e15 / MAX(ns.n_s)
               AS mean_token_prob
      FROM cst JOIN pu USING (tokw) JOIN ns ON ns.source = cst.source
      GROUP BY cst.source
    ), ref AS (
      SELECT CAST(SUM(c_t * p_units) AS DOUBLE) / 1e15 / MAX(n) AS ref_prob
      FROM pu
    ), wts AS (
      SELECT s.source, nd.n_docs, ns.n_s,
             CAST(ns.n_s AS DOUBLE) / tot.n AS natural_share,
             s.mean_token_prob,
             greatest(0.0, (r.ref_prob - s.mean_token_prob) / r.ref_prob)
               AS excess,
             CAST(floor((CAST(ns.n_s AS DOUBLE) / tot.n)
                        * (1.0 + greatest(0.0, (r.ref_prob - s.mean_token_prob)
                                               / r.ref_prob))
                        * 1e12 + 0.5) AS BIGINT) AS u
      FROM src s
      JOIN nd ON nd.source = s.source
      JOIN ns ON ns.source = s.source
      CROSS JOIN tot CROSS JOIN ref r
    )
    SELECT source, n_docs, CAST(n_s AS BIGINT) AS n_tokens,
           natural_share, mean_token_prob, excess,
           CAST(u AS DOUBLE) / CAST(SUM(u) OVER () AS DOUBLE) AS doremi_weight
    FROM wts
    """,
)
def x87_domain_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.6] DoReMi-style PER-DOMAIN REWEIGHTING audit (Xie et al.,
    arXiv:2305.10429): domains whose tokens fit the corpus-wide unigram
    reference WORSE get upweighted relative to their natural share —
    the mixture-adjustment step between x37's scoring and x67's mixture
    application. The excess-loss proxy is RATIONAL, not transcendental
    (repo discipline: log/exp are not bit-reproducible across engines):
    per-domain mean token probability under the corpus unigram LM stands
    in for negative loss, excess_s = max(0, (ref − p_s)/ref) ∈ [0, 1)
    for the clipped excess, and the DoReMi multiplicative update with
    η = 1 becomes weight_s ∝ natural_share_s · (1 + excess_s),
    normalized. Same ranking signal as the published exp(η·excess)
    update in the small-excess regime, bit-replayable everywhere.

    Determinism: token probabilities on the exact femto-grid (x37's
    convention), per-domain sums are exact integer, the weight enters a
    pico-unit integer before the window normalization (x39's idiom) —
    the output is a pure function of counts. Scale shape: ONE tokenize+
    explode pass into the cached (source, token) count table (vocab-
    sized), everything downstream is vocab- or domain-sized broadcasts;
    no corpus-sized shuffle beyond the count groupBy."""
    d = t(spark, sf_dir, "documents")
    tok = (
        ensure_min_parallelism(d)
        .withColumn("_tk", word_tokens(F.col("text")))
        .select("source", F.explode("_tk").alias("tokw"))
    )
    cst = tok.groupBy("source", "tokw").agg(F.count(F.lit(1)).alias("c_st")).cache()
    nd = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    ns = cst.groupBy("source").agg(F.sum("c_st").cast("long").alias("n_s"))
    ct = cst.groupBy("tokw").agg(F.sum("c_st").cast("long").alias("c_t"))
    tot = cst.agg(F.sum("c_st").cast("long").alias("n"))
    pu = ct.crossJoin(F.broadcast(tot)).select(
        "tokw", "c_t", "n",
        F.floor(F.col("c_t").cast("double") / F.col("n") * 1e15 + 0.5)
        .cast("long")
        .alias("p_units"),
    )
    src = (
        cst.join(F.broadcast(pu.select("tokw", "p_units")), "tokw")
        .join(F.broadcast(ns), "source")
        .groupBy("source")
        .agg(
            (
                F.sum(F.col("c_st") * F.col("p_units")).cast("double")
                / 1e15
                / F.max("n_s")
            ).alias("mean_token_prob")
        )
    )
    ref = pu.agg(
        (
            F.sum(F.col("c_t") * F.col("p_units")).cast("double")
            / 1e15
            / F.max("n")
        ).alias("ref_prob")
    )
    excess = F.greatest(
        F.lit(0.0),
        (F.col("ref_prob") - F.col("mean_token_prob")) / F.col("ref_prob"),
    )
    share = F.col("n_s").cast("double") / F.col("n")
    u = F.floor(share * (F.lit(1.0) + excess) * 1e12 + 0.5).cast("long")
    w = W.partitionBy()
    return (
        src.join(F.broadcast(nd), "source")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ref))
        .select(
            "source", "n_docs",
            F.col("n_s").alias("n_tokens"),
            share.alias("natural_share"),
            "mean_token_prob",
            excess.alias("excess"),
            u.alias("u"),
        )
        .select(
            "source", "n_docs", "n_tokens", "natural_share",
            "mean_token_prob", "excess",
            (
                F.col("u").cast("double") / F.sum("u").over(w).cast("double")
            ).alias("doremi_weight"),
        )
    )




# ---------------------------------------------------------------------------
# x121: bigram language-model scoring (train-split counts → val perplexity
# proxy). The Markov upgrade of x37's unigram mean-token-probability: CCNet/
# Gopher-style LM quality signals rank documents by how probable a small LM
# finds them; a bigram model with add-one smoothing is the largest such
# model whose training AND scoring are pure relational algebra (two keyed
# rollups + two joins) — no log/exp anywhere (libm divergence), so the
# scores replay bit-exactly: every conditional probability is a ratio of
# exact BIGINTs, quantized to nano-units before the per-doc integer sum.
# ---------------------------------------------------------------------------

_X121_ORACLE = r"""
    WITH tk AS (
      SELECT doc_id, source,
             md5(CAST(doc_id AS VARCHAR)) < 'c' AS is_train,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ),
    bi AS (
      SELECT doc_id, source, is_train, u.pair[1] AS w1, u.pair[2] AS w2
      FROM tk, UNNEST(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(pair)
      WHERE len(t) >= 2
    ),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
           FROM bi WHERE is_train GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
           FROM bi WHERE is_train GROUP BY w1),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
      FROM tk, UNNEST(t) AS u(tok) WHERE is_train
    ),
    scored AS (
      SELECT b.doc_id, b.source,
             CAST(floor(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)
                        / (COALESCE(c1.c1, 0) + vocab.v)
                        * 1000000000.0 + 0.5) AS BIGINT) AS p_nano
      FROM bi b
      LEFT JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
      LEFT JOIN c1 ON c1.w1 = b.w1
      CROSS JOIN vocab
      WHERE NOT b.is_train
    )
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(p_nano) AS BIGINT) AS sum_p_nano,
           CAST(SUM(p_nano) AS DOUBLE) / COUNT(*) / 1000000000.0 AS avg_p
    FROM scored GROUP BY doc_id, source
"""


@register("x121_bigram_lm_score", _X121_ORACLE)
def x121_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] BIGRAM LM QUALITY SCORE: train add-one-smoothed bigram
    conditionals on the x29 hash train split, score every held-out doc by
    its mean conditional token probability p(w2|w1) = (c(w1,w2)+1)/
    (c(w1·)+|V|) — the relational instance of the LM-based quality
    ranking CCNet/Gopher pipelines run before sampling training data
    (x70 buckets externally-supplied scores; this TRAINS the scorer
    in-engine). All probabilities are ratios of exact BIGINT counts,
    quantized half-up to nano-units and integer-summed per doc, so the
    score is partition-order-free and engine-exact; the only floats are
    one final division pair written identically in both engines.

    Scale shape: bigram counts are ONE keyed shuffle over the train
    corpus (map-side combined); scoring joins val bigrams against the
    count tables keyed on (w1[,w2]) — broadcastable when the vocabulary
    is, shuffle joins otherwise — then one doc-keyed rollup. No window,
    no collect, no transcendental."""
    d = t(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id",
        "source",
        (F.md5(F.col("doc_id").cast("string")) < "c").alias("is_train"),
        word_tokens(F.col("text")).alias("t"),
    )
    bi = (
        tk.where(F.size("t") >= 2)
        .select(
            "doc_id",
            "source",
            "is_train",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(t, 1, size(t) - 1)"),
                    F.expr("slice(t, 2, size(t) - 1)"),
                )
            ).alias("pr"),
        )
        .select(
            "doc_id",
            "source",
            "is_train",
            F.col("pr")["0"].alias("w1"),
            F.col("pr")["1"].alias("w2"),
        )
    )
    train = bi.where("is_train")
    c2 = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = train.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        tk.where("is_train")
        .select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    p = (
        (F.coalesce(F.col("c2"), F.lit(0)) + 1).cast("double")
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
    )
    scored = (
        bi.where(~F.col("is_train"))
        .join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "source",
            F.floor(p * 1000000000.0 + 0.5).cast("long").alias("p_nano"),
        )
    )
    return scored.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("p_nano").cast("long").alias("sum_p_nano"),
        (
            F.sum("p_nano").cast("double") / F.count(F.lit(1)) / 1000000000.0
        ).alias("avg_p"),
    )


# ---------------------------------------------------------------------------
# x124: filter-funnel attrition report over the x60 Gopher gates — the
# aggregate view a curation run publishes beside the per-doc verdicts:
# how many documents each gate kills, the cumulative survivor count in
# the pipeline's fixed gate order, and each gate's UNIQUE kills (docs no
# other gate would have caught — the marginal value of keeping the rule).
# One scan + one 4-row rollup; changing a threshold re-runs in seconds at
# any corpus size because nothing here is per-doc output.
# ---------------------------------------------------------------------------

_X124_GATES = ["word_count", "mean_word_len", "alpha", "stopwords"]

_X124_ORACLE = r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), feats AS (
      SELECT doc_id,
             CAST(length(t) AS BIGINT) AS n_words,
             CAST(list_reduce(list_transform(t, w -> length(w)),
                              (a, b) -> a + b) AS DOUBLE)
               / length(t) AS mean_word_len,
             CAST(length(list_filter(t,
                    w -> regexp_full_match(w, '[a-z]+'))) AS DOUBLE)
               / length(t) AS frac_alpha_words,
             CAST(length(list_filter(t,
                    w -> w IN ('the','a','of','and','to','in','is','it')))
               AS BIGINT) AS n_stopword_hits
      FROM tk WHERE length(t) >= 1
    ), flags AS (
      SELECT doc_id,
             NOT (n_words BETWEEN 50 AND 100000) AS k1,
             NOT (mean_word_len BETWEEN 3.0 AND 10.0) AS k2,
             NOT (frac_alpha_words >= 0.8) AS k3,
             NOT (n_stopword_hits >= 2) AS k4
      FROM feats
    ), per_gate AS (
      SELECT 1 AS gate_order, 'word_count' AS gate,
             SUM(CASE WHEN k1 THEN 1 ELSE 0 END) AS n_fail,
             SUM(CASE WHEN k1 THEN 1 ELSE 0 END) AS n_killed_cum,
             SUM(CASE WHEN k1 AND NOT k2 AND NOT k3 AND NOT k4
                      THEN 1 ELSE 0 END) AS n_unique_kills,
             COUNT(*) AS n
      FROM flags
      UNION ALL
      SELECT 2, 'mean_word_len',
             SUM(CASE WHEN k2 THEN 1 ELSE 0 END),
             SUM(CASE WHEN k1 OR k2 THEN 1 ELSE 0 END),
             SUM(CASE WHEN k2 AND NOT k1 AND NOT k3 AND NOT k4
                      THEN 1 ELSE 0 END),
             COUNT(*)
      FROM flags
      UNION ALL
      SELECT 3, 'alpha',
             SUM(CASE WHEN k3 THEN 1 ELSE 0 END),
             SUM(CASE WHEN k1 OR k2 OR k3 THEN 1 ELSE 0 END),
             SUM(CASE WHEN k3 AND NOT k1 AND NOT k2 AND NOT k4
                      THEN 1 ELSE 0 END),
             COUNT(*)
      FROM flags
      UNION ALL
      SELECT 4, 'stopwords',
             SUM(CASE WHEN k4 THEN 1 ELSE 0 END),
             SUM(CASE WHEN k1 OR k2 OR k3 OR k4 THEN 1 ELSE 0 END),
             SUM(CASE WHEN k4 AND NOT k1 AND NOT k2 AND NOT k3
                      THEN 1 ELSE 0 END),
             COUNT(*)
      FROM flags
    )
    SELECT CAST(gate_order AS BIGINT) AS gate_order, gate,
           CAST(n_fail AS BIGINT) AS n_fail,
           CAST(n_unique_kills AS BIGINT) AS n_unique_kills,
           CAST(n_killed_cum AS BIGINT) AS n_killed_cum,
           CAST(n - n_killed_cum AS BIGINT) AS n_surviving
    FROM per_gate
"""


@register("x124_filter_funnel", _X124_ORACLE)
def x124_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] FILTER-FUNNEL ATTRITION over the x60 Gopher gates: per gate, in
    the pipeline's fixed order — documents it fails, documents ONLY it
    fails (the rule's marginal value; a gate with zero unique kills is
    dead weight), cumulative kills, and survivors. x60 answers "why was
    THIS doc dropped"; this answers "what is each RULE costing the
    corpus" — the report that decides threshold changes before a 100 TB
    re-filter. One corpus scan (same gate expressions as x60), aggregated
    map-side into four rows; integer-exact throughout."""
    gates = _gopher_gates(t(spark, sf_dir, "documents"))
    ks = ["k1", "k2", "k3", "k4"]
    flags = gates.select(
        *[
            (~F.col(f"flag_{gate}")).alias(k)
            for k, gate in zip(ks, _X124_GATES, strict=True)
        ]
    )

    def one(x):
        return F.sum(F.when(x, 1).otherwise(0)).cast("long")

    measures = []
    for i, k in enumerate(ks, start=1):
        others = [F.col(o) for o in ks if o != k]
        uniq = F.col(k)
        for o in others:
            uniq = uniq & ~o
        cum = F.col(ks[0])
        for o in ks[1:i]:
            cum = cum | F.col(o)
        measures += [
            one(F.col(k)).alias(f"f{i}"),
            one(uniq).alias(f"u{i}"),
            one(cum).alias(f"c{i}"),
        ]
    wide = flags.agg(*measures, F.count(F.lit(1)).cast("long").alias("n"))
    stack = ", ".join(
        f"{i}L, '{gate}', f{i}, u{i}, c{i}, n - c{i}"
        for i, gate in enumerate(_X124_GATES, start=1)
    )
    return wide.selectExpr(
        f"stack(4, {stack}) AS "
        "(gate_order, gate, n_fail, n_unique_kills, n_killed_cum, n_surviving)"
    )


# ---------------------------------------------------------------------------
# x133/x135: span-level masking artifacts. x58/x74 report WHICH documents
# are contaminated; a 100 TB curation run usually cannot afford to drop a
# whole long document for one leaked n-gram — it masks the offending SPANS
# and keeps the rest. These two emit the actual mask coordinates: x133 for
# cross-corpus eval contamination (GPT-3 app. C decontamination, made
# span-precise), x135 for intra-document self-repetition (the "repeated
# spans" loss-masking trick). Shared geometry: hit positions -> classic
# gaps-and-islands merge, every window keyed per document.
# ---------------------------------------------------------------------------

_X133_ORACLE = r"""
    WITH tk AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, source, i AS pos,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS gram
      FROM tk, unnest(range(1, GREATEST(length(t) - 2, 1))) AS r(i)
      WHERE length(t) >= 4
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0', 'src1')),
    hits AS (
      SELECT g.doc_id, g.source, g.pos AS s, g.pos + 3 AS e
      FROM g JOIN ev USING (gram)
      WHERE g.source NOT IN ('src0', 'src1')
    ),
    ord_ AS (
      SELECT doc_id, source, s, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pmax
      FROM hits
    ),
    fl AS (
      SELECT doc_id, source, s, e,
             CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END AS brk
      FROM ord_
    ),
    isl AS (
      SELECT doc_id, source, s, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS span_id
      FROM fl
    )
    SELECT doc_id, source, CAST(span_id AS BIGINT) AS span_id,
           CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(e) AS BIGINT) AS span_end,
           CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS n_tokens_masked,
           CAST(COUNT(*) AS BIGINT) AS n_grams
    FROM isl GROUP BY doc_id, source, span_id
"""


@register("x133_contamination_span_mask", _X133_ORACLE)
def x133_contamination_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] CONTAMINATION SPAN LOCALIZATION — the actionable form of
    x58's eval-gram decontamination: instead of a per-document dirty
    flag, emit the merged TOKEN SPANS a masking pass would zero out.
    Every training-doc position whose word 4-gram appears in the eval
    sources (src0/src1) becomes an interval [pos, pos+3]; overlapping
    and adjacent intervals merge via the gaps-and-islands recipe (a
    running MAX(end) over earlier starts marks span breaks, a running
    SUM of breaks numbers the spans — both windows keyed per document).
    The output row is the mask coordinate a 100 TB curation run applies
    when dropping whole documents is too expensive: long documents keep
    their clean remainder, and ``n_tokens_masked`` audits exactly how
    much text the decontamination costs (GPT-3 app. C measures this as
    "removed content"; this operator emits it span-precise).

    Scale shape: eval grams are eval-suite-sized — distinct once,
    BROADCAST into the training scan (x58's geometry, positions kept);
    both merge windows partition by doc_id, so span assembly is
    embarrassingly parallel across documents with per-task state of one
    document's hit list. One corpus-linear pass + one doc-keyed
    exchange; nothing pair-shaped."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        word_tokens(F.col("text")).alias("tk"),
    ).where(F.size("tk") >= 4)
    grams = toks.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 3),
                lambda i: F.concat_ws(" ", F.slice(F.col("tk"), i, 4)),
            )
        ).alias("pos0", "gram"),
    ).select(
        "doc_id", "source", (F.col("pos0") + 1).alias("s"), "gram"
    )
    ev = (
        grams.where(F.col("source").isin("src0", "src1"))
        .select("gram")
        .distinct()
    )
    hits = (
        grams.where(~F.col("source").isin("src0", "src1"))
        .join(F.broadcast(ev), "gram", "left_semi")
        .select("doc_id", "source", "s", (F.col("s") + 3).alias("e"))
    )
    w_prev = (
        W.partitionBy("doc_id").orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("doc_id").orderBy("s").rowsBetween(W.unboundedPreceding, 0)
    )
    isl = hits.withColumn("pmax", F.max("e").over(w_prev)).withColumn(
        "brk",
        F.when(
            F.col("pmax").isNull() | (F.col("s") > F.col("pmax") + 1), 1
        ).otherwise(0),
    ).withColumn("span_id", F.sum("brk").over(w_run))
    return isl.groupBy("doc_id", "source", F.col("span_id").cast("long").alias("span_id")).agg(
        F.min("s").cast("long").alias("span_start"),
        F.max("e").cast("long").alias("span_end"),
        (F.max("e") - F.min("s") + 1).cast("long").alias("n_tokens_masked"),
        F.count(F.lit(1)).cast("long").alias("n_grams"),
    )


_X135_ORACLE = r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM tk, unnest(range(1, GREATEST(length(t) - 1, 1))) AS r(i)
      WHERE length(t) >= 3
    ),
    rep AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY doc_id, gram ORDER BY pos) AS occ
      FROM g
    ),
    hits AS (SELECT doc_id, pos AS s, pos + 2 AS e FROM rep WHERE occ >= 2),
    ord_ AS (
      SELECT doc_id, s, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pmax
      FROM hits
    ),
    fl AS (
      SELECT doc_id, s, e,
             CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END AS brk
      FROM ord_
    ),
    isl AS (
      SELECT doc_id, s, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS span_id
      FROM fl
    ),
    spans AS (
      SELECT doc_id, span_id, MIN(s) AS s, MAX(e) AS e
      FROM isl GROUP BY doc_id, span_id
    ),
    lens AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_tok FROM tk)
    SELECT s.doc_id, l.n_tok,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(s.e - s.s + 1) AS BIGINT) AS n_tokens_masked,
           CAST(SUM(s.e - s.s + 1) AS DOUBLE) / l.n_tok AS masked_frac
    FROM spans s JOIN lens l ON l.doc_id = s.doc_id
    GROUP BY s.doc_id, l.n_tok
"""


@register("x135_repeat_span_mask", _X135_ORACLE)
def x135_repeat_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] SELF-REPETITION SPAN MASK — per document, the merged token
    spans covered by REPEATED word 3-grams (every occurrence after a
    gram's first is a mask candidate), rolled up to the per-doc masking
    report (span count, tokens masked, masked fraction). x90 certifies
    repetition STATISTICS as a quality gate; this emits the actual
    repair: boilerplate headers, chorus lines, and copy-paste loops get
    masked from the loss while the document's novel remainder still
    trains (the Gopher/MassiveText repetition analyses motivate exactly
    this span-level treatment). Occurrence ranking is a per-(doc, gram)
    window; islands merge is x133's per-doc recipe on the rank>=2
    positions.

    Scale shape: every window here partitions by doc_id (or doc+gram) —
    per-task state is one document, parallelism is |docs|; the rollup is
    one doc-keyed map-side-combined groupBy. Corpus-linear, zero
    pair-shaped joins, no broadcast needed at all."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", word_tokens(F.col("text")).alias("tk")
    ).where(F.size("tk") >= 3)
    grams = toks.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tok"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 2),
                lambda i: F.concat_ws(" ", F.slice(F.col("tk"), i, 3)),
            )
        ).alias("pos0", "gram"),
    ).select("doc_id", "n_tok", (F.col("pos0") + 1).alias("pos"), "gram")
    occ = F.row_number().over(W.partitionBy("doc_id", "gram").orderBy("pos"))
    hits = (
        grams.withColumn("occ", occ)
        .where(F.col("occ") >= 2)
        .select("doc_id", "n_tok", F.col("pos").alias("s"), (F.col("pos") + 2).alias("e"))
    )
    w_prev = (
        W.partitionBy("doc_id").orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("doc_id").orderBy("s").rowsBetween(W.unboundedPreceding, 0)
    )
    isl = hits.withColumn("pmax", F.max("e").over(w_prev)).withColumn(
        "brk",
        F.when(
            F.col("pmax").isNull() | (F.col("s") > F.col("pmax") + 1), 1
        ).otherwise(0),
    ).withColumn("span_id", F.sum("brk").over(w_run))
    spans = isl.groupBy("doc_id", "n_tok", "span_id").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    return spans.groupBy("doc_id", "n_tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("n_tokens_masked"),
        (
            F.sum(F.col("e") - F.col("s") + 1).cast("double") / F.col("n_tok")
        ).alias("masked_frac"),
    )

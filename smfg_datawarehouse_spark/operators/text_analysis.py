"""Text-analysis operators [X]: token stats, quality scoring, language ID,
document fingerprinting. All Catalyst expressions (no UDFs) so they run
inside whole-stage codegen and scale linearly with a single pass over the
corpus — the shape a 100 TB document pipeline needs.

Determinism: every emitted double is either a ratio of exact integers or a
fixed-shape arithmetic expression over such ratios — bit-identical across
engines, no rounding needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.functions import collapse_ws, word_tokens
from smfg_datawarehouse_spark.queries import md5_int, micro, register, t
from smfg_datawarehouse_spark.session import ensure_min_parallelism, local_rows_df

_STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it"]


def token_count(text: Column) -> Column:
    return F.size(word_tokens(text)).cast("long")


def fingerprint(text: Column) -> Column:
    """Whitespace-normalized content fingerprint (md5 of canonical form)."""
    return F.md5(collapse_ws(text))


WINNOW_K = 20  # char-gram width
WINNOW_W = 8  # winnowing window (guarantee: any match ≥ w+k-1 chars is caught)


def winnowing_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03).

    Rolling char k-grams (k = ``WINNOW_K``) are hashed (md5 32-bit prefix —
    portable); each length-w (w = ``WINNOW_W``) window of consecutive gram
    hashes keeps its minimum, rightmost-position tie-break. Hash and tie-break are packed into ONE
    BIGINT — ``hash32 · 10^7 + (9999999 − pos)`` — so a plain window
    ``min`` over longs is exact, engine-identical, and far cheaper than the
    equivalent 15-char string min (docs are < 10M chars by the 7-digit
    tie-break field, same bound the reference string encoding had).

    Plan shape: explode bare gram *positions* (an int sequence — never a
    materialized per-doc array of gram strings), compute hash+pack inline
    in the same codegen stage, and project ``text`` away BEFORE the per-doc
    window's shuffle. Gram count ``ng`` is derived from ``length(text)``
    up front rather than a second unbounded window pass. One linear explode
    + one doc_id shuffle, no quadratic stage.
    """
    k, w = WINNOW_K, WINNOW_W
    txt = F.lower(F.col("text"))
    ng = (F.length(txt) - (k - 1)).alias("ng")
    # CASE-guarded: sequence(1, ng) would generate a DESCENDING range for
    # ng < 1; the null branch explodes to zero rows for short docs
    positions = F.when(F.length(txt) >= k, F.sequence(F.lit(1), F.length(txt) - (k - 1)))
    h32 = md5_int(F.col("_txt").substr(F.col("pos"), F.lit(k)))
    g = (
        ensure_min_parallelism(docs)
        .select(
            "doc_id",
            txt.alias("_txt"),
            ng,
            F.explode(positions).alias("pos"),
        )
        .select(
            "doc_id",
            "ng",
            "pos",
            (h32 * F.lit(10_000_000) + (F.lit(9_999_999) - F.col("pos"))).alias("enc"),
        )
    )
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    sel = g.select(
        "doc_id",
        "pos",
        "ng",
        F.min("enc").over(win).alias("menc"),
    ).where(F.col("pos") <= F.col("ng") - (w - 1))
    return sel.select("doc_id", F.expr("menc DIV 10000000").alias("fp_hash")).distinct()


def winnowing_dup_pairs(docs: DataFrame) -> DataFrame:
    """Document pairs sharing ≥ 3 winnowing fingerprints —
    MOSS-style overlap detection. Join key is the fingerprint hash (one
    shuffle); pair aggregation counts distinct shared fingerprints."""
    # cached: the pair join consumes the fingerprint set twice; without it
    # each side replays the explode + per-doc window selection
    fps = winnowing_fingerprints(docs).cache()
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= 3)
    )


def quality_features(df: DataFrame) -> DataFrame:
    """Append token/char statistics of ``text`` + a composite quality score.

    Score = 0.4·alpha_ratio + 0.3·stopword_ratio + 0.3·min(len,500)/500 —
    a stand-in for fastText-style quality classifiers, kept expression-only.
    """
    text = F.col("text")
    tokens = word_tokens(text)
    n_chars = F.length(text)
    alpha_chars = F.length(F.regexp_replace(F.lower(text), "[^a-z]", ""))
    n_tokens = F.size(tokens)
    stop_hits = F.size(
        F.filter(tokens, lambda w: w.isin(_STOPWORDS_EN))
    )
    alpha_ratio = alpha_chars.cast("double") / n_chars
    stop_ratio = F.when(n_tokens > 0, stop_hits.cast("double") / n_tokens).otherwise(0.0)
    len_norm = F.least(n_chars, F.lit(500)).cast("double") / F.lit(500.0)
    return (
        df.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("alpha_ratio", alpha_ratio)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn(
            "quality_score",
            F.lit(0.4) * alpha_ratio + F.lit(0.3) * stop_ratio + F.lit(0.3) * len_norm,
        )
    )


_LANG_SETS = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "los", "que", "es"],
}


def lang_id(df: DataFrame) -> DataFrame:
    """n-gram/stopword-heuristic language ID of ``text``.

    Counts token hits against per-language stopword sets; argmax wins,
    'und' (undetermined) when all zero. Deterministic tie-break by fixed
    language order en > fr > de > es.
    """
    tokens = word_tokens(F.col("text"))

    def hits(words: list[str]):
        # closure factory: a 2-arg lambda would be treated as the
        # (element, index) form by F.filter
        return F.size(F.filter(tokens, lambda w: w.isin(words)))

    hit_cols = {lang: hits(words).alias(f"hits_{lang}") for lang, words in _LANG_SETS.items()}
    out = df
    for lang, col in hit_cols.items():
        out = out.withColumn(f"hits_{lang}", col)
    h = {lang: F.col(f"hits_{lang}") for lang in _LANG_SETS}
    best = (
        F.when(
            (h["en"] >= h["fr"]) & (h["en"] >= h["de"]) & (h["en"] >= h["es"]) & (h["en"] > 0),
            "en",
        )
        .when((h["fr"] >= h["de"]) & (h["fr"] >= h["es"]) & (h["fr"] > 0), "fr")
        .when((h["de"] >= h["es"]) & (h["de"] > 0), "de")
        .when(h["es"] > 0, "es")
        .otherwise("und")
    )
    return out.withColumn("pred_lang", best)


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


@register(
    "x20_token_stats",
    r"""
    SELECT doc_id,
           CAST(length(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                   w -> w <> '')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def x20_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Token counting + canonical-form fingerprint per document."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        fingerprint(F.col("text")).alias("fingerprint"),
    )


@register(
    "x21_quality_scores",
    r"""
    WITH feats AS (
      SELECT doc_id,
             CAST(length(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     w -> w <> '')) AS BIGINT) AS n_tokens,
             CAST(length(list_filter(regexp_split_to_array(lower(text), '\s+'),
                  w -> w IN ('the','a','of','and','to','in','is','it'))) AS BIGINT)
               AS stop_hits,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
               / length(text) AS alpha_ratio,
             CAST(LEAST(length(text), 500) AS DOUBLE) / 500.0 AS len_norm,
             length(text) AS n_chars_raw
      FROM documents
    )
    SELECT doc_id, n_tokens, alpha_ratio,
           CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens
                ELSE 0.0 END AS stopword_ratio,
           0.4 * alpha_ratio
             + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens
                           ELSE 0.0 END)
             + 0.3 * len_norm AS quality_score
    FROM feats
    """,
)
def x21_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Composite quality scoring over the documents corpus."""
    d = t(spark, sf_dir, "documents")
    return quality_features(d).select(
        "doc_id", "n_tokens", "alpha_ratio", "stopword_ratio", "quality_score"
    )


@register(
    "x22_lang_id",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS tk
      FROM documents
    ), hits AS (
      SELECT doc_id,
             CAST(length(list_filter(tk, w -> w IN ('the','and','of','to','is'))) AS BIGINT) AS hits_en,
             CAST(length(list_filter(tk, w -> w IN ('le','la','et','les','des'))) AS BIGINT) AS hits_fr,
             CAST(length(list_filter(tk, w -> w IN ('der','die','und','das','ist'))) AS BIGINT) AS hits_de,
             CAST(length(list_filter(tk, w -> w IN ('el','la','los','que','es'))) AS BIGINT) AS hits_es
      FROM toks
    )
    SELECT doc_id, hits_en, hits_fr, hits_de, hits_es,
           CASE WHEN hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_es
                     AND hits_en > 0 THEN 'en'
                WHEN hits_fr >= hits_de AND hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
                WHEN hits_de >= hits_es AND hits_de > 0 THEN 'de'
                WHEN hits_es > 0 THEN 'es'
                ELSE 'und' END AS pred_lang
    FROM hits
    """,
)
def x22_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Stopword-heuristic language identification."""
    d = t(spark, sf_dir, "documents")
    return lang_id(d).select(
        "doc_id", "hits_en", "hits_fr", "hits_de", "hits_es", "pred_lang"
    )


_WINNOW_ORACLE = f"""
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
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_fps
    FROM fps a JOIN fps b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 3
"""


@register("x23_winnowing_dupes", _WINNOW_ORACLE)
def x23_winnowing_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Rolling-hash winnowing fingerprint overlap (MOSS-style): doc
    pairs sharing ≥3 selected fingerprints (k=20-gram, window=8)."""
    d = t(spark, sf_dir, "documents")
    return winnowing_dup_pairs(d)


BPE_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """GPT-2-style pre-tokenization (letter runs | single digits |
    punctuation) via ``regexp_extract_all`` — the sub-word-ready token
    stream a BPE vocabulary trainer consumes. Stays in codegen; the regex
    uses only character classes so it means the same thing in RE2/Java/PCRE.
    """
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        # zero-token guard (whitespace-only doc): Spark's x/0 double
        # division is NULL but DuckDB's is Infinity — NULL in both
        F.when(
            F.size(toks) > 0, F.length("text").cast("double") / F.size(toks)
        ).alias("chars_per_token"),
    )


@register(
    "x24_bpe_token_stats",
    f"""
    SELECT doc_id,
           CAST(length(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(length(list_distinct(regexp_extract_all(text, '{BPE_PATTERN}'))) AS BIGINT)
             AS n_distinct_tokens,
           CASE WHEN length(regexp_extract_all(text, '{BPE_PATTERN}')) > 0
                THEN CAST(length(text) AS DOUBLE)
                     / length(regexp_extract_all(text, '{BPE_PATTERN}'))
                END AS chars_per_token
    FROM documents
    """,
)
def x24_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] BPE-ish regex token counting per document (letters|digit|punct),
    the pre-tokenization pass of a BPE vocabulary pipeline."""
    return bpe_token_stats(t(spark, sf_dir, "documents"))


def keyword_scores(docs: DataFrame) -> DataFrame:
    """TF-IDF-style top-3 keyword extraction per document, transcendental-free:
    score = tf × N / df (term frequency × inverse document-frequency
    *ratio*). Rational arithmetic only — one double division — so scores
    are bit-identical across engines (log-based idf would differ in the
    last ulp between libm implementations). The document-frequency table is
    vocabulary-sized (sublinear in corpus) and broadcast; the per-doc top-k
    is a window over doc_id — two linear shuffles total.
    """
    n_docs = docs.count()  # deterministic scalar, computed once driver-side
    toks = docs.select(
        "doc_id", F.explode(word_tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = F.broadcast(
        toks.distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    )
    score = (F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df")
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok"))
    return (
        tf.join(df_, "tok")
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "tok", "score", "rank")
    )


_KEYWORD_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                w -> w <> '')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfx AS (
      SELECT tok, COUNT(*) AS df
      FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, tok, score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT t.doc_id, t.tok,
             CAST(t.tf * n.n AS DOUBLE) / d.df AS score,
             ROW_NUMBER() OVER (
               PARTITION BY t.doc_id
               ORDER BY CAST(t.tf * n.n AS DOUBLE) / d.df DESC, t.tok) AS rank
      FROM tf t JOIN dfx d USING (tok), n
    ) WHERE rank <= 3
"""


@register("x25_keyword_extraction", _KEYWORD_ORACLE)
def x25_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Top-3 keywords per document by tf·(N/df) rarity weighting."""
    return keyword_scores(t(spark, sf_dir, "documents"))


VOCAB_STOPWORDS = sorted(set(w for ws in _LANG_SETS.values() for w in ws) | set(_STOPWORDS_EN))


def build_vocabulary(docs: DataFrame) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by total frequency, stopwords
    removed — the seed step of a tokenizer/vocab-training pipeline. One
    explode + one groupBy; the top-N is TakeOrderedAndProject (no full
    sort). Deterministic tie-break on the token itself."""
    toks = docs.select(F.explode(word_tokens(F.col("text"))).alias("tok"))
    return (
        toks.where(~F.col("tok").isin(VOCAB_STOPWORDS))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(50)
    )


_VOCAB_STOP_SQL = ", ".join(f"'{w}'" for w in VOCAB_STOPWORDS)

_VOCAB_ORACLE = rf"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                w -> w <> '')) AS tok
      FROM documents
    )
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
    FROM toks
    WHERE tok NOT IN ({_VOCAB_STOP_SQL})
    GROUP BY tok
    ORDER BY freq DESC, tok
    LIMIT 50
"""


@register("x26_vocabulary_top50", _VOCAB_ORACLE)
def x26_vocabulary_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Stopword-filtered corpus vocabulary (top-50 tokens by frequency)."""
    return build_vocabulary(t(spark, sf_dir, "documents"))


_CURATION_ORACLE = r"""
    WITH feats AS (
      SELECT doc_id, source, text,
             CAST(length(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     w -> w <> '')) AS BIGINT) AS n_tokens,
             CAST(length(list_filter(regexp_split_to_array(lower(text), '\s+'),
                  w -> w IN ('the','a','of','and','to','in','is','it'))) AS BIGINT)
               AS stop_hits,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
               / length(text) AS alpha_ratio,
             CAST(LEAST(length(text), 500) AS DOUBLE) / 500.0 AS len_norm,
             list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS tk
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source, text, n_tokens,
             0.4 * alpha_ratio
               + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens
                             ELSE 0.0 END)
               + 0.3 * len_norm AS quality_score,
             CAST(length(list_filter(tk, w -> w IN ('the','and','of','to','is'))) AS BIGINT) AS hits_en,
             CAST(length(list_filter(tk, w -> w IN ('le','la','et','les','des'))) AS BIGINT) AS hits_fr,
             CAST(length(list_filter(tk, w -> w IN ('der','die','und','das','ist'))) AS BIGINT) AS hits_de,
             CAST(length(list_filter(tk, w -> w IN ('el','la','los','que','es'))) AS BIGINT) AS hits_es
      FROM feats
    ),
    kept AS (
      SELECT source, n_tokens, quality_score
      FROM scored
      WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
        AND quality_score >= 0.5
        AND (hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_es
             AND hits_en > 0)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(floor(quality_score * 1000000.0 + 0.5) AS BIGINT))
                AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_quality
    FROM kept
    GROUP BY source
"""


@register("x40_corpus_curation", _CURATION_ORACLE)
def x40_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] The end-to-end training-data curation pipeline as ONE declarative
    plan: exact dedup (lowest-id survivor per content hash) → quality
    scoring → language ID → per-source corpus statistics.

    Every stage is column arithmetic over a single documents scan — the
    dedup window (one shuffle on the content hash) and the final
    per-source aggregation (one tiny shuffle) are the only data movement.
    No operator materializes an intermediate corpus: Catalyst fuses the
    scoring/lang-ID expressions into the scan, so at 100 TB this runs as
    two shuffle stages end-to-end. The composite proves the operator
    library composes: the same building blocks registered individually as
    x01/x21/x22."""
    from smfg_datawarehouse_spark.operators.dedup import exact_dedup

    d = t(spark, sf_dir, "documents")
    curated = lang_id(quality_features(exact_dedup(d, ["text"], "doc_id")))
    return (
        curated.where((F.col("quality_score") >= 0.5) & (F.col("pred_lang") == "en"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            # micro-unit average, not davg: a computed double can land
            # exactly on a DECIMAL(30,6) rounding tie, which Spark (HALF_UP)
            # and DuckDB resolve differently; floor(x*1e6 + 0.5) is one
            # identical IEEE chain in both engines
            (
                F.sum(micro("quality_score")).cast("double")
                / 1e6
                / F.count(F.lit(1))
            ).alias("avg_quality"),
        )
    )


@register(
    "x27_bigrams_top50",
    r"""
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS tk
      FROM documents
    ),
    bi AS (
      SELECT unnest([tk[i] || ' ' || tk[i + 1] for i in range(1, len(tk))])
               AS bigram
      FROM toks
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bi GROUP BY 1
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
)
def x27_bigrams_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Corpus bigram frequencies, top-50 — the n-gram statistics pass
    LM tokenizer/vocab builders run over a corpus (unigram twin: x26).
    Bigrams generate inside the token array via a higher-order transform
    (no self-join, no second explode); count partials combine map-side
    and TakeOrderedAndProject caps the result — the shuffle carries
    |distinct bigrams| partial counts, never corpus rows. Tie-break on
    the bigram string keeps the cut deterministic."""
    d = t(spark, sf_dir, "documents")
    # materialize the token array ONCE per row: referencing the raw
    # tokenization expression inside the transform lambda would inline (and
    # re-evaluate) the regexp split per element — O(tokens²) per doc
    tk = F.col("_tk")
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.slice(tk, 1, F.size(tk) - 1),
            lambda w, i: F.concat_ws(" ", w, F.element_at(tk, i + F.lit(2))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # widen before the row-multiplying explode: the corpus arrives as few
    # scan splits, and without this the explode+count runs single-task
    return (
        ensure_min_parallelism(d)
        .withColumn("_tk", word_tokens(F.col("text")))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(50)
    )


@register(
    "x29_train_val_split",
    """
    WITH h AS (
      SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS hh
      FROM documents
    )
    SELECT CASE WHEN hh < 'c' THEN 'train' ELSE 'val' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM h GROUP BY 1
    """,
)
def x29_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Deterministic hash-based train/validation split (~75/25): a doc
    lands in 'train' iff the md5 of its id is lexicographically below 'c'
    (12 of 16 leading hex values). Hash splits are THE reproducible way to
    partition a training corpus — stable under reruns, joins, and corpus
    growth (a doc's split never changes when others are added), and free:
    the split is a scan-side expression, no shuffle beyond the stats agg.
    Emits per-split corpus statistics for split-balance verification."""
    d = t(spark, sf_dir, "documents")
    split = F.when(
        F.md5(F.col("doc_id").cast("string")) < "c", "train"
    ).otherwise("val")
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


@register(
    "x32_repetition_stats",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), cnt AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM tk, UNNEST(t) AS u(tok) GROUP BY doc_id, tok
    ), r AS (
      SELECT doc_id, tok, c,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, tok) AS rn
      FROM cnt
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             AS repetition_ratio,
           MAX(CASE WHEN rn = 1 THEN tok END) AS top_token,
           CAST(MAX(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS top_token_count
    FROM r GROUP BY doc_id
    """,
)
def x32_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Within-document repetition profiling — the Gopher/C4-style
    quality rule that flags boilerplate and degenerate generations: token
    repetition ratio (1 - distinct/total) plus the dominant token and its
    count per document. One repartition by doc_id feeds the (doc, token)
    count, the per-doc ranking window, AND the final per-doc rollup — the
    explode never crosses the wire again (hash partitioning on doc_id
    satisfies every downstream clustering). The ratio divides two exact
    ints once in double: bit-stable at any parallelism."""
    d = t(spark, sf_dir, "documents")
    w = W.partitionBy("doc_id").orderBy(F.col("c").desc(), "tok")
    return (
        d.repartition(F.col("doc_id"))
        .withColumn("_tk", word_tokens(F.col("text")))
        .select("doc_id", F.explode("_tk").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            (
                F.lit(1.0)
                - F.count(F.lit(1)).cast("double")
                / F.sum("c").cast("double")
            ).alias("repetition_ratio"),
            F.max(F.when(F.col("rn") == 1, F.col("tok"))).alias("top_token"),
            F.max(F.when(F.col("rn") == 1, F.col("c")))
            .cast("long")
            .alias("top_token_count"),
        )
    )


@register(
    "x33_pii_masking",
    r"""
    SELECT event_type,
           regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS masked_template,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT)
             AS n_redactions
    FROM events
    GROUP BY event_type, masked_template
    """,
)
def x33_pii_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] PII-style redaction + payload templating: numeric identifiers in
    the raw event payload are masked to a placeholder, and payloads are
    rolled up by (event_type, masked template) with how many identifier
    runs each template redacts — the redaction-audit shape of a training
    -data scrubbing pass (real deployments swap in email/phone/SSN
    patterns; the digit-run class keeps the oracle regex-dialect-safe).
    Masking is a scan-side codegen expression; the single shuffle carries
    |templates| partial counts, not events."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.regexp_replace(F.col("props"), "[0-9]+", "<NUM>").alias(
                "masked_template"
            ),
            F.size(F.expr("regexp_extract_all(props, '[0-9]+', 0)")).alias("_nr"),
        )
        .groupBy("event_type", "masked_template")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_nr").cast("long").alias("n_redactions"),
        )
    )


@register(
    "x34_cross_source_contamination",
    r"""
    WITH tk AS (
      SELECT source,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), g AS (
      SELECT DISTINCT source, gram
      FROM tk, UNNEST([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       for i in range(1, len(t) - 1)]) AS u(gram)
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
    GROUP BY source_a, source_b
    """,
)
def x34_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Train/test-set decontamination signal: for every pair of corpus
    sources, how many distinct word 3-gram shingles they share — the
    standard overlap check before a source is admitted to training data
    (high overlap with an eval source = contamination). NOT a self-join:
    shingles group once by gram (collect_set dedups sources per gram) and
    source pairs are generated inside the array, so the work is
    Σ|sources-per-gram|² — bounded by the source count, never |docs|² —
    and the big explode crosses the wire exactly once."""
    d = t(spark, sf_dir, "documents")
    tk = F.col("_tk")
    grams = F.when(
        F.size(tk) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 2),
            lambda i: F.concat_ws(" ", F.slice(tk, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    srcs = F.col("srcs")
    pairs = F.flatten(
        F.transform(
            srcs,
            lambda a, i: F.transform(
                F.slice(srcs, i + F.lit(2), F.size(srcs)),
                lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
            ),
        )
    )
    return (
        ensure_min_parallelism(d)
        .withColumn("_tk", word_tokens(F.col("text")))
        .select("source", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .where(F.size("srcs") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


@register(
    "x35_oov_rate",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), tok AS (
      SELECT doc_id, tokw FROM tk, UNNEST(t) AS u(tokw)
    ), vocab AS (
      SELECT tokw FROM tok GROUP BY tokw
      ORDER BY COUNT(*) DESC, tokw LIMIT 100
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tokw IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.tokw IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS oov_rate
    FROM tok LEFT JOIN vocab v ON tok.tokw = v.tokw
    GROUP BY tok.doc_id
    """,
)
def x35_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Out-of-vocabulary rate per document against the corpus top-100
    vocabulary — the vocabulary-coverage quality filter (docs dominated by
    rare/garbage tokens score high and get dropped before training). Two
    passes over the tokenized corpus: the vocabulary aggregates to 100 rows
    and BROADCASTS, so the per-doc scoring join adds no shuffle — at 100 TB
    the only exchanges are the vocab count and the per-doc rollup. The
    boundary tie at rank 100 breaks on the token string: deterministic cut.
    OOV rate is a single int/int divide — bit-stable."""
    d = t(spark, sf_dir, "documents")
    tok = (
        ensure_min_parallelism(d)
        .withColumn("_tk", word_tokens(F.col("text")))
        .select("doc_id", F.explode("_tk").alias("tokw"))
    )
    # (doc, token) occurrence counts — CACHED (same reuse as x36/x37):
    # vocab ranking and per-doc scoring both derive from it, so
    # tokenize+explode runs once instead of twice
    cst = tok.groupBy("doc_id", "tokw").agg(F.count(F.lit(1)).alias("c")).cache()
    vocab = (
        cst.groupBy("tokw")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.col("n").desc(), "tokw")
        .limit(100)
        .select("tokw", F.lit(1).alias("iv"))
    )
    oov_c = F.when(F.col("iv").isNull(), F.col("c")).otherwise(F.lit(0))
    return (
        cst.join(F.broadcast(vocab), "tokw", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(oov_c).cast("long").alias("n_oov"),
            (F.sum(oov_c).cast("double") / F.sum("c")).alias("oov_rate"),
        )
    )


@register(
    "x36_source_divergence",
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
    ), ns AS (
      SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM cst GROUP BY source
    ), ct AS (
      SELECT tokw, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst GROUP BY tokw
    ), tot AS (
      SELECT CAST(SUM(c_st) AS BIGINT) AS n FROM cst
    )
    SELECT cst.source,
           CAST(MAX(ns.n_s) AS BIGINT) AS n_tokens,
           1.0 + CAST(SUM(CAST(
                   abs(CAST(c_st AS DOUBLE) / ns.n_s
                       - CAST(c_t AS DOUBLE) / tot.n)
                   - CAST(c_t AS DOUBLE) / tot.n
                 AS DECIMAL(30,6))) AS DOUBLE) AS l1_divergence
    FROM cst JOIN ns USING (source) JOIN ct USING (tokw) CROSS JOIN tot
    GROUP BY cst.source
    """,
)
def x36_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Per-source unigram-distribution L1 divergence from the corpus
    distribution — the domain-mixing / distribution-shift signal used to
    set source sampling weights (and to flag drifted or junk sources)
    before training. Absent tokens are handled WITHOUT densifying the
    source x vocab cross product: sum_absent p_t telescopes to
    1 - sum_present p_t, so L1 = 1 + sum_present(|p_st - p_t| - p_t) and
    only observed (source, token) pairs are ever materialized. The big
    shuffle is the (source, token) count — CACHED, because all four
    downstream tables (per-source totals, per-token totals, corpus total,
    and the final join) derive from it: one tokenize+shuffle pass instead
    of four replays. Token totals (vocab-sized) and per-source totals
    broadcast back onto it. Each |.|-term is one fixed IEEE expression;
    the sum accumulates in exact decimal — bit-stable at any partition
    count."""
    d = t(spark, sf_dir, "documents")
    tok = (
        ensure_min_parallelism(d)
        .withColumn("_tk", word_tokens(F.col("text")))
        .select("source", F.explode("_tk").alias("tokw"))
    )
    cst = tok.groupBy("source", "tokw").agg(F.count(F.lit(1)).alias("c_st")).cache()
    ns = cst.groupBy("source").agg(F.sum("c_st").cast("long").alias("n_s"))
    ct = cst.groupBy("tokw").agg(F.sum("c_st").cast("long").alias("c_t"))
    tot = cst.agg(F.sum("c_st").cast("long").alias("n"))
    p_t = F.col("c_t").cast("double") / F.col("n")
    term = F.abs(F.col("c_st").cast("double") / F.col("n_s") - p_t) - p_t
    from smfg_datawarehouse_spark.queries import dsum

    return (
        cst.join(F.broadcast(ns), "source")
        .join(F.broadcast(ct), "tokw")
        .join(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            (F.lit(1.0) + dsum(term)).alias("l1_divergence"),
        )
    )


@register(
    "x37_mean_token_prob",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), tok AS (
      SELECT doc_id, tokw FROM tk, UNNEST(t) AS u(tokw)
    ), ct AS (
      SELECT tokw, CAST(COUNT(*) AS BIGINT) AS c_t FROM tok GROUP BY tokw
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(floor(CAST(ct.c_t AS DOUBLE) / tot.n * 1e15 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 1e15 / COUNT(*)
             AS mean_token_prob
    FROM tok JOIN ct USING (tokw) CROSS JOIN tot
    GROUP BY tok.doc_id
    """,
)
def x37_mean_token_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Per-document mean unigram probability under the corpus unigram
    LM — the transcendental-free stand-in for perplexity-based quality
    scoring (low mean probability = rare/garbage-token text; the same
    ranking as unigram perplexity without log(), which would not be
    bit-reproducible across engines). Two passes over the tokenized
    corpus: token counts aggregate vocab-sized and BROADCAST back onto the
    token stream (vocabulary << corpus at any scale), so the only big
    exchanges are the vocab count and the per-doc rollup. Each p(t) is one
    int/int divide quantized to integer femto-units (floor(p*1e15 + 0.5) —
    double→DECIMAL rounds ties differently across engines, exact BIGINT
    sums don't); the per-doc sum is exact integer, associative,
    partition-order-proof; the mean is two fixed-order divides."""
    d = t(spark, sf_dir, "documents")
    return doc_mean_token_prob(d)


def doc_mean_token_prob(d: DataFrame, extra_cols: list[str] | None = None) -> DataFrame:
    """Per-document mean unigram probability (x37's kernel), optionally
    carrying extra per-document columns (e.g. ``lang`` for x70's
    per-language bucketing) through the rollup as additional group keys —
    functionally dependent on doc_id, so the grouping is unchanged."""
    extras = extra_cols or []
    tok = (
        ensure_min_parallelism(d)
        .withColumn("_tk", word_tokens(F.col("text")))
        .select("doc_id", *extras, F.explode("_tk").alias("tokw"))
    )
    # (doc, token) occurrence counts — CACHED (same reuse as x36): the
    # vocab table, the corpus total, and the per-doc rollup all derive
    # from it, so tokenize+explode runs once instead of three times.
    # Per-doc Σ p_units over occurrences == Σ c·p_units over (doc, token)
    # rows — exact integer either way.
    cst = (
        tok.groupBy("doc_id", *extras, "tokw").agg(F.count(F.lit(1)).alias("c")).cache()
    )
    ct = cst.groupBy("tokw").agg(F.sum("c").cast("long").alias("c_t"))
    tot = cst.agg(F.sum("c").cast("long").alias("n"))
    p_units = F.floor(
        F.col("c_t").cast("double") / F.col("n") * 1e15 + 0.5
    ).cast("long")
    return (
        cst.join(F.broadcast(ct), "tokw")
        .join(F.broadcast(tot))
        .groupBy("doc_id", *extras)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            (
                F.sum(F.col("c") * p_units).cast("double") / 1e15 / F.sum("c")
            ).alias("mean_token_prob"),
        )
    )


@register(
    "x38_length_deciles",
    r"""
    WITH lens AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  w -> w <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), buckets AS (
      SELECT doc_id, n_tokens,
             CAST(ntile(10) OVER (ORDER BY n_tokens, doc_id) AS BIGINT)
               AS decile
      FROM lens
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM buckets GROUP BY decile
    """,
)
def x38_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Token-length decile profile of the corpus — the
    length-distribution audit run before choosing packing/truncation
    lengths for training (which deciles carry the token mass, where the
    tail starts). NTILE(10) over (n_tokens, doc_id) — the doc_id
    tie-break makes bucket edges deterministic — but computed WITHOUT a
    single-partition global sort: ``functions.ordering.distributed_ntile``
    derives exact global ordinals from band-partitioned windows (band =
    n_tokens itself, trivially monotone; per-band offsets are a tiny
    broadcast) and the bucket id in closed-form BIGINT arithmetic. The
    DuckDB oracle keeps a plain NTILE — two routes, bit-identical
    partition rule. All outputs are integer aggregates — nothing to
    drift."""
    from smfg_datawarehouse_spark.functions.ordering import distributed_ntile

    d = t(spark, sf_dir, "documents")
    lens = d.select(
        "doc_id", F.size(word_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    buckets = distributed_ntile(
        lens, 10, ["n_tokens", "doc_id"], F.col("n_tokens"), "decile"
    )
    return buckets.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


@register(
    "x39_temperature_weights",
    r"""
    WITH tk AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  w -> w <> '')) AS BIGINT) AS n
      FROM documents
    ), s AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_s,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM tk GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM s
    )
    SELECT source, n_docs, n_s, p_raw,
           CAST(u AS DOUBLE) / CAST(SUM(u) OVER () AS DOUBLE) AS p_alpha
    FROM (
      SELECT s.source, s.n_docs, s.n_s,
             CAST(s.n_s AS DOUBLE) / tot.n AS p_raw,
             CAST(floor(sqrt(CAST(s.n_s AS DOUBLE) / tot.n) * 1e12 + 0.5)
                  AS BIGINT) AS u
      FROM s CROSS JOIN tot
    )
    """,
)
def x39_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Temperature-scaled source sampling weights (alpha = 0.5):
    p_alpha(s) = p(s)^0.5 / sum_s p(s)^0.5 — the up-weighting of small
    sources used when mixing domains for training (alpha=1 keeps natural
    proportions, alpha->0 approaches uniform). Token mass per source is
    one rollup; the source table is tiny, so the normalizing SUM runs as
    an unpartitioned window over a handful of rows — the corpus is
    touched exactly once. sqrt (alpha=0.5) is IEEE-exact (unlike general
    pow/exp), but the normalizer would sum doubles in engine-dependent
    order, so each sqrt is quantized to pico-units (floor(x*1e12 + 0.5))
    and the normalizer is an EXACT integer sum (order-free); p_alpha is
    one divide of two ints that fit a double exactly — bit-stable."""
    d = t(spark, sf_dir, "documents")
    tk = d.select(
        "source", F.size(word_tokens(F.col("text"))).cast("long").alias("n")
    )
    s = tk.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_s"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    tot = s.agg(F.sum("n_s").cast("long").alias("n"))
    p_raw = F.col("n_s").cast("double") / F.col("n")
    u = F.floor(F.sqrt(p_raw) * 1e12 + 0.5).cast("long")
    w = W.partitionBy()
    return (
        s.join(F.broadcast(tot))
        .select("source", "n_docs", "n_s", p_raw.alias("p_raw"), u.alias("u"))
        .select(
            "source", "n_docs", "n_s", "p_raw",
            (
                F.col("u").cast("double")
                / F.sum("u").over(w).cast("double")
            ).alias("p_alpha"),
        )
    )


@register(
    "x41_token_budget",
    r"""
    WITH tk AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  w -> w <> '')) AS BIGINT) AS n
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(ceil(CAST(n AS DOUBLE) / 128.0) AS BIGINT)) AS BIGINT)
             AS n_seqs_128,
           CAST(SUM(CAST(ceil(CAST(n AS DOUBLE) / 128.0) AS BIGINT)) * 128
                - SUM(n) AS BIGINT) AS pad_waste_128,
           CAST(SUM(CASE WHEN n > 128 THEN n - 128 ELSE 0 END) AS BIGINT)
             AS truncation_loss_128
    FROM tk GROUP BY source
    """,
)
def x41_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Token-budget planning per source for a max_seq_len=128 packing
    pass: how many sequences the corpus yields, how much padding a
    naive one-doc-per-sequence layout wastes, and how many tokens a
    truncate-to-one-sequence policy would drop. These three numbers decide
    between packing strategies before an expensive tokenization run at
    100 TB — and they come from ONE scan-side expression per doc plus a
    per-source rollup (zero joins, one shuffle of |sources| x partial
    rows). ceil on an exact small-int ratio and pure integer sums —
    nothing to drift."""
    d = t(spark, sf_dir, "documents")
    n = F.size(word_tokens(F.col("text"))).cast("long")
    seqs = F.ceil(n.cast("double") / 128.0).cast("long")
    tk = d.select(
        "source", n.alias("n"), seqs.alias("n_seqs"),
        F.when(n > 128, n - 128).otherwise(F.lit(0)).alias("trunc_loss"),
    )
    return tk.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.sum("n_seqs").cast("long").alias("n_seqs_128"),
        (F.sum("n_seqs") * 128 - F.sum("n")).cast("long").alias("pad_waste_128"),
        F.sum("trunc_loss").cast("long").alias("truncation_loss_128"),
    )


@register(
    "x44_sequence_packing",
    r"""
    WITH tk AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  w -> w <> '')) AS BIGINT) AS n
      FROM documents
    ), pre AS (
      SELECT source, n,
             COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM tk
    ), b AS (
      SELECT source, n, prefix // 128 AS bin,
             CASE WHEN (prefix % 128) + n > 128 THEN 1 ELSE 0 END AS straddle
      FROM pre
    ), per_bin AS (
      SELECT source, bin,
             CAST(COUNT(*) AS BIGINT) AS docs_in_bin,
             CAST(SUM(n) AS BIGINT) AS bin_n,
             CAST(SUM(straddle) AS BIGINT) AS bin_straddle
      FROM b GROUP BY source, bin
    )
    SELECT source,
           CAST(SUM(docs_in_bin) AS BIGINT) AS n_docs,
           CAST(SUM(bin_n) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN SUM(bin_n) = 0 THEN 0
                     ELSE (SUM(bin_n) - 1) // 128 + 1 END AS BIGINT) AS n_bins,
           CAST(SUM(bin_straddle) AS BIGINT) AS n_straddlers,
           CAST(MAX(docs_in_bin) AS BIGINT) AS max_docs_started_per_bin
    FROM per_bin GROUP BY source
    """,
)
def x44_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Deterministic sequential sequence-packing audit (context = 128
    tokens): docs concatenate per source in doc_id order, and each doc's
    start offset is the running token prefix — bin = prefix // 128. Emits
    per source how many context windows the packed stream fills, how many
    docs straddle a window boundary (candidates for attention-mask
    cross-contamination), and the worst per-window document pileup.
    This is the planning pass before an actual packing job: the same
    running-prefix window would ASSIGN bins at 100 TB. One shuffle on
    source feeds the prefix window, the per-bin rollup, AND the final
    per-source rollup (hash clustering on source satisfies all three) —
    the corpus crosses the wire once. Pure integer arithmetic."""
    d = t(spark, sf_dir, "documents")
    n = F.size(word_tokens(F.col("text"))).cast("long")
    wp = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    pre = (
        d.select("doc_id", "source", n.alias("n"))
        .withColumn("prefix", F.coalesce(F.sum("n").over(wp), F.lit(0)))
    )
    b = pre.select(
        "source",
        "n",
        F.expr("prefix DIV 128").alias("bin"),
        F.when((F.col("prefix") % 128) + F.col("n") > 128, 1)
        .otherwise(0)
        .alias("straddle"),
    )
    per_bin = b.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("docs_in_bin"),
        F.sum("n").cast("long").alias("bin_n"),
        F.sum("straddle").cast("long").alias("bin_straddle"),
    )
    return per_bin.groupBy("source").agg(
        F.sum("docs_in_bin").cast("long").alias("n_docs"),
        F.sum("bin_n").cast("long").alias("n_tokens"),
        F.when(F.sum("bin_n") == 0, F.lit(0))
        .otherwise(F.expr("(sum(bin_n) - 1) DIV 128") + 1)
        .cast("long")
        .alias("n_bins"),
        F.sum("bin_straddle").cast("long").alias("n_straddlers"),
        F.max("docs_in_bin").cast("long").alias("max_docs_started_per_bin"),
    )


@register(
    "x46_doc_chunks",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS tke
      FROM documents
    ), st AS (
      SELECT doc_id, tke, unnest(range(1, len(tke) + 1, 48)) AS s
      FROM tk
    )
    SELECT doc_id,
           CAST((s - 1) // 48 + 1 AS BIGINT) AS chunk_id,
           CAST(LEAST(64, len(tke) - s + 1) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(tke[s : LEAST(s + 63, len(tke))], ' '))
             AS chunk_hash
    FROM st
    """,
)
def x46_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Sliding-window document chunking (chunk = 64 tokens, stride = 48,
    16-token overlap) — the RAG/embedding-prep pass that splits long
    documents into model-window pieces. Chunk starts generate INSIDE the
    token array (`sequence` + explode — linear, no self-join); each chunk
    carries its token count and an md5 content hash so downstream dedup
    can drop repeated chunks without re-reading text. Token arrays
    materialize once per row (`withColumn`) so the per-chunk slice never
    re-tokenizes; the explode multiplies rows AFTER the scan is widened
    (``ensure_min_parallelism``), so the expansion parallelizes instead of
    riding a few scan splits. Scan-side only — zero joins, zero shuffles
    beyond that widening."""
    d = t(spark, sf_dir, "documents")
    tk = F.col("_tk")
    starts = F.when(
        F.size(tk) >= 1, F.sequence(F.lit(1), F.size(tk), F.lit(48))
    ).otherwise(F.array().cast("array<int>"))
    st = (
        ensure_min_parallelism(d)
        .withColumn("_tk", word_tokens(F.col("text")))
        .select("doc_id", "_tk", F.explode(starts).alias("s"))
    )
    return st.select(
        "doc_id",
        (F.expr("(s - 1) DIV 48") + 1).cast("long").alias("chunk_id"),
        F.least(F.lit(64), F.size(tk) - F.col("s") + 1)
        .cast("long")
        .alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", F.slice(tk, F.col("s"), 64))).alias("chunk_hash"),
    )


_CHUNK_SQL = r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS tke
      FROM documents
    ), st AS (
      SELECT doc_id, tke, unnest(range(1, len(tke) + 1, 48)) AS s
      FROM tk
    ), ch AS (
      SELECT doc_id,
             CAST((s - 1) // 48 + 1 AS BIGINT) AS chunk_id,
             md5(array_to_string(tke[s : LEAST(s + 63, len(tke))], ' ')) AS chunk_hash
      FROM st
    )
"""


@register(
    "x53_chunk_dedup",
    _CHUNK_SQL
    + """
    SELECT chunk_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
    FROM ch
    GROUP BY chunk_hash
    HAVING COUNT(*) > 1
    """,
)
def x53_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Chunk-level exact dedup: 64-token sliding chunks (x46's
    chunking) whose content hash repeats across the corpus, with the
    lowest-doc_id survivor — the granularity RAG indexing and pretraining
    dedup actually operate at (boilerplate repeats as chunks inside
    otherwise-unique documents, which doc-level dedup can never see).
    One groupBy on the chunk hash — the same single-shuffle shape as x01
    exact doc dedup, corpus-linear at any scale."""
    d = t(spark, sf_dir, "documents")
    tk = F.col("_tk")
    starts = F.when(
        F.size(tk) >= 1, F.sequence(F.lit(1), F.size(tk), F.lit(48))
    ).otherwise(F.array().cast("array<int>"))
    chunks = (
        ensure_min_parallelism(d)
        .withColumn("_tk", word_tokens(F.col("text")))
        .select("doc_id", "_tk", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice(tk, F.col("s"), 64))).alias("chunk_hash"),
        )
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
        .where(F.col("n_occurrences") > 1)
    )




# x141: the BPE trainer's inner statistic — adjacent-symbol pair counts
# over the word-frequency table. Iteration 1 of byte-pair encoding is
# exactly "count every adjacent character pair, weighted by word
# frequency, pick the max"; x24 certifies the pre-tokenization regex,
# x27 the word-level n-grams — this is the character-level table the
# merge rule actually reads.

_X141_TOPK = 30

_X141_ORACLE = rf"""
    WITH tk AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ), words AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM tk, UNNEST(t) AS u(tok) GROUP BY tok
    ), pairs AS (
      SELECT tok, freq, substring(tok, CAST(i AS INTEGER), 2) AS pair
      FROM words, UNNEST(range(1, length(tok))) AS r(i)
      WHERE length(tok) >= 2
    ), counted AS (
      SELECT pair,
             CAST(SUM(freq) AS BIGINT) AS total_count,
             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_words
      FROM pairs GROUP BY pair
    )
    SELECT pair, total_count, n_words,
           CAST(ROW_NUMBER() OVER (ORDER BY total_count DESC, pair)
                AS BIGINT) AS rank
    FROM counted
    ORDER BY total_count DESC, pair
    LIMIT {_X141_TOPK}
"""


@register("x141_bpe_pair_counts", _X141_ORACLE)
def x141_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] BPE MERGE-CANDIDATE STATISTICS — the first iteration of
    byte-pair-encoding training: adjacent CHARACTER-pair counts over the
    corpus word-frequency table (each pair occurrence weighted by its
    word's corpus frequency), top-30 with a total deterministic order.
    The max row is the tokenizer's first merge rule; the table is what
    a distributed BPE trainer materializes per iteration (Sennrich et
    al. 2015 — the counting step is the only corpus-scale part).

    Scale shape: the corpus collapses to the DISTINCT-word frequency
    table first (one map-combined token-keyed agg — the only corpus-
    scale stage), and pair exploding runs over the VOCABULARY (|vocab| ×
    avg word length rows — trivially small), so iterating BPE rounds
    would re-explode only the vocab, never the corpus. Counts exact
    BIGINTs; top-k is a TakeOrderedAndProject."""
    from smfg_datawarehouse_spark.functions import word_tokens
    d = ensure_min_parallelism(t(spark, sf_dir, "documents"))
    words = (
        d.select(F.explode(word_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    pairs = (
        words.where(F.length("tok") >= 2)
        .select(
            "tok",
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1), "
                    "i -> substring(tok, i, 2))"
                )
            ).alias("pair"),
        )
    )
    counted = pairs.groupBy("pair").agg(
        F.sum("freq").cast("long").alias("total_count"),
        F.countDistinct("tok").cast("long").alias("n_words"),
    )
    wr = W.orderBy(F.col("total_count").desc(), "pair")
    return (
        counted.withColumn("rank", F.row_number().over(wr).cast("long"))
        .orderBy(F.col("total_count").desc(), "pair")
        .limit(_X141_TOPK)
    )


# x147: the BPE training LOOP, certified — x141 is one iteration's pair
# table; this runs FIVE true iterations (count pairs over the current
# symbol sequences, merge the argmax pair left-to-right, recount) and
# reports the merge chosen, its count, and the corpus symbol total after
# each round. The oracle replays every round with chained CTEs, so the
# iterative trainer — argmax selection, boundary-safe merge fold, count
# interaction between rounds — is hash-checked end to end.

_X147_ITERS = 5


def _x147_cte_chain() -> str:
    """The shared WITH-chain replaying x147's BPE trainer to ``s{N}``:
    corpus → word-frequency vocab (``words``), char-split sequences
    (``s0``), then per round i the pair count (``p{i}``), the argmax
    merge rule (``t{i}``), the folded sequences (``s{i}``), and the
    round record (``m{i}``). x147's oracle selects the ``m*`` records;
    x158's applies ``s{N}`` back to per-source token frequencies."""
    parts = [
        r"""WITH tk AS (
      SELECT source, list_filter(regexp_split_to_array(lower(text), '\s+'),
                                 w -> w <> '') AS t
      FROM documents
    ), words AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM tk, UNNEST(t) AS u(tok) GROUP BY tok
    ), s0 AS (
      SELECT tok, freq, array_to_string(string_split(tok, ''), ' ') AS seq
      FROM words
    ), m0 AS (
      SELECT 0 AS iteration, CAST(NULL AS VARCHAR) AS merged_pair,
             CAST(NULL AS BIGINT) AS pair_count,
             CAST(SUM(freq * len(string_split(seq, ' '))) AS BIGINT)
               AS symbols_after
      FROM s0
    )"""
    ]
    fold = (
        "list_reduce(string_split(seq, ' '), (acc, x) -> "
        "CASE WHEN (acc = t.pa OR acc[-(length(t.pa)+1):] = ' ' || t.pa) "
        "AND x = t.pb "
        "THEN acc[1:length(acc)-length(t.pa)] || t.pa || t.pb "
        "ELSE acc || ' ' || x END)"
    )
    for i in range(1, _X147_ITERS + 1):
        parts.append(
            f"""p{i} AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        SELECT freq, arr[CAST(j AS INTEGER)] || ' '
                     || arr[CAST(j AS INTEGER) + 1] AS pair
        FROM (SELECT freq, string_split(seq, ' ') AS arr FROM s{i - 1}),
             UNNEST(range(1, len(arr))) AS r(j)
      ) GROUP BY pair
    ), t{i} AS (
      SELECT pair, cnt,
             string_split(pair, ' ')[1] AS pa,
             string_split(pair, ' ')[2] AS pb
      FROM p{i} ORDER BY cnt DESC, pair LIMIT 1
    ), s{i} AS (
      SELECT tok, freq, {fold} AS seq
      FROM s{i - 1} CROSS JOIN t{i} t
    ), m{i} AS (
      SELECT {i} AS iteration, t.pair AS merged_pair,
             t.cnt AS pair_count,
             CAST(SUM(s.freq * len(string_split(s.seq, ' '))) AS BIGINT)
               AS symbols_after
      FROM s{i} s CROSS JOIN t{i} t GROUP BY t.pair, t.cnt
    )"""
        )
    return ", ".join(parts)


def _x147_oracle() -> str:
    unions = " UNION ALL ".join(
        f"SELECT * FROM m{i}" for i in range(0, _X147_ITERS + 1)
    )
    return (
        _x147_cte_chain()
        + f""" SELECT u.iteration, u.merged_pair, u.pair_count,
           u.symbols_after,
           CAST(u.symbols_after AS DOUBLE)
             / CAST(m0.symbols_after AS DOUBLE) AS compression
    FROM ({unions}) u CROSS JOIN m0"""
    )


def bpe_merge_fold(pa: str, pb: str) -> F.Column:
    """Left-to-right non-overlapping BPE merge of adjacent symbols
    (pa, pb) over the space-joined symbol sequence column ``seq``.

    Built from COLUMN functions, never from an f-string fed to
    ``F.expr``: pa/pb are corpus-derived tokens, and a quote or
    backslash in one would break (or silently corrupt) a textual SQL
    fold — ``F.lit`` embeds them as values, not syntax. Boundary-safe:
    the accumulator must END with the complete symbol ``pa`` (equal to
    it, or preceded by a space), never a substring of a longer symbol.
    """
    arr = F.split(F.col("seq"), " ")

    def _merge(acc: F.Column, x: F.Column) -> F.Column:
        hit = (
            (acc == F.lit(pa)) | acc.endswith(F.lit(" " + pa))
        ) & (x == F.lit(pb))
        merged = F.concat(
            acc.substr(F.lit(1), F.length(acc) - F.lit(len(pa))),
            F.lit(pa + pb),
        )
        return F.when(hit, merged).otherwise(F.concat(acc, F.lit(" "), x))

    return F.aggregate(
        F.slice(arr, F.lit(2), F.size(arr) - F.lit(1)),
        F.element_at(arr, 1),
        _merge,
    )


def _bpe_train(spark: SparkSession, sf_dir: str, iters: int):
    """x147's BPE training loop, shared with x158's corpus-apply twin:
    returns ``(seqs, records, base_symbols)`` — the post-merge vocab
    frame (tok, freq, seq), the per-round (iteration, merged_pair,
    pair_count, symbols_after) records, and the round-0 symbol total.
    Logic is exactly the certified x147 shape (vocab-sized rounds,
    argmax collect, boundary-safe column-function fold)."""
    from smfg_datawarehouse_spark.functions import word_tokens
    d = ensure_min_parallelism(t(spark, sf_dir, "documents"))
    seqs = (
        d.select(F.explode(word_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            "tok",
            "freq",
            F.concat_ws(" ", F.split(F.col("tok"), "")).alias("seq"),
        )
        .localCheckpoint(eager=False)
    )

    def symbols_total(df: DataFrame) -> int:
        return int(
            df.agg(
                F.sum(
                    F.col("freq") * F.size(F.split(F.col("seq"), " "))
                ).cast("long")
            ).first()[0]
        )

    base_symbols = symbols_total(seqs)
    merges = []  # (iteration, pair, cnt, post-merge frame)
    for i in range(1, iters + 1):
        # size-1 sequences have no pairs; Spark's sequence(1, 0) DESCENDS
        # ([1, 0]) rather than returning empty, so gate on length first
        pairs = (
            seqs.where(F.size(F.split(F.col("seq"), " ")) >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(split(seq, ' ')) - 1), "
                        "j -> concat_ws(' ', element_at(split(seq, ' '), j), "
                        "element_at(split(seq, ' '), j + 1)))"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        top = pairs.orderBy(F.col("cnt").desc(), "pair").limit(1).first()
        pa, pb = top.pair.split(" ")
        seqs = seqs.select(
            "tok", "freq", bpe_merge_fold(pa, pb).alias("seq")
        ).localCheckpoint(eager=False)
        merges.append((i, top.pair, int(top.cnt), seqs))
    # per-round symbol totals in ONE batched action (r9): the loop's
    # only per-round DRIVER decision is the argmax pair; the totals are
    # reporting, so they union into a single job over the checkpointed
    # round frames instead of one action (plus its planning/py4j gap)
    # per round. Each round's frame is vocab-sized; the checkpoints
    # were already materialized by round r+1's pair count.
    total_of = lambda df, it: df.agg(  # noqa: E731
        F.lit(it).alias("it"),
        F.sum(F.col("freq") * F.size(F.split(F.col("seq"), " ")))
        .cast("long")
        .alias("total"),
    )
    from functools import reduce

    totals_df = reduce(
        lambda a, b: a.unionAll(b),
        [total_of(frame, it) for it, _, _, frame in merges],
    )
    totals = {r["it"]: int(r["total"]) for r in totals_df.collect()}
    records = [(0, None, None, base_symbols)] + [
        (it, pair, cnt, totals[it]) for it, pair, cnt, _ in merges
    ]
    return seqs, records, base_symbols


@register("x147_bpe_merge_apply", _x147_oracle())
def x147_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] ITERATIVE BPE TRAINING certified — 5 true byte-pair-encoding
    rounds over the corpus word-frequency table: each round counts
    adjacent symbol pairs (weighted by word frequency), merges the
    argmax pair (ties to the lexicographically first) LEFT-TO-RIGHT
    NON-OVERLAPPING through every word's symbol sequence, and recounts —
    the count interaction between rounds (merging 'e s' changes what
    's t' neighbors) is exactly what x141's single-round table can't
    certify. Emits per round: the merge rule chosen, its count, the
    corpus symbol total after applying it, and the compression ratio vs
    raw characters — the trainer's learning curve (Sennrich et al.
    2015).

    Determinism: the merge fold is a per-word left fold with
    symbol-boundary-safe matching (a trailing symbol EQUAL to the
    pair's left element, never a substring), identical in both engines;
    counts are exact BIGINTs; the argmax breaks ties on pair text.

    Scale shape: like x141, the corpus collapses to the DISTINCT-word
    frequency table once — every BPE round then touches only the
    vocabulary (|vocab| × word length), the same cost profile as a real
    distributed BPE trainer where the corpus pass happens once and the
    merge loop runs on the weighted vocab. Per round: one pair-keyed
    vocab-sized agg, a 1-row argmax collect (k×1 driver rows total —
    the x57/x144 budget), and a scan-side fold; the vocab frame is
    localCheckpointed so round r never replays rounds 1..r-1."""
    _, records, base_symbols = _bpe_train(spark, sf_dir, _X147_ITERS)
    out = local_rows_df(
        spark,
        records,
        "iteration int, merged_pair string, pair_count long, "
        "symbols_after long",
    )
    return out.select(
        "*",
        (
            F.col("symbols_after").cast("double") / F.lit(float(base_symbols))
        ).alias("compression"),
    )


_X158_ORACLE = (
    _x147_cte_chain()
    + f""", src_tok AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM tk, UNNEST(t) AS u(tok) GROUP BY source, tok
    ), lens AS (
      SELECT tok,
             CAST(length(tok) AS BIGINT) AS l0,
             CAST(len(string_split(seq, ' ')) AS BIGINT) AS l{_X147_ITERS}
      FROM s{_X147_ITERS}
    )
    SELECT st.source,
           CAST(SUM(st.freq * lens.l0) AS BIGINT) AS symbols_raw,
           CAST(SUM(st.freq * lens.l{_X147_ITERS}) AS BIGINT) AS symbols_bpe,
           CAST(SUM(st.freq * lens.l{_X147_ITERS}) AS DOUBLE)
             / CAST(SUM(st.freq * lens.l0) AS DOUBLE) AS compression
    FROM src_tok st JOIN lens USING (tok)
    GROUP BY st.source
"""
)


@register("x158_bpe_apply_by_source", _X158_ORACLE)
def x158_bpe_apply_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] TOKENIZER-APPLY TWIN of x147 (VERDICT r7 item 5): train the
    5-round BPE merge table on the GLOBAL vocabulary (exactly the
    certified x147 loop), then apply the learned segmentation to the
    full corpus and report per-SOURCE compression — symbols before
    (characters) vs after the merges, and their ratio. This is the
    fertility audit a tokenizer release ships: a source whose
    compression lags the corpus (merge rules learned elsewhere don't
    fire on its text) is under-served by the tokenizer and will cost
    more tokens per character at training time (cf. x78's per-lang
    fertility under a FIXED tokenizer — here the tokenizer itself is
    the trained artifact).

    Determinism: trained rules are exact argmax merges (ties on pair
    text); per-source sums are exact BIGINT Σ freq × |seq| folded over
    the vocab join; ONE final double division.

    Scale shape: applying merges never re-folds the corpus — each
    source's cost is Σ_tok freq_src(tok) · |seq_trained(tok)|, i.e. a
    (source, tok)-keyed agg joined to the trained vocab table (vocab-
    sized, the same frame the trainer already materialized). The corpus
    is touched once more for per-source token frequencies; everything
    else rides vocab-sized tables."""
    from smfg_datawarehouse_spark.functions import word_tokens

    seqs, _, _ = _bpe_train(spark, sf_dir, _X147_ITERS)
    # l0 via F.length, NOT size(split(tok, '')): Spark's split counts
    # UTF-16 code units (a non-BMP char = 2 surrogates) while length is
    # code-point semantics, matching DuckDB length(tok) (ADVICE r8).
    # The seq-side split stays: x147's trained seqs are BMP-only on
    # these fixtures (pinned by test_x147_fixture_tokens_bmp_only).
    lens = seqs.select(
        "tok",
        F.length(F.col("tok")).cast("long").alias("l0"),
        F.size(F.split(F.col("seq"), " ")).cast("long").alias("lN"),
    )
    d = ensure_min_parallelism(t(spark, sf_dir, "documents"))
    src_tok = (
        d.select("source", F.explode(word_tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    return (
        src_tok.join(lens, "tok")
        .groupBy("source")
        .agg(
            F.sum(F.col("freq") * F.col("l0")).cast("long").alias(
                "symbols_raw"
            ),
            F.sum(F.col("freq") * F.col("lN")).cast("long").alias(
                "symbols_bpe"
            ),
            (
                F.sum(F.col("freq") * F.col("lN")).cast("double")
                / F.sum(F.col("freq") * F.col("l0")).cast("double")
            ).alias("compression"),
        )
    )

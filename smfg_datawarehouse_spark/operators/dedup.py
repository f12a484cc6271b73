"""Deduplication operators [X] — exact, n-gram Jaccard, MinHash.

Designed scale-first:

- **Exact dedup** groups by a content hash (md5) — one shuffle on the hash;
  at 100 TB the hash groupBy is the canonical approach (no full-text compare).
- **n-gram Jaccard** explodes distinct shingles and self-joins on shingle —
  exact but quadratic in per-shingle document frequency; appropriate for
  verification / small corpora. The scale path is MinHash+LSH below.
- **MinHash+LSH** computes a K-hash signature per document with *portable*
  hashing (``md5(seed || shingle)`` — identical in Spark and the DuckDB
  oracle), bands the signature, buckets by band hash, and only compares
  candidates sharing a bucket. Shuffle volume is O(docs × bands), never
  O(docs²).

All pure DataFrame/Catalyst code — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.functions import WS_RUN, collapse_ws, shingle_table
from smfg_datawarehouse_spark.queries import hex_int, md5_int, register, t
from smfg_datawarehouse_spark.session import ensure_min_parallelism, local_rows_df

# ---------------------------------------------------------------------------
# building blocks (importable API)
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact content duplicate group."""
    h = F.md5(F.concat_ws("\x1f", *content_cols))
    w = W.partitionBy(h).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    df_cap: int | None = None,
    shingles: DataFrame | None = None,
    _return_candidates: bool = False,
) -> DataFrame:
    """Exact word-3-gram Jaccard similarity of ``docs`` (``doc_id``,
    ``text``) for all pairs ≥ threshold — with
    PPJoin-style **prefix filtering** so the candidate join never goes
    all-pairs-quadratic.

    For Jaccard ≥ t, two sets of sizes |A|,|B| must share at least one
    shingle among each set's (|S| - ⌈t·|S|⌉ + 1) *globally rarest* shingles
    (sort by document frequency): if they only shared shingles outside both
    prefixes, the intersection would be too small to reach t. Candidates are
    therefore generated by joining on prefix shingles only (low df ⇒ small
    Σ df² blowup), then verified exactly with ``array_intersect`` on the full
    sorted shingle arrays. The prefix/positional filters themselves are
    lossless vs. the brute-force all-pairs join; the ``df_cap`` skew guard
    below is NOT (see its caveat).

    **Skew guard** (``df_cap``): the candidate join's cost is Σ df² over
    prefix shingles — a pathological corpus where even the *rarest* per-doc
    shingles are globally common (near-identical boilerplate docs) would
    still detonate it. Prefix shingles with document frequency above
    ``df_cap`` are excluded from candidate *generation* (ranking is
    untouched), bounding candidate pairs by ``df_cap × prefix_rows``.
    Default cap ``max(64, ⌈√n_docs⌉)`` — far above any natural prefix df
    (rare-by-construction), so results are unchanged on non-adversarial
    corpora; pairs whose EVERY shared prefix shingle exceeds the cap are
    missed (use MinHash+LSH as the scale path for such corpora).

    The guard is eager and strict: one job counts the capped prefix rows
    up front and raises ``RuntimeError`` if any would be dropped. Every
    caller is oracle-certified, and the comparison SQL is uncapped, so a
    silent drop would surface as an inexplicable hash mismatch.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    from pyspark.sql import Window as W2

    # ``shingles``: pre-computed (doc_id, shingle) frame (e.g. shared with
    # a MinHash kernel over the same corpus) — skips re-tokenizing.
    sh = shingles if shingles is not None else shingle_table(docs)
    # full sets as sorted arrays (for exact verification) — cached: the
    # interpreted higher-order shingling runs exactly ONCE; every later
    # stage re-derives (doc, shingle) rows from this cache, not the corpus
    sets_df = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("shingles"),
        F.count(F.lit(1)).alias("set_size"),
    ).cache()
    sh2 = sets_df.select(
        "doc_id", "set_size", F.explode("shingles").alias("shingle")
    )
    # global document frequency per shingle → rare-first prefix ranking.
    # df rides a shingle-keyed WINDOW over the exploded rows (the x56/x139
    # recipe), never a broadcast: the shingle vocabulary GROWS with the
    # corpus (word 3-grams are mostly unique), so a broadcast df table is
    # the driver/executor-memory blowup the repo's own x139 fix removed.
    # One shingle-keyed exchange replaces the old groupBy+broadcast pair.
    from smfg_datawarehouse_spark.functions import attach_shingle_df

    ranked_all = (
        attach_shingle_df(sh2)
        .withColumn(
            "rk",
            F.row_number().over(
                W2.partitionBy("doc_id").orderBy(F.col("df"), F.col("shingle"))
            ),
        )
        .where(F.col("rk") <= F.col("set_size") - F.ceil(F.lit(threshold) * F.col("set_size")) + 1)
        .select("doc_id", "shingle", "rk", "set_size", "df")
        # cached: the candidate self-join consumes this twice, and without
        # the cache each side replays the whole window+join lineage
        .cache()
    )
    # the skew-guard cap: greatest(64, floor(sqrt(n)) + 1)
    # (== math.isqrt(n) + 1 for n < 2^52), or an explicit df_cap literal
    cap = (
        F.greatest(F.lit(64), F.floor(F.sqrt(F.count(F.lit(1)))).cast("long") + 1)
        if df_cap is None
        else F.lit(int(df_cap)).cast("long")
    )
    cap_df = F.broadcast(sets_df.agg(cap.alias("_df_cap")))
    # ONE job returns the cap and all three guard counters
    guard = (
        ranked_all.crossJoin(cap_df)
        .agg(
            F.count(F.lit(1)).alias("prefix_rows"),
            F.sum((F.col("df") > F.col("_df_cap")).cast("long")).alias(
                "dropped_rows"
            ),
            F.sum(
                F.when(F.col("df") > F.col("_df_cap"), F.col("df")).otherwise(0)
            ).alias("dropped_mass"),
            F.first("_df_cap").alias("cap"),
        )
        .collect()[0]
    )
    df_cap = guard.cap if guard.cap is not None else df_cap
    if guard.dropped_rows:
        raise RuntimeError(
            f"jaccard_pairs skew guard: dropped {guard.dropped_rows}/"
            f"{guard.prefix_rows} prefix rows with df > {df_cap} "
            f"(candidate mass avoided ≈ {guard.dropped_mass}); pairs "
            "linked only by those shingles may be missed — use "
            "MinHash+LSH for this corpus"
        )
    ranked = ranked_all.where(F.col("df") <= F.lit(df_cap)).select(
        "doc_id", "shingle", "rk", "set_size"
    )
    # PPJoin positional filter: both prefix lists follow the same global
    # (df, shingle) order, so a match at positions (rk_a, rk_b) bounds the
    # overlap by 1 + min(|A|-rk_a, |B|-rk_b); Jaccard ≥ t needs overlap
    # ≥ ⌈t·(|A|+|B|)/(1+t)⌉. Pairs whose loosest (first) shared prefix
    # position already fails can never verify — dropped pre-shuffle.
    overlap_ub = F.lit(1) + F.least(
        F.col("a.set_size") - F.col("a.rk"), F.col("b.set_size") - F.col("b.rk")
    )
    overlap_need = F.ceil(
        F.lit(threshold) / F.lit(1.0 + threshold)
        * (F.col("a.set_size") + F.col("b.set_size"))
    )
    cand = (
        ranked.alias("a")
        .join(
            ranked.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (overlap_ub >= overlap_need),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    if _return_candidates:
        return cand
    sa = sets_df.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("set_size").alias("size_a"),
    )
    sb = sets_df.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("set_size").alias("size_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


MINHASH_PRIME = 4294967291  # largest 32-bit prime (Carter–Wegman modulus)


def minhash_signatures(
    docs: DataFrame, shingles: DataFrame | None = None
) -> DataFrame:
    """16-wide MinHash signature per doc of ``docs``' word 3-grams using
    a portable md5-derived universal hash family.

    ONE md5 per shingle; its two 32-bit prefix words (a, b) seed the whole
    family ``hash_i(shingle) = (a + i·b) mod P`` (P = 4294967291, the
    largest 32-bit prime — the classic Carter–Wegman construction MinHash
    papers assume). minhash_i = numeric min over shingles. This replaces
    the earlier md5-per-(i, shingle) family: 16× fewer md5 evaluations per
    shingle, BIGINT instead of 32-char-string mins and signatures (4×
    narrower shuffle), and every term is exact integer arithmetic both
    engines reproduce bit-for-bit — the pipeline stays oracle-checkable in
    ANSI SQL.

    ``shingles``: pre-computed (doc_id, shingle) frame (e.g. a shared
    cache) — skips re-tokenizing the corpus when a caller needs both the
    signatures and the raw sets.
    """
    sh = shingles if shingles is not None else shingle_table(docs)
    hashed = sh.select("doc_id", F.md5("shingle").alias("_h")).select(
        "doc_id",
        hex_int("_h").alias("_ha"),
        hex_int("_h", 9).alias("_hb"),
    )
    aggs = [
        F.min(
            (F.col("_ha") + F.lit(i) * F.col("_hb")) % F.lit(MINHASH_PRIME)
        ).alias(f"mh{i}")
        for i in range(_NUM_HASHES)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_candidates(
    docs: DataFrame,
    est_threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH-banded near-duplicate candidates with estimated Jaccard.

    The 16-hash signature splits into 4 bands of 4 rows; docs
    sharing any band hash become candidates; estimated similarity = fraction
    of matching minhashes. Returns (doc_a, doc_b, est_jaccard ≥ est_threshold).
    """
    sig = minhash_signatures(docs, shingles)
    # the whole op is ONE keyed shuffle + join: candidates verify in place
    # from the signature each band row carries. Cached: both sides of the
    # self-join read the materialized bands instead of replaying the
    # 16-hash signature aggregation twice.
    stacked = lsh_band_rows(sig).cache()
    a, b = stacked.alias("a"), stacked.alias("b")
    matches = _sig_agreement("a.sig", "b.sig")
    return (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (matches / F.lit(float(_NUM_HASHES))).cast("double").alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= est_threshold)
        .distinct()
    )


def _word_token_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, token) distinct word sets (widened before the explode)."""
    from smfg_datawarehouse_spark.functions import word_tokens

    return ensure_min_parallelism(docs).select(
        "doc_id", F.explode(F.array_distinct(word_tokens(F.col("text")))).alias("tok")
    )


SIMHASH_BITS = 32


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """32-bit SimHash per document over distinct word tokens.

    Token hash = first 8 hex digits of md5 (portable), read as ONE
    32-bit word ``v`` (``md5_int``); hex digit ``j//4+1`` carries weight
    ``16^(7 - j//4)``, so bit j of the signature is
    ``(v >> (4*(7 - j//4) + j%4)) & 1``. Per-bit +1/-1 sums reduce to
    counting set bits (``2*ones >= tokens`` sets the output bit). Pure
    expressions — one explode + one groupBy, linear in corpus size.
    """
    toks = _word_token_sets(docs).withColumn(
        "v", md5_int("tok", 1, SIMHASH_BITS // 4)
    )
    aggs = [
        F.sum(F.expr(f"(shiftright(v, {4 * (7 - j // 4) + j % 4}) & 1)")).alias(f"n{j}")
        for j in range(SIMHASH_BITS)
    ] + [F.count(F.lit(1)).alias("ntok")]
    sums = toks.groupBy("doc_id").agg(*aggs)
    simhash = None
    for j in range(SIMHASH_BITS):
        term = F.when(2 * F.col(f"n{j}") >= F.col("ntok"), F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return sums.select("doc_id", simhash.alias("simhash"))


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """All document pairs with SimHash Hamming distance ≤ 3.

    Banded candidate generation: the 32-bit signature splits into 4 bytes;
    a pair within Hamming 3 must agree on ≥1 whole byte (pigeonhole), so
    candidates come from equality joins on (band_index, band_byte) — never
    an all-pairs scan. Exact: verification recomputes the true distance.
    """
    sig = simhash_signatures(docs).cache()
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bi"),
                        F.shiftright(F.col("simhash"), b * 8).bitwiseAND(F.lit(255)).alias("bv"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.bi", "band.bv")
    a, b = bands.alias("a"), bands.alias("b")
    # verify (cheap bit_count) BEFORE distinct: a true pair collides in up
    # to 4 bands, so filtering first shrinks the dedup shuffle ~4×
    return (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .distinct()
    )


# ---------------------------------------------------------------------------
# driver-facing registered queries + oracles
# ---------------------------------------------------------------------------


@register(
    "x01_exact_dedup_docs",
    """
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS copies
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) >= 1
    """,
)
def x01_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Exact dedup by content hash: survivor id + multiplicity per group."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("copies"))
    )


_WORD_SHINGLE_SQL = r"""
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, GREATEST(length(tk) - 1, 1)),
                              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
             )) AS shingle
      FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           w -> w <> '') AS tk
        FROM documents
      ) WHERE length(tk) >= 3
"""

_JACCARD_ORACLE = f"""
    WITH sh AS ({_WORD_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.inter AS DOUBLE) / (sa.set_size + sb.set_size - i.inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.inter AS DOUBLE) / (sa.set_size + sb.set_size - i.inter) >= 0.6
"""


@register("x02_ngram_jaccard_pairs", _JACCARD_ORACLE)
def x02_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Exact word-3-gram Jaccard near-duplicate pairs (threshold 0.6),
    prefix-filtered candidate generation. The oracle is uncapped, so if
    the skew-guard cap would ever drop a prefix row the query fails loudly
    instead of silently hash-mismatching the oracle."""
    d = t(spark, sf_dir, "documents")
    return jaccard_pairs(d, threshold=0.6).withColumn(
        "jaccard", F.col("jaccard").cast("double")
    )


_NUM_HASHES = 16
_BANDS = 4
_ROWS_PER_BAND = _NUM_HASHES // _BANDS

_minhash_hashed_sql = (
    "SELECT doc_id, "
    "('0x' || substring(md5(shingle), 1, 8))::BIGINT AS ha, "
    "('0x' || substring(md5(shingle), 9, 8))::BIGINT AS hb "
    "FROM sh"
)
_minhash_cols = ",\n           ".join(
    f"MIN((ha + {i} * hb) % {MINHASH_PRIME}) AS mh{i}" for i in range(_NUM_HASHES)
)
_band_cols = ",\n           ".join(
    " || '|' || ".join(
        f"mh{b * _ROWS_PER_BAND + r}::VARCHAR" for r in range(_ROWS_PER_BAND)
    )
    + f" AS band{b}"
    for b in range(_BANDS)
)
_band_union = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {b} AS bi, band{b} AS bh FROM banded" for b in range(_BANDS)
)
_match_sum = " + ".join(
    f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(_NUM_HASHES)
)

_MINHASH_ORACLE = f"""
    WITH sh AS ({_WORD_SHINGLE_SQL}),
    sig AS (
      SELECT doc_id,
           {_minhash_cols}
      FROM ({_minhash_hashed_sql}) GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id,
           {_band_cols}
      FROM sig
    ),
    stacked AS (
{_band_union}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM stacked a JOIN stacked b
        ON a.bi = b.bi AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(({_match_sum}) AS DOUBLE) / {_NUM_HASHES}.0 AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    WHERE CAST(({_match_sum}) AS DOUBLE) / {_NUM_HASHES}.0 >= 0.5
"""


_simhash_sums = ",\n           ".join(
    f"SUM(CASE WHEN ((strpos('0123456789abcdef', substring(h, {j // 4 + 1}, 1)) - 1) >> {j % 4}) & 1 = 1 "
    f"THEN 1 ELSE -1 END) AS s{j}"
    for j in range(SIMHASH_BITS)
)
_simhash_value = " + ".join(
    f"(CASE WHEN s{j} >= 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)" for j in range(SIMHASH_BITS)
)

_SIMHASH_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '')
             )) AS tok
      FROM documents
    ),
    hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
    sums AS (
      SELECT doc_id,
           {_simhash_sums}
      FROM hashed GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {_simhash_value} AS simhash FROM sums)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("x04_simhash_dupes", _SIMHASH_ORACLE)
def x04_simhash_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] 32-bit SimHash near-dup pairs (Hamming ≤ 3), byte-banded candidate
    join (pigeonhole-exact, no all-pairs scan); oracle brute-forces all
    pairs with an identical portable hash construction."""
    d = t(spark, sf_dir, "documents")
    return simhash_pairs(d)


@register("x03_minhash_lsh_dupes", _MINHASH_ORACLE)
def x03_minhash_lsh_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] MinHash+LSH near-duplicate detection — the 100 TB-scale dedup path
    (candidates via band-bucket join, O(docs×bands) shuffle, never O(docs²)).
    Portable md5 hash family keeps it oracle-checkable bit-for-bit."""
    d = t(spark, sf_dir, "documents")
    return minhash_candidates(d, est_threshold=0.5)


#: Edge count below which connected_components runs exact union-find on
#: the driver instead of iterative min-label rounds. 1M collected Rows ≈
#: 16 MB of longs but a few hundred MB of transient Python Row/dict
#: objects — bounded and safe for a driver with headroom, same
#: guarded-collect philosophy as the ANN query-matrix cap. Post-LSH dup
#: graphs are orders of magnitude smaller than their corpus, so even a
#: 100 TB run usually lands here; graphs over the cap take the
#: distributed iterative path automatically.
CC_DRIVER_EDGE_CAP = 1_000_000


def _union_find_components(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Exact driver-side CC: union-find with path halving; group label =
    min node id in the component (same labels the iterative path yields)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path halving
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the root IS the min label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(node, find(node)) for node in parent]


def connected_components(
    edges: DataFrame, driver_edge_cap: int = CC_DRIVER_EDGE_CAP
) -> DataFrame:
    """Duplicate-group clustering: connected components over near-dup
    pairs ``(doc_a, doc_b)``.

    Two tiers, picked by the MEASURED edge count:

    - edges ≤ ``driver_edge_cap``: exact union-find on the driver (the
      post-LSH dup graph is tiny relative to its corpus; a bounded ~32 MB
      collect replaces O(diameter) distributed rounds whose per-round job
      overhead dominates on small graphs).
    - larger graphs: iterative min-label propagation (GraphFrames-style,
      no graph lib). Each round every node adopts the minimum label among
      itself and its neighbors; rounds needed = component diameter
      (near-dup clusters are shallow; at most 25). Each iteration is one join + one
      groupBy — all shuffles keyed on node id — and ``localCheckpoint``
      truncates the growing lineage, THE critical pattern for iterative
      algorithms on Spark (without it the plan doubles each round and the
      driver OOMs long before the data does).

    Both tiers return (doc_id, group_id = min doc_id in component) for
    nodes with ≥1 edge and produce IDENTICAL labels (min-label is
    order-independent; union-find unions by min id).
    """
    # persist the edge list: the upstream lineage (typically the LSH
    # candidate join — the dominant cost) must compute ONCE for both the
    # tier-probe count and the fast-path collect / iterative-path
    # symmetrization, not once per action
    pair_df = edges.select(
        F.col("doc_a").cast("long").alias("src"), F.col("doc_b").cast("long").alias("dst")
    ).persist()
    try:
        n_edges = pair_df.count()
        if n_edges <= driver_edge_cap:
            spark = edges.sparkSession
            labels = _union_find_components(
                [(r["src"], r["dst"]) for r in pair_df.collect()]
            )
            return local_rows_df(
                spark, labels or [], "doc_id long, group_id long"
            )

        sym = pair_df.union(
            pair_df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).localCheckpoint()  # eager: materializes before pair_df unpersists
    finally:
        pair_df.unpersist()
    # size the iteration's partitioning to the GRAPH, not the corpus: dup
    # graphs are orders of magnitude smaller than their corpus, and every
    # round pays per-task overhead × partitions × jobs. ~1M edges/partition
    # keeps tasks meaty at any scale (tiny graphs collapse to 1 partition).
    n_parts = max(1, (2 * n_edges) // 1_000_000)
    sym = sym.repartition(n_parts, "dst").localCheckpoint()
    labels = sym.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    ).repartition(n_parts, "id").localCheckpoint()
    for _ in range(25):
        neigh_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # carry a changed flag through the same job instead of re-joining
        # old vs new labels afterwards — halves the joins per round; the
        # convergence count then scans the materialized checkpoint only
        new_labels = (
            labels.join(neigh_min, labels["id"] == neigh_min["src"], "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "new_label"
                ),
                (F.coalesce(F.col("nmin") < F.col("label"), F.lit(False))).alias(
                    "changed"
                ),
            )
            .withColumnRenamed("new_label", "label")
            .localCheckpoint()
        )
        changed = new_labels.where("changed").count()
        labels = new_labels.drop("changed")
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("group_id"))


_CC_ORACLE = f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id AS src, id AS dst FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS group_id
    FROM reach GROUP BY src
"""


@register("x06_dup_groups_cc", _CC_ORACLE)
def x06_dup_groups_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Near-duplicate GROUPS: connected components over the MinHash+LSH
    pair graph (x03's edges) via iterative min-label propagation; the
    oracle replays it as a recursive transitive closure. This is the op a
    dedup pipeline actually ends with — keep one doc per group_id."""
    d = t(spark, sf_dir, "documents")
    edges = minhash_candidates(d, est_threshold=0.5)
    return connected_components(edges)


@register("x88_cc_distributed_tier", _CC_ORACLE)
def x88_cc_distributed_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] DISTRIBUTED-TIER connected components: x06's exact pipeline
    with ``driver_edge_cap=0``, forcing the iterative min-label
    propagation path (`connected_components` tier 2) that a 100 TB dup
    graph would actually take — fixture-scale graphs otherwise always
    ride the bounded driver union-find fast path, leaving the
    at-scale code path without its own certification row. Labels are
    REQUIRED to be bit-identical to x06's (min-label is
    order-independent; union-find unions by min id), so the same
    recursive-closure oracle certifies both tiers."""
    d = t(spark, sf_dir, "documents")
    edges = minhash_candidates(d, est_threshold=0.5)
    return connected_components(edges, driver_edge_cap=0)


_CANONICAL_ORACLE = f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id AS src, id AS dst FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    cc AS (
      SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS group_id
      FROM reach GROUP BY src
    ),
    feats AS (
      SELECT doc_id,
             CAST(length(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                     w -> w <> '')) AS BIGINT) AS n_tokens,
             CAST(length(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                  w -> w IN ('the','a','of','and','to','in','is','it'))) AS BIGINT)
               AS stop_hits,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
               / length(text) AS alpha_ratio,
             CAST(LEAST(length(text), 500) AS DOUBLE) / 500.0 AS len_norm
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             0.4 * alpha_ratio
               + 0.3 * (CASE WHEN n_tokens > 0
                             THEN CAST(stop_hits AS DOUBLE) / n_tokens
                             ELSE 0.0 END)
               + 0.3 * len_norm AS quality_score
      FROM feats
    ),
    ranked AS (
      SELECT cc.group_id, cc.doc_id, s.quality_score,
             ROW_NUMBER() OVER (PARTITION BY cc.group_id
                                ORDER BY s.quality_score DESC, cc.doc_id) AS rn
      FROM cc JOIN scored s USING (doc_id)
    )
    SELECT group_id,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS canonical_doc,
           MAX(CASE WHEN rn = 1 THEN quality_score END) AS canonical_quality
    FROM ranked GROUP BY group_id
"""


@register("x45_dup_group_canonical", _CANONICAL_ORACLE)
def x45_dup_group_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Canonical-representative selection — the step a dedup pipeline
    runs AFTER grouping (x06): within every near-duplicate group, keep the
    highest-quality document (tie → lowest doc_id) and record the group
    size. Composes the MinHash+LSH candidate graph, connected components,
    and the x21 quality scorer into one plan. The group table is tiny
    relative to the corpus (only docs with a near-dup edge), so the
    quality join BROADCASTS the group side into the corpus scan — no
    corpus shuffle; the ranking window then runs over |dup docs| rows
    keyed by group_id. At 100 TB the expensive parts (LSH, CC) are the
    same plans already proven in x03/x06; the selection itself adds one
    broadcast join + one small window."""
    from smfg_datawarehouse_spark.operators.text_analysis import quality_features

    d = t(spark, sf_dir, "documents")
    edges = minhash_candidates(d, est_threshold=0.5)
    cc = connected_components(edges)
    scored = quality_features(d).select("doc_id", "quality_score")
    j = scored.join(F.broadcast(cc), "doc_id")
    w = W.partitionBy("group_id").orderBy(F.col("quality_score").desc(), "doc_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .groupBy("group_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("long")
            .alias("canonical_doc"),
            F.max(F.when(F.col("rn") == 1, F.col("quality_score"))).alias(
                "canonical_quality"
            ),
        )
    )


_IMPACT_ORACLE = f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id AS src, id AS dst FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    cc AS (
      SELECT src AS doc_id, MIN(dst) AS group_id FROM reach GROUP BY src
    ),
    rm AS (
      SELECT doc_id FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY group_id) AS keep
        FROM cc
      ) WHERE doc_id <> keep
    ),
    tk AS (
      SELECT doc_id, source,
             CAST(length(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                     w -> w <> '')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT tk.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rm.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_docs_removed,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN rm.doc_id IS NULL THEN 0 ELSE n_tok END) AS BIGINT)
             AS n_tokens_removed,
           CAST(SUM(CASE WHEN rm.doc_id IS NULL THEN 0 ELSE n_tok END) AS DOUBLE)
             / SUM(n_tok) AS token_removal_rate
    FROM tk LEFT JOIN rm ON rm.doc_id = tk.doc_id
    GROUP BY tk.source
"""


@register("x55_dedup_impact_report", _IMPACT_ORACLE)
def x55_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] The artifact a dedup run actually delivers: per SOURCE, how many
    documents and tokens the MinHash+LSH → connected-components → lowest-
    id-survivor pipeline removes — the number a data team reads before
    signing off a training mix (and the per-source duplication-rate alarm).
    Composes the certified x03 candidate graph and x06 grouping; the
    removed-doc set is group-minus-survivor (min doc_id per group, same
    convention as x01/x53). The dup-group table is tiny relative to the
    corpus, so it BROADCASTS into the per-doc token-count scan; the only
    corpus-sized exchange is the per-source rollup. Token counts are exact
    ints; the removal rate is one int/int divide — bit-stable."""
    from smfg_datawarehouse_spark.functions import word_tokens

    d = t(spark, sf_dir, "documents")
    edges = minhash_candidates(d, est_threshold=0.5)
    cc = connected_components(edges)
    # survivor = group label: connected_components contracts
    # group_id == min doc_id of the component, so "removed" is simply
    # every member that isn't its own label — no extra window/shuffle
    removed = cc.where(F.col("doc_id") != F.col("group_id")).select(
        "doc_id", F.lit(1).alias("rm")
    )
    # NULL text must yield NULL n_tok (oracle semantics; SUM skips it) —
    # bare F.size() would return -1 for NULL input under the legacy
    # sizeOfNull default and silently subtract from the totals
    per_doc = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("text").isNull(), F.lit(None).cast("long")
        ).otherwise(F.size(word_tokens(F.col("text"))).cast("long")).alias("n_tok"),
    )
    rm_tok = F.when(F.col("rm").isNull(), F.lit(0)).otherwise(F.col("n_tok"))
    return (
        per_doc.join(F.broadcast(removed), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("rm").isNull(), 0).otherwise(1))
            .cast("long")
            .alias("n_docs_removed"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(rm_tok).cast("long").alias("n_tokens_removed"),
            (F.sum(rm_tok).cast("double") / F.sum("n_tok")).alias(
                "token_removal_rate"
            ),
        )
    )


_NOVELTY_ORACLE = f"""
    WITH sh AS ({_WORD_SHINGLE_SQL}),
    dfq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(SUM(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS novelty_rate
    FROM sh JOIN dfq USING (shingle)
    GROUP BY sh.doc_id
"""


@register("x56_shingle_novelty", _NOVELTY_ORACLE)
def x56_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Per-document novelty: the fraction of a doc's distinct word
    3-grams that occur in NO other document — low novelty flags
    boilerplate/templated/near-duplicate text that slipped past pair-level
    dedup, high novelty plus low quality flags garbage; both ends feed the
    curation cut. UNLIKE the unigram ops (x35/x36), the 3-gram df table
    is NOT broadcastable — 3-gram vocabulary grows nearly linearly with
    the corpus — so the df attaches via a shingle-partitioned window
    count (one hash exchange on shingle); the per-doc rollup is the only
    other exchange. Counts are exact ints; the rate is one int/int
    divide — bit-stable."""
    d = t(spark, sf_dir, "documents")
    sh = shingle_table(d)
    wsh = W.partitionBy("shingle")
    uniq = F.when(F.col("df") == 1, 1).otherwise(0)
    return (
        sh.withColumn("df", F.count(F.lit(1)).over(wsh))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(uniq).cast("long").alias("n_unique"),
            (F.sum(uniq).cast("double") / F.count(F.lit(1))).alias(
                "novelty_rate"
            ),
        )
    )


@register(
    "x07_latest_event_per_user",
    """
    SELECT event_id, user_id, ts, event_type, value
    FROM (
      SELECT event_id, user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def x07_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.12] Latest-wins dedup (CDC compaction shape): newest event per
    user survives — one shuffle on the key, `row_number()=1`. The same
    builder the MERGE load and audit latest-wins views use."""
    e = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")
    )


@register(
    "x28_editdist_dupes",
    """
    WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
    b AS (SELECT doc_id, t, md5(substring(t, 1, 8)) AS bk FROM d)
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(substring(a.t, 1, 100), substring(c.t, 1, 100))
                AS BIGINT) AS edit_dist
    FROM b a JOIN b c ON a.bk = c.bk AND a.doc_id < c.doc_id
    WHERE levenshtein(substring(a.t, 1, 100), substring(c.t, 1, 100)) <= 10
    """,
)
def x28_editdist_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Edit-distance near-duplicate pairs: candidates bucket on the
    md5 of the lowercased 8-char prefix (equality join — never all-pairs),
    then exact Levenshtein over the first 100 chars verifies ≤ 10 edits.
    The O(len²) distance runs only on Σ|bucket|² candidate pairs over
    100-char slices — bounded work per pair, linear candidate generation.
    Complements the token-level (jaccard/minhash) and bit-level (simhash)
    dedup families with a character-level one."""
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.lower(F.col("text")).alias("t"))
        .withColumn("bk", F.md5(F.substring("t", 1, 8)))
        .withColumn("t100", F.substring("t", 1, 100))
        .select("doc_id", "bk", "t100")
        # cached: both sides of the candidate self-join read this tiny
        # (id, bucket, prefix) projection
        .cache()
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), "bk", F.col("t100").alias("ta")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), "bk", F.col("t100").alias("tb")
    )
    return (
        a.join(b, "bk")
        .where(F.col("doc_a") < F.col("doc_b"))
        # admissible pre-filter: levenshtein >= |len diff|, so pairs whose
        # slice lengths differ by > 10 can never verify — skip the distance
        # for them entirely (semantics-preserving)
        .where(F.abs(F.length("ta") - F.length("tb")) <= 10)
        .select(
            "doc_a",
            "doc_b",
            # banded DP: threshold caps the computation at O(len × 10)
            # instead of O(len²) per pair; returns -1 above the threshold
            F.levenshtein("ta", "tb", 10).cast("long").alias("edit_dist"),
        )
        .where(F.col("edit_dist") >= 0)
    )


_MINHASH_ERR_ORACLE = f"""
    WITH sh AS ({_WORD_SHINGLE_SQL}),
    sig AS (
      SELECT doc_id,
           {_minhash_cols}
      FROM ({_minhash_hashed_sql}) GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id,
           {_band_cols}
      FROM sig
    ),
    stacked AS (
{_band_union}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM stacked a JOIN stacked b
        ON a.bi = b.bi AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.doc_a, c.doc_b,
             CAST(({_match_sum}) AS DOUBLE) / {_NUM_HASHES}.0 AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
    ),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
    ),
    inter AS (
      SELECT e.doc_a, e.doc_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM est e
      JOIN sh a ON a.doc_id = e.doc_a
      JOIN sh b ON b.doc_id = e.doc_b AND b.shingle = a.shingle
      GROUP BY e.doc_a, e.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.est_jaccard,
           CAST(COALESCE(i.i, 0) AS DOUBLE)
             / (za.sz + zb.sz - COALESCE(i.i, 0)) AS true_jaccard,
           ABS(e.est_jaccard
               - CAST(COALESCE(i.i, 0) AS DOUBLE)
                 / (za.sz + zb.sz - COALESCE(i.i, 0))) AS abs_err
    FROM est e
    LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sizes za ON za.doc_id = e.doc_a
    JOIN sizes zb ON zb.doc_id = e.doc_b
"""


@register("x14_minhash_estimation_error", _MINHASH_ERR_ORACLE)
def x14_minhash_estimation_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Sketch-accuracy evaluation IN-ENGINE: for every LSH candidate
    pair (any shared band, no similarity floor), the MinHash-estimated
    Jaccard next to the exact shingle-set Jaccard and the absolute error —
    how you size num_hashes/bands before trusting the sketch on a 100 TB
    dedup run. The exact side joins the candidates (small, post-LSH) with
    the per-doc sorted shingle arrays and intersects in-memory per row
    (``array_intersect``) — no shingle-level shuffle is added beyond the
    signature pass the sketch itself needs; the two set sizes are ints, so
    true Jaccard is one int/int divide and the error one IEEE subtract —
    bit-stable at any parallelism."""
    d = t(spark, sf_dir, "documents")
    # one tokenization for both consumers: the signature pass and the
    # exact-set collect read this cache instead of re-shingling the corpus
    sh = shingle_table(d).cache()
    cand = minhash_candidates(d, est_threshold=0.0, shingles=sh)
    sets = (
        sh.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("shingle")).alias("sh"))
        .select("doc_id", "sh", F.size("sh").cast("long").alias("sz"))
    )
    a = sets.select(
        F.col("doc_id").alias("ka"), F.col("sh").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    b = sets.select(
        F.col("doc_id").alias("kb"), F.col("sh").alias("sh_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    true_j = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        cand.join(a, F.col("doc_a") == F.col("ka"))
        .join(b, F.col("doc_b") == F.col("kb"))
        .select(
            "doc_a", "doc_b", "est_jaccard",
            true_j.alias("true_jaccard"),
            F.abs(F.col("est_jaccard") - true_j).alias("abs_err"),
        )
    )


def _pagerank_iter_sql(prev: str, it: str) -> str:
    """One unrolled integer-PageRank iteration over CTEs e/deg/n."""
    return f"""
    {it} AS (
      SELECT e.b AS id,
             150000000000 // MAX(n.nn)
               + (85 * SUM({prev}.r // deg.d)) // 100 AS r
      FROM e
      JOIN {prev} ON e.a = {prev}.id
      JOIN deg ON e.a = deg.a
      CROSS JOIN n
      GROUP BY e.b
    )"""


_PAGERANK_ORACLE = f"""
    WITH pairs AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    e AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY a),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM deg),
    r0 AS (
      SELECT deg.a AS id, 1000000000000 // n.nn AS r
      FROM deg CROSS JOIN n
    ),
    {_pagerank_iter_sql('r0', 'it1')},
    {_pagerank_iter_sql('it1', 'it2')},
    {_pagerank_iter_sql('it2', 'it3')}
    SELECT id AS doc_id,
           CAST(r AS BIGINT) AS pr_units,
           CAST(r AS DOUBLE) / 1e12 AS pagerank
    FROM it3
"""


@register("x48_dup_graph_pagerank", _PAGERANK_ORACLE)
def x48_dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] PageRank centrality over the near-duplicate graph (3 damped
    iterations, d=0.85) — ranks "template hubs": documents whose text is
    shared the most across the corpus, which boilerplate-removal wants
    FIRST (a connected component says who clusters together; PageRank says
    who anchors the cluster). Iterative message passing like x06's CC —
    each round is one join (neighbor contributions) + one groupBy (inbox
    sum), both keyed on node id, with the edge/degree tables cached (read
    every round) and `localCheckpoint` truncating lineage. Determinism:
    ranks live in integer pico-units, contributions use integer division
    (r // deg, then (85*sum) // 100) — no float accumulation anywhere, so
    Spark and the oracle's unrolled-CTE replay agree bit-for-bit at any
    partition count. Scale: all shuffles are node/edge-keyed — PageRank at
    the corpus scale this graph implies (dup pairs only) is edge-linear."""
    d = t(spark, sf_dir, "documents")
    pairs = minhash_candidates(d, est_threshold=0.5)
    e = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionAll(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .cache()
    )
    deg = e.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("d")).cache()
    n = deg.count()
    r = deg.select(F.col("a").alias("id"), F.lit(10**12 // n).alias("r"))
    base = 150000000000 // n
    # three unrolled rounds as ONE lazy plan (r9): at a fixed, small
    # iteration count the per-round localCheckpoint bought nothing —
    # lineage is only 3 joins deep — and cost a materialization job +
    # a planning/py4j gap per round; the cached e/deg frames are what
    # keeps the re-reads cheap, exactly like the oracle's unrolled CTEs
    for _ in range(3):
        r = (
            e.join(r, e["a"] == r["id"])
            .join(deg, "a")
            .select(F.col("b"), F.expr("r DIV d").alias("c"))
            .groupBy("b")
            .agg((F.lit(base) + F.expr("(85 * sum(c)) DIV 100")).alias("r"))
            .select(F.col("b").alias("id"), "r")
        )
    return r.select(
        F.col("id").alias("doc_id"),
        F.col("r").cast("long").alias("pr_units"),
        (F.col("r").cast("double") / 1e12).alias("pagerank"),
    )


def lsh_band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, sig, bi, bh) 4-band rows from a minhash signature frame —
    the standing-LSH-index row format shared by the incremental batch
    check (x61) and the streaming index maintenance cert (s26). The full
    signature rides each band row as one BIGINT array so candidate
    verification happens in place on the joined rows (no join-back to
    the signature table); ``bh`` is the band's concatenated minhashes —
    the LSH bucket key, injective, so no hash call and no false bucket
    collisions."""
    return (
        sig.select(
            "doc_id",
            F.array(*[F.col(f"mh{i}") for i in range(_NUM_HASHES)]).alias("sig"),
        )
        .select(
            "doc_id",
            "sig",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("bi"),
                            F.concat_ws(
                                "|",
                                *[
                                    F.element_at(
                                        "sig", b * _ROWS_PER_BAND + r + 1
                                    ).cast("string")
                                    for r in range(_ROWS_PER_BAND)
                                ],
                            ).alias("bh"),
                        )
                        for b in range(_BANDS)
                    ]
                )
            ).alias("band"),
        )
        .select("doc_id", "sig", "band.bi", "band.bh")
    )


def _sig_agreement(a: str, b: str, same=lambda x, y: x == y) -> Column:
    """How many positions of the signature arrays ``a`` and ``b`` agree
    under ``same`` (default: equal minhashes) — an integer fold, so an
    estimate of agreement / num_hashes is one exact division."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: F.when(same(x, y), 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def lsh_index_match(index: DataFrame, batch_bands: DataFrame) -> DataFrame:
    """Score a SMALL batch of band rows against a standing LSH index:
    broadcast the batch into the index's band table, verify candidates
    in place from the carried signature arrays, keep est ≥ 0.5, and
    return the best corpus match per new doc (est desc, corpus_id asc —
    x61's tie-break). Asymmetric by construction: the index side is the
    scan, the batch side is the broadcast — no corpus-wide pair shuffle
    exists at any corpus size."""
    matches = _sig_agreement("n.sig", "c.sig")
    scored = (
        index.alias("c")
        .join(
            F.broadcast(batch_bands.alias("n")),
            (F.col("n.bi") == F.col("c.bi")) & (F.col("n.bh") == F.col("c.bh")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("corpus_id"),
            (matches / F.lit(float(_NUM_HASHES))).cast("double").alias("est"),
        )
        .where(F.col("est") >= 0.5)
        .distinct()
    )
    w = W.partitionBy("new_id").orderBy(F.col("est").desc(), F.col("corpus_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


_INCR_ORACLE = f"""
    WITH sh AS ({{shingle_sql}}),
    sig AS (
      SELECT doc_id,
           {_minhash_cols}
      FROM ({_minhash_hashed_sql}) GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id,
           {_band_cols}
      FROM sig
    ),
    stacked AS (
{_band_union}
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
      FROM stacked n JOIN stacked c ON n.bi = c.bi AND n.bh = c.bh
      WHERE n.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
    ),
    scored AS (
      SELECT cand.new_id, cand.corpus_id,
             CAST(({_match_sum}) AS DOUBLE) / {_NUM_HASHES}.0 AS est
      FROM cand
      JOIN sig sa ON sa.doc_id = cand.new_id
      JOIN sig sb ON sb.doc_id = cand.corpus_id
      WHERE CAST(({_match_sum}) AS DOUBLE) / {_NUM_HASHES}.0 >= 0.5
    ),
    best AS (
      SELECT new_id, corpus_id, est FROM (
        SELECT new_id, corpus_id, est,
               ROW_NUMBER() OVER (PARTITION BY new_id
                                  ORDER BY est DESC, corpus_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT d.doc_id, COALESCE(b.corpus_id, -1) AS dup_of,
           COALESCE(b.est, 0.0) AS est_jaccard,
           b.corpus_id IS NULL AS admitted
    FROM documents d LEFT JOIN best b ON b.new_id = d.doc_id
    WHERE d.doc_id % 10 = 7
""".format(shingle_sql=_WORD_SHINGLE_SQL)


@register("x61_incremental_minhash_dedup", _INCR_ORACLE)
def x61_incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Incremental (batch-vs-index) MinHash dedup — the production
    shape of near-dup filtering: a NEW arrivals batch (doc_id % 10 == 7
    stands in for "today's crawl") is checked against the STANDING corpus
    index, not against itself. Every new doc gets a verdict row:
    (doc_id, dup_of = best-matching corpus doc, est_jaccard, admitted).

    Asymmetric LSH band join: the batch's band rows are BROADCAST into the
    corpus band table (arrival batches are small by contract — at 100 TB
    the corpus signature/band index is a persisted table that is READ, not
    recomputed, and only the batch is signed fresh), so no corpus-wide
    pair shuffle exists; candidate volume is Σ per-bucket |batch|·|corpus|.
    Signatures for both sides come from ONE corpus scan here because the
    fixture is a single table — the split mimics the index/batch roles.
    Best-match selection (est desc, corpus id asc) and the ≥ 0.5 admission
    threshold are replayed exactly by the oracle."""
    d = t(spark, sf_dir, "documents")
    sig = minhash_signatures(d)
    # cached: batch and corpus branches both read the materialized
    # bands instead of replaying the 16-hash signature aggregation
    # twice (same reuse minhash_candidates applies to its self-join);
    # in production the corpus side is a persisted index table
    stacked = lsh_band_rows(sig).cache()
    batch = stacked.where(F.col("doc_id") % 10 == 7)
    corpus = stacked.where(F.col("doc_id") % 10 != 7)
    best = lsh_index_match(corpus, batch)
    return (
        d.where(F.col("doc_id") % 10 == 7)
        .select("doc_id")
        .join(F.broadcast(best), F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("corpus_id"), F.lit(-1)).cast("long").alias("dup_of"),
            F.coalesce(F.col("est"), F.lit(0.0)).alias("est_jaccard"),
            F.col("corpus_id").isNull().alias("admitted"),
        )
    )


# ---------------------------------------------------------------------------
# substring-level dedup (Lee et al. 2021, arXiv:2107.06499 — "Deduplicating
# Training Data Makes Language Models Better"): find document pairs sharing
# a long verbatim token span, the defect exact/MinHash whole-doc dedup
# misses (boilerplate headers, quoted passages, licence blocks).
# ---------------------------------------------------------------------------

SUBSTR_K = 8  # anchor width (tokens): spans shorter than this are invisible
SUBSTR_MIN_SPAN = 20  # report pairs sharing a span of at least this many tokens
SUBSTR_DF_CAP = 1000  # drop anchors appearing in more docs (boilerplate guard)


def substring_dup_pairs(docs: DataFrame) -> DataFrame:
    """Doc pairs sharing a verbatim token span of ≥ ``SUBSTR_MIN_SPAN``
    tokens, with the exact longest-span length.

    The paper builds a corpus suffix array; the distributed re-expression
    is anchor-and-diagonal: every positional k-token window is an anchor,
    anchors join on their text, and a shared span of length L ≥ k shows up
    as exactly L−k+1 anchor matches (k = ``SUBSTR_K``) at consecutive positions on one
    DIAGONAL (pos_a − pos_b). A gaps-and-islands window over each
    (pair, diagonal) recovers every maximal run, so the reported
    ``max_shared_span`` = longest run + k − 1 is EXACT for spans ≥ k —
    no bounded extension step needed, the run-length IS the extension.

    Scale shape: the explode is corpus-token-linear (widened first);
    the anchor join is the Σ_anchor df² candidate pattern with a
    ``SUBSTR_DF_CAP`` boilerplate guard (anchors in more docs are
    dropped — an anchor shared by half the corpus is boilerplate, and
    O(df²) on it would dominate; the cap is honest lossiness, documented
    like the Jaccard prefix df-cap). Runs/spans are two window passes
    keyed on the pair — shuffle is candidate-sized, never corpus².
    All Catalyst expressions; no Python UDFs.
    """
    from smfg_datawarehouse_spark.functions import word_tokens

    toks = (
        ensure_min_parallelism(docs)
        .select("doc_id", word_tokens(F.col("text")).alias("tk"))
        .where(F.size("tk") >= SUBSTR_K)
    )
    # positional anchors: (doc_id, pos, k-token window joined on \x1f —
    # a separator that cannot appear inside a whitespace-split token)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - (SUBSTR_K - 1)),
                lambda p: F.struct(
                    p.alias("pos"),
                    F.array_join(F.slice(F.col("tk"), p, SUBSTR_K), "\x1f").alias("s"),
                ),
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.pos").alias("pos"), F.col("e.s").alias("s"))
    allowed = (
        sh.groupBy("s")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") <= SUBSTR_DF_CAP)
        .select("s")
    )
    sh = sh.join(allowed, "s")
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "s"
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "s"
    )
    m = a.join(b, "s").where(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag")
    )
    run_w = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = m.withColumn(
        "grp", F.col("pa") - F.row_number().over(run_w)
    )
    spans = runs.groupBy("doc_a", "doc_b", "diag", "grp").agg(
        (F.count(F.lit(1)) + F.lit(SUBSTR_K - 1)).cast("long").alias("span")
    )
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(
            F.max("span").alias("max_shared_span"),
            F.count(F.lit(1)).cast("long").alias("n_shared_runs"),
        )
        .where(F.col("max_shared_span") >= SUBSTR_MIN_SPAN)
    )


_SUBSTR_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         w -> w <> '') AS tk
      FROM documents
    ),
    sh0 AS (
      SELECT doc_id, pos,
             list_aggregate(list_slice(tk, pos, pos + {SUBSTR_K - 1}),
                            'string_agg', chr(31)) AS s
      FROM (SELECT doc_id, tk,
                   unnest(range(1, len(tk) - {SUBSTR_K - 2})) AS pos
            FROM toks WHERE len(tk) >= {SUBSTR_K})
    ),
    allowed AS (
      SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS df FROM sh0 GROUP BY s)
      WHERE df <= {SUBSTR_DF_CAP}
    ),
    sh AS (SELECT sh0.* FROM sh0 JOIN allowed USING (s)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
             a.pos - b.pos AS diag
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT doc_a, doc_b, diag, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                     ORDER BY pa) AS grp
      FROM m
    ),
    spans AS (
      SELECT doc_a, doc_b, diag, grp,
             CAST(COUNT(*) + {SUBSTR_K - 1} AS BIGINT) AS span
      FROM runs GROUP BY doc_a, doc_b, diag, grp
    )
    SELECT doc_a, doc_b, MAX(span) AS max_shared_span,
           CAST(COUNT(*) AS BIGINT) AS n_shared_runs
    FROM spans GROUP BY doc_a, doc_b
    HAVING MAX(span) >= {SUBSTR_MIN_SPAN}
"""


@register("x86_substring_dedup", _SUBSTR_ORACLE)
def x86_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] SUBSTRING-LEVEL dedup (Lee et al. 2107.06499): doc pairs
    sharing a verbatim run of ≥ 20 tokens, found via positional
    8-token anchors joined on text and gaps-and-islands runs per
    (pair, diagonal) — exact longest-shared-span per pair, the
    within-document granularity whole-doc dedup (x01/x03) cannot see."""
    d = t(spark, sf_dir, "documents")
    return substring_dup_pairs(d)


INTRA_REP_CAP = 256  # within-doc occurrence cap per anchor (degenerate-doc guard)


def intra_doc_repetition(docs: DataFrame) -> DataFrame:
    """Per-document verbatim self-repetition profile — the trim signal of
    Lee et al. 2107.06499 §4 turned inward (a document repeating its own
    spans is boilerplate/generation-loop pathology; repetition-heavy docs
    inflate memorization and waste tokens; x32 counts repeated LINES,
    this measures repeated token SPANS exactly).

    Same anchor-and-diagonal machinery as :func:`substring_dup_pairs`,
    self-applied: every positional k-token window (k = ``SUBSTR_K``) is an anchor; a pair of
    positions (i < j) holding the same anchor text lies on diagonal
    j − i, and a span repeated at offset d shows up as consecutive i on
    that diagonal — max run + k − 1 is the EXACT longest repeated token
    span (≥ k; spans < k are invisible, documented). ``INTRA_REP_CAP`` drops
    anchors occurring more often within one doc (a
    degenerate 'aaaa…' doc would otherwise cost O(occ²) pairs on itself;
    honest lossiness, same policy as the cross-doc ``df_cap``).

    Outputs per doc: n_windows, n_repeated_windows (windows whose anchor
    recurs in-doc), repeated_frac, max_repeat_span (0 when none ≥ k).
    Scale shape: explode is token-linear; the self-join is keyed on
    (doc, anchor) so candidates are Σ_doc Σ_anchor occ² — bounded by the
    cap; windows/rollups are doc-keyed. No Python UDFs."""
    from smfg_datawarehouse_spark.functions import word_tokens

    toks = (
        ensure_min_parallelism(docs)
        .select("doc_id", word_tokens(F.col("text")).alias("tk"))
        .where(F.size("tk") >= SUBSTR_K)
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - (SUBSTR_K - 1)),
                lambda p: F.struct(
                    p.alias("pos"),
                    F.array_join(F.slice(F.col("tk"), p, SUBSTR_K), "\x1f").alias("s"),
                ),
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.pos").alias("pos"), F.col("e.s").alias("s"))
    occ_w = W.partitionBy("doc_id", "s")
    sh = sh.withColumn("occ", F.count(F.lit(1)).over(occ_w)).where(
        F.col("occ") <= INTRA_REP_CAP
    )
    base = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum(F.when(F.col("occ") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_repeated_windows"),
    )
    rep = sh.where(F.col("occ") > 1).select("doc_id", "pos", "s")
    a = rep.select("doc_id", F.col("pos").alias("pa"), "s")
    b = rep.select("doc_id", F.col("pos").alias("pb"), "s")
    m = (
        a.join(b, ["doc_id", "s"])
        .where(F.col("pa") < F.col("pb"))
        .select("doc_id", "pa", (F.col("pb") - F.col("pa")).alias("diag"))
    )
    run_w = W.partitionBy("doc_id", "diag").orderBy("pa")
    spans = (
        m.withColumn("grp", F.col("pa") - F.row_number().over(run_w))
        .groupBy("doc_id", "diag", "grp")
        .agg((F.count(F.lit(1)) + F.lit(SUBSTR_K - 1)).cast("long").alias("span"))
        .groupBy("doc_id")
        .agg(F.max("span").alias("max_repeat_span"))
    )
    return base.join(spans, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        "n_repeated_windows",
        (
            F.col("n_repeated_windows").cast("double") / F.col("n_windows")
        ).alias("repeated_frac"),
        F.coalesce(F.col("max_repeat_span"), F.lit(0).cast("long")).alias(
            "max_repeat_span"
        ),
    )


_INTRA_REP_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         w -> w <> '') AS tk
      FROM documents
    ),
    sh0 AS (
      SELECT doc_id, pos,
             list_aggregate(list_slice(tk, pos, pos + {SUBSTR_K - 1}),
                            'string_agg', chr(31)) AS s
      FROM (SELECT doc_id, tk,
                   unnest(range(1, len(tk) - {SUBSTR_K - 2})) AS pos
            FROM toks WHERE len(tk) >= {SUBSTR_K})
    ),
    sh AS (
      SELECT doc_id, pos, s,
             COUNT(*) OVER (PARTITION BY doc_id, s) AS occ
      FROM sh0 QUALIFY occ <= {INTRA_REP_CAP}
    ),
    base AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeated_windows
      FROM sh GROUP BY doc_id
    ),
    m AS (
      SELECT a.doc_id, a.pos AS pa, b.pos - a.pos AS diag
      FROM sh a JOIN sh b
        ON a.doc_id = b.doc_id AND a.s = b.s AND a.pos < b.pos
      WHERE a.occ > 1
    ),
    runs AS (
      SELECT doc_id, diag, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_id, diag
                                     ORDER BY pa) AS grp
      FROM m
    ),
    spans AS (
      SELECT doc_id, CAST(MAX(cnt + {SUBSTR_K - 1}) AS BIGINT)
               AS max_repeat_span
      FROM (SELECT doc_id, diag, grp, COUNT(*) AS cnt
            FROM runs GROUP BY doc_id, diag, grp)
      GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_windows, b.n_repeated_windows,
           CAST(b.n_repeated_windows AS DOUBLE) / b.n_windows
             AS repeated_frac,
           CAST(COALESCE(s.max_repeat_span, 0) AS BIGINT) AS max_repeat_span
    FROM base b LEFT JOIN spans s ON s.doc_id = b.doc_id
"""


@register("x90_intra_doc_repetition", _INTRA_REP_ORACLE)
def x90_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] INTRA-DOCUMENT repetition spans: per doc, the exact longest
    token span occurring at two positions (anchor + diagonal runs,
    x86's kernel self-applied), plus repeated-window mass — the
    self-repeat trim/filter signal whole-corpus dedup never sees."""
    d = t(spark, sf_dir, "documents")
    return intra_doc_repetition(d)


#: x105 calibration-corpus gate: deterministic md5-uniform 50% document
#: sample (salt "x105:"). The S-curve being measured is a property of the
#: banding scheme (bands × rows), not of corpus size, so calibrating on a
#: fixed-rate sample is the production shape — you never burn the full
#: 100 TB pass to pick LSH parameters. Both engines replay the identical
#: gate, so the oracle moves with the sample.
_X105_GATE_MILLI = 500000
_X105_GATE_SQL = (
    "('0x' || substring(md5('x105:' || CAST(doc_id AS VARCHAR)), 1, 8))"
    f"::BIGINT % 1000000 < {_X105_GATE_MILLI}"
)
# ADVICE r7 (low): the gate is spliced into the shared shingle template
# by string replacement; the anchor must occur EXACTLY once so a future
# edit to _WORD_SHINGLE_SQL (second documents scan, renamed inner scan)
# fails loudly instead of silently gating the wrong scan. An explicit
# raise, not `assert` — asserts are stripped under `python -O` and this
# guard must survive optimized mode (ADVICE r8).
if _WORD_SHINGLE_SQL.count("FROM documents") != 1:
    raise RuntimeError(
        "_WORD_SHINGLE_SQL must contain exactly one 'FROM documents' "
        "anchor for the x105 sample-gate splice"
    )
_X105_SHINGLE_SQL = _WORD_SHINGLE_SQL.replace(
    "FROM documents", f"FROM documents\n        WHERE {_X105_GATE_SQL}"
)

_X105_ORACLE = f"""
    WITH sh AS ({_X105_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    exact AS (
      SELECT i.doc_a, i.doc_b,
             CAST(i.inter AS DOUBLE) / (sa.set_size + sb.set_size - i.inter)
               AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.inter AS DOUBLE) / (sa.set_size + sb.set_size - i.inter)
              >= 0.3
    ),
    sig AS (
      SELECT doc_id,
           {_minhash_cols}
      FROM ({_minhash_hashed_sql}) GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id,
           {_band_cols}
      FROM sig
    ),
    stacked AS (
{_band_union}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM stacked a JOIN stacked b
        ON a.bi = b.bi AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT LEAST(CAST(FLOOR(e.jaccard * 10) AS BIGINT), 9) AS jdecile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(c.doc_a) AS BIGINT) AS n_caught,
           CAST(COUNT(c.doc_a) AS DOUBLE) / COUNT(*) AS recall
    FROM exact e
    LEFT JOIN cand c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
    GROUP BY 1
"""


@register("x105_lsh_banding_calibration", _X105_ORACLE)
def x105_lsh_banding_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] LSH banding S-CURVE measured empirically — the tuning loop
    behind every MinHash dedup deployment: ground-truth pairs (exact
    word-3-gram Jaccard ≥ 0.3 via the lossless prefix-filtered kernel,
    whose skew guard raises rather than drop) are bucketed by true-Jaccard decile and each
    decile reports what fraction the 4-band × 4-row LSH candidate
    generation catches. Theory says recall ≈ 1-(1-j^4)^4 per decile;
    this measures it on the actual corpus, which is how you pick
    bands×rows before burning a 100 TB pass (catch-rate too low at your
    dedup threshold → more bands; too many low-j candidates → more rows
    per band). Composes two already-certified kernels and only counts —
    recalls are exact-integer ratios; candidates keep est_threshold=0
    so the audit sees the RAW banding, not the post-filter.

    Scale: ground truth on a deterministic md5-gated 50% document
    sample — the S-curve is a property of the banding scheme, not corpus
    size, so calibration never needs (or wants) the full corpus; the
    exact-Jaccard kernel's candidate join cost drops ~4× with the pair
    space. Both kernels read ONE shared shingle table (localCheckpointed
    — the tokenize/explode pass runs once, not twice), and each stays in
    its certified single-shuffle shape."""
    d = t(spark, sf_dir, "documents")
    gate = (
        md5_int(F.concat(F.lit("x105:"), F.col("doc_id").cast("string")))
        % 1000000
        < _X105_GATE_MILLI
    )
    d_s = d.where(gate)
    sh = shingle_table(d_s, checkpoint=True)  # shared by BOTH kernels below
    exact = jaccard_pairs(d_s, threshold=0.3, shingles=sh).select(
        "doc_a", "doc_b", F.col("jaccard").cast("double").alias("jaccard")
    )
    cand = minhash_candidates(d_s, est_threshold=0.0, shingles=sh).select(
        F.col("doc_a").alias("c_a"), F.col("doc_b").alias("c_b")
    )
    joined = exact.join(
        cand,
        (F.col("doc_a") == F.col("c_a")) & (F.col("doc_b") == F.col("c_b")),
        "left",
    )
    jdecile = F.least(F.floor(F.col("jaccard") * 10).cast("long"), F.lit(9).cast("long"))
    return joined.groupBy(jdecile.alias("jdecile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.count("c_a").cast("long").alias("n_caught"),
        (F.count("c_a") / F.count(F.lit(1))).alias("recall"),
    )


_X111_ORACLE = f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})),
    deg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT doc_a AS id FROM pairs UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY id
    ),
    o AS (
      SELECT CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
                  THEN p.doc_a ELSE p.doc_b END AS src,
             CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
                  THEN p.doc_b ELSE p.doc_a END AS dst,
             CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
                  THEN db.deg ELSE da.deg END AS dst_deg
      FROM pairs p
      JOIN deg da ON da.id = p.doc_a
      JOIN deg db ON db.id = p.doc_b
    ),
    tri AS (
      SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
      FROM o w1
      JOIN o w2 ON w1.src = w2.src
               AND (w1.dst_deg, w1.dst) < (w2.dst_deg, w2.dst)
      JOIN o e ON e.src = w1.dst AND e.dst = w2.dst
    ),
    pern AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
        SELECT a AS id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY id
    )
    SELECT d.id AS doc_id, d.deg AS degree,
           CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
           CASE WHEN d.deg >= 2
                THEN CAST(2 * COALESCE(p.triangles, 0) AS DOUBLE)
                     / (d.deg * (d.deg - 1))
                ELSE CAST(0 AS DOUBLE) END AS clustering
    FROM deg d LEFT JOIN pern p ON p.id = d.id
"""


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected edge list (one row per edge, ``doc_a < doc_b``, no
    duplicates). Degree-ordered orientation (Cohen / Suri-Vassilvitskii
    MapReduce form): every edge points from its lower-(degree, id)
    endpoint, wedges are generated only at each edge's low-degree end,
    and a triangle is counted exactly once as wedge + closing oriented
    edge — O(m^1.5) total wedge rows instead of sum(deg²), which is what
    keeps a hub with degree 10⁶ from generating any wedge fan-out at
    all. Returns (doc_id, degree, triangles, clustering); counts are
    exact integers, the coefficient one integer-ratio division."""
    # consumed by degree rollup + both orientation joins
    edges = edges.select("doc_a", "doc_b").localCheckpoint()
    deg = (
        edges.select(F.col("doc_a").alias("id"))
        .unionAll(edges.select(F.col("doc_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint()  # node-sized; reused by orientation AND output
    )
    ed = (
        edges.join(deg.select(F.col("id").alias("doc_a"), F.col("deg").alias("da")), "doc_a")
        .join(deg.select(F.col("id").alias("doc_b"), F.col("deg").alias("db")), "doc_b")
    )
    a_first = F.struct(F.col("da"), F.col("doc_a")) < F.struct(F.col("db"), F.col("doc_b"))
    # oriented edge list: consumed 3× (both wedge legs + the closure probe)
    o = ed.select(
        F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
    ).localCheckpoint()
    w1 = o.select(
        F.col("src"), F.col("dst").alias("b"), F.col("dst_deg").alias("b_deg")
    )
    w2 = o.select(
        F.col("src"), F.col("dst").alias("c"), F.col("dst_deg").alias("c_deg")
    )
    wedges = w1.join(w2, "src").where(
        F.struct(F.col("b_deg"), F.col("b")) < F.struct(F.col("c_deg"), F.col("c"))
    )
    closing = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select(
        F.col("src").alias("a"), "b", "c"
    )
    pern = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    out = deg.join(pern, "id", "left").select(
        F.col("id").alias("doc_id"),
        F.col("deg").alias("degree"),
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("deg") >= 2,
            (F.coalesce(F.col("triangles"), F.lit(0)) * 2).cast("double")
            / (F.col("deg") * (F.col("deg") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )
    return out


@register("x111_triangle_count", _X111_ORACLE)
def x111_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] TRIANGLE COUNT + local clustering coefficient over the
    MinHash+LSH dup graph (x03's edges) — the density diagnostic that
    separates a tight duplicate CLIQUE (template spam: clustering → 1,
    safe to keep one survivor) from a CHAIN of pairwise-similar but
    transitively-divergent docs (clustering → 0, where transitive dedup
    destroys real content). The kernel is ``triangle_counts`` (degree-
    ordered orientation, O(m^1.5) wedge bound — see its docstring for
    the skew argument); the LSH candidate edges materialize once so no
    branch replays the banding join. All joins key on node ids; counts
    are exact integers and the coefficient is one integer-ratio
    division, so the DuckDB replay is bit-exact."""
    d = t(spark, sf_dir, "documents")
    edges = minhash_candidates(d, est_threshold=0.5)
    return triangle_counts(edges)


_X115_ORACLE = f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    seeds AS (
      SELECT DISTINCT src AS id, src % 5 AS label FROM sym WHERE src % 7 = 0
    ),
    r1 AS (
      SELECT id, label FROM (
        SELECT s.src AS id, sd.label,
               ROW_NUMBER() OVER (PARTITION BY s.src
                                  ORDER BY COUNT(*) DESC, sd.label) AS rn
        FROM sym s JOIN seeds sd ON sd.id = s.dst
        WHERE s.src NOT IN (SELECT id FROM seeds)
        GROUP BY s.src, sd.label
      ) WHERE rn = 1
    ),
    l1 AS (SELECT id, label FROM seeds UNION ALL SELECT id, label FROM r1),
    r2 AS (
      SELECT id, label FROM (
        SELECT s.src AS id, l.label,
               ROW_NUMBER() OVER (PARTITION BY s.src
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM sym s JOIN l1 l ON l.id = s.dst
        WHERE s.src NOT IN (SELECT id FROM l1)
        GROUP BY s.src, l.label
      ) WHERE rn = 1
    )
    SELECT CAST(id AS BIGINT) AS doc_id, CAST(label AS BIGINT) AS label,
           CAST(rnd AS BIGINT) AS assigned_round
    FROM (
      SELECT id, label, 0 AS rnd FROM seeds
      UNION ALL SELECT id, label, 1 FROM r1
      UNION ALL SELECT id, label, 2 FROM r2
    )
"""


def _majority_round(
    sym: DataFrame, labeled: DataFrame, rnd: int
) -> DataFrame:
    """One label-propagation round: every still-unlabeled node adopts the
    majority label among its labeled neighbors (count desc, label asc
    tie-break). One node-keyed join + one grouped vote — no all-pairs."""
    votes = (
        sym.join(labeled.select(F.col("id").alias("dst"), "label"), "dst")
        .join(labeled.select(F.col("id").alias("src")), "src", "left_anti")
        .groupBy("src", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = W.partitionBy("src").orderBy(F.col("votes").desc(), F.col("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("src").alias("id"),
            "label",
            F.lit(rnd).cast("long").alias("assigned_round"),
        )
    )


@register("x115_label_spread", _X115_ORACLE)
def x115_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] SEMI-SUPERVISED LABEL PROPAGATION over the dup graph — the
    cheap-labels pattern for corpus curation: a small seeded subset
    carries trusted labels (here: graph nodes with doc_id % 7 = 0 carry
    label doc_id % 5, standing in for human quality/topic tags) and two
    propagation rounds spread them to unlabeled near-duplicates by
    neighbor majority vote (ties break to the lowest label — fully
    deterministic, unlike classic async LPA whose result depends on
    visit order). Distinct from connected components: CC gives every
    node in a component ONE id, while label spread lets a component hold
    several label regions and records HOW FAR each label had to travel
    (assigned_round), the confidence signal downstream filters key on.
    Each round is one node-keyed join + one grouped vote + an anti-join
    clamp on already-labeled nodes (seeds never re-vote, matching the
    clamped form of Zhu/Ghahramani 2002) — shuffle volume is O(edges)
    per round, never pair-shaped. Fixed 2 rounds keeps it
    oracle-replayable as two SQL CTE stages."""
    d = t(spark, sf_dir, "documents")
    # one LSH pass: seeds + both vote rounds all fan out from the edge
    # list, so materialize it instead of replaying the banding join 5×
    edges = (
        minhash_candidates(d, est_threshold=0.5)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    seeds = (
        sym.select("src")
        .where(F.col("src") % 7 == 0)
        .distinct()
        .select(
            F.col("src").alias("id"),
            (F.col("src") % 5).alias("label"),
            F.lit(0).cast("long").alias("assigned_round"),
        )
    )
    r1 = _majority_round(sym, seeds, 1)
    # label-sized; round 2 probes it twice (votes + anti-clamp) and the
    # final union reads it again — materialize instead of replaying round 1
    l1 = seeds.unionByName(r1).localCheckpoint()
    r2 = _majority_round(sym, l1, 2)
    return (
        l1.unionByName(r2)
        .select(
            F.col("id").cast("long").alias("doc_id"),
            F.col("label").cast("long").alias("label"),
            "assigned_round",
        )
    )


_X116_ORACLE = r"""
    WITH f AS (
      SELECT doc_id, lang, source,
             LEAST(n_chars // 100, 9) AS band,
             tk[1] AS first_tok, length(tk) AS ntok
      FROM (
        SELECT doc_id, lang, source, n_chars,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           w -> w <> '') AS tk
        FROM documents
      ) WHERE length(tk) >= 1
    ),
    scored AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST((CASE WHEN a.source = b.source THEN 2 ELSE -1 END)
                + (CASE WHEN a.band = b.band THEN 1 ELSE -1 END)
                + (CASE WHEN 10 * ABS(a.ntok - b.ntok) <= (a.ntok + b.ntok)
                        THEN 2 ELSE -2 END) AS BIGINT) AS score
      FROM f a JOIN f b
        ON a.lang = b.lang AND a.first_tok = b.first_tok
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, score,
           CASE WHEN score >= 3 THEN 'link'
                WHEN score >= 0 THEN 'possible'
                ELSE 'nonlink' END AS match_class
    FROM scored
"""


@register("x116_record_linkage_fs", _X116_ORACLE)
def x116_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/J] BLOCKED RECORD LINKAGE, Fellegi-Sunter form (1969) — the
    entity-resolution pattern for joining records WITHOUT a shared key:
    candidate pairs come only from a BLOCKING key (lang × first token —
    the standard trick that turns O(N²) comparison into Σ|block|², the
    same candidate-bounding shape as LSH banding), then each pair is
    scored by integer agreement/disagreement weights over independent
    field comparisons (source match +2/−1, 100-char length band +1/−1,
    token counts within 10% +2/−2 — the 10%% gate is the integer
    cross-product 10·|na−nb| ≤ na+nb, no division) and classified by
    the two-threshold decision rule (link ≥ 3, possible ≥ 0, else
    nonlink). Weights are exact integers end-to-end so classification
    replays bit-identically. One scan builds the per-record feature
    frame; one block-keyed self-join scores — at 100 TB the block key
    IS the partitioner, and a hot block is the documented skew knob
    (widen the key, e.g. add the length band, exactly as production
    linkage systems do)."""
    from smfg_datawarehouse_spark.functions import word_tokens

    d = t(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    f = d.select(
        "doc_id",
        "lang",
        "source",
        F.least(F.expr("n_chars DIV 100"), F.lit(9)).alias("band"),
        toks.getItem(0).alias("first_tok"),
        F.size(toks).alias("ntok"),
    ).where(F.col("ntok") >= 1)
    a = f.select(
        F.col("doc_id").alias("doc_a"), "lang", "first_tok",
        F.col("source").alias("src_a"), F.col("band").alias("band_a"),
        F.col("ntok").alias("ntok_a"),
    )
    b = f.select(
        F.col("doc_id").alias("doc_b"), "lang", "first_tok",
        F.col("source").alias("src_b"), F.col("band").alias("band_b"),
        F.col("ntok").alias("ntok_b"),
    )
    pairs = a.join(b, ["lang", "first_tok"]).where(F.col("doc_a") < F.col("doc_b"))
    score = (
        F.when(F.col("src_a") == F.col("src_b"), 2).otherwise(-1)
        + F.when(F.col("band_a") == F.col("band_b"), 1).otherwise(-1)
        + F.when(
            10 * F.abs(F.col("ntok_a") - F.col("ntok_b"))
            <= F.col("ntok_a") + F.col("ntok_b"),
            2,
        ).otherwise(-2)
    ).cast("long")
    return pairs.select(
        "doc_a",
        "doc_b",
        score.alias("score"),
    ).withColumn(
        "match_class",
        F.when(F.col("score") >= 3, "link")
        .when(F.col("score") >= 0, "possible")
        .otherwise("nonlink"),
    )


# ---------------------------------------------------------------------------
# x134: text-normalization dedup lift — exact dedup (x01) is only as good
# as its key; curation pipelines canonicalize text before hashing. This
# reports how many extra duplicates each successive normalization stage
# exposes — the measurement that decides which canonicalizer a 100 TB
# dedup pass runs.
# ---------------------------------------------------------------------------

_X134_STAGES_SQL = [
    ("0_raw", "text"),
    ("1_casefold", "lower(text)"),
    (
        "2_ws_collapse",
        "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))",
    ),
    (
        "3_alnum_only",
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
        " '\\s+', ' ', 'g'))",
    ),
]

_X134_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{name}' AS stage,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS n_dup_docs,
           CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_clusters,
           CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt) AS dup_frac
    FROM (SELECT {expr} AS k, COUNT(*) AS cnt FROM documents GROUP BY 1)
    """
    for name, expr in _X134_STAGES_SQL
)


@register("x134_normalization_dedup_lift", _X134_ORACLE)
def x134_normalization_dedup_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] NORMALIZATION LADDER for exact dedup — one row per
    canonicalization stage (raw bytes -> casefold -> whitespace collapse
    -> alphanumeric-only), each reporting the duplicate mass that stage's
    key exposes (dup docs, dup clusters, dup fraction). Exact dedup
    pipelines (x01) live or die by this choice: raw-byte hashing misses
    the near-identical boilerplate that differs only in case or spacing,
    while over-aggressive normalization merges genuinely distinct docs —
    this ladder is the decision artifact (CCNet/RefinedWeb both
    normalize before hashing and report exactly this lift).

    Scale shape: four corpus scans (one per stage; in production the
    stages share one scan emitting four keys), each followed by a
    map-side-combined groupBy on the normalized key and a tiny rollup.
    Nothing pair-shaped; the normalized key never exceeds the text it
    came from, and the per-stage report is 1 row. All counts exact
    BIGINTs; the one double is a single int/int division."""
    d = t(spark, sf_dir, "documents")
    stages = [
        ("0_raw", F.col("text")),
        ("1_casefold", F.lower(F.col("text"))),
        ("2_ws_collapse", collapse_ws(F.col("text"))),
        (
            "3_alnum_only",
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                    WS_RUN,
                    " ",
                )
            ),
        ),
    ]
    outs = []
    for name, key in stages:
        grouped = (
            d.select(key.alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        outs.append(
            grouped.agg(
                F.sum("cnt").cast("long").alias("n_docs"),
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
                (F.sum("cnt") - F.count(F.lit(1))).cast("long").alias("n_dup_docs"),
                F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_dup_clusters"),
                (
                    (F.sum("cnt") - F.count(F.lit(1))).cast("double")
                    / F.sum("cnt")
                ).alias("dup_frac"),
            ).select(F.lit(name).alias("stage"), "*")
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# ---------------------------------------------------------------------------
# x137: source-pair shingle overlap matrix — the corpus-level redundancy
# map (which SOURCES duplicate each other) that decides source-level
# dedup order before any document-level pass runs.
# ---------------------------------------------------------------------------

_X137_ORACLE = r"""
    WITH tk AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ),
    sg AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(
               range(1, GREATEST(length(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram
      FROM tk WHERE length(t) >= 3
    ),
    totals AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
               FROM sg GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT ta.source AS src_a, tb.source AS src_b,
             ta.n_grams AS n_a, tb.n_grams AS n_b
      FROM totals ta JOIN totals tb ON ta.source < tb.source
    )
    SELECT p.src_a, p.src_b, p.n_a, p.n_b,
           CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
           CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
             / (p.n_a + p.n_b - COALESCE(i.n_inter, 0)) AS jaccard
    FROM pairs p
    LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
"""


@register("x137_source_overlap_matrix", _X137_ORACLE)
def x137_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] SOURCE-PAIR OVERLAP MATRIX — exact word-3-gram Jaccard between
    every pair of SOURCES (not documents): the corpus-level redundancy
    map a curation run reads before choosing dedup priority ("CC dump N
    is 40% of dump N-1 — dedup against it first") and mixture weights
    (double-counted sources inflate their effective epochs). x36 gives a
    distributional divergence per source; this gives literal content
    overlap, the thing that actually double-charges the loss.

    Scale shape: the pair space is |sources|² (tens-by-tens — nothing to
    do with corpus size), and the corpus crosses the wire ONCE: the
    exploded (source, gram) rows shuffle by gram into a map-combined
    ``collect_set(source)`` (the set dedups, so no separate distinct
    pass), after which EVERYTHING is vocabulary-scale — per-source
    totals re-aggregate the gram→sources table, and pair intersections
    explode each gram's sorted source set into its C(k,2) ordered pairs
    with k <= |sources| structurally bounded (the skew cap document-pair
    joins don't have). The gram→sources table is localCheckpointed so
    its two consumers don't re-run the corpus explode; Jaccard is one
    exact int/int division. (The first formulation self-joined the
    distinct (source, gram) projection on gram — three corpus-scale
    recomputes and a sort-merge join: 7.2 s → ~2 s at sf0.1.)"""
    from smfg_datawarehouse_spark.functions import word_shingles

    d = ensure_min_parallelism(t(spark, sf_dir, "documents"))
    by_gram = (
        d.select(
            "source", F.explode(word_shingles(F.col("text"), 3)).alias("gram")
        )
        .groupBy("gram")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .localCheckpoint(eager=False)
    )
    totals = (
        by_gram.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    )
    inter = (
        by_gram.where(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (s, i) -> "
                    "transform(slice(srcs, i + 2, size(srcs)), "
                    "u -> struct(s AS src_a, u AS src_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    pairs = (
        totals.alias("ta")
        .join(
            F.broadcast(totals.alias("tb")),
            F.col("ta.source") < F.col("tb.source"),
        )
        .select(
            F.col("ta.source").alias("src_a"),
            F.col("tb.source").alias("src_b"),
            F.col("ta.n_grams").alias("n_a"),
            F.col("tb.n_grams").alias("n_b"),
        )
    )
    return (
        pairs.join(F.broadcast(inter), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            F.coalesce(F.col("n_inter"), F.lit(0)).cast("long").alias("n_inter"),
            (
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (
                    F.col("n_a")
                    + F.col("n_b")
                    - F.coalesce(F.col("n_inter"), F.lit(0))
                )
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# x138: split-document stitch candidates — crawl/ETL pipelines routinely
# SHARD one logical document across rows (page breaks, message chunking,
# extraction limits); the reassembly signal is a suffix->prefix token
# overlap between row pairs. The inverse problem of dedup: find rows that
# should be ONE doc, before near-dup stages mistake the halves for
# unrelated shorts.
# ---------------------------------------------------------------------------

_X138_K = 3

_X138_ORACLE = rf"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ),
    keys AS (
      SELECT doc_id,
             CAST(length(t) AS BIGINT) AS n_tok,
             array_to_string(t[1:{_X138_K}], ' ') AS pre,
             array_to_string(t[-{_X138_K}:], ' ') AS suf
      FROM tk WHERE length(t) >= {_X138_K}
    )
    SELECT a.doc_id AS left_doc, b.doc_id AS right_doc,
           a.suf AS boundary_gram,
           a.n_tok AS left_n_tok, b.n_tok AS right_n_tok
    FROM keys a JOIN keys b ON a.suf = b.pre AND a.doc_id <> b.doc_id
"""


@register("x138_split_doc_stitch_candidates", _X138_ORACLE)
def x138_split_doc_stitch_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] SPLIT-DOCUMENT STITCHING — candidate (left, right) row pairs
    where the left row's trailing word {k}-gram equals the right row's
    leading {k}-gram: the reassembly signal for documents a crawler or
    chunking ETL sharded across rows. Dedup's inverse problem, and it
    must run BEFORE near-dup stages (two halves of one article look like
    unrelated short docs to MinHash, and short docs are exactly where
    per-doc quality gates misfire). Downstream, a verifier extends the
    boundary match; this stage is the candidate generation.

    Scale shape: two fixed-width keys per document (first/last k
    tokens — computed in the scan, no explode), one equi-join keyed on
    the boundary gram. Candidate volume is sum over grams of
    |suffix-side| × |prefix-side| — df-bounded the same way x02's
    prefix filter bounds shingle joins; a pathological boilerplate gram
    (every doc ends "click here now") is visible as a hot key and
    gated upstream by x92's boilerplate coverage. Nothing corpus²,
    no broadcast needed.""".replace("{k}", str(_X138_K))
    from smfg_datawarehouse_spark.functions import word_tokens

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", word_tokens(F.col("text")).alias("t")
    ).where(F.size("t") >= _X138_K)
    keys = toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tok"),
        F.concat_ws(" ", F.slice(F.col("t"), 1, _X138_K)).alias("pre"),
        F.concat_ws(" ", F.slice(F.col("t"), -_X138_K, _X138_K)).alias("suf"),
    )
    return (
        keys.alias("a")
        .join(
            keys.alias("b"),
            (F.col("a.suf") == F.col("b.pre"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("left_doc"),
            F.col("b.doc_id").alias("right_doc"),
            F.col("a.suf").alias("boundary_gram"),
            F.col("a.n_tok").alias("left_n_tok"),
            F.col("b.n_tok").alias("right_n_tok"),
        )
    )


# x146: quality-based survivor selection — the selection rule a real
# dedup pipeline applies AFTER clustering. x55 removes everything but
# the lowest-id member (arrival-order keep); production corpora keep
# the BEST member (here: most tokens, the standard keep-the-longest
# rule — truncated/mojibake copies lose to the complete original).

_X146_ORACLE = f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id AS src, id AS dst FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    cc AS (
      SELECT src AS doc_id, MIN(dst) AS group_id FROM reach GROUP BY src
    ),
    tk AS (
      SELECT doc_id,
             CAST(length(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                     w -> w <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    members AS (
      SELECT cc.group_id, cc.doc_id, tk.n_tok,
             ROW_NUMBER() OVER (PARTITION BY cc.group_id
                                ORDER BY tk.n_tok DESC, cc.doc_id) AS rn
      FROM cc JOIN tk ON tk.doc_id = cc.doc_id
    )
    SELECT group_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS survivor_doc,
           CAST(MIN(CASE WHEN rn = 1 THEN n_tok END) AS BIGINT)
             AS survivor_tokens,
           CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE n_tok END) AS BIGINT)
             AS tokens_removed
    FROM members
    GROUP BY group_id
"""


@register("x146_quality_survivor_selection", _X146_ORACLE)
def x146_quality_survivor_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[X] QUALITY-BASED DEDUP SURVIVOR SELECTION — per near-dup cluster
    (the certified x03 MinHash-LSH candidates grouped by the certified
    x06 connected components), keep the member with the MOST TOKENS
    (ties to the lowest doc_id) instead of x55's arrival-order
    lowest-id rule, and report per cluster: size, the surviving doc,
    its token count, and the tokens the removal frees. Keep-the-longest
    is the production default (truncated or boilerplate-wrapped copies
    lose to the complete original); swapping the ORDER BY swaps in any
    other quality signal (x21 scores, x70 LM buckets) without touching
    the pipeline shape.

    Scale shape: reuses the bucketed LSH candidate build and the
    capped/distributed component grouping unchanged; the selection
    itself is one window over CLUSTER MEMBERS ONLY (the dup-group table
    is tiny relative to the corpus — x55's observation), keyed by
    group_id. Token counts are exact BIGINTs; ordering ties break on
    doc_id."""
    from smfg_datawarehouse_spark.functions import word_tokens

    d = t(spark, sf_dir, "documents")
    edges = minhash_candidates(d, est_threshold=0.5)
    cc = connected_components(edges)
    per_doc = d.select(
        "doc_id", F.size(word_tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    members = cc.join(per_doc, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("group_id").orderBy(F.col("n_tok").desc(), "doc_id")
        ),
    )
    return members.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
        .cast("long")
        .alias("survivor_doc"),
        F.min(F.when(F.col("rn") == 1, F.col("n_tok")))
        .cast("long")
        .alias("survivor_tokens"),
        F.sum(F.when(F.col("rn") == 1, 0).otherwise(F.col("n_tok")))
        .cast("long")
        .alias("tokens_removed"),
    )


# ---------------------------------------------------------------------------
# x148: Adamic-Adar common-neighbor scoring over the LSH dup graph — the
# classic link-prediction / record-linkage signal (Adamic & Adar 2003):
# two docs that share many RARE neighbors (low-degree bridge docs) are
# far more likely to be the same underlying record than two that share
# one promiscuous hub. Complements x111 (triangles say "how clique-like
# is what LSH found"); AA says "which NON-edges should a linkage review
# queue look at next".
# ---------------------------------------------------------------------------

#: wedge-center degree cap: a hub shared by d docs generates d·(d-1)/2
#: wedge pairs, so centers above the cap are excluded from SCORING (the
#: same skew-guard shape as jaccard_pairs.df_cap — documented recall
#: trade, replayed identically by the oracle). An LSH dup graph's hubs
#: are boilerplate/template docs whose AA contribution (1/log-ish decay
#: here rationalized to 1e6 DIV deg) is negligible by construction.
_X148_DEG_CAP = 64

_X148_ORACLE = f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
      FROM sym GROUP BY src
    ),
    centers AS (
      SELECT s.src AS z, s.dst, d.deg
      FROM sym s JOIN deg d ON d.id = s.src
      WHERE d.deg <= {_X148_DEG_CAP}
    ),
    wedges AS (
      SELECT a.dst AS doc_a, b.dst AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(1000000 // a.deg) AS BIGINT) AS aa_micro
      FROM centers a JOIN centers b
        ON a.z = b.z AND a.dst < b.dst
      GROUP BY a.dst, b.dst
    )
    SELECT w.doc_a, w.doc_b, w.n_common,
           CAST(w.aa_micro AS DOUBLE) / 1000000.0 AS aa_score,
           (p.doc_a IS NOT NULL) AS is_edge
    FROM wedges w
    LEFT JOIN pairs p ON p.doc_a = w.doc_a AND p.doc_b = w.doc_b
"""


@register("x148_adamic_adar_linkage", _X148_ORACLE)
def x148_adamic_adar_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] ADAMIC-ADAR LINKAGE SCORING over the MinHash+LSH dup graph
    (x03's edges): for every pair of docs sharing at least one graph
    neighbor, the common-neighbor count and the rarity-weighted
    Adamic-Adar score (Σ over common neighbors z of 1/deg(z) — here the
    exact-integer rationalization 1e6 DIV deg(z), summed as BIGINT, so
    every engine reproduces it bit-for-bit; real AA's 1/ln(deg) decay
    only reorders near-ties). ``is_edge`` marks pairs LSH already linked
    — the FALSE rows ranked by aa_score are the review queue for links
    banding missed (two docs whose shared neighbors are all rare bridge
    docs).

    Scale shape: degrees are one edge-keyed agg; wedges generate ONLY at
    centers with deg ≤ 64 (the jaccard_pairs df_cap skew-guard shape
    — a template-spam hub above the cap would fan out deg² pairs while
    contributing ~0 rarity weight), so the pair space is Σ min(deg,cap)²
    over centers, never corpus². Everything keys on node ids; the final
    edge flag is one pair-keyed left join.

    Ref: Adamic & Adar 2003 "Friends and neighbors on the Web";
    skew-guard convention per ``jaccard_pairs`` (this file).
    """
    d = t(spark, sf_dir, "documents")
    edges = minhash_candidates(d, est_threshold=0.5).select("doc_a", "doc_b")
    return adamic_adar_scores(edges)


def adamic_adar_scores(
    edges: DataFrame, deg_cap: int = _X148_DEG_CAP
) -> DataFrame:
    """AA scoring kernel over an undirected (doc_a < doc_b) edge list —
    see x148's docstring for semantics; hypothesis-certified against the
    O(n^3) definition in tests/test_properties.py."""
    edges = edges.localCheckpoint(eager=False)  # 2 consumers: sym + flag
    sym = edges.unionAll(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    centers = (
        sym.join(deg, "src")
        .where(F.col("deg") <= deg_cap)
        .select(F.col("src").alias("z"), "dst", "deg")
    )
    a = centers.select("z", F.col("dst").alias("doc_a"), "deg")
    b = centers.select("z", F.col("dst").alias("doc_b"))
    wedges = (
        a.join(b, "z")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.expr("1000000 DIV deg")).cast("long").alias("aa_micro"),
        )
    )
    return (
        wedges.join(
            edges.withColumn("is_edge", F.lit(True)),
            ["doc_a", "doc_b"],
            "left",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (F.col("aa_micro").cast("double") / 1000000.0).alias("aa_score"),
            F.coalesce(F.col("is_edge"), F.lit(False)).alias("is_edge"),
        )
    )


# ---------------------------------------------------------------------------
# x152: survivorship RECORD FUSION — the MDM step after clustering that
# x146 (pick one member) deliberately isn't: the canonical record is
# ASSEMBLED per field from different cluster members under per-field
# precedence rules (modal value for categorical fields, max for
# completeness-monotone ones, min id for lineage) — the "golden record"
# a warehouse serves after entity resolution.
# ---------------------------------------------------------------------------

_X152_ORACLE = f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id AS src, id AS dst FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    cc AS (
      SELECT src AS doc_id, MIN(dst) AS group_id FROM reach GROUP BY src
    ),
    members AS (
      SELECT cc.group_id, d.doc_id, d.lang, d.source, d.n_chars
      FROM cc JOIN documents d ON d.doc_id = cc.doc_id
    ),
    lang_mode AS (
      SELECT group_id, lang FROM (
        SELECT group_id, lang,
               ROW_NUMBER() OVER (PARTITION BY group_id
                                  ORDER BY COUNT(*) DESC, lang) AS rn
        FROM members GROUP BY group_id, lang
      ) WHERE rn = 1
    ),
    source_mode AS (
      SELECT group_id, source FROM (
        SELECT group_id, source,
               ROW_NUMBER() OVER (PARTITION BY group_id
                                  ORDER BY COUNT(*) DESC, source) AS rn
        FROM members GROUP BY group_id, source
      ) WHERE rn = 1
    )
    SELECT m.group_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(DISTINCT m.source) AS BIGINT) AS n_sources,
           CAST(MIN(m.doc_id) AS BIGINT) AS lineage_doc,
           CAST(MAX(m.n_chars) AS BIGINT) AS fused_chars,
           MIN(lm.lang) AS fused_lang,
           MIN(sm.source) AS fused_source
    FROM members m
    JOIN lang_mode lm ON lm.group_id = m.group_id
    JOIN source_mode sm ON sm.group_id = m.group_id
    GROUP BY m.group_id
"""


@register("x152_record_fusion_survivorship", _X152_ORACLE)
def x152_record_fusion_survivorship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[X] GOLDEN-RECORD FUSION per dup cluster: connected components
    over the LSH pair graph (x06's kernel), then the canonical record
    is ASSEMBLED field-by-field under per-field survivorship precedence
    — modal lang / modal source (ties to the lexicographically first,
    the deterministic MDM tiebreak), max n_chars (completeness-monotone
    field takes the most complete member), min doc_id as the lineage
    anchor. This is the entity-resolution output a warehouse actually
    serves; x146 certifies pick-one-member selection, this certifies
    cross-member assembly.

    Scale shape: CC via the certified two-tier kernel; everything after
    is group-keyed aggs over CLUSTER MEMBERS ONLY (dup-group tables are
    tiny relative to the corpus — x55's observation); the modal fields
    are one (group, value)-keyed count + one group-keyed window each.
    All counts exact BIGINTs; every tiebreak is total."""
    d = t(spark, sf_dir, "documents")
    edges = minhash_candidates(d, est_threshold=0.5)
    cc = connected_components(edges)
    members = cc.join(
        d.select("doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")),
        "doc_id",
    ).localCheckpoint(eager=False)  # consumed by 3 rollups

    def modal(col: str) -> DataFrame:
        wr = W.partitionBy("group_id").orderBy(F.col("cnt").desc(), col)
        return (
            members.groupBy("group_id", col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", F.row_number().over(wr))
            .where(F.col("rn") == 1)
            .select("group_id", F.col(col).alias(f"fused_{col}"))
        )

    fused = members.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.min("doc_id").cast("long").alias("lineage_doc"),
        F.max("n_chars").cast("long").alias("fused_chars"),
    )
    return fused.join(modal("lang"), "group_id").join(
        modal("source"), "group_id"
    )


# ---------------------------------------------------------------------------
# x149: content-defined chunk dedup — fixed-window chunking (x53) breaks
# on any insertion (every downstream chunk shifts); CONTENT-DEFINED
# boundaries (a chunk ends wherever hash(token) lands in the gate class,
# the word-level form of gear/Rabin CDC used by every dedup store) are
# self-synchronizing: an edit perturbs only the chunks it touches, so
# shared passages re-align and dedupe across docs no matter where they
# sit. First-occurrence ownership (MIN doc_id per chunk hash — x129's
# novelty idiom) attributes each duplicated chunk to its earliest holder.
# ---------------------------------------------------------------------------

#: boundary gate: a token closes its chunk when md5(token) % 8 == 0 —
#: average chunk ≈ 8 tokens, the CDC expected-size knob.
_X149_GATE = 8

_X149_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, u.tok, u.pos
      FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           w -> w <> '') AS tk
        FROM documents
      ), LATERAL (
        SELECT unnest(tk) AS tok,
               generate_subscripts(tk, 1) AS pos
      ) u
    ),
    flagged AS (
      SELECT doc_id, tok, pos,
             CASE WHEN ('0x' || substring(md5(tok), 1, 8))::BIGINT
                       % {_X149_GATE} = 0 THEN 1 ELSE 0 END AS is_boundary
      FROM toks
    ),
    chunked AS (
      SELECT doc_id, tok, pos,
             SUM(is_boundary) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS chunk_id
      FROM flagged
    ),
    chunks AS (
      SELECT doc_id, COALESCE(chunk_id, 0) AS chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
      FROM chunked GROUP BY doc_id, COALESCE(chunk_id, 0)
    ),
    owners AS (
      SELECT chunk_hash, MIN(doc_id) AS owner FROM chunks GROUP BY chunk_hash
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN o.owner < c.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS dup_chunks,
           CAST(SUM(CASE WHEN o.owner < c.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS dup_ratio
    FROM chunks c JOIN owners o ON o.chunk_hash = c.chunk_hash
    GROUP BY c.doc_id
"""


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, chunk_hash) under content-defined boundaries:
    a chunk CLOSES at any token whose md5 lands in the ``_X149_GATE``
    class. The
    self-synchronization property (certified by hypothesis in
    tests/test_properties.py): because the boundary decision depends
    only on the token itself, an insertion/deletion perturbs ONLY the
    chunk it lands in — every complete chunk after the next boundary
    re-aligns byte-for-byte, which is what lets edited near-copies
    dedupe at chunk grain."""
    from smfg_datawarehouse_spark.functions import word_tokens

    toks = docs.select(
        "doc_id", F.posexplode(word_tokens(F.col("text"))).alias("pos", "tok")
    )
    flagged = toks.withColumn(
        "is_boundary",
        (
            md5_int("tok")
            % _X149_GATE
            == 0
        ).cast("int"),
    )
    wseq = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    chunked = flagged.withColumn(
        "chunk_id", F.coalesce(F.sum("is_boundary").over(wseq), F.lit(0))
    )
    return chunked.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("chunk_hash")
    )


@register("x149_cdc_chunk_dedup", _X149_ORACLE)
def x149_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] CONTENT-DEFINED CHUNK DEDUP: token-level CDC boundaries
    (a chunk closes where md5(token) % 8 == 0 — the word-granular form
    of gear/Rabin content-defined chunking, self-synchronizing under
    insertions where x53's fixed windows shift), chunk identity by md5
    of the joined span, first-occurrence ownership via MIN(doc_id) per
    chunk hash, and a per-doc duplicated-chunk ratio — the storage-dedup
    measurement a chunk store runs before committing a corpus.

    Determinism: boundaries and chunk hashes are pure md5 arithmetic
    both engines replay; the running boundary count uses the standard
    exclusive-prefix window; counts exact BIGINTs, the ratio one
    division.

    Scale shape: tokenize + flag are scan-local; the chunk assembly
    window and rollup key on doc_id (per-doc token tracks); ownership is
    ONE chunk-hash-keyed agg + join — the same single-keyed-shuffle
    profile as exact dedup (x01), applied at sub-document grain. Nothing
    pairwise."""
    d = ensure_min_parallelism(t(spark, sf_dir, "documents"))
    chunks = cdc_chunks(d)
    owners = chunks.groupBy("chunk_hash").agg(F.min("doc_id").alias("owner"))
    dup = F.sum(
        F.when(F.col("owner") < F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    return (
        chunks.join(owners, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            dup.alias("dup_chunks"),
            (dup.cast("double") / F.count(F.lit(1))).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# x154: idf-weighted Jaccard rescoring of LSH candidates — plain Jaccard
# treats "the quick brown" and a rare technical trigram as equal
# evidence, so boilerplate-heavy corpora (headers, licenses, nav bars)
# saturate unweighted similarity. Weighted resemblance (Broder's
# weighted variant; Chum et al. 2008 use tf-idf weights) scores shared
# RARE shingles higher: w(s) = N DIV df(s) — exact-integer idf — and
# sim = Σ_{A∩B} w / Σ_{A∪B} w. Candidates come from the certified LSH
# banding (x03), so this is the verify/rescore stage of a production
# near-dup pipeline, never a new pair space.
# ---------------------------------------------------------------------------

_X154_ORACLE = f"""
    WITH sh AS ({_WORD_SHINGLE_SQL}),
    cand AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM sh),
    w AS (
      SELECT shingle, CAST(nd // COUNT(*) AS BIGINT) AS wt
      FROM sh CROSS JOIN n GROUP BY shingle, nd
    ),
    pair_sh AS (
      SELECT c.doc_a, c.doc_b, w.shingle, w.wt,
             (a.doc_id IS NOT NULL) AS in_a, (b.doc_id IS NOT NULL) AS in_b
      FROM cand c
      JOIN sh u ON u.doc_id IN (c.doc_a, c.doc_b)
      JOIN w ON w.shingle = u.shingle
      LEFT JOIN sh a ON a.doc_id = c.doc_a AND a.shingle = u.shingle
      LEFT JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = u.shingle
      GROUP BY c.doc_a, c.doc_b, w.shingle, w.wt,
               (a.doc_id IS NOT NULL), (b.doc_id IS NOT NULL)
    )
    SELECT doc_a, doc_b,
           CAST(SUM(CASE WHEN in_a AND in_b THEN wt ELSE 0 END) AS BIGINT)
             AS inter_weight,
           CAST(SUM(wt) AS BIGINT) AS union_weight,
           CAST(SUM(CASE WHEN in_a AND in_b THEN wt ELSE 0 END) AS DOUBLE)
             / SUM(wt) AS weighted_jaccard
    FROM pair_sh GROUP BY doc_a, doc_b
"""


@register("x154_weighted_jaccard_rescore", _X154_ORACLE)
def x154_weighted_jaccard_rescore(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[X] IDF-WEIGHTED JACCARD rescoring of the LSH candidate pairs:
    per shingle the exact-integer idf weight N DIV df (rare shingles
    weigh more; corpus-wide boilerplate weighs ~1), per candidate pair
    the weighted resemblance Σ_{A∩B} w / Σ_{A∪B} w — the score that
    separates "shares a license header" from "shares rare technical
    content" where unweighted Jaccard (x02) cannot. Candidates are
    x03's certified banding output; this is the production rescore
    stage, not a new pair space.

    Determinism: weights and both sums are exact BIGINTs (df and N from
    one agg each), ONE final division; every engine reproduces DIV
    identically.

    Scale shape: df is one shingle-keyed agg over the exploded sets
    (attached back via the same shingle-keyed shuffle — never broadcast,
    the x56/x139 vocabulary rule); per-pair union/intersection weights
    come from ONE explode of the candidate pairs' shingles (pair-keyed
    agg, LSH-bounded pair space). Nothing corpus²."""
    d = t(spark, sf_dir, "documents")
    sh = shingle_table(
        d, checkpoint=True
    )  # consumers: df agg, candidate gen (via shared arg), A-side, B-side
    cand = minhash_candidates(d, est_threshold=0.5, shingles=sh).select(
        "doc_a", "doc_b"
    )
    nd = sh.agg(F.countDistinct("doc_id").cast("long").alias("nd"))
    w = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nd))
        .select("shingle", F.expr("nd DIV df").cast("long").alias("wt"))
    )
    sets = sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("shset")
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("sh_b"))
    pair_shingles = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.explode(F.array_union("sh_a", "sh_b")).alias("shingle"),
            F.col("sh_a").alias("sh_a"),
            F.col("sh_b").alias("sh_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            "shingle",
            F.array_contains("sh_a", F.col("shingle")).alias("in_a"),
            F.array_contains("sh_b", F.col("shingle")).alias("in_b"),
        )
    )
    inter_w = F.sum(
        F.when(F.col("in_a") & F.col("in_b"), F.col("wt")).otherwise(0)
    ).cast("long")
    return (
        pair_shingles.join(w, "shingle")
        .groupBy("doc_a", "doc_b")
        .agg(
            inter_w.alias("inter_weight"),
            F.sum("wt").cast("long").alias("union_weight"),
            (inter_w.cast("double") / F.sum("wt")).alias("weighted_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# x155: LSH banding DESIGN TABLE — the decision artifact behind picking
# bands x rows: the closed-form S-curve recall 1-(1-j^r)^b for EVERY
# (b, r) split of the 16-hash signature, evaluated as EXACT rationals
# (denominator 10^16 — no float pow, both engines read identical
# literals), joined against x105's MEASURED per-decile recall of the
# deployed 4x4 banding on this corpus. Theory tells you what each
# alternative WOULD catch; the measured column anchors it to reality
# (residual ≈ 0 validates the independence assumptions MinHash theory
# makes). Together they answer "more bands or more rows?" before a
# 100 TB dedup pass commits.
# ---------------------------------------------------------------------------

_X155_COMBOS = ((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))


def _x155_theory() -> list[tuple[int, int, int, int]]:
    """(bands, rows, jdecile, miss) with the S-curve MISS probability at
    the decile LOWER EDGE j = d/10 carried as the EXACT integer
    numerator (10^r - d^r)^b over denominator 10^16 (r·b = 16, so every
    term fits BIGINT). Floats never enter the table: recall is computed
    in-engine as 1.0 - double(miss)/1e16 — the same two IEEE ops from
    the same integers in both engines, so the doubles are bit-identical
    (a float literal would round differently through DuckDB's decimal
    literal path than through Python's parse)."""
    out = []
    for b, r in _X155_COMBOS:
        for d in range(10):
            out.append((b, r, d, (10**r - d**r) ** b))
    return out


def _x155_oracle() -> str:
    vals = ",\n      ".join(
        f"({b}, {r}, {d}, {miss})" for b, r, d, miss in _x155_theory()
    )
    return f"""
    WITH measured AS ({_X105_ORACLE}),
    theory (bands, rows_per_band, jdecile, miss) AS (
      VALUES {vals}
    )
    SELECT CAST(t.bands AS BIGINT) AS bands,
           CAST(t.rows_per_band AS BIGINT) AS rows_per_band,
           m.jdecile, m.n_pairs,
           m.recall AS measured_recall_4x4,
           1.0 - CAST(t.miss AS DOUBLE) / 10000000000000000.0
             AS recall_theory,
           (t.bands = 4 AND t.rows_per_band = 4) AS is_deployed
    FROM measured m JOIN theory t ON t.jdecile = m.jdecile
"""


@register("x155_banding_design_table", _x155_oracle())
def x155_banding_design_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] LSH BANDING DESIGN TABLE: for every (bands, rows) split of the
    16-hash MinHash signature, the closed-form S-curve recall at each
    observed true-Jaccard decile (exact-rational evaluation — see
    ``_x155_theory``), side by side with the MEASURED recall of the
    deployed 4x4 banding from x105's calibration run. The deployed
    combo's theory-vs-measured residual validates the hash-independence
    assumption; the other rows are the menu (more bands → catch lower
    j; more rows → fewer junk candidates) a dedup deployment chooses
    from before burning the full-corpus pass.

    Scale shape: the measured side is exactly x105 (md5-gated sample,
    one shared shingle table); the theory side is a 50-row compile-time
    literal table broadcast onto it. No new data pass."""
    theory = F.broadcast(
        local_rows_df(
            spark,
            _x155_theory(),
            "bands long, rows_per_band long, jdecile int, miss long",
        ).select(
            "bands",
            "rows_per_band",
            "jdecile",
            (
                F.lit(1.0)
                - F.col("miss").cast("double") / F.lit(1.0e16)
            ).alias("recall_theory"),
        )
    )
    measured = x105_lsh_banding_calibration(spark, sf_dir).select(
        F.col("jdecile").cast("int").alias("jdecile"),
        "n_pairs",
        F.col("recall").alias("measured_recall_4x4"),
    )
    return measured.join(theory, "jdecile").select(
        "bands",
        "rows_per_band",
        F.col("jdecile").cast("long").alias("jdecile"),
        "n_pairs",
        "measured_recall_4x4",
        "recall_theory",
        ((F.col("bands") == 4) & (F.col("rows_per_band") == 4)).alias(
            "is_deployed"
        ),
    )


# ---------------------------------------------------------------------------
# x156: cross-snapshot dedup survivor stability — the production re-crawl
# case: when the corpus moves from version V1 (the standing index) to V2
# (V1 + a re-crawl batch), which canonical survivors stay canonical?
# Training-data pipelines pin dataset cards and downstream caches to
# survivor doc ids; a survivor that silently changes between corpus
# versions invalidates them, so the version-grain stability report is the
# audit a re-crawl publishes alongside the new snapshot (cf. x61's
# per-document admission verdicts — this is the GROUP-grain rollup across
# versions).
# ---------------------------------------------------------------------------

_X156_ORACLE = """
    WITH v1 AS (
      SELECT md5(text) AS h, MIN(doc_id) AS survivor
      FROM documents WHERE doc_id % 10 <> 7 GROUP BY md5(text)
    ),
    v2 AS (
      SELECT md5(text) AS h, MIN(doc_id) AS survivor,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY md5(text)
    )
    SELECT CASE WHEN v1.h IS NULL THEN 'new_group'
                WHEN v1.survivor = v2.survivor THEN 'stable'
                ELSE 'displaced' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(v2.n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(v2.n_docs) - COUNT(*) AS BIGINT) AS n_duplicates
    FROM v2 LEFT JOIN v1 ON v1.h = v2.h
    GROUP BY 1
"""


@register("x156_crossversion_dedup_stability", _X156_ORACLE)
def x156_crossversion_dedup_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[X] CROSS-VERSION DEDUP SURVIVOR STABILITY: corpus version V1
    (``doc_id % 10 != 7`` — the standing corpus, x61's convention) vs V2
    (V1 + the re-crawl batch). Every V2 exact-dup group (content md5,
    x01's kernel) is classified: ``stable`` (V1's survivor is still the
    canonical doc), ``displaced`` (the group existed in V1 but a
    lower-id arrival took over as survivor — every cache keyed on the
    old id is now stale), ``new_group`` (content absent from V1). The
    report is (status, n_groups, n_docs, n_duplicates) — the stability
    certificate a production re-crawl publishes with its new corpus
    snapshot.

    Scale shape: ONE content-hash-keyed aggregation over the V2 scan
    computes BOTH versions' survivors (V1's via a membership-gated
    conditional MIN riding the same shuffle — V1 ⊆ V2, so no second
    scan, no join), then a 3-row rollup. Exact-dedup cost for a
    two-version audit. Reference parity: the MERGE/upsert stability
    question of the declared DW load (`1. Metadata Creation.sql:133`
    IsKey-driven upsert) asked at corpus grain."""
    d = t(spark, sf_dir, "documents")
    in_v1 = F.col("doc_id") % 10 != 7
    # NULL-text edge (ADVICE r8): the oracle's LEFT JOIN ON v1.h = v2.h
    # can never match the NULL-md5 group (SQL null-join semantics), so
    # that group is 'new_group' there regardless of V1 membership. The
    # membership-gated MIN must replay that: gate the V1 survivor on the
    # hash key being non-NULL (md5(text) is NULL iff text is NULL).
    groups = d.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("survivor_v2"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min(
            F.when(in_v1 & F.md5("text").isNotNull(), F.col("doc_id"))
        ).alias("survivor_v1"),
    )
    status = (
        F.when(F.col("survivor_v1").isNull(), "new_group")
        .when(F.col("survivor_v1") == F.col("survivor_v2"), "stable")
        .otherwise("displaced")
    )
    return (
        groups.groupBy(status.alias("status"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            (F.sum("n_docs") - F.count(F.lit(1))).cast("long").alias(
                "n_duplicates"
            ),
        )
    )


# ---------------------------------------------------------------------------
# x157: near-dup-aware train/eval split certification — the LEAKAGE PROOF
# for a group split: compose x66's source-grain split with x03's LSH
# near-dup edges and report, per edge class, how many near-dup pairs the
# split keeps together vs lets straddle train/heldout. A doc-level split
# with straddling near-dups inflates eval scores (the eval doc's twin was
# trained on); the certification quantifies exactly that exposure.
# ---------------------------------------------------------------------------

_X157_ORACLE = f"""
    WITH e AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})),
    s AS (
      SELECT doc_id, source,
             CASE WHEN md5(source) < 'c' THEN 'train' ELSE 'heldout' END
               AS split
      FROM documents
    )
    SELECT CASE WHEN sa.split = sb.split THEN sa.split ELSE 'straddle' END
             AS edge_class,
           CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(COUNT(DISTINCT sa.source || '>' || sb.source) AS BIGINT)
             AS n_source_pairs
    FROM e
    JOIN s sa ON sa.doc_id = e.doc_a
    JOIN s sb ON sb.doc_id = e.doc_b
    GROUP BY 1
"""


@register("x157_split_leakage_certification", _X157_ORACLE)
def x157_split_leakage_certification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[X] NEAR-DUP-AWARE SPLIT CERTIFICATION: every x03 LSH near-dup
    edge (est Jaccard ≥ 0.5, the certified banding kernel) is classified
    by x66's source-grain split — ``train`` (both ends train),
    ``heldout`` (both ends heldout), or ``straddle`` (the leakage case:
    one end would be trained on, its near-twin evaluated on, cf. x74's
    n-gram leakage probe at the pair grain). Per class: edge count and
    distinct (source_a, source_b) pairs. A GROUP split is leakage-free
    exactly when near-dups never cross sources — so n_source_pairs on
    the straddle row names how many source pairings break that
    assumption; zero straddle rows IS the proof the group split holds
    for this corpus.

    Scale shape: reuses x03's banded LSH (one keyed shuffle + band
    join, never corpus²); the split label is a scan-side md5 expression
    joined onto the LSH-bounded edge set (edge-table-sized, tiny vs
    corpus). The distinct source-pair count runs on that same bounded
    edge set."""
    d = t(spark, sf_dir, "documents")
    edges = minhash_candidates(d, est_threshold=0.5)
    split = F.when(F.md5(F.col("source")) < "c", "train").otherwise("heldout")
    sides = d.select("doc_id", "source", split.alias("split"))
    a = sides.select(
        F.col("doc_id").alias("doc_a"),
        F.col("source").alias("src_a"),
        F.col("split").alias("split_a"),
    )
    b = sides.select(
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("src_b"),
        F.col("split").alias("split_b"),
    )
    edge_class = F.when(
        F.col("split_a") == F.col("split_b"), F.col("split_a")
    ).otherwise("straddle")
    return (
        edges.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy(edge_class.alias("edge_class"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            # F.concat, NOT concat_ws: the oracle's `||` is
            # NULL-propagating, and COUNT(DISTINCT) then skips the NULL
            # pair in both engines — concat_ws would silently swallow a
            # NULL source on one end and count the other side alone
            F.countDistinct(
                F.concat(F.col("src_a"), F.lit(">"), F.col("src_b"))
            ).cast("long").alias("n_source_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# x159: dedup ROI curve — pick the LSH operating threshold from data. For
# each candidate threshold t = k/16 (the natural quantization of a
# 16-hash MinHash estimate, so every double compare is EXACT in both
# engines), report how many near-dup pairs survive, how many documents a
# greedy lowest-id-wins removal would drop, and the token mass freed.
# This is the knob-selection artifact every dedup deployment produces
# before burning the full pass: too low a threshold deletes real data,
# too high leaves dup mass in — the curve shows the elbow.
# ---------------------------------------------------------------------------

_X159_THRESH_K = (8, 10, 12, 14, 16)

_X159_ORACLE = f"""
    WITH e AS (SELECT doc_a, doc_b, est_jaccard AS est
               FROM ({_MINHASH_ORACLE})),
    tk AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  w -> w <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    thr (k) AS (VALUES {", ".join(f"({k})" for k in _X159_THRESH_K)}),
    pairs_t AS (
      SELECT thr.k, e.doc_a, e.doc_b FROM e JOIN thr
        ON e.est >= CAST(thr.k AS DOUBLE) / 16.0
    ),
    removed AS (
      SELECT DISTINCT k, doc_b FROM pairs_t
    )
    SELECT p.k AS thresh_16ths,
           CAST(p.k AS DOUBLE) / 16.0 AS threshold,
           p.n_pairs,
           COALESCE(r.n_docs_removed, 0) AS n_docs_removed,
           COALESCE(r.tokens_removed, 0) AS tokens_removed
    FROM (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM pairs_t GROUP BY k) p
    LEFT JOIN (SELECT removed.k,
                      CAST(COUNT(*) AS BIGINT) AS n_docs_removed,
                      CAST(SUM(tk.n_tok) AS BIGINT) AS tokens_removed
               FROM removed JOIN tk ON tk.doc_id = removed.doc_b
               GROUP BY removed.k) r
      ON r.k = p.k
"""


@register("x159_dedup_roi_curve", _X159_ORACLE)
def x159_dedup_roi_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] DEDUP ROI CURVE: per candidate threshold t = k/16
    (k ∈ {8,10,12,14,16} — the 16-hash estimate's own quantization, so
    ``est >= k/16`` is an EXACT double compare in both engines), the
    surviving near-dup pair count, the documents a greedy lowest-id-wins
    removal drops (every doc that appears as the higher id of any
    qualifying pair — x55's survivor rule without the CC pass), and the
    whitespace-token mass freed. The threshold-selection artifact a
    dedup deployment reads BEFORE committing the full-corpus pass.

    Scale shape: one x03 LSH banding pass bounds the pair space; the
    5-threshold fan-out rides the (tiny) edge table via a broadcast
    literal join, distinct-removed is edge-table-keyed, and token mass
    joins doc-keyed counts onto the removed set (removed ⊆ edge
    endpoints, never corpus-sized). Exact BIGINT counts; the threshold
    column is k/16 — two exact IEEE ops."""
    d = t(spark, sf_dir, "documents")
    from smfg_datawarehouse_spark.functions import word_tokens

    edges = minhash_candidates(d, est_threshold=0.5).localCheckpoint(
        eager=False
    )  # consumed per threshold: pairs + removed
    thr = F.broadcast(
        local_rows_df(spark, [(k,) for k in _X159_THRESH_K], "k int")
    )
    pairs_t = edges.crossJoin(thr).where(
        F.col("est_jaccard") >= F.col("k").cast("double") / F.lit(16.0)
    )
    n_pairs = pairs_t.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    tk = d.select(
        "doc_id",
        F.size(word_tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    removed = (
        pairs_t.select("k", F.col("doc_b").alias("doc_id"))
        .distinct()
        .join(tk, "doc_id")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_removed"),
            F.sum("n_tok").cast("long").alias("tokens_removed"),
        )
    )
    return (
        n_pairs.join(removed, "k", "left")
        .select(
            F.col("k").alias("thresh_16ths"),
            (F.col("k").cast("double") / F.lit(16.0)).alias("threshold"),
            "n_pairs",
            F.coalesce(F.col("n_docs_removed"), F.lit(0)).cast("long").alias(
                "n_docs_removed"
            ),
            F.coalesce(F.col("tokens_removed"), F.lit(0)).cast("long").alias(
                "tokens_removed"
            ),
        )
    )


# ---------------------------------------------------------------------------
# x161: corpus drift monitor — total-variation distance between the
# standing corpus (V1, doc_id % 10 != 7) and the re-crawl arrivals
# (doc_id % 10 == 7) over each curation dimension (lang, source,
# 100-char length band). Production pipelines gate ingestion on exactly
# this: a drifted arrival batch (new domain mix, length collapse,
# language shift) re-tunes every downstream threshold, so the drift
# report runs BEFORE admission. TVD instead of KL/PSI because it needs
# no logarithm: 0.5 * Σ|p_i - q_i| folds in EXACT BIGINT arithmetic
# (|c1_i·N2 - c2_i·N1|) with one final double division — bit-identical
# in both engines, no transcendental drift.
# ---------------------------------------------------------------------------

_X161_DIMS = (
    ("lang", "lang"),
    ("source", "source"),
    ("len_band", "CAST(LEAST(length(text) // 100, 9) AS VARCHAR)"),
)

_X161_ORACLE = f"""
    WITH base AS (
      SELECT doc_id % 10 = 7 AS arrival, lang, source, text FROM documents
    ),
    bins AS (
      {" UNION ALL ".join(
        f'''SELECT '{name}' AS dim, {expr} AS bin, arrival FROM base'''
        for name, expr in _X161_DIMS
      )}
    ),
    counts AS (
      SELECT dim, bin,
             CAST(SUM(CASE WHEN NOT arrival THEN 1 ELSE 0 END) AS BIGINT)
               AS c1,
             CAST(SUM(CASE WHEN arrival THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM bins GROUP BY dim, bin
    ),
    tots AS (
      SELECT dim, CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2
      FROM counts GROUP BY dim
    )
    SELECT c.dim,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(ABS(c.c1 * t.n2 - c.c2 * t.n1)) AS BIGINT)
             AS tvd_numer,
           CAST(2 * t.n1 * t.n2 AS BIGINT) AS tvd_denom,
           CAST(SUM(ABS(c.c1 * t.n2 - c.c2 * t.n1)) AS DOUBLE)
             / CAST(2 * t.n1 * t.n2 AS DOUBLE) AS tvd
    FROM counts c JOIN tots t USING (dim)
    GROUP BY c.dim, t.n1, t.n2
"""


@register("x161_corpus_drift_tvd", _X161_ORACLE)
def x161_corpus_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] CORPUS DRIFT MONITOR: total-variation distance between the
    standing corpus V1 and the arrival batch (x61/x156's % 10 == 7
    convention) over each curation dimension — lang, source, and the
    100-char length band (x79's banding). TVD = 0.5 Σ|p_i − q_i| is the
    transcendental-free drift metric (KL/PSI need ln): the numerator
    folds as EXACT BIGINT Σ|c1_i·N2 − c2_i·N1| and the only float op is
    the final division, so both engines agree bit-for-bit. Exact
    numerator/denominator ship alongside the double — the downstream
    gate can compare rationals and never touch the float.

    Scale shape: one corpus scan fans to |dims| bin streams via a
    scan-side union (no join), each dim's bins reduce by ONE keyed agg
    (map-side combined, |bins| ≤ |langs|+|sources|+10 rows), totals ride
    the same tiny frame. Corpus-linear, output 3 rows."""
    d = t(spark, sf_dir, "documents")
    arrival = (F.col("doc_id") % 10 == 7).alias("arrival")
    len_band = F.least(
        F.floor(F.length("text") / 100).cast("long"), F.lit(9).cast("long")
    ).cast("string")
    bins = None
    for name, col in (
        ("lang", F.col("lang")),
        ("source", F.col("source")),
        ("len_band", len_band),
    ):
        part = d.select(
            F.lit(name).alias("dim"), col.alias("bin"), arrival
        )
        bins = part if bins is None else bins.unionByName(part)
    counts = bins.groupBy("dim", "bin").agg(
        F.sum(F.when(~F.col("arrival"), 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("arrival"), 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    tots = counts.groupBy("dim").agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    return (
        counts.join(tots, "dim")
        .groupBy("dim", "n1", "n2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            F.sum(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            )
            .cast("long")
            .alias("tvd_numer"),
        )
        .select(
            "dim",
            "n_bins",
            "tvd_numer",
            (F.lit(2) * F.col("n1") * F.col("n2")).cast("long").alias(
                "tvd_denom"
            ),
            (
                F.col("tvd_numer").cast("double")
                / (F.lit(2) * F.col("n1") * F.col("n2")).cast("double")
            ).alias("tvd"),
        )
    )


# ---------------------------------------------------------------------------
# paragraph-grain dedup (CCNet, Wenzek et al. 2020, arXiv:1911.00359 §4.1:
# dedup at PARAGRAPH granularity, keeping one copy corpus-wide, then reflow
# each document from its surviving paragraphs — whole-doc dedup misses the
# shared header/footer/boilerplate paragraphs this removes)
# ---------------------------------------------------------------------------

PARA_TOKENS = 10  # paragraph width: fixture text is a flat word stream (no
# newline structure), so fixed 10-token blocks stand in for the paragraph
# boundaries a real corpus carries; the dedup/reflow logic is width-agnostic

_X164_ORACLE = rf"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         w -> w <> '') AS t
      FROM documents
    ),
    d AS (
      SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tok
      FROM tk WHERE len(t) >= 1
    ),
    blk AS (
      SELECT doc_id, n_tok, p,
             list_aggregate(
               list_slice(t, (p - 1) * {PARA_TOKENS} + 1,
                          LEAST(p * {PARA_TOKENS}, len(t))),
               'string_agg', ' ') AS gram,
             CAST((p - 1) * {PARA_TOKENS} + 1 AS BIGINT) AS s,
             CAST(LEAST(p * {PARA_TOKENS}, n_tok) AS BIGINT) AS e
      FROM d,
           unnest(range(1, CAST((len(t) + {PARA_TOKENS - 1}) // {PARA_TOKENS}
                          AS BIGINT) + 1)) AS r(p)
    ),
    occ AS (
      SELECT doc_id, n_tok, p, s, e,
             ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, p) AS rn
      FROM blk
    ),
    st AS (
      SELECT doc_id, n_tok, s, e, rn = 1 AS kept,
             MAX(CASE WHEN rn = 1 THEN e END)
               OVER (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM occ
    )
    SELECT doc_id, n_tok,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_paras_removed,
           CAST(SUM(CASE WHEN kept AND (pmax IS NULL OR s > pmax + 1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_reflow,
           CAST(SUM(CASE WHEN kept THEN e - s + 1 ELSE 0 END) AS BIGINT)
             AS n_tokens_kept,
           CAST(SUM(CASE WHEN kept THEN e - s + 1 ELSE 0 END) AS DOUBLE)
             / n_tok AS kept_frac
    FROM st
    GROUP BY doc_id, n_tok
"""


@register("x164_paragraph_dedup_reflow", _X164_ORACLE)
def x164_paragraph_dedup_reflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] PARAGRAPH-GRAIN DEDUP + REFLOW — CCNet's production dedup step
    (Wenzek et al. 2020 §4.1): split every document into paragraphs,
    keep exactly ONE copy of each distinct paragraph corpus-wide (first
    occurrence by (doc_id, position) — CCNet's hash-keep-first), and
    reflow each document from its surviving paragraphs. Per doc the
    report is the reflow geometry: paragraphs in/removed, contiguous
    kept-span count (adjacent survivors merge — x133/x135's
    gaps-and-islands recipe on the KEPT blocks), tokens kept, kept
    fraction. Whole-doc dedup (x01) misses exactly what this catches:
    the shared header/footer paragraphs that repeat across otherwise
    distinct pages. Complements x92 (which MEASURES cross-doc window
    repetition but removes nothing) and x86 (substring pairs — pairwise
    evidence, not a reflowed corpus).

    Scale shape: one corpus scan → block explode (corpus-linear, ≤
    n_tok/{P} rows per doc) → ONE gram-keyed shuffle for the keep-first
    rank (the dedup decision; identical blocks co-locate) → ONE
    doc-keyed shuffle under which BOTH windows (the kept-survivor pmax
    island scan) and the final per-doc rollup run — Catalyst reuses the
    doc partitioning across the window and the groupBy, so the whole
    reflow costs exactly two exchanges at any corpus size. Zero joins,
    zero pair-shaped intermediates; the single-copy policy needs no
    connected components because block identity is exact (vs x03's
    similarity clustering)."""
    from smfg_datawarehouse_spark.functions import word_tokens

    P = PARA_TOKENS
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", word_tokens(F.col("text")).alias("tk")
    ).where(F.size("tk") >= 1)
    n_tok = F.size("tk").cast("long")
    n_paras = ((F.size("tk") + F.lit(P - 1)) / F.lit(P)).cast("int")
    blocks = toks.select(
        "doc_id",
        n_tok.alias("n_tok"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_paras),
                lambda p: F.concat_ws(
                    " ", F.slice(F.col("tk"), (p - 1) * P + 1, P)
                ),
            )
        ).alias("p0", "gram"),
    ).select(
        "doc_id",
        "n_tok",
        (F.col("p0") + 1).alias("p"),
        "gram",
        (F.col("p0") * P + 1).cast("long").alias("s"),
        F.least((F.col("p0") + 1) * P, F.col("n_tok")).cast("long").alias("e"),
    )
    kept = (
        F.row_number().over(W.partitionBy("gram").orderBy("doc_id", "p")) == 1
    )
    w_prev = (
        W.partitionBy("doc_id").orderBy("p").rowsBetween(W.unboundedPreceding, -1)
    )
    st = blocks.withColumn("kept", kept).withColumn(
        "pmax", F.max(F.when(F.col("kept"), F.col("e"))).over(w_prev)
    )
    new_span = F.col("kept") & (
        F.col("pmax").isNull() | (F.col("s") > F.col("pmax") + 1)
    )
    kept_toks = F.when(F.col("kept"), F.col("e") - F.col("s") + 1).otherwise(0)
    return st.groupBy("doc_id", "n_tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0))
        .cast("long")
        .alias("n_paras_removed"),
        F.sum(F.when(new_span, 1).otherwise(0))
        .cast("long")
        .alias("n_spans_reflow"),
        F.sum(kept_toks).cast("long").alias("n_tokens_kept"),
        (F.sum(kept_toks).cast("double") / F.col("n_tok")).alias("kept_frac"),
    )


_X165_ORACLE = r"""
    WITH tk AS (
      SELECT doc_id, source, text,
             CAST(length(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     w -> w <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    g AS (
      SELECT doc_id, source, n_tokens,
             CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM tk
    )
    SELECT doc_id, source, n_tokens, n_copies,
           rn = 1 AS is_survivor,
           CAST(1.0 AS DOUBLE) / n_copies AS weight,
           CAST(n_tokens AS DOUBLE) / n_copies AS eff_tokens
    FROM g
"""


@register("x165_dedup_soft_weighting", _X165_ORACLE)
def x165_dedup_soft_weighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] SOFT DEDUP — count-based down-weighting instead of removal:
    every document stays in the training table but carries weight
    1/n_copies of its exact-duplicate group (and the survivor flag x01
    would have kept), so a group of n duplicates contributes exactly one
    document's worth of loss mass however the sampler shards it. This is
    the data-constrained regime's alternative to hard dedup (Muennighoff
    et al. 2023, arXiv:2305.16264: repeated tokens keep value at
    declining rate — weighting preserves them at epoch-equivalent mass;
    CCNet ships the same per-doc duplication count for exactly this
    use). ``eff_tokens`` = n_tokens/n_copies is the per-doc effective
    token mass the mixture planner (x62/x143) budgets with.

    Scale shape: ONE content-hash-keyed shuffle serves both window
    functions (group size + survivor rank ride the same partitioning);
    output is corpus-linear with no joins. Both doubles are single
    IEEE divisions of exact integers — engine-identical bit for bit."""
    from smfg_datawarehouse_spark.functions import word_tokens

    d = t(spark, sf_dir, "documents")
    # tokenize ONCE per row (the x129 double-evaluation lesson): the
    # window keys on the content hash computed in the same projection
    base = d.select(
        "doc_id",
        "source",
        F.size(word_tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.md5("text").alias("_h"),
    )
    w = W.partitionBy("_h")
    n = F.count(F.lit(1)).over(w).cast("long")
    rn = F.row_number().over(w.orderBy("doc_id"))
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        n.alias("n_copies"),
        (rn == 1).alias("is_survivor"),
        (F.lit(1.0) / n).alias("weight"),
        (F.col("n_tokens").cast("double") / n).alias("eff_tokens"),
    )

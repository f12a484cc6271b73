"""Oracle-parity edge cases the ASCII fixture never exercises.

The driver differential runs on all-ASCII documents, where DuckDB's
strlen (bytes) and length (chars) coincide and every doc tokenizes to
at least one BPE token — so a bytes-vs-chars mixup or an unguarded
division survives certification silently. These tests stage a tiny
corpus containing non-ASCII text and a whitespace-only doc and assert
Spark and DuckDB still agree bit-exactly.
"""

from __future__ import annotations

import math

import duckdb
import pytest


@pytest.fixture(scope="module")
def edge_sf_dir(spark, tmp_path_factory):
    """A documents.parquet with multibyte chars and a zero-token doc."""
    d = tmp_path_factory.mktemp("edge_sf")
    rows = [
        (0, "café au lait très bon café", "fr", "src0", 24),
        (1, "the quick brown fox is it", "en", "src0", 25),
        (2, "   ", "en", "src1", 3),  # whitespace-only: zero BPE tokens
        (3, "straße über grün und das ist", "de", "src1", 27),
        (4, "plain ascii text of the usual kind", "en", "src2", 34),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


def _compare(spark, edge_sf_dir, name):
    from smfg_datawarehouse_spark import queries as qmod

    qs, os_ = qmod.all_queries(), qmod.all_oracles()
    sdf = qs[name](spark, edge_sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{edge_sf_dir}/documents.parquet/*.parquet'"
    )
    res = con.execute(os_[name])
    dcols = [c[0] for c in res.description]
    assert sorted(sdf.columns) == sorted(dcols)

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)

    srows = sorted(
        ",".join(norm(r[c]) for c in sorted(sdf.columns)) for r in sdf.collect()
    )
    didx = {c: i for i, c in enumerate(dcols)}
    drows = sorted(
        ",".join(norm(r[didx[c]]) for c in sorted(dcols)) for r in res.fetchall()
    )
    assert srows == drows, f"{name} diverged on the edge corpus"


def test_quality_calibration_multibyte_parity(spark, edge_sf_dir):
    """x76's quality score must be char-based in BOTH engines — a
    strlen (bytes) denominator diverges on 'café'."""
    _compare(spark, edge_sf_dir, "x76_quality_calibration")


def test_source_quota_multibyte_parity(spark, edge_sf_dir):
    """x75 shares the composite score; same bytes-vs-chars trap."""
    _compare(spark, edge_sf_dir, "x75_source_quota_topk")


def test_tokenizer_fertility_zero_token_parity(spark, edge_sf_dir):
    """x78 on a lang bucket with zero BPE tokens: Spark yields NULL,
    DuckDB yields Infinity unless guarded — both must emit NULL.
    (The whitespace-only doc is lang 'en' alongside token-bearing docs,
    so also stage a lang with ONLY the degenerate doc.)"""
    _compare(spark, edge_sf_dir, "x78_tokenizer_fertility")


def test_tokenizer_fertility_all_degenerate_lang(spark, tmp_path_factory):
    from smfg_datawarehouse_spark import queries as qmod

    d = tmp_path_factory.mktemp("edge_sf2")
    rows = [(0, "   ", "zz", "src0", 3), (1, "real text here", "en", "src0", 14)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    out = {
        r["lang"]: r
        for r in qmod.all_queries()["x78_tokenizer_fertility"](spark, str(d)).collect()
    }
    assert out["zz"]["bytes_per_token"] is None
    assert out["zz"]["chars_per_token"] is None
    assert out["en"]["bytes_per_token"] is not None


def test_char_diversity_null_and_unicode_lower_parity(spark, tmp_path_factory):
    """x73 on NULL, empty and mixed-case text and on the two non-ASCII
    capitals whose lowercase is an ASCII letter. NULL text is
    (NULL, 0.0, NULL) in both engines, as SQL's NULL propagation through
    the oracle's CASE gives it. The kernel's ``str.lower`` does not read
    the locale and agrees with DuckDB's ``lower`` on U+212A (KELVIN
    SIGN) -> 'k' and U+0130 -> 'i' (Python appends a combining dot,
    which is not an a-z byte)."""
    d = tmp_path_factory.mktemp("edge_x73")
    rows = [(0, None), (1, ""), (2, "Abc"), (3, "\u212a"), (4, "\u0130")]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(d / "documents.parquet")
    )
    _compare(spark, str(d), "x73_char_diversity_filter")


def test_bpe_stats_zero_token_parity(spark, edge_sf_dir):
    """x24's per-doc chars_per_token on a whitespace-only doc: NULL in
    both engines, not NULL-vs-Infinity."""
    _compare(spark, edge_sf_dir, "x24_bpe_token_stats")


def test_winnowing_multibyte_parity(spark, tmp_path_factory):
    """x23/x71's k-gram positions must be CHARACTER offsets in both
    engines: DuckDB substring() is char-based, so a byte-based strlen()
    position range would hang extra degenerate grams off multibyte docs.
    Two near-duplicate >k+w-char docs with umlauts exercise the match."""
    d = tmp_path_factory.mktemp("edge_winnow")
    base = "die schöne straße führt über den grünen hügel hinauf zum alten schloß und weiter"
    rows = [
        (0, base, "de", "src0", len(base)),
        (1, base + " fort", "de", "src0", len(base) + 5),
        (2, "completely different english text with no shared window at all here", "en", "src1", 68),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    _compare(spark, str(d), "x23_winnowing_dupes")
    _compare(spark, str(d), "x71_containment_dupes")


def test_bpe_merge_fold_quote_and_backslash_safe(spark):
    """ADVICE r6: the BPE merge rule used to be an f-string fed to
    F.expr, so an apostrophe or backslash in a corpus-derived merge pair
    broke parsing (or silently corrupted the fold). The column-function
    fold must treat such tokens as plain values."""
    from pyspark.sql import functions as F

    from smfg_datawarehouse_spark.operators.text_analysis import bpe_merge_fold

    rows = [
        ("don't", 1, "d o n ' t"),
        ("a\\b", 1, "a \\ b"),
        ("nohit", 1, "x y z"),
        ("single", 1, "q"),
    ]
    df = spark.createDataFrame(rows, "tok string, freq long, seq string")
    got = {
        r["tok"]: r["m"]
        for r in df.select(
            "tok", bpe_merge_fold("'", "t").alias("m")
        ).collect()
    }
    assert got["don't"] == "d o n 't"
    assert got["a\\b"] == "a \\ b"
    assert got["nohit"] == "x y z"
    assert got["single"] == "q"
    got2 = {
        r["tok"]: r["m"]
        for r in df.select(
            "tok", bpe_merge_fold("\\", "b").alias("m")
        ).collect()
    }
    assert got2["a\\b"] == "a \\b"
    assert got2["don't"] == "d o n ' t"


def test_cdc_chunk_dedup_multibyte_and_empty_parity(spark, edge_sf_dir):
    """x149's boundary gate hashes raw tokens: multibyte tokens must hash
    identically in both engines and the zero-token doc must vanish from
    the chunk table (never divide-by-zero in the dup ratio)."""
    _compare(spark, edge_sf_dir, "x149_cdc_chunk_dedup")


def test_phrase_retrieval_short_doc_parity(spark, edge_sf_dir):
    """x150 on docs shorter than the phrase (and a zero-token doc): the
    adjacency join and the oracle's n-gram branch must both yield
    nothing rather than error on range(1, len-k+1) underflow."""
    _compare(spark, edge_sf_dir, "x150_phrase_retrieval_positional")


def test_phrase_retrieval_doc_final_phrase_parity(spark, tmp_path_factory):
    """ADVICE r7 (high): DuckDB range() is upper-exclusive, so the x150
    oracle's n-gram upper bound must be len(tk)-(k-2) — the prior
    len(tk)-(k-1) silently dropped the LAST valid k-gram start of every
    doc, i.e. any phrase occurrence ending at the final token. Stage one
    doc per query phrase that ENDS with that phrase (plus a doc that IS
    exactly the phrase) and assert bit-exact parity with the engine's
    positional adjacency join, which counts doc-final hits correctly."""
    d = tmp_path_factory.mktemp("edge_phrase_final")
    rows = [
        (0, "we always finish with a scan query", "en", "src0", 34),
        (1, "the pipeline drains into the batch window", "en", "src0", 41),
        (2, "beware of the slow hash batch", "en", "src1", 29),
        (3, "scan query", "en", "src1", 10),  # doc IS the phrase
        (4, "scan query scan query", "en", "src2", 21),  # mid + final hit
        (5, "no phrase in this one at all", "en", "src2", 28),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    _compare(spark, str(d), "x150_phrase_retrieval_positional")
    # belt-and-braces: the engine itself must see the doc-final hits
    from smfg_datawarehouse_spark import queries as qmod

    got = {
        (r["phrase"], r["doc_id"]): r["n_hits"]
        for r in qmod.all_queries()["x150_phrase_retrieval_positional"](
            spark, str(d)
        ).collect()
    }
    assert got[("scan query", 0)] == 1
    assert got[("scan query", 3)] == 1
    assert got[("scan query", 4)] == 2
    assert got[("batch window", 1)] == 1
    assert got[("slow hash batch", 2)] == 1


def test_crossversion_stability_all_three_statuses(spark, tmp_path_factory):
    """x156 on a corpus staged so every status appears: a stable group
    (V1 survivor keeps winning), a displaced group (a re-crawl doc with
    a LOWER id than V1's survivor takes over), and a new group (content
    absent from V1). V1 membership = doc_id % 10 != 7."""
    from smfg_datawarehouse_spark import queries as qmod

    d = tmp_path_factory.mktemp("edge_x156")
    rows = [
        # stable: v1 survivor 10 < arrival 27
        (10, "alpha content", "en", "s0", 13),
        (20, "alpha content", "en", "s0", 13),
        (27, "alpha content", "en", "s0", 13),
        # displaced: arrival 7 < v1 survivor 30
        (30, "beta content", "en", "s1", 12),
        (7, "beta content", "en", "s1", 12),
        # new_group: only arrivals carry it
        (17, "gamma content", "en", "s2", 13),
        (37, "gamma content", "en", "s2", 13),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    _compare(spark, str(d), "x156_crossversion_dedup_stability")
    got = {
        r["status"]: (r["n_groups"], r["n_docs"], r["n_duplicates"])
        for r in qmod.all_queries()["x156_crossversion_dedup_stability"](
            spark, str(d)
        ).collect()
    }
    assert got["stable"] == (1, 3, 2)
    assert got["displaced"] == (1, 2, 1)
    assert got["new_group"] == (1, 2, 1)


def test_eval_set_construction_unfillable_cell(spark, tmp_path_factory):
    """x160 when one cell's population is entirely near-dup-excluded:
    its quota must go unfilled (n_selected = 0 < quota) while the clean
    cell fills — the re-stratification signal the audit exists for.
    Near-dups are two ~identical long docs (word-3-gram LSH catches
    them); the clean cell is four distinct short docs."""
    from smfg_datawarehouse_spark import queries as qmod

    d = tmp_path_factory.mktemp("edge_x160")
    dup_base = " ".join(f"w{i}" for i in range(120))  # >100 chars: bucket>=1
    short = [
        (i, f"short doc number {i} unique tokens t{i} u{i} v{i}", "en", "s0")
        for i in range(4)
    ]
    rows = [(r[0], r[1], r[2], r[3], len(r[1])) for r in short] + [
        (100, dup_base, "en", "s1", len(dup_base)),
        (101, dup_base + " tail", "en", "s1", len(dup_base) + 5),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    _compare(spark, str(d), "x160_eval_set_construction")
    out = {
        (r["lang"], r["len_bucket"]): r
        for r in qmod.all_queries()["x160_eval_set_construction"](
            spark, str(d)
        ).collect()
    }
    dup_cell = next(
        v for (lang, b), v in out.items() if b >= 1
    )  # the long-doc cell
    assert dup_cell["n_eligible"] == 0 and dup_cell["n_selected"] == 0
    assert dup_cell["quota"] > 0  # quota allocated but unfillable
    clean_cell = out[("en", 0)]
    assert clean_cell["n_selected"] == min(
        clean_cell["quota"], clean_cell["n_eligible"]
    )
    assert clean_cell["n_selected"] > 0


def test_skew_profile_advisory_fires_on_hot_key(spark, tmp_path_factory):
    """x163 on a synthetic warehouse with one pathologically hot
    events.user_id (hottest key > 8x its uniform share): the advisory
    must fire for exactly that (table, key) and stay off for the
    uniform keys — and the oracle must agree bit-for-bit."""
    import duckdb as _duck

    from smfg_datawarehouse_spark import queries as qmod

    d = tmp_path_factory.mktemp("edge_x163")
    # events: user 1 owns 500 of 590 rows across 10 users -> top1*keys =
    # 5000 > 8*590 = 4720 -> advisory fires; event_type stays uniform
    import datetime as _dt

    base_ts = _dt.datetime(2025, 1, 1)
    ev = [
        (
            i,
            base_ts + _dt.timedelta(minutes=i),
            1 if i < 500 else 2 + i % 9,
            f"t{i % 5}",
        )
        for i in range(590)
    ]
    spark.createDataFrame(
        ev, "event_id long, ts timestamp, user_id long, event_type string"
    ).coalesce(1).write.parquet(str(d / "events.parquet"))
    spark.createDataFrame(
        [(i, i % 40) for i in range(200)], "o_orderkey long, o_custkey long"
    ).coalesce(1).write.parquet(str(d / "orders.parquet"))
    spark.createDataFrame(
        [(i % 100, i) for i in range(300)], "l_orderkey long, l_linenumber long"
    ).coalesce(1).write.parquet(str(d / "lineitem.parquet"))
    spark.createDataFrame(
        [(i, f"s{i % 4}") for i in range(80)], "doc_id long, source string"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))

    qs, os_ = qmod.all_queries(), qmod.all_oracles()
    sdf = qs["x163_skew_profile"](spark, str(d))
    got = {
        (r["table_name"], r["key_col"]): r["salting_recommended"]
        for r in sdf.collect()
    }
    assert got[("events", "user_id")] is True
    assert got[("events", "event_type")] is False
    assert got[("documents", "source")] is False
    con = _duck.connect()
    for tname in ("events", "orders", "lineitem", "documents"):
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM "
            f"'{d}/{tname}.parquet/*.parquet'"
        )
    orows = sorted(map(tuple, con.execute(os_["x163_skew_profile"]).fetchall()))
    srows = sorted(map(tuple, sdf.collect()))
    assert [tuple(map(str, r)) for r in srows] == [
        tuple(map(str, r)) for r in orows
    ]


def test_split_leakage_null_source_parity(spark, tmp_path_factory):
    """Review finding r8: x157's distinct source-pair count must use
    NULL-PROPAGATING concatenation (the oracle's ||) — concat_ws would
    swallow a NULL source on one edge end and count the other side
    alone. Stage an LSH near-dup pair where one end's source is NULL
    and assert bit-exact parity."""
    d = tmp_path_factory.mktemp("edge_x157_null")
    dup = " ".join(f"w{i}" for i in range(120))
    rows = [
        (0, dup, "en", "s0", len(dup)),
        (1, dup + " tail", "en", None, len(dup) + 5),  # NULL source end
        (2, "totally different text with unique tokens a b c", "en", "s1", 48),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    _compare(spark, str(d), "x157_split_leakage_certification")


def test_crossversion_stability_null_text_parity(spark, tmp_path_factory):
    """ADVICE r8: x156's membership-gated survivor_v1 must replay the
    oracle's NULL-join semantics — the LEFT JOIN ON v1.h = v2.h never
    matches the NULL-md5 group, so NULL-text docs are 'new_group' even
    when a V1 doc carries NULL text. Stage NULL text on BOTH sides of
    the version split (doc 3 is V1-resident, doc 7 is the re-crawl) and
    assert bit-exact parity."""
    d = tmp_path_factory.mktemp("edge_x156_null")
    rows = [
        (0, "shared content", "en", "s0", 14),
        (3, None, "en", "s0", 0),   # V1 member, NULL text
        (7, None, "en", "s1", 0),   # re-crawl-only member, NULL text
        (10, "shared content", "en", "s1", 14),  # dup of 0, stable group
        (17, "fresh content", "en", "s1", 13),   # re-crawl-only group
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    _compare(spark, str(d), "x156_crossversion_dedup_stability")


def test_bpe_apply_multibyte_parity(spark, edge_sf_dir):
    """ADVICE r8: x158's l0 must be code-point length (F.length ==
    DuckDB length), not size(split(tok, '')) — UTF-16 code units. The
    multibyte corpus ('café', 'straße') exercises the non-ASCII BMP
    path bit-exactly."""
    _compare(spark, edge_sf_dir, "x158_bpe_apply_by_source")


def test_x147_fixture_tokens_bmp_only(spark):
    """Pin the BMP-only assumption x147/x158's seq side still carries:
    Spark split(seq, ' ')/split(tok, '') count UTF-16 code units, so an
    astral-plane char (emoji, U+10000+) inside a fixture token would
    split into surrogate halves and diverge from DuckDB's code-point
    split. The driver fixtures are ASCII today; if a regenerated
    fixture trips this, switch the symbol split on BOTH engines to an
    explicit code-point segmentation before re-certifying x147/x158."""
    from pyspark.sql import functions as F

    from smfg_datawarehouse_spark.queries import t

    d = t(spark, "/root/testdata/sf0.001", "documents")
    n_astral = d.where(
        F.length("text") != F.size(F.split(F.col("text"), ""))
    ).count()
    assert n_astral == 0, (
        "fixture contains astral-plane chars: x147/x158 symbol splits "
        "must move to code-point segmentation"
    )


def test_paragraph_dedup_edge_parity(spark, edge_sf_dir):
    """x164 on the edge corpus: multibyte tokens, a whitespace-only doc
    (excluded by the >=1-token gate on BOTH engines), and sub-width
    documents whose single partial paragraph must count as one block."""
    _compare(spark, edge_sf_dir, "x164_paragraph_dedup_reflow")


def test_paragraph_dedup_removal_semantics(spark, tmp_path_factory):
    """x164 keep-first semantics pinned explicitly: cross-doc dup blocks
    go to the lowest (doc_id, position) owner, an exact-copy document is
    fully removed (kept_frac 0.0, zero reflow spans), and an intra-doc
    repeated paragraph keeps only its first occurrence. Oracle parity
    plus direct row assertions."""
    from smfg_datawarehouse_spark.queries import all_queries

    a = " ".join(f"a{i}" for i in range(10))
    b = " ".join(f"b{i}" for i in range(10))
    c = " ".join(f"c{i}" for i in range(10))
    d = " ".join(f"d{i}" for i in range(10))
    rows = [
        (0, f"{a} {b}", "en", "s0", 0),   # owns blocks a, b
        (1, f"{a} {c}", "en", "s0", 0),   # block a removed (owned by 0)
        (2, f"{a} {b}", "en", "s1", 0),   # exact copy of 0: fully removed
        (3, "solo", "en", "s1", 0),       # single token: one partial block
        (4, f"{d} {d}", "en", "s1", 0),   # intra-doc repeat: 2nd d removed
    ]
    tmp = tmp_path_factory.mktemp("edge_x164")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp / "documents.parquet"))
    _compare(spark, str(tmp), "x164_paragraph_dedup_reflow")
    out = {
        r["doc_id"]: r
        for r in all_queries()["x164_paragraph_dedup_reflow"](
            spark, str(tmp)
        ).collect()
    }
    assert out[0]["n_paras_removed"] == 0 and out[0]["kept_frac"] == 1.0
    assert out[1]["n_paras_removed"] == 1 and out[1]["n_tokens_kept"] == 10
    assert out[2]["n_paras_removed"] == 2 and out[2]["kept_frac"] == 0.0
    assert out[2]["n_spans_reflow"] == 0
    assert out[3]["n_paras"] == 1 and out[3]["n_tokens_kept"] == 1
    assert out[4]["n_paras_removed"] == 1 and out[4]["n_spans_reflow"] == 1


def test_streaming_index_maintenance_cascade(spark, tmp_path_factory):
    """s26's load-bearing semantics, pinned on a hand-built corpus and
    asserted both vs the unrolled oracle (_compare) and directly:
    (a) a wave-1 arrival identical to an ADMITTED wave-0 arrival is
    rejected with dup_of naming the arrival (the index grew);
    (b) two identical docs in the SAME wave are both admitted (batches
    check against the index as of batch START, not each other) and a
    later duplicate rejects against the LOWEST of them (tie-break);
    (c) an arrival matching a corpus doc rejects with the corpus id;
    (d) a sub-shingle-width arrival (no bands) is trivially admitted."""
    from smfg_datawarehouse_spark.queries import all_queries

    def words(tag):
        return " ".join(f"{tag}{i}" for i in range(6))

    rows = [
        # corpus (doc_id % 10 != 7)
        (0, words("p"), "en", "s0", 0),
        (1, words("q"), "en", "s0", 0),
        (2, words("r"), "en", "s0", 0),
        # wave 0 (doc_id DIV 10 % 2 == 0): X unique; Y twice in one batch
        (7, words("x"), "en", "s1", 0),
        (27, words("y"), "en", "s1", 0),
        (67, words("y"), "en", "s1", 0),
        # wave 1: dup of the admitted wave-0 pair, a corpus dup, and a
        # bandless 2-token doc
        (17, words("y"), "en", "s1", 0),
        (37, words("r"), "en", "s1", 0),
        (57, "tiny doc", "en", "s1", 0),
    ]
    tmp = tmp_path_factory.mktemp("edge_s26")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp / "documents.parquet"))
    _compare(spark, str(tmp), "s26_streaming_index_maintenance")
    out = {
        r["doc_id"]: r
        for r in all_queries()["s26_streaming_index_maintenance"](
            spark, str(tmp)
        ).collect()
    }
    assert out[7]["admitted"] and out[27]["admitted"]
    assert out[67]["admitted"], "same-wave duplicate must not self-reject"
    assert not out[17]["admitted"] and out[17]["dup_of"] == 27, (
        "wave-1 dup must reject against the lowest ADMITTED wave-0 arrival"
    )
    assert not out[37]["admitted"] and out[37]["dup_of"] == 2
    assert out[57]["admitted"] and out[57]["dup_of"] == -1


#: Code points on which Java's ``\s``, Python's ``str.split()``/``re`` ``\s``
#: and RE2's ``\s`` (the DuckDB oracles') disagree in some direction.
_WS_EDGE = ["\x0b", "\x85", "\xa0", "\u2003", "\x1c"]


def test_whitespace_class_matches_duckdb(spark):
    """``word_tokens``, ``collapse_ws`` and ``fingerprint`` agree with the
    oracles' ``regexp_split_to_array(…, '\\s+')`` and
    ``trim(regexp_replace(…, '\\s+', ' ', 'g'))`` on every edge code point,
    inside a word and at both ends of a document (where DuckDB's ``trim``
    also strips U+00A0 and U+2003)."""
    from pyspark.sql import functions as F

    from smfg_datawarehouse_spark.functions import collapse_ws, word_tokens
    from smfg_datawarehouse_spark.operators.text_analysis import fingerprint

    texts = [f"a{c}b c\t d" for c in _WS_EDGE] + [f"{c} X {c}" for c in _WS_EDGE]
    rows = list(enumerate(texts))
    got = {
        r["id"]: (list(r["tokens"]), list(r["raw_tokens"]), r["collapsed"], r["fp"])
        for r in spark.createDataFrame(rows, "id long, text string")
        .select(
            "id",
            word_tokens(F.col("text")).alias("tokens"),
            word_tokens(F.col("text"), lowercase=False).alias("raw_tokens"),
            collapse_ws(F.col("text")).alias("collapsed"),
            fingerprint(F.col("text")).alias("fp"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    collapse = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    want = {
        i: (list(tok), list(raw), col, fp)
        for i, tok, raw, col, fp in con.execute(
            "SELECT id,"
            " list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''),"
            " list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),"
            f" {collapse}, md5({collapse}) FROM docs"
        ).fetchall()
    }
    assert got == want
    # U+000B is where Java's \s and RE2's differ: one token, not two
    assert got[0][0] == ["a\x0bb", "c", "d"]


def test_fixtures_hold_no_whitespace_edge_code_points():
    """No string value in any fixture contains one of the edge code points,
    so switching the engine's splits from Java's ``\\s`` to the RE2 class
    moves no registered result."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from conftest import SF_DIR

    pattern = "[" + "".join(_WS_EDGE) + "]"
    files = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*", "*.parquet")))
    assert files
    hits = []
    for path in files:
        table = pq.read_table(path)
        for name in table.column_names:
            col = table.column(name)
            if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
                if pc.any(pc.match_substring_regex(col, pattern)).as_py():
                    hits.append(f"{path}:{name}")
    assert not hits, hits

"""Multimodal columns [X]: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed through Arrow-batched ``mapInPandas``.

The Spark-side plumbing is real and tested end-to-end: schema contract,
and one per-asset pass (:func:`_per_asset`) that every generator, decoder
and feature stage runs through. It widens its input with
``session.ensure_min_parallelism`` before the (potentially 10-100×-cost)
per-asset work, so decode parallelism tracks cores rather than upstream
file count, and a wide scan is not reshuffled. The actual media decode
is stubbed — image/audio libraries aren't in this container — behind
:func:`decode_image_stub`, which either raises ``NotImplementedError``
(real-decode mode) or produces deterministic fake features (test mode),
exactly as a PIL/librosa implementation would slot in.

Sources at scale: ``spark.read.format("binaryFile")`` for media files on
the lake, or a binary column in parquet (used here).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smfg_datawarehouse_spark.queries import register, t
from smfg_datawarehouse_spark.session import ensure_min_parallelism

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video|text
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType(), True),
                    T.StructField("declared_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("feature_ok", T.BooleanType(), True),
    ]
)


def decode_image_stub(payload: bytes, fake: bool = True) -> dict:
    """Media decode slot (PIL.Image.open; librosa.load for audio).

    ``fake=True`` → deterministic metadata-only features (no media lib
    needed — the driver-certified path in this runtime). ``fake=False`` →
    the REAL decode: attempts PIL and verifies the payload actually
    decodes; raises ``NotImplementedError`` only when no decode library
    exists, so the real path lights up automatically on a cluster with
    the image stack installed (see tests/test_integration_gates.py).
    """
    import hashlib

    if not fake:
        try:
            from PIL import Image
        except ImportError as exc:
            raise NotImplementedError(
                "media decode requires an image library (PIL) not present "
                "in this runtime; install pillow to enable the real path"
            ) from exc
        import io

        ok = payload is not None and len(payload) > 0
        if ok:
            try:
                img = Image.open(io.BytesIO(payload))
                img.load()
            except Exception:
                ok = False
        return {
            "n_bytes": len(payload) if payload is not None else None,
            "content_hash": (
                hashlib.md5(payload).hexdigest() if payload is not None else None
            ),
            "feature_ok": ok,
        }

    return {
        "n_bytes": len(payload) if payload is not None else None,
        "content_hash": hashlib.md5(payload).hexdigest() if payload is not None else None,
        "feature_ok": payload is not None and len(payload) > 0,
    }


def _per_asset(
    frame: DataFrame,
    schema: T.StructType,
    per_row: Callable[[tuple], dict | list[dict]],
) -> DataFrame:
    """The one Arrow-batched per-asset pass: widen ``frame`` with
    ``ensure_min_parallelism`` (decode parallelism tracks cores, not
    upstream file count — the key scale knob for media pipelines where
    decode dominates I/O), then call ``per_row`` on each row (a named
    tuple of ``frame``'s columns). ``per_row`` returns one output row as
    a dict, or a list of them (zero or more rows per asset); the batch's
    rows become one pandas frame with ``schema``'s columns."""
    names = [f.name for f in schema.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            rows = []
            for r in pdf.itertuples(index=False):
                out = per_row(r)
                if isinstance(out, dict):
                    rows.append(out)
                else:
                    rows.extend(out)
            yield pd.DataFrame(rows, columns=names)

    return ensure_min_parallelism(frame).mapInPandas(batches, schema)


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads."""
    return _per_asset(
        assets,
        FEATURE_SCHEMA,
        lambda r: {
            "asset_id": r.asset_id,
            "kind": r.kind,
            **decode_image_stub(r.payload),
        },
    )


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Build a binary-asset table from the documents fixture (utf-8 payload)
    — stands in for an image/audio table with identical plumbing."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.col("source").alias("source"),
            F.col("n_chars").cast("long").alias("declared_bytes"),
        ).alias("meta"),
    )


@register(
    "x30_multimodal_features",
    """
    SELECT doc_id AS asset_id,
           'text' AS kind,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash,
           strlen(text) > 0 AS feature_ok
    FROM documents
    """,
)
def x30_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Binary-column feature extraction via mapInPandas (Arrow batches).
    Payloads are utf-8 document bytes here; md5/byte-length features are
    deterministic, so the whole binary pipeline is oracle-checkable."""
    d = t(spark, sf_dir, "documents")
    return extract_features(documents_as_assets(d))


RESIZE_TARGET = 32
FRAME_STRIDE = 4

TRANSFORM_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("orig_w", T.LongType(), True),
        T.StructField("orig_h", T.LongType(), True),
        T.StructField("scale_x", T.DoubleType(), True),
        T.StructField("scale_y", T.DoubleType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("n_sampled", T.LongType(), True),
    ]
)


def decode_dims_stub(payload: bytes, fake: bool = True) -> tuple[int, int, int]:
    """Header-parse slot (PIL.Image.open(...).size / av container probe).
    Fake mode derives deterministic dimensions and a frame count from the
    content hash, so the full resize / frame-sample plumbing is exercised
    — and oracle-checkable — without a media lib. ``fake=False`` attempts
    the real PIL header parse (``n_frames`` for multi-frame containers)
    and raises ``NotImplementedError`` only when PIL is absent. A NULL /
    corrupt / unparseable payload degrades to ``(0, 0, 0)`` — one bad
    row must flag, not fail, the whole resize/frame-sample job (same
    policy as ``decode_image_stub``'s feature_ok=False)."""
    if not fake:
        try:
            from PIL import Image
        except ImportError as exc:
            raise NotImplementedError(
                "media header parse requires an image library (PIL) not "
                "present in this runtime; install pillow to enable it"
            ) from exc
        import io

        if not payload:
            return 0, 0, 0
        try:
            img = Image.open(io.BytesIO(payload))
            w, ht = img.size
            return w, ht, int(getattr(img, "n_frames", 1))
        except Exception:
            return 0, 0, 0
    import hashlib

    h = hashlib.md5(payload).hexdigest()
    w = 16 + int(h[0:2], 16) % 64
    ht = 16 + int(h[2:4], 16) % 64
    n_frames = 8 + int(h[4:6], 16) % 56
    return w, ht, n_frames


def resize_and_sample(assets: DataFrame) -> DataFrame:
    """Image-resize + video-frame-sample metadata pass over binary payloads
    (one :func:`_per_asset` pass). In a real deployment the same batch
    shape carries the resized pixel buffers / sampled frames as binary
    columns; here the decode is the deterministic stub above."""

    def per_row(r) -> dict:
        w, h, nf = decode_dims_stub(r.payload)
        return {
            "asset_id": r.asset_id,
            "kind": r.kind,
            "orig_w": w,
            "orig_h": h,
            # numpy division: a (0, 0, 0) unparseable header scales to inf
            "scale_x": np.float64(RESIZE_TARGET) / w,
            "scale_y": np.float64(RESIZE_TARGET) / h,
            "n_frames": nf,
            "n_sampled": (nf + FRAME_STRIDE - 1) // FRAME_STRIDE,
        }

    return _per_asset(assets, TRANSFORM_SCHEMA, per_row)


_HEX = "strpos('0123456789abcdef', substring({h}, {i}, 1)) - 1"


def _hex2(h: str, i: int) -> str:
    """Two hex digits of md5 column expression ``h`` at 1-based pos i."""
    return f"(({_HEX.format(h=h, i=i)}) * 16 + ({_HEX.format(h=h, i=i + 1)}))"


_RESIZE_ORACLE = f"""
    WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
    dims AS (
      SELECT doc_id,
             16 + {_hex2('h', 1)} % 64 AS orig_w,
             16 + {_hex2('h', 3)} % 64 AS orig_h,
             8 + {_hex2('h', 5)} % 56 AS n_frames
      FROM hashed
    )
    SELECT doc_id AS asset_id, 'text' AS kind,
           CAST(orig_w AS BIGINT) AS orig_w,
           CAST(orig_h AS BIGINT) AS orig_h,
           CAST({RESIZE_TARGET} AS DOUBLE) / orig_w AS scale_x,
           CAST({RESIZE_TARGET} AS DOUBLE) / orig_h AS scale_y,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST((n_frames + {FRAME_STRIDE} - 1) // {FRAME_STRIDE} AS BIGINT) AS n_sampled
    FROM dims
"""


@register("x31_multimodal_resize_sample", _RESIZE_ORACLE)
def x31_multimodal_resize_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Resize / frame-sample plumbing over binary assets: dimensions and
    frame counts come from the (stubbed, hash-deterministic) decode; scale
    factors and sampled-frame counts are computed in the Arrow batch —
    the exact pipeline shape a PIL/pyav decode slots into."""
    d = t(spark, sf_dir, "documents")
    return resize_and_sample(documents_as_assets(d))


# ---------------------------------------------------------------------------
# REAL image decode, zero dependencies: PNG encode→decode round trip.
# The decode stubs above slot a media lib in when one exists; this path
# proves the decode plumbing with an ACTUAL codec — PNG needs only zlib
# (stdlib): the engine synthesizes valid 8-bit grayscale PNGs (correct
# chunk CRCs, deflate-compressed scanlines) and a separate decode stage
# walks the chunk stream, CRC-checks IHDR, inflates every IDAT, and
# validates the scanline byte count. The oracle predicts the generator's
# md5-derived dimensions, so a parser that misreads the header (or skips
# the inflate) cannot hash-match.
# ---------------------------------------------------------------------------

PNG_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

PNG_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("bit_depth", T.LongType(), True),
        T.StructField("color_type", T.LongType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("crc_ok", T.BooleanType(), True),
        T.StructField("idat_ok", T.BooleanType(), True),
    ]
)


def encode_png_gray8(width: int, height: int, seed: int) -> bytes:
    """A valid minimal 8-bit grayscale PNG: IHDR + one IDAT + IEND, filter
    type 0 per scanline, pixel (r, c) = (seed·31 + r·7 + c·13) mod 256."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = bytearray()
    for r in range(height):
        raw.append(0)  # filter: None
        for c in range(width):
            raw.append((seed * 31 + r * 7 + c * 13) % 256)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def decode_png_header(payload: bytes) -> dict:
    """REAL PNG decode (no media lib): signature check, IHDR parse with
    CRC verification, full IDAT inflate with scanline-length validation.
    Returns NULL-ish fields (and ok=False flags) for unparseable payloads
    — one bad asset flags, never fails, the batch (same policy as
    :func:`decode_image_stub`)."""
    import struct
    import zlib

    bad = {
        "width": None, "height": None, "bit_depth": None, "color_type": None,
        "n_pixels": None, "crc_ok": False, "idat_ok": False,
    }
    if not payload or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return bad
    try:
        pos, idat = 8, b""
        out = dict(bad)
        while pos + 8 <= len(payload):
            (length,) = struct.unpack(">I", payload[pos:pos + 4])
            ctype = payload[pos + 4:pos + 8]
            data = payload[pos + 8:pos + 8 + length]
            (crc,) = struct.unpack(
                ">I", payload[pos + 8 + length:pos + 12 + length]
            )
            if ctype == b"IHDR":
                w, h, depth, color = struct.unpack(">IIBB", data[:10])
                out.update(
                    width=w, height=h, bit_depth=depth, color_type=color,
                    n_pixels=w * h,
                    crc_ok=(zlib.crc32(ctype + data) & 0xFFFFFFFF) == crc,
                )
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + length
        if out["width"] is not None and out["crc_ok"]:
            raw = zlib.decompress(idat)
            # grayscale-8: each scanline = 1 filter byte + width samples
            out["idat_ok"] = len(raw) == out["height"] * (1 + out["width"])
        return out
    except Exception:
        return bad


def documents_as_png_assets(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL (decodable, CRC-valid) PNG per document, with
    md5-derived dimensions — w = 8 + hex[0:2] % 32, h = 8 + hex[2:4] % 32
    (the x31 stub's derivation, smaller range) — so the decode stage's
    output is predictable by the SQL oracle without the oracle having to
    decode anything. Arrow-batched; at scale this stage is where real
    image bytes would enter from a binaryFile read instead."""
    import hashlib

    def per_row(r) -> dict:
        hx = hashlib.md5(r.text.encode("utf-8")).hexdigest()
        w = 8 + int(hx[0:2], 16) % 32
        h = 8 + int(hx[2:4], 16) % 32
        return {"asset_id": r.doc_id, "payload": encode_png_gray8(w, h, r.doc_id)}

    return _per_asset(docs.select("doc_id", "text"), PNG_SCHEMA, per_row)


def decode_png_assets(assets: DataFrame) -> DataFrame:
    """Arrow-batched real-PNG decode stage (header + CRC + inflate)."""
    return _per_asset(
        assets,
        PNG_DECODE_SCHEMA,
        lambda r: {"asset_id": r.asset_id, **decode_png_header(r.payload)},
    )


_PNG_ORACLE = f"""
    WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
    dims AS (
      SELECT doc_id,
             8 + {_hex2('h', 1)} % 32 AS w,
             8 + {_hex2('h', 3)} % 32 AS ht
      FROM hashed
    )
    SELECT doc_id AS asset_id,
           CAST(w AS BIGINT) AS width,
           CAST(ht AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bit_depth,
           CAST(0 AS BIGINT) AS color_type,
           CAST(w * ht AS BIGINT) AS n_pixels,
           TRUE AS crc_ok,
           TRUE AS idat_ok
    FROM dims
"""


@register("x89_png_decode_roundtrip", _PNG_ORACLE)
def x89_png_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] REAL image decode, end to end and dependency-free: synthesize a
    valid 8-bit grayscale PNG per document (deflate IDAT, correct chunk
    CRCs), then DECODE it for real in a second Arrow stage — chunk walk,
    IHDR CRC verification, full zlib inflate, scanline-count validation.
    The oracle predicts the md5-derived dimensions independently, so the
    round trip certifies the codec path (a misparsed header, a skipped
    CRC, or a truncated inflate all hash-mismatch). This closes the
    'decode is stubbed' caveat on x30/x31 with an actual codec this
    container can run."""
    d = t(spark, sf_dir, "documents")
    return decode_png_assets(documents_as_png_assets(d))


# ---------------------------------------------------------------------------
# REAL WAV (RIFF PCM-16) codec — the audio sibling of the PNG round trip.
# Dependency-free like x89: synthesize a byte-valid mono PCM WAV per
# document (RIFF/WAVE header, fmt + data chunks), then actually parse it
# back — chunk walk driven by the embedded size fields, fmt validation,
# int16 sample unpack — and reduce the samples to stats the oracle can
# predict without touching a single byte (sample i = ((i·37) mod 199) − 99,
# a full-period sawtooth, so abs-sum and peak are range() reductions in
# SQL). A decoder that trusts offsets instead of chunk sizes, misreads
# little-endian fields, or truncates the sample unpack cannot hash-match.
# ---------------------------------------------------------------------------

WAV_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

WAV_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("n_channels", T.LongType(), True),
        T.StructField("bit_depth", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_us", T.LongType(), True),
        T.StructField("peak", T.LongType(), True),
        T.StructField("abs_sum", T.LongType(), True),
        T.StructField("pcm_ok", T.BooleanType(), True),
    ]
)


def encode_wav_pcm16(n_samples: int, sample_rate: int) -> bytes:
    """A byte-valid mono 16-bit PCM WAV: RIFF size header, canonical
    16-byte fmt chunk, data chunk of ``n_samples`` little-endian int16s
    with sample i = ((i·37) mod 199) − 99."""
    import struct

    data = b"".join(
        struct.pack("<h", ((i * 37) % 199) - 99) for i in range(n_samples)
    )
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _parse_wav_pcm16(payload: bytes) -> tuple | None:
    """REAL RIFF parse shared by the stat and frame decoders: header +
    size validation, chunk walk by embedded chunk sizes (word-aligned),
    fmt sanity (PCM, 16-bit), int16 unpack of the data chunk. Returns
    ``(fmt_tuple, data_len, samples)`` or None when invalid."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    (riff_size,) = struct.unpack("<I", payload[4:8])
    if riff_size != len(payload) - 8:
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        ctype = payload[pos : pos + 4]
        (csize,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        cdata = payload[pos + 8 : pos + 8 + csize]
        if ctype == b"fmt ":
            fmt = struct.unpack("<HHIIHH", cdata[:16])
        elif ctype == b"data":
            data = cdata
        pos += 8 + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or data is None or fmt[0] != 1 or fmt[5] != 16:
        return None
    n = len(data) // 2
    samples = struct.unpack(f"<{n}h", data[: n * 2])
    return fmt, len(data), samples


def decode_wav_pcm16(payload: bytes) -> dict:
    """Stat decoder over the shared REAL RIFF parse: peak/abs-sum
    reduction plus rate/layout validation."""
    bad = {
        "sample_rate": None,
        "n_channels": None,
        "bit_depth": None,
        "n_samples": None,
        "duration_us": None,
        "peak": None,
        "abs_sum": None,
        "pcm_ok": False,
    }
    try:
        parsed = _parse_wav_pcm16(payload)
        if parsed is None:
            return bad
        fmt, data_len, samples = parsed
        _audio_fmt, n_ch, rate, byte_rate, block_align, bits = fmt
        n = len(samples)
        return {
            "sample_rate": rate,
            "n_channels": n_ch,
            "bit_depth": bits,
            "n_samples": n,
            "duration_us": n * 1_000_000 // rate,
            "peak": max(samples) if samples else None,
            "abs_sum": sum(abs(s) for s in samples),
            "pcm_ok": byte_rate == rate * n_ch * 2
            and block_align == n_ch * 2
            and data_len == n * 2,
        }
    except Exception:
        return bad


def documents_as_wav_assets(docs: DataFrame) -> DataFrame:
    """Synthesize a real decodable WAV per document with md5-derived
    parameters: n_samples = 64 + hex[5:7] % 192, sample_rate =
    8000·(1 + hex[7] % 3). Arrow-batched; at scale this stage is a
    binaryFile read of actual audio objects."""
    import hashlib

    def per_row(r) -> dict:
        hx = hashlib.md5(r.text.encode("utf-8")).hexdigest()
        n = 64 + int(hx[4:6], 16) % 192
        rate = 8000 * (1 + int(hx[6], 16) % 3)
        return {"asset_id": r.doc_id, "payload": encode_wav_pcm16(n, rate)}

    return _per_asset(docs.select("doc_id", "text"), WAV_SCHEMA, per_row)


def decode_wav_assets(assets: DataFrame) -> DataFrame:
    """Arrow-batched real-WAV decode stage (chunk walk + sample unpack)."""
    return _per_asset(
        assets,
        WAV_DECODE_SCHEMA,
        lambda r: {"asset_id": r.asset_id, **decode_wav_pcm16(r.payload)},
    )


_WAV_ORACLE = f"""
    WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
    dims AS (
      SELECT doc_id,
             64 + {_hex2('h', 5)} % 192 AS n,
             8000 * (1 + ({_HEX.format(h='h', i=7)}) % 3) AS rate
      FROM hashed
    ),
    samples AS (
      SELECT doc_id, ((i * 37) % 199) - 99 AS s
      FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM dims)
    ),
    stats AS (
      SELECT doc_id, CAST(MAX(s) AS BIGINT) AS peak,
             CAST(SUM(ABS(s)) AS BIGINT) AS abs_sum
      FROM samples GROUP BY doc_id
    )
    SELECT d.doc_id AS asset_id,
           CAST(d.rate AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(16 AS BIGINT) AS bit_depth,
           CAST(d.n AS BIGINT) AS n_samples,
           CAST(d.n * 1000000 // d.rate AS BIGINT) AS duration_us,
           s.peak, s.abs_sum, TRUE AS pcm_ok
    FROM dims d JOIN stats s USING (doc_id)
"""


@register("x91_wav_decode_roundtrip", _WAV_ORACLE)
def x91_wav_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] REAL audio decode, end to end and dependency-free — the WAV
    sibling of x89's PNG round trip: synthesize a byte-valid mono PCM-16
    WAV per document, then parse it back for real (RIFF size check, chunk
    walk by embedded sizes with word alignment, fmt validation, full
    int16 unpack) and reduce samples to peak/abs-sum. The oracle predicts
    every output column from the md5-derived parameters and the sawtooth
    closed form via a range() reduction — it never sees a byte, so a
    wrong endianness, a mis-walked chunk, or a truncated unpack cannot
    match. Covers the audio leg of the multimodal surface (x30's
    image/video stubs; reference has no audio path — LLM-pipeline
    extension per BASELINE.json)."""
    d = t(spark, sf_dir, "documents")
    return decode_wav_assets(documents_as_wav_assets(d))


# ---------------------------------------------------------------------------
# x107: perceptual hash (aHash) computed from REALLY-decoded PNG pixels.
# The multimodal dedup fingerprint: block-mean 8x8 average hash over the
# decoded image, bit b set iff its block's mean exceeds the image mean —
# computed integer-exactly (cross-multiplied sums, no division) so the
# closed-form oracle can replay every bit without decoding anything.
# ---------------------------------------------------------------------------

AHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("ahash_hi", T.LongType(), True),
        T.StructField("ahash_lo", T.LongType(), True),
    ]
)


def decode_png_pixels(payload: bytes):
    """Full real decode to a height x width uint8 matrix: signature check,
    IHDR parse, IDAT inflate, per-scanline filter-byte strip (filter 0
    only — what :func:`encode_png_gray8` emits; anything else raises)."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos, width, height, idat = 8, None, None, b""
    while pos < len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if ctype == b"IHDR":
            width, height = struct.unpack(">II", data[:8])
            if data[8] != 8 or data[9] != 0:
                raise ValueError("not gray-8")
        elif ctype == b"IDAT":
            idat += data
        pos += 12 + ln
    raw = zlib.decompress(idat)
    if len(raw) != height * (width + 1):
        raise ValueError("scanline length mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, width + 1)
    if rows[:, 0].any():
        raise ValueError("unsupported PNG filter")
    return rows[:, 1:]


def ahash_png_assets(assets: DataFrame) -> DataFrame:
    """8x8 block-mean average hash over really-decoded pixels. Block of a
    pixel: bi = r*8 DIV h, bj = c*8 DIV w (the oracle uses the identical
    mapping); bit = block_sum * n_pixels > total_sum * block_count —
    integer cross-multiplication, so no float mean ever exists to
    diverge. 64 bits packed as two BIGINT halves (1<<63 is not DuckDB-
    representable)."""

    def per_row(r) -> dict:
        img = decode_png_pixels(r.payload).astype(np.int64)
        h, w = img.shape
        bi = (np.arange(h) * 8) // h
        bj = (np.arange(w) * 8) // w
        idx = (bi[:, None] * 8 + bj[None, :]).ravel()
        bs = np.bincount(idx, weights=img.ravel(), minlength=64).astype(np.int64)
        bn = np.bincount(idx, minlength=64).astype(np.int64)
        ts, tn = int(bs.sum()), int(bn.sum())
        bits = (bs * tn) > (ts * bn)
        return {
            "asset_id": r.asset_id,
            "width": w,
            "height": h,
            "ahash_hi": sum(1 << (b - 32) for b in range(32, 64) if bits[b]),
            "ahash_lo": sum(1 << b for b in range(32) if bits[b]),
        }

    return _per_asset(assets, AHASH_SCHEMA, per_row)


#: Closed-form replay of every aHash bit (shared by x107 and x136): the
#: oracle recomputes each synthesized image's pixels from the generator
#: formula and packs the 64 block-mean bits exactly like the decoder path.
_AHASH_HASHES_CTE = f"""hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
    dims AS (
      SELECT doc_id,
             8 + {_hex2('h', 1)} % 32 AS w,
             8 + {_hex2('h', 3)} % 32 AS ht
      FROM hashed
    ),
    px AS (
      SELECT doc_id, w, ht,
             ((r.r * 8) // ht) * 8 + ((c.c * 8) // w) AS b,
             (doc_id * 31 + r.r * 7 + c.c * 13) % 256 AS p
      FROM dims, unnest(range(0, ht)) AS r(r), unnest(range(0, w)) AS c(c)
    ),
    blk AS (
      SELECT doc_id, MAX(w) AS w, MAX(ht) AS ht, b,
             SUM(p) AS bs, COUNT(*) AS bn
      FROM px GROUP BY doc_id, b
    ),
    tot AS (
      SELECT doc_id, SUM(bs) AS ts, SUM(bn) AS tn FROM blk GROUP BY doc_id
    ),
    bits AS (
      SELECT blk.doc_id, blk.w, blk.ht, blk.b,
             CASE WHEN blk.bs * tot.tn > tot.ts * blk.bn THEN 1 ELSE 0 END AS bit
      FROM blk JOIN tot ON tot.doc_id = blk.doc_id
    ),
    hashes AS (
      SELECT doc_id AS asset_id,
             CAST(MAX(w) AS BIGINT) AS width,
             CAST(MAX(ht) AS BIGINT) AS height,
             CAST(SUM(CASE WHEN b >= 32 THEN CAST(bit AS BIGINT) << CAST(b - 32 AS INTEGER)
                           ELSE 0 END) AS BIGINT) AS ahash_hi,
             CAST(SUM(CASE WHEN b < 32 THEN CAST(bit AS BIGINT) << CAST(b AS INTEGER)
                           ELSE 0 END) AS BIGINT) AS ahash_lo
      FROM bits GROUP BY doc_id
    )"""

_AHASH_ORACLE = f"""
    WITH {_AHASH_HASHES_CTE}
    SELECT *,
           CAST(COUNT(*) OVER (PARTITION BY ahash_hi, ahash_lo) AS BIGINT)
             AS n_same_hash
    FROM hashes
"""


@register("x107_image_ahash", _AHASH_ORACLE)
def x107_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] PERCEPTUAL IMAGE FINGERPRINT from a REAL decode: every document's
    synthesized PNG (x89's codec) is actually inflated back to pixels and
    reduced to the classic 8x8 block-mean average hash (aHash) — bit b set
    iff block b's mean exceeds the image mean, computed by integer
    cross-multiplication so no float mean exists to diverge; the 64 bits
    pack into two BIGINT halves. A trailing window counts hash collisions
    (n_same_hash), the near-dup clustering signal an image-dedup pipeline
    buckets on before pairwise verification (x04's SimHash idea in pixel
    space). The oracle replays every pixel from the generator's closed
    form — a decoder that misreads a scanline, drops a filter byte, or
    averages in float cannot match. At 100 TB: decode+hash is one Arrow
    pass on scan partitions (zero shuffle); the collision window keys on
    the 64-bit hash only."""
    d = t(spark, sf_dir, "documents")
    hashes = ahash_png_assets(documents_as_png_assets(d))
    from pyspark.sql import Window as W

    return hashes.withColumn(
        "n_same_hash",
        F.count(F.lit(1)).over(W.partitionBy("ahash_hi", "ahash_lo")).cast("long"),
    )


# ---------------------------------------------------------------------------
# x122: frame-level audio features from REALLY-decoded PCM — the feature-
# extraction stage an audio curation pipeline runs after decode (VAD-style
# energy gating, silence trimming, clipping detection all consume per-frame
# energy + zero-crossing tracks). Same dependency-free certification
# geometry as x91: the engine computes features from the real bytes (RIFF
# walk + int16 unpack + framing), the oracle recomputes them from the
# generator's closed form via a range() reduction and never sees a byte.
# ---------------------------------------------------------------------------

WAV_FRAME = 64  # samples per analysis frame

WAV_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("n_in_frame", T.LongType(), True),
        T.StructField("sum_sq", T.LongType(), True),
        T.StructField("peak_abs", T.LongType(), True),
        T.StructField("crossings", T.LongType(), True),
    ]
)


def wav_frame_features(payload: bytes) -> list[dict]:
    """Per-``WAV_FRAME``-sample frame (n, Σs², max|s|, sign crossings)
    from a real PCM parse.

    All-integer reductions (no float RMS — Σs² carries the same signal
    exactly), crossings counted on strict sign products within the frame
    so the closed-form SQL replay is unambiguous."""
    parsed = _parse_wav_pcm16(payload)
    if parsed is None:
        return []
    _, _, samples = parsed
    out = []
    for f in range(0, len(samples), WAV_FRAME):
        chunk = samples[f : f + WAV_FRAME]
        out.append(
            {
                "frame_idx": f // WAV_FRAME,
                "n_in_frame": len(chunk),
                "sum_sq": sum(s * s for s in chunk),
                "peak_abs": max(abs(s) for s in chunk),
                "crossings": sum(
                    1 for a, b in zip(chunk, chunk[1:]) if a * b < 0
                ),
            }
        )
    return out


_X122_ORACLE = f"""
    WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
    dims AS (
      SELECT doc_id, 64 + {_hex2('h', 5)} % 192 AS n FROM hashed
    ),
    samples AS (
      SELECT doc_id, i, i // {WAV_FRAME} AS frame_idx,
             ((i * 37) % 199) - 99 AS s,
             CASE WHEN i % {WAV_FRAME} = 0 THEN NULL
                  ELSE (((i - 1) * 37) % 199) - 99 END AS prev_s
      FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM dims)
    )
    SELECT doc_id AS asset_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(COUNT(*) AS BIGINT) AS n_in_frame,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
           CAST(SUM(CASE WHEN prev_s * s < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS crossings
    FROM samples GROUP BY doc_id, frame_idx
"""


@register("x122_audio_frame_features", _X122_ORACLE)
def x122_audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] FRAME-LEVEL AUDIO FEATURES from real bytes: synthesize the x91
    PCM-16 WAV per document, REALLY parse it back (shared RIFF walk), cut
    the samples into 64-sample frames, and emit the integer feature track
    (Σs², max|s|, strict sign crossings) every audio curation gate
    consumes. Arrow-batched ``mapInPandas``; one output row per frame.
    The oracle replays the generator's closed form per (doc, frame) —
    a framing off-by-one, endianness slip, or dropped tail frame cannot
    hash-match."""
    assets = documents_as_wav_assets(t(spark, sf_dir, "documents"))
    return _per_asset(
        assets,
        WAV_FRAME_SCHEMA,
        lambda r: [
            {"asset_id": r.asset_id, **feat} for feat in wav_frame_features(r.payload)
        ],
    )


# ---------------------------------------------------------------------------
# x136: banded Hamming calibration over the aHash space — the image-side
# sibling of x105's MinHash banding calibration: before an image-dedup run
# commits to "4 bands of 16 bits, verify at Hamming<=t", measure what the
# banding actually surfaces on this corpus.
# ---------------------------------------------------------------------------

_X136_ORACLE = f"""
    WITH {_AHASH_HASHES_CTE},
    keyed AS (
      SELECT asset_id, ahash_hi, ahash_lo, b.band,
             CASE b.band
               WHEN 0 THEN ahash_lo % 65536
               WHEN 1 THEN ahash_lo // 65536
               WHEN 2 THEN ahash_hi % 65536
               ELSE ahash_hi // 65536
             END AS bkey
      FROM hashes CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.asset_id AS id_a, b.asset_id AS id_b,
             a.ahash_hi AS hi_a, a.ahash_lo AS lo_a,
             b.ahash_hi AS hi_b, b.ahash_lo AS lo_b
      FROM keyed a
      JOIN keyed b ON a.band = b.band AND a.bkey = b.bkey
                  AND a.asset_id < b.asset_id
    ),
    ham AS (
      SELECT bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS hd
      FROM cand
    )
    SELECT CAST(hd // 8 AS BIGINT) AS ham_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(hd) AS BIGINT) AS min_ham,
           CAST(MAX(hd) AS BIGINT) AS max_ham
    FROM ham GROUP BY 1
"""


@register("x136_ahash_hamming_histogram", _X136_ORACLE)
def x136_ahash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] BANDED HAMMING CALIBRATION for image near-dup — every
    synthesized PNG is really decoded to its 64-bit aHash (x107's
    kernel), the hash is cut into 4 bands of 16 bits, band-equal asset
    pairs become candidates (the SimHash/Charikar banding trick in pixel
    space: a pair within Hamming distance r survives banding with
    probability 1-(1-(1-r/64)^16)^4), and the candidate set is rolled up
    into a Hamming-distance histogram (buckets of 8 bits). This is the
    decision artifact an image-dedup run reads before committing to a
    banding config — the pixel-space twin of x105's MinHash S-curve
    calibration: bucket 0 is the near-dup mass the banding would
    surface, the high buckets are the false-candidate load the verifier
    must absorb.

    Scale shape: candidates come ONLY from band-key equi-joins (4 keyed
    shuffles of |assets| rows each, never all-pairs); the decode runs
    once (localCheckpoint pins the hash frame so the self-join cannot
    re-decode); the histogram is <=9 rows. A 16-bit band caps expected
    random collisions per band at |assets|^2/65536 — at larger fleets
    the band width widens with log2(|assets|), exactly the calibration
    this report informs."""
    d = t(spark, sf_dir, "documents")
    hashes = ahash_png_assets(documents_as_png_assets(d)).select(
        "asset_id", "ahash_hi", "ahash_lo"
    ).localCheckpoint()
    keyed = hashes.select(
        "asset_id",
        "ahash_hi",
        "ahash_lo",
        F.posexplode(
            F.array(
                F.col("ahash_lo") % 65536,
                F.expr("ahash_lo DIV 65536"),
                F.col("ahash_hi") % 65536,
                F.expr("ahash_hi DIV 65536"),
            )
        ).alias("band", "bkey"),
    )
    cand = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("id_a"),
            F.col("b.asset_id").alias("id_b"),
            F.col("a.ahash_hi").alias("hi_a"),
            F.col("a.ahash_lo").alias("lo_a"),
            F.col("b.ahash_hi").alias("hi_b"),
            F.col("b.ahash_lo").alias("lo_b"),
        )
        .distinct()
    )
    ham = cand.select(
        (
            F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
            + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        ).alias("hd")
    )
    return ham.groupBy(F.expr("hd DIV 8").cast("long").alias("ham_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("hd").cast("long").alias("min_ham"),
        F.max("hd").cast("long").alias("max_ham"),
    )


# ---------------------------------------------------------------------------
# x151: energy-gated VAD segmentation — the curation step that consumes
# x122's frame feature track: threshold frame energy, then stitch
# consecutive voiced frames into segments (gaps-and-islands), which is
# how an audio pipeline finds speech spans to keep and silence to trim
# before any expensive model touches the bytes.
# ---------------------------------------------------------------------------

#: frame Σs² gate: the synthetic PCM's full frames carry ~155k-213k
#: (phase-dependent) and tail frames much less, so 180000 splits the
#: track non-vacuously at every fixture scale.
_X151_ENERGY_GATE = 180000

_X151_ORACLE = f"""
    WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
    dims AS (
      SELECT doc_id, 64 + {_hex2('h', 5)} % 192 AS n FROM hashed
    ),
    samples AS (
      SELECT doc_id, i // {WAV_FRAME} AS frame_idx,
             ((i * 37) % 199) - 99 AS s
      FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM dims)
    ),
    frames AS (
      SELECT doc_id AS asset_id, frame_idx, SUM(s * s) AS sum_sq
      FROM samples GROUP BY 1, 2
    ),
    voiced AS (
      SELECT asset_id, frame_idx, sum_sq,
             frame_idx - ROW_NUMBER() OVER (PARTITION BY asset_id
                                            ORDER BY frame_idx) AS island
      FROM frames WHERE sum_sq >= {_X151_ENERGY_GATE}
    )
    SELECT asset_id,
           CAST(MIN(frame_idx) AS BIGINT) AS seg_start,
           CAST(MAX(frame_idx) AS BIGINT) AS seg_end,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(sum_sq) AS BIGINT) AS energy_sum
    FROM voiced GROUP BY asset_id, island
"""


@register("x151_vad_energy_segments", _X151_ORACLE)
def x151_vad_energy_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] VOICE-ACTIVITY SEGMENTS from real decoded PCM: x122's
    frame-level Σs² energy track (synthesize → REAL RIFF parse →
    framing, Arrow-batched) is gated at a fixed energy threshold and
    consecutive voiced frames are stitched into segments via
    gaps-and-islands (frame_idx − row_number — the same island idiom as
    x86's diagonal runs), emitting (segment start/end frame, length,
    total energy) per asset. This is the trim/keep decision an audio
    curation pipeline makes before decode-expensive stages; the oracle
    replays the generator's closed form plus the identical island
    construction and never sees a byte.

    Scale shape: framing is scan-local in the decode UDF; the island
    window keys on asset_id (per-file frame tracks — thousands of rows,
    never corpus-wide); the rollup is (asset, island)-keyed. All
    integers; segment identity is exact."""
    from pyspark.sql import Window as W

    frames = x122_audio_frame_features(spark, sf_dir)
    voiced = frames.where(F.col("sum_sq") >= _X151_ENERGY_GATE).withColumn(
        "island",
        F.col("frame_idx")
        - F.row_number().over(
            W.partitionBy("asset_id").orderBy("frame_idx")
        ),
    )
    return voiced.groupBy("asset_id", "island").agg(
        F.min("frame_idx").cast("long").alias("seg_start"),
        F.max("frame_idx").cast("long").alias("seg_end"),
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum("sum_sq").cast("long").alias("energy_sum"),
    ).drop("island")

"""Deterministic synthetic corpora for tests + benchmarks.

Two families (see FIXTURES.md):

* ``web_pages`` — the north-star input table
  ``(url string, warc_ts timestamp, html binary, text string, lang string)``
  of Common-Crawl-style pages. Every column is a *pure function of the url*
  (FIXTURES.md F1: byte-identical-per-url invariant), domains are Zipf-skewed
  (head-heavy for skew testing), and whole domain-hours are deliberately
  carved out to exercise gap-fill.

* panel fixtures — statsforecast-shaped long panels
  (``unique_id, ds, y [, static_*]``) mirroring the reference's
  ``generate_series`` (reference utils.py:18-56) plus the public-domain
  AirPassengers golden series (reference utils.py:59-217), intermittent
  demand series (FIXTURES.md F4) and the cv panel (F5).

Generation is Spark-side (``spark.range`` + hash functions + sequence/explode)
so it scales to any row count without a driver bottleneck; the only pandas UDF
is the vectorized text synthesizer (numpy, no per-row Python in the hot path).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

# ---------------------------------------------------------------------------
# web_pages (F1)
# ---------------------------------------------------------------------------

BASE_EPOCH = "2026-01-01 00:00:00"
SPAN_DAYS = 14
LANGS = ["en", "de", "es", "fr", "zh", "pt", "it", "ru", "ja", "nl"]

_HTML_PREFIX = "<html><body>"
_HTML_SUFFIX = "</body></html>"

# deterministic pseudo-word vocabulary: 16^3 = 4096 trisyllabic words
_SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ka", "le", "mi",
    "no", "pu", "ra", "se", "ti", "vo", "wu", "zy",
]
VOCAB = np.array(
    [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES],
    dtype="<U6",
)
_MAX_TOKENS = 300


# fixed-width transport: every vocab word is exactly 6 ASCII chars; append the
# separator so a row's text is the first (7·k − 1) bytes of its word block.
_VOCAB7 = np.array([w + " " for w in VOCAB], dtype="S7")
_GEN_CHUNK = 8192


def _texts_from_hash(uhash: np.ndarray) -> pd.Series:
    """Vectorized text synthesis: uint64 url-hash → pseudo-text string.

    n_tokens in [10, 300) (≈69–2092 chars); token j of row i is a
    multiplicative hash of (uhash_i, j) into the 4096-word vocabulary.
    Zero per-row Python: token matrices are sliced into one contiguous
    byte buffer + offsets and handed to Arrow directly.
    """
    import pyarrow as pa

    u_all = uhash.astype(np.uint64)
    j = np.arange(_MAX_TOKENS, dtype=np.uint64)
    chunks = []
    for s in range(0, u_all.shape[0], _GEN_CHUNK):
        u = u_all[s : s + _GEN_CHUNK]
        n = u.shape[0]
        n_tok = (10 + (u % np.uint64(290))).astype(np.int64)
        mixed = (u[:, None] ^ (j[None, :] * np.uint64(0x9E3779B97F4A7C15))) * np.uint64(
            0xBF58476D1CE4E5B9
        )
        tok_ids = ((mixed >> np.uint64(24)) & np.uint64(4095)).astype(np.int64)
        blocks = _VOCAB7[tok_ids].view("S1").reshape(n, _MAX_TOKENS * 7)
        byte_len = n_tok * 7 - 1
        mask = np.arange(_MAX_TOKENS * 7)[None, :] < byte_len[:, None]
        data = blocks[mask].tobytes()
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(byte_len, out=offsets[1:])
        chunks.append(
            pa.StringArray.from_buffers(
                n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)
            )
        )
    return pa.chunked_array(chunks).to_pandas()


@F.pandas_udf(T.StringType())
def _text_udf(uhash: pd.Series) -> pd.Series:
    return _texts_from_hash(uhash.to_numpy(dtype=np.int64).view(np.uint64))


def web_pages(
    spark: SparkSession,
    n_rows: int,
    n_domains: int = 1000,
    seed: int = 42,
    gap_mod: int = 9,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic Common-Crawl-style pages table.

    Schema: (url string, warc_ts timestamp, html binary, text string, lang string).
    Deterministic under any partitioning: every column is a pure function of
    the row index / url. Domains ~ Zipf(s≈1): domain rank = n_domains ** U,
    U uniform from a row hash, so p(rank) ∝ 1/rank. Whole (domain, hour)
    cells where hash % gap_mod == 0 are dropped → guaranteed gaps for
    gap-fill tests. Actual row count is therefore slightly below ``n_rows``.
    """
    df = spark.range(0, n_rows, numPartitions=partitions)
    s = F.lit(seed)
    h_dom = F.abs(F.xxhash64(s, F.lit("dom"), "id"))
    u01 = (h_dom % F.lit(1 << 30)).cast("double") / F.lit(float(1 << 30))
    domain_rank = F.least(
        F.lit(n_domains), (F.pow(F.lit(float(n_domains)), u01)).cast("long") + F.lit(0)
    )
    domain = F.concat(F.lit("d"), domain_rank.cast("string"), F.lit(".example.com"))
    path = F.lpad(F.conv(F.abs(F.xxhash64(s, F.lit("path"), "id")).cast("string"), 10, 16), 16, "0")
    url = F.concat(F.lit("https://"), domain, F.lit("/p/"), path)

    df = df.withColumn("url", url).withColumn("domain", domain)
    # all remaining columns are pure functions of the url string
    uh = F.xxhash64(F.lit(seed), F.col("url"))
    off = F.abs(F.xxhash64(F.lit(seed), F.lit("ts"), F.col("url"))) % F.lit(SPAN_DAYS * 86400)
    warc_ts = F.timestamp_seconds(F.unix_timestamp(F.lit(BASE_EPOCH)) + off)
    hour_idx = F.floor(off / F.lit(3600))
    keep = (F.abs(F.xxhash64(F.lit(seed), F.lit("gap"), F.col("domain"), hour_idx)) % gap_mod) != 0
    lang = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]),
        (F.abs(F.xxhash64(F.lit(seed), F.lit("lang"), F.col("url"))) % len(LANGS) + 1).cast("int"),
    )
    df = (
        df.where(keep)
        .withColumn("warc_ts", warc_ts)
        .withColumn("lang", lang)
        .withColumn("text", _text_udf(uh))
        .withColumn(
            "html",
            F.encode(F.concat(F.lit(_HTML_PREFIX), F.col("text"), F.lit(_HTML_SUFFIX)), "UTF-8"),
        )
        .select("url", "warc_ts", "html", "text", "lang")
    )
    return df


def extract_text(pages: DataFrame) -> DataFrame:
    """The extraction stage html→text (north-star invariant: byte-identical
    to the stored ``text`` column). Pure Spark expressions — the wrapper is
    exact so extraction is an exact substring; no UDF, fully codegen'd.
    """
    s = F.decode(F.col("html"), "UTF-8")
    extracted = F.expr(
        f"substring(decode(html, 'UTF-8'), {len(_HTML_PREFIX) + 1}, "
        f"length(decode(html, 'UTF-8')) - {len(_HTML_PREFIX) + len(_HTML_SUFFIX)})"
    )
    return pages.withColumn("extracted_text", extracted)


# ---------------------------------------------------------------------------
# panel fixtures (F2, F4, F5) — statsforecast-shaped long panels
# ---------------------------------------------------------------------------

def panel_series(
    spark: SparkSession,
    n_series: int = 100,
    min_length: int = 50,
    max_length: int = 500,
    season_length: int = 7,
    n_static: int = 0,
    seed: int = 42,
    end_date: str = "2026-01-01",
) -> DataFrame:
    """Daily panel ``(unique_id string, ds timestamp, y float, static_i int)``.

    Mirrors the semantics of the reference generator (utils.py:18-56): per-series
    length uniform in [min_length, max_length], y = trend + m-seasonality +
    hash noise, all pure functions of (unique_id, step). Series share a common
    end date (equal_ends) so cross-validation cutoffs align.
    """
    df = spark.range(n_series).withColumn(
        "unique_id", F.concat(F.lit("series_"), F.col("id").cast("string"))
    )
    hlen = F.abs(F.xxhash64(F.lit(seed), F.lit("len"), "unique_id"))
    length = (hlen % (max_length - min_length + 1) + min_length).cast("int")
    df = df.withColumn("length", length)
    for i in range(n_static):
        df = df.withColumn(
            f"static_{i}",
            (F.abs(F.xxhash64(F.lit(seed), F.lit(f"st{i}"), "unique_id")) % 100).cast("int"),
        )
    df = df.withColumn("step", F.explode(F.sequence(F.lit(0), F.col("length") - 1)))
    ds = F.date_add(F.to_date(F.lit(end_date)), (F.col("step") - F.col("length") + 1))
    noise = (
        (F.abs(F.xxhash64(F.lit(seed), F.lit("y"), "unique_id", "step")) % 1000).cast("double")
        / 1000.0
        - 0.5
    )
    base = (F.abs(F.xxhash64(F.lit(seed), F.lit("base"), "unique_id")) % 50).cast("double")
    trend = F.col("step").cast("double") * 0.1
    seas = F.sin(
        F.col("step").cast("double") * (2.0 * float(np.pi) / season_length)
    ) * 5.0
    y = (base + trend + seas + noise).cast("float")
    out = df.select(
        "unique_id",
        F.to_timestamp(ds).alias("ds"),
        y.alias("y"),
        *[f"static_{i}" for i in range(n_static)],
    )
    return out


def intermittent_series(
    spark: SparkSession,
    n_series: int = 100,
    length: int = 120,
    seed: int = 42,
) -> DataFrame:
    """Sparse-demand panel (F4): ≈85% exact zeros, seeded positive demands,
    plus one all-zeros series (zero-demand guard for ADIDA/Croston)."""
    df = (
        spark.range(n_series)
        .withColumn("unique_id", F.concat(F.lit("sparse_"), F.col("id").cast("string")))
        .withColumn("step", F.explode(F.sequence(F.lit(0), F.lit(length - 1))))
    )
    h = F.abs(F.xxhash64(F.lit(seed), F.lit("dem"), "unique_id", "step"))
    demand = F.when(
        (h % 100 < 15) & (F.col("id") != 0),  # series 0 stays all-zero
        (h % 7 + 1).cast("double"),
    ).otherwise(F.lit(0.0))
    ds = F.date_add(F.to_date(F.lit("2025-09-03")), F.col("step"))
    return df.select(
        "unique_id", F.to_timestamp(ds).alias("ds"), demand.cast("float").alias("y")
    )


# Public-domain Box & Jenkins airline passengers series, 1949-01..1960-12
# (same golden fixture the reference uses, utils.py:59-217).
AIR_PASSENGERS = np.array(
    [112, 118, 132, 129, 121, 135, 148, 148, 136, 119, 104, 118,
     115, 126, 141, 135, 125, 149, 170, 170, 158, 133, 114, 140,
     145, 150, 178, 163, 172, 178, 199, 199, 184, 162, 146, 166,
     171, 180, 193, 181, 183, 218, 230, 242, 209, 191, 172, 194,
     196, 196, 236, 235, 229, 243, 264, 272, 237, 211, 180, 201,
     204, 188, 235, 227, 234, 264, 302, 293, 259, 229, 203, 229,
     242, 233, 267, 269, 270, 315, 364, 347, 312, 274, 237, 278,
     284, 277, 317, 313, 318, 374, 413, 405, 355, 306, 271, 306,
     315, 301, 356, 348, 355, 422, 465, 467, 404, 347, 305, 336,
     340, 318, 362, 348, 363, 435, 491, 505, 404, 359, 310, 337,
     360, 342, 406, 396, 420, 472, 548, 559, 463, 407, 362, 405,
     417, 391, 419, 461, 472, 535, 622, 606, 508, 461, 390, 432],
    dtype=np.float64,
)


def air_passengers_df(spark: SparkSession) -> DataFrame:
    """144-month golden fixture as a panel DataFrame."""
    pdf = pd.DataFrame(
        {
            "unique_id": "AirPassengers",
            "ds": pd.date_range("1949-01-31", periods=144, freq="ME"),
            "y": AIR_PASSENGERS.astype(np.float32),
        }
    )
    return spark.createDataFrame(pdf)


# --------------------------------------------------------------------------- #
# BMP synthesis — pure-numpy 24-bit uncompressed Windows BMP (round-4: the
# real media payload for the multimodal decode path; no PIL in this
# environment, and BMP needs none)
# --------------------------------------------------------------------------- #

def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit uncompressed BMP.

    Follows the BITMAPINFOHEADER layout: 14-byte file header, 40-byte info
    header, rows bottom-up, channels BGR, each row zero-padded to a 4-byte
    boundary. Pure numpy + struct — the deterministic counterpart of
    ``sparkts.operators.multimodal.decode_bmp``."""
    import struct

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got {px.shape}")
    h, w, _ = px.shape
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        body += px[r, :, ::-1].tobytes()  # RGB → BGR
        body += b"\x00" * pad
    size = 14 + 40 + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return bytes(header + info + body)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    import struct
    import zlib

    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def encode_png(pixels: np.ndarray, filters=None) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an 8-bit truecolor PNG —
    stdlib zlib + struct only (round-5 brief #5; the container has no
    PIL). ``filters`` optionally gives the per-row filter type (0 none,
    1 sub, 2 up, 3 average, 4 paeth; default all 0) so the decoder's
    unfiltering paths can be exercised — every type is a pure numpy
    transform here and the exact inverse lives in
    ``sparkts.operators.multimodal.decode_png``."""
    import struct
    import zlib

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got {px.shape}")
    h, w, _ = px.shape
    filters = [0] * h if filters is None else list(filters)
    if len(filters) != h:
        raise ValueError("one filter type per row required")
    raw = px.reshape(h, w * 3).astype(np.int64)
    zero = np.zeros(w * 3, dtype=np.int64)
    body = bytearray()
    for r in range(h):
        cur = raw[r]
        prior = raw[r - 1] if r else zero
        left = np.concatenate([np.zeros(3, dtype=np.int64), cur[:-3]])
        ul = np.concatenate([np.zeros(3, dtype=np.int64), prior[:-3]])
        f = int(filters[r])
        if f == 0:
            out = cur
        elif f == 1:
            out = cur - left
        elif f == 2:
            out = cur - prior
        elif f == 3:
            out = cur - (left + prior) // 2
        elif f == 4:
            p = left + prior - ul
            pa, pb, pc = (np.abs(p - left), np.abs(p - prior),
                          np.abs(p - ul))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prior, ul))
            out = cur - pred
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        body += bytes([f]) + (out % 256).astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(body)))
            + _png_chunk(b"IEND", b""))


def png_from_text(text: str, width: int = 17, height: int = 15) -> bytes:
    """Deterministic PNG whose pixels are the document's own bytes (the
    PNG counterpart of ``bmp_from_text``); rows cycle through all five
    filter types so a decode exercises every unfilter path."""
    raw = text.encode("utf-8")
    need = width * height * 3
    reps = -(-need // max(len(raw), 1))
    buf = (raw * reps)[:need] if raw else b"\x00" * need
    px = np.frombuffer(buf, dtype=np.uint8).reshape(height, width, 3)
    return encode_png(px, filters=[r % 5 for r in range(height)])


def bmp_from_text(text: str, width: int = 17, height: int = 15) -> bytes:
    """Deterministic BMP whose pixels are the document's own bytes: the
    UTF-8 text, repeated to width·height·3 bytes, reshaped (h, w, RGB).
    Width 17 makes the BMP row stride 51 → 1 padding byte per row, so a
    decoder that mishandles padding (or BGR order, or bottom-up rows)
    produces different channel statistics — exactly what the graded
    media_features oracle checks from the raw text bytes."""
    raw = text.encode("utf-8")
    need = width * height * 3
    reps = -(-need // max(len(raw), 1))
    buf = (raw * reps)[:need] if raw else b"\x00" * need
    px = np.frombuffer(buf, dtype=np.uint8).reshape(height, width, 3)
    return encode_bmp(px)


def encode_bmp_video(frames: list[np.ndarray]) -> bytes:
    """Concatenated-BMP container ("MBMP"): magic + frame count + per-frame
    byte lengths + the BMP payloads back to back — the deterministic video
    stand-in that lets the frame-sampling operator be REAL without ffmpeg
    (each extracted frame is a self-contained 24-bit BMP)."""
    import struct

    payloads = [encode_bmp(f) for f in frames]
    head = b"MBMP" + struct.pack("<I", len(payloads))
    head += b"".join(struct.pack("<I", len(p)) for p in payloads)
    return head + b"".join(payloads)


def encode_jpeg(pixels: np.ndarray, quality: int = 90) -> bytes:
    """Baseline sequential 4:4:4 JPEG encode — the pure-numpy codec in
    ``sparkts.operators.jpeg`` (round 5; lossy, so the media oracles keep
    BMP/PNG where byte-exact pixel recovery is graded)."""
    from sparkts.operators.jpeg import encode_jpeg as _enc

    return _enc(pixels, quality=quality)

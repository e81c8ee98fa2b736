"""Multimodal column operators (SURVEY.md §2 B.9 llm_multimodal +
north-star mandate).

Treats media as opaque ``binary`` payload columns with typed metadata
structs, exactly as a 100 TB training-data pipeline would: the bytes
travel through shuffles/joins untouched; decode / feature-extraction
runs executor-side over Arrow record batches.

Every row shares two stages:

- :func:`map_rows` is the family's one batch loop (its only
  ``mapInPandas``): it calls a per-row generator with each input row's
  column values and builds one output frame per Arrow batch from the
  tuples it yields. A registered row selects exactly the columns its
  generator reads and keeps only its per-row logic.
- :func:`image_media` is the one image encoder: each document's UTF-8
  bytes become a ``w x h`` RGB image (``w = len % 31 + 1``,
  ``h = len * 7 % 17 + 1``, truncated / zero-padded), stored as PPM
  for even ``doc_id`` and BMP for odd. The decode, pixel-dedup, resize
  and phash rows decode its payloads.

The PPM/BMP codecs and the pixel hash live in
:mod:`weather_etl_spark.media`, outside this package: a Python worker
that unpickles a per-row generator imports them without importing the
operator registry. `llm_mm_decode` drives a real encode -> binary
column -> decode round-trip under an exact arithmetic oracle;
`llm_multimodal` keeps the cheap length-derived measurer for the
metadata-plumbing contract.

Scale notes (100 TB): payload bytes dominate IO — keep them in their
own column (parquet stores columns independently, so metadata-only
queries never read the bytes), partition by acquisition date, and let
mapInPandas process Arrow record batches (bounded memory via
spark.sql.execution.arrow.maxRecordsPerBatch).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_etl_spark.io import read_table
from weather_etl_spark.media import (
    ahash16,
    decode_image,
    doc_pixels,
    encode_bmp,
    encode_ppm,
)
from weather_etl_spark.registry import register


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], ddl: str
) -> DataFrame:
    """The family's one batch loop: ``fn(*row)`` gets each input row's
    column values (in ``df``'s column order) and yields zero or more
    output tuples in ``ddl`` column order. Each Arrow batch becomes one
    pandas frame, built once from every tuple the batch produced;
    columns are assigned by position."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [out for row in pdf.itertuples(index=False, name=None)
                 for out in fn(*row)]
            )

    return df.mapInPandas(run, ddl)


def to_media_frame(docs: DataFrame) -> DataFrame:
    """documents -> media frame: utf-8 payload bytes + metadata struct."""
    payload = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("fake/raw").alias("fmt"),
            F.col("lang").alias("lang"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def image_media(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload binary): each text's UTF-8 bytes
    as a ``len % 31 + 1`` x ``len * 7 % 17 + 1`` RGB image, encoded as
    PPM for an even ``doc_id`` and as BMP for an odd one."""

    def encode(doc_id: int, text: str) -> Iterator[tuple]:
        tb = text.encode("utf-8")
        w = len(tb) % 31 + 1
        h = (len(tb) * 7) % 17 + 1
        enc = encode_ppm if doc_id % 2 == 0 else encode_bmp
        yield doc_id, enc(w, h, doc_pixels(tb, w, h))

    return map_rows(
        docs.select("doc_id", "text"), encode, "doc_id long, payload binary"
    )


@register(
    "llm_multimodal",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS payload_len,
       octet_length(encode(text)) % 640 AS width,
       (octet_length(encode(text)) * 7) % 480 AS height,
       'fake/raw' AS fmt
FROM documents
""",
    doc="Binary payload + metadata struct round-trip through a "
    "mapInPandas decode/measure stage (decode itself stubbed — no "
    "image libs in the container). Oracle recomputes the derived "
    "metadata arithmetically from the text bytes.",
)
def llm_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")

    def measure(doc_id: int, payload: bytes, meta: dict) -> Iterator[tuple]:
        # stand-in decoder: (width, height) derived from the payload length
        n = len(payload)
        yield doc_id, n, n % 640, (n * 7) % 480, meta["fmt"]

    return map_rows(
        to_media_frame(docs),
        measure,
        "doc_id long, payload_len long, width long, height long, fmt string",
    )


@register(
    "llm_mm_framesample",
    oracle="""
WITH v AS (
  SELECT doc_id,
         octet_length(encode(text)) // 100 + 1 AS n_frames
  FROM documents WHERE doc_id <= 50
)
SELECT doc_id,
       unnest(range(0, n_frames, 5)) AS frame_idx,
       CAST(unnest(range(0, n_frames, 5)) * 100 AS BIGINT) AS byte_off
FROM v
""",
    doc="Frame sampling for video-like payloads (every 5th frame of a "
    "payload treated as fixed-100-byte frames): mapInPandas expands "
    "each payload to its sampled frame index/offset rows — the real "
    "pipeline would decode those offsets; here the frame math is the "
    "tested contract (decode stubbed, like decode_image).",
    scale_notes="Expansion happens batch-wise on executors; payload "
    "bytes are read once per batch and never shuffled (only the "
    "sampled index rows move). Frame stride and frame size are "
    "options, not constants, in a real deployment.",
)
def llm_mm_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    frame_bytes, stride = 100, 5
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)

    def sample(doc_id: int, payload: bytes) -> Iterator[tuple]:
        n_frames = len(payload) // frame_bytes + 1
        for idx in range(0, n_frames, stride):
            yield doc_id, idx, idx * frame_bytes

    return map_rows(
        to_media_frame(docs).select("doc_id", "payload"),
        sample,
        "doc_id long, frame_idx long, byte_off long",
    )


@register(
    "llm_mm_decode",
    oracle="""
WITH v AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text))                AS nb,
         octet_length(encode(text)) % 31 + 1       AS width,
         (octet_length(encode(text)) * 7) % 17 + 1 AS height,
         CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt
  FROM documents WHERE doc_id <= 200
)
SELECT doc_id, fmt,
       CAST(width AS BIGINT)            AS width,
       CAST(height AS BIGINT)           AS height,
       CAST(width * height * 3 AS BIGINT) AS n_pix,
       -- sum of the raw UTF-8 BYTES (via hex pairs), not code points:
       -- matches the implementation for any corpus, not just ASCII
       CAST(COALESCE(list_aggregate(list_transform(
              range(1, LEAST(nb, width * height * 3) + 1),
              i -> CAST('0x' || substr(hx, 2*i - 1, 2) AS INTEGER)),
              'sum'), 0)
            AS BIGINT) AS pixel_sum
FROM v
""",
    doc="REAL image decode round-trip: each document is encoded to an "
    "actual PPM P6 (even doc_id) or 24-bit BMP (odd doc_id) binary "
    "payload whose pixels are the document's own bytes, then a "
    "mapInPandas stage parses the file format back (header fields, "
    "BMP bottom-up row order, 4-byte row padding, BGR swap) and emits "
    "dimensions + order-invariant pixel checksum. The oracle "
    "recomputes every output arithmetically from the text, so a "
    "decoder that mis-parses stride/padding/channel order "
    "hash-mismatches. Formats implemented from the public netpbm/BMP "
    "specs — no image libraries involved.",
    scale_notes="Payload bytes are created and consumed inside the "
    "same executor-side Arrow batches — nothing but the derived "
    "feature rows is shuffled. With stored media the encode stage "
    "disappears and decode reads the binary column exactly the same "
    "way (SCALE.md §9).",
)
def llm_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") <= 200
    )

    def decode(doc_id: int, payload: bytes) -> Iterator[tuple]:
        fmt, w, h, pixels = decode_image(payload)
        yield doc_id, fmt, w, h, len(pixels), sum(pixels)

    return map_rows(
        image_media(docs),
        decode,
        "doc_id long, fmt string, width long, height long, "
        "n_pix long, pixel_sum long",
    )


@register(
    "llm_mm_pixel_dedup",
    oracle="""
WITH v AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text))                AS nb,
         octet_length(encode(text)) % 31 + 1       AS width,
         (octet_length(encode(text)) * 7) % 17 + 1 AS height
  FROM documents WHERE doc_id <= 200
), px AS (
  SELECT doc_id, width, height,
         substr(hx, 1, 2 * LEAST(nb, width * height * 3))
           || repeat('0', 2 * GREATEST(width * height * 3 - nb, 0))
           AS pixhex
  FROM v
)
SELECT CAST(width AS BIGINT)  AS width,
       CAST(height AS BIGINT) AS height,
       MIN(doc_id)            AS keep_id,
       COUNT(*)               AS n_copies
FROM px GROUP BY width, height, pixhex
""",
    doc="Content-level image dedup ACROSS container formats: docs are "
    "encoded to PPM (even doc_id) or BMP (odd doc_id), decoded back "
    "through the real codecs, and grouped by decoded pixel content "
    "(width, height, raw RGB bytes) — so the same image stored as PPM "
    "and as BMP dedupes together, which byte-level file hashing "
    "(q_llm_fingerprint on payloads) can never do. Oracle reconstructs "
    "the canonical pixel buffer arithmetically from the text bytes "
    "(truncate/zero-pad to w*h*3) and groups identically.",
    scale_notes="The dedup key is decoded-pixel identity; at 100 TB "
    "group on md5(pixels) (16-byte shuffle keys, computed inside the "
    "same Arrow batch as the decode) instead of shuffling raw pixel "
    "buffers — identical equivalence classes, same two-phase "
    "aggregate. Decode stays executor-side in mapInPandas; only "
    "(w, h, hash) rows shuffle.",
)
def llm_mm_pixel_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") <= 200
    )

    def decode(doc_id: int, payload: bytes) -> Iterator[tuple]:
        _fmt, w, h, pixels = decode_image(payload)
        yield doc_id, w, h, pixels.hex().upper()

    decoded = map_rows(
        image_media(docs),
        decode,
        "doc_id long, width long, height long, pixhex string",
    )
    return decoded.groupBy("width", "height", "pixhex").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("width", "height", "keep_id", "n_copies")


@register(
    "llm_mm_audio_window",
    oracle="""
WITH v AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS len
  FROM documents WHERE doc_id <= 40
), w AS (
  SELECT doc_id, hx, len, unnest(range(0, len, 32)) AS byte_off
  FROM v
)
SELECT doc_id,
       CAST(byte_off // 32 AS BIGINT) AS win_idx,
       CAST(byte_off AS BIGINT) AS byte_off,
       CAST(LEAST(64, len - byte_off) AS BIGINT) AS win_len,
       CAST(len(list_filter(
              range(0, CAST(LEAST(64, len - byte_off) AS INT)),
              i -> substr(hx, CAST(2 * (byte_off + i) + 1 AS BIGINT), 2)
                   = '20')) AS BIGINT) AS n_spaces
FROM w
""",
    doc="Audio-style OVERLAPPED windowing over binary payloads "
    "(win=64 bytes, hop=32 — the STFT frame layout): mapInPandas "
    "expands each payload into its window rows and computes a real "
    "content-derived feature per window (space-byte count, the "
    "deterministic stand-in for RMS energy — audio codecs aren't in "
    "this container, so the decode is the documented stub while the "
    "batching, expansion, and per-window byte arithmetic are the "
    "tested contract). The oracle recomputes every window over the "
    "hex encoding of the SAME UTF-8 bytes (2 hex chars per byte, "
    "space = '20'), so both sides index bytes — parity holds for "
    "non-ASCII text, not just the current ASCII fixture.",
    scale_notes="Same executor-side expansion contract as "
    "llm_mm_framesample: payload bytes are read once per Arrow batch "
    "and never shuffled; only (doc, window, feature) rows move. "
    "Overlap factor (win/hop = 2x) multiplies output rows, not "
    "payload reads.",
)
def llm_mm_audio_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    win, hop = 64, 32
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 40)

    def windows(doc_id: int, payload: bytes) -> Iterator[tuple]:
        for off in range(0, len(payload), hop):
            seg = payload[off : off + win]
            yield doc_id, off // hop, off, len(seg), seg.count(b" ")

    return map_rows(
        to_media_frame(docs).select("doc_id", "payload"),
        windows,
        "doc_id long, win_idx long, byte_off long, win_len long, "
        "n_spaces long",
    )


@register(
    "llm_mm_resize",
    oracle="""
WITH v AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text))                AS nb,
         octet_length(encode(text)) % 31 + 1       AS w,
         (octet_length(encode(text)) * 7) % 17 + 1 AS h
  FROM documents WHERE doc_id <= 100
), g AS (
  SELECT doc_id, hx, nb, w, h,
         (w + 1) // 2 AS out_w, (h + 1) // 2 AS out_h
  FROM v
)
SELECT doc_id,
       CAST(out_w AS BIGINT) AS out_w,
       CAST(out_h AS BIGINT) AS out_h,
       CAST(out_w * out_h * 3 AS BIGINT) AS out_npix,
       CAST(COALESCE(list_sum(flatten(list_transform(
              range(0, out_h), yy -> list_transform(
                range(0, out_w * 3), j ->
                  CASE WHEN (yy * 2 * w + (j // 3) * 2) * 3 + (j % 3) < nb
                       THEN CAST('0x' || substr(hx,
                              2 * ((yy * 2 * w + (j // 3) * 2) * 3
                                   + (j % 3)) + 1, 2) AS INTEGER)
                       ELSE 0 END)))), 0) AS BIGINT) AS out_sum
FROM g
""",
    doc="Nearest-neighbor 2x image downsample over binary payloads "
    "(the thumbnail/feature-pyramid step of a multimodal pipeline): "
    "encode each document as PPM/BMP (like llm_mm_decode), decode, "
    "keep every 2nd row and column via numpy strided slicing, emit "
    "the output geometry plus an order-invariant pixel checksum. The "
    "oracle recomputes every kept byte arithmetically (hex-pair "
    "indexing of the same UTF-8 payload, zero-padding beyond the "
    "text), so an off-by-one in stride or row origin hash-mismatches.",
    scale_notes="Same executor-side Arrow-batch contract as "
    "llm_mm_decode: payloads never shuffle, only (doc, geometry, "
    "checksum) rows move. Resize is numpy strided slicing per batch — "
    "vectorized, no per-pixel Python.",
)
def llm_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") <= 100
    )

    def resize(doc_id: int, payload: bytes) -> Iterator[tuple]:
        _fmt, w, h, pixels = decode_image(payload)
        arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)
        sub = arr[::2, ::2, :]
        yield doc_id, sub.shape[1], sub.shape[0], int(sub.size), int(sub.sum())

    return map_rows(
        image_media(docs),
        resize,
        "doc_id long, out_w long, out_h long, out_npix long, out_sum long",
    )


@register(
    "llm_mm_phash_dedup",
    oracle="""
WITH v AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text))                AS nb,
         octet_length(encode(text)) % 31 + 1       AS w,
         (octet_length(encode(text)) * 7) % 17 + 1 AS h
  FROM documents WHERE doc_id <= 200
), vf AS (
  SELECT * FROM v WHERE w >= 4 AND h >= 4
), px AS (
  SELECT doc_id, nb, hx, w, h, unnest(range(0, w * h)) AS p
  FROM vf
), g AS (
  SELECT doc_id,
         ((p // w) * 4 // h) * 4 + ((p % w) * 4 // w) AS blk,
         (CASE WHEN 3 * p < nb
               THEN CAST(('0x' || substr(hx, 2 * (3 * p) + 1, 2)) AS INT)
               ELSE 0 END
        + CASE WHEN 3 * p + 1 < nb
               THEN CAST(('0x' || substr(hx, 2 * (3 * p + 1) + 1, 2)) AS INT)
               ELSE 0 END
        + CASE WHEN 3 * p + 2 < nb
               THEN CAST(('0x' || substr(hx, 2 * (3 * p + 2) + 1, 2)) AS INT)
               ELSE 0 END) AS gray
  FROM px
), blocks AS (
  SELECT doc_id, blk, SUM(gray) AS bs, COUNT(*) AS bn
  FROM g GROUP BY doc_id, blk
), tot AS (
  SELECT doc_id, SUM(bs) AS ts, SUM(bn) AS tn FROM blocks GROUP BY doc_id
), hashes AS (
  SELECT b.doc_id,
         CAST(SUM(CASE WHEN b.bs * t.tn > t.ts * b.bn
                       THEN 1 << b.blk ELSE 0 END) AS BIGINT) AS ahash
  FROM blocks b JOIN tot t USING (doc_id)
  GROUP BY b.doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS dist
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
ORDER BY doc_a, doc_b
""",
    doc="Perceptual-hash image near-dup: documents encode to PPM/BMP, "
    "decode through the real codecs, and hash to a 16-bit average-"
    "hash (4x4 block grid, integer-exact mean comparison); pairs "
    "within Hamming distance 3 are near-duplicates. The Spark side "
    "generates candidates by 4-band LSH over the hash (4 bits per "
    "band: distance <= 3 pigeonholes at least one equal band, so the "
    "banding is provably complete) and verifies with bit_count(xor). "
    "The oracle reconstructs the identical hash arithmetically from "
    "the text bytes and compares ALL pairs — the naive twin of the "
    "banded path, same relation by the pigeonhole bound.",
    scale_notes="Decode + hash run executor-side in mapInPandas; only "
    "(doc_id, 16-bit hash) rows shuffle. The band self-join is the "
    "classic Hamming LSH: candidates ∝ Σ bucket², tunable by band "
    "count/width — at 100 TB widen to a 64-bit hash with 8x8-bit "
    "bands and the same pigeonhole completeness (dist <= 7) holds. "
    "Never an all-pairs comparison on the Spark side.",
)
def llm_mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") <= 200
    )

    def ahash(doc_id: int, payload: bytes) -> Iterator[tuple]:
        _fmt, w, h, pixels = decode_image(payload)
        if w >= 4 and h >= 4:  # a 4x4 block grid needs 4 pixels per side
            yield doc_id, ahash16(w, h, pixels)

    # Checkpoint the (doc_id, 16-bit hash) table: it feeds BOTH sides
    # of the band self-join, and without pinning it the whole
    # encode+decode pipeline would execute twice. The checkpointed
    # relation is hash-sized (8 bytes/doc), never pixels.
    hashes = map_rows(
        image_media(docs), ahash, "doc_id long, ahash long"
    ).localCheckpoint()

    bands = hashes.select(
        "doc_id",
        "ahash",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("band"),
    ).select(
        "doc_id",
        "ahash",
        "band",
        F.expr("shiftright(ahash, band * 4)").bitwiseAND(15).alias(
            "band_val"
        ),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ahash").alias("hash_a"),
        "band",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ahash").alias("hash_b"),
        "band",
        "band_val",
    )
    cand = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "hash_a", "hash_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "dist",
            F.bit_count(
                F.col("hash_a").bitwiseXOR(F.col("hash_b"))
            ).cast("int"),
        )
        .filter(F.col("dist") <= 3)
        .select("doc_a", "doc_b", "dist")
        .orderBy("doc_a", "doc_b")
    )


@register(
    "llm_mm_scenechange",
    oracle="""
WITH v AS (
  SELECT doc_id,
         hex(encode(text || CASE WHEN doc_id % 5 = 0
                                 THEN repeat('=', 120) ELSE '' END)) AS hx,
         octet_length(encode(text))
           + CASE WHEN doc_id % 5 = 0 THEN 120 ELSE 0 END AS len
  FROM documents WHERE doc_id <= 60
), f AS (
  SELECT doc_id, unnest(range(0, len, 100)) AS off, hx, len FROM v
), feat AS (
  SELECT doc_id, CAST(off // 100 AS BIGINT) AS frame_idx,
         CAST(off AS BIGINT) AS byte_off,
         CAST(len(list_filter(
                range(0, CAST(LEAST(100, len - off) AS INT)),
                i -> substr(hx, CAST(2 * (off + i) + 1 AS BIGINT), 2)
                     = '20')) AS DOUBLE)
           / LEAST(100, len - off) AS dens
  FROM f
), d AS (
  SELECT doc_id, frame_idx, byte_off, dens,
         LAG(dens) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS pdens
  FROM feat
)
SELECT doc_id, frame_idx, byte_off,
       ROUND(pdens, 4) AS prev_density, ROUND(dens, 4) AS density,
       ROUND(ABS(dens - pdens), 4) AS delta
FROM d
WHERE pdens IS NOT NULL AND ABS(dens - pdens) >= 0.08
""",
    doc="Video scene-change detection over binary payloads (frames = "
    "consecutive 100-byte windows, feature = space-byte DENSITY per "
    "frame — length-normalized so partial tail frames don't "
    "false-positive; boundary where the frame-to-frame density jump "
    ">= 0.08): the smarter sibling of llm_mm_framesample's fixed "
    "stride — real pipelines sample at scene boundaries, not every "
    "Nth frame. Docs with doc_id % 5 = 0 carry a planted 120-byte "
    "'=' credits segment (zero spaces) so the detector has true "
    "scene cuts to find, mirroring q_llm_prefix_dup's salting. The "
    "oracle recomputes every frame over the hex encoding of the SAME "
    "bytes (space = '20'), so both sides index bytes — parity holds "
    "for non-ASCII payloads, not just the ASCII fixture.",
    scale_notes="Same executor-side expansion contract as "
    "llm_mm_framesample/audio_window: payload bytes are read once "
    "per Arrow batch, frame features computed in the batch, and only "
    "boundary rows (doc, frame, densities) ever move. The LAG is "
    "computed inside the per-payload loop, not as a Spark window — "
    "zero shuffle beyond the final presentation.",
)
def llm_mm_scenechange(spark: SparkSession, sf_dir: str) -> DataFrame:
    frame_bytes, threshold = 100, 0.08
    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 60)
        .withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 5 == 0, F.lit("=" * 120)
                ).otherwise(F.lit("")),
            ),
        )
    )

    def detect(doc_id: int, payload: bytes) -> Iterator[tuple]:
        prev = None
        for idx, off in enumerate(range(0, len(payload), frame_bytes)):
            seg = payload[off : off + frame_bytes]
            dens = seg.count(0x20) / len(seg)
            if prev is not None and abs(dens - prev) >= threshold:
                # raw doubles; rounding happens in Spark so the HALF_UP
                # semantics match the oracle (python round() is
                # banker's — wrong on exact .5s)
                yield doc_id, idx, off, prev, dens, abs(dens - prev)
            prev = dens

    raw = map_rows(
        to_media_frame(docs).select("doc_id", "payload"),
        detect,
        "doc_id long, frame_idx long, byte_off long, "
        "prev_density double, density double, delta double",
    )
    return raw.select(
        "doc_id",
        "frame_idx",
        "byte_off",
        F.round("prev_density", 4).alias("prev_density"),
        F.round("density", 4).alias("density"),
        F.round("delta", 4).alias("delta"),
    )

"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real — schemas, Arrow batch shapes,
mapInPandas iterator signatures, partitioning — while the codec step is
STUBBED (this container has no cv2/PIL/ffmpeg): ``_decode_image`` and
``_decode_audio`` produce a deterministic fake decode from the payload
bytes. Swapping in a real decoder changes one function, not the
pipeline.

Assets are synthesized deterministically from the documents table (no
external data): payload = the doc's utf-8 bytes repeated/truncated to
the size the metadata declares, so every byte is reproducible from
(doc_id). At 100 TB, payloads live in object storage with only
(pointer, meta) in the table; the same mapInPandas kernels apply — the
iterator form streams batches so one oversized asset never materializes
a whole partition in memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries import q, t

ASSETS_DDL = ("asset_id bigint, kind string, payload binary, "
              "width int, height int, sample_rate int, n_frames int")

_KINDS = ("image", "audio", "video")


def make_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic binary assets derived from documents (no I/O)."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return d.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(F.array(*[F.lit(k) for k in _KINDS]),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        (F.col("doc_id") % 64 + 16).cast("int").alias("width"),
        (F.col("doc_id") % 48 + 16).cast("int").alias("height"),
        F.lit(16000).alias("sample_rate"),
        (F.col("doc_id") % 30 + 2).cast("int").alias("n_frames"))


def _decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB decode: deterministic fake image from payload bytes.

    A real implementation would be ``cv2.imdecode(np.frombuffer(payload,
    np.uint8), cv2.IMREAD_GRAYSCALE)`` — unavailable in this container.
    """
    n = width * height
    buf = np.frombuffer(payload, dtype=np.uint8)
    reps = int(np.ceil(n / max(len(buf), 1))) if len(buf) else 1
    if len(buf) == 0:
        return np.zeros((height, width), dtype=np.uint8)
    return np.tile(buf, reps)[:n].reshape(height, width)


def _decode_audio(payload: bytes, sample_rate: int) -> np.ndarray:
    """STUB decode: deterministic fake PCM (int16) from payload bytes."""
    buf = np.frombuffer(payload[: (len(payload) // 2) * 2], dtype=np.int16)
    return buf if len(buf) else np.zeros(1, dtype=np.int16)


@q("mm_metadata", """
SELECT doc_id AS asset_id,
       CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
       END AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5,
       CAST(CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN (doc_id % 64 + 16) * (doc_id % 48 + 16)
            WHEN 1 THEN greatest(octet_length(encode(text)) // 2, 1)
            ELSE -1 END AS BIGINT) AS decoded_units
FROM documents WHERE text IS NOT NULL
""")
def mm_metadata(spark, sf):
    """Feature-extract over binary columns: byte size, content hash,
    and a decoded-shape check — one mapInPandas pass, Arrow-batched.

    ORACLED (round 4): the deterministic stub decode makes every output
    arithmetic — payload is the doc's utf-8 bytes, so n_bytes =
    octet_length(encode(text)), content_md5 = md5(text) (hashlib.md5
    over the payload bytes IS md5 of the utf-8 encoding), the image
    decode always yields width×height units and the audio decode
    max(⌊n_bytes/2⌋, 1) int16 samples — so the whole mapInPandas kernel
    is string-exact checkable against DuckDB, binary column included."""
    assets = make_assets(spark, sf)

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        for pdf in batches:
            decoded_px = []
            for p, w, h, k in zip(pdf["payload"], pdf["width"],
                                  pdf["height"], pdf["kind"]):
                if k == "image":
                    decoded_px.append(int(_decode_image(p, w, h).size))
                elif k == "audio":
                    decoded_px.append(int(_decode_audio(p, 16000).size))
                else:
                    decoded_px.append(-1)
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(len).astype("int64"),
                "content_md5": pdf["payload"].map(
                    lambda b: hashlib.md5(b).hexdigest()),
                "decoded_units": pd.Series(decoded_px, dtype="int64"),
            })

    return assets.mapInPandas(
        meta, schema=("asset_id bigint, kind string, n_bytes bigint, "
                      "content_md5 string, decoded_units bigint"))


@q("mm_resize", """
WITH img AS (
  SELECT doc_id AS asset_id,
         CAST(doc_id % 64 + 16 AS BIGINT) AS w,
         CAST(doc_id % 48 + 16 AS BIGINT) AS h,
         hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS L
  FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 0
),
px AS (
  SELECT asset_id, hx, L,
         ((iy.k * (h - 1)) // 15) * w + ((ix.k * (w - 1)) // 15) AS pos
  FROM img, range(16) iy(k), range(16) ix(k)
),
b AS (
  SELECT asset_id,
         CASE WHEN L = 0 THEN 0 ELSE
           (strpos('0123456789ABCDEF',
                   substr(hx, CAST(2 * (pos % L) + 1 AS BIGINT), 1)) - 1) * 16
           + strpos('0123456789ABCDEF',
                    substr(hx, CAST(2 * (pos % L) + 2 AS BIGINT), 1)) - 1
         END AS v
  FROM px
)
SELECT asset_id, CAST(sum(v) AS BIGINT) AS thumb_sum,
       CAST(256 AS BIGINT) AS thumb_px
FROM b GROUP BY asset_id
""")
def mm_resize(spark, sf):
    """Image resize stub: decode → nearest-neighbor downsample to 16×16
    → checksum. The batch shape (N×H×W → N×16×16) is the real contract;
    only the decode is fake.

    ORACLED (round 5): sample indices use EXACT integer striding
    (i*(h-1))//15 — not np.linspace, whose float step can truncate one
    ULP differently than SQL arithmetic — and the stub decode tiles the
    payload bytes, so sampled pixel (y, x) is byte (y*w + x) mod L of
    the utf-8 payload. DuckDB reproduces every byte via hex() + a
    2-hex-char nibble decode (the md5-threshold trick the samplers
    already use) over a 16×16 range cross-join — the whole mapInPandas
    kernel, binary decode included, is string-exact checkable."""
    assets = make_assets(spark, sf).filter(F.col("kind") == "image")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = 16
        for pdf in batches:
            sums = np.zeros(len(pdf), dtype=np.int64)
            for i, (p, w, h) in enumerate(zip(pdf["payload"], pdf["width"],
                                              pdf["height"])):
                img = _decode_image(p, w, h)
                ys = (np.arange(target) * (h - 1)) // (target - 1)
                xs = (np.arange(target) * (w - 1)) // (target - 1)
                small = img[np.ix_(ys.astype(np.intp), xs.astype(np.intp))]
                sums[i] = int(small.sum())
            yield pd.DataFrame({"asset_id": pdf["asset_id"],
                                "thumb_sum": sums,
                                "thumb_px": np.full(len(pdf), target * target,
                                                    dtype=np.int64)})

    return assets.mapInPandas(
        resize, schema="asset_id bigint, thumb_sum bigint, thumb_px bigint")


@q("mm_dedup_phash", """
WITH img AS (
  SELECT doc_id AS asset_id,
         CAST(doc_id % 64 + 16 AS BIGINT) AS w,
         CAST(doc_id % 48 + 16 AS BIGINT) AS h,
         hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS L
  FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 0
),
px AS (
  SELECT asset_id, hx, L, iy.k * 8 + ix.k AS bit_idx,
         ((iy.k * (h - 1)) // 7) * w + ((ix.k * (w - 1)) // 7) AS pos
  FROM img, range(8) iy(k), range(8) ix(k)
),
b AS (
  SELECT asset_id, bit_idx,
         CASE WHEN L = 0 THEN 0 ELSE
           (strpos('0123456789ABCDEF',
                   substr(hx, CAST(2 * (pos % L) + 1 AS BIGINT), 1)) - 1) * 16
           + strpos('0123456789ABCDEF',
                    substr(hx, CAST(2 * (pos % L) + 2 AS BIGINT), 1)) - 1
         END AS v
  FROM px
),
b2 AS (
  SELECT asset_id, bit_idx, v,
         sum(v) OVER (PARTITION BY asset_id) AS tot
  FROM b
),
sig AS (
  SELECT asset_id,
         CAST(sum(CASE WHEN 64 * v > tot
                       THEN CASE WHEN bit_idx = 63
                                 THEN -9223372036854775808
                                 ELSE (CAST(1 AS BIGINT) << bit_idx) END
                       ELSE 0 END) AS BIGINT) AS phash
  FROM b2 GROUP BY asset_id
)
SELECT phash, CAST(min(asset_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_dups,
       min(phash) >> 48 AS near_bucket
FROM sig GROUP BY phash
""")
def mm_dedup_phash(spark, sf):
    """Multimodal dedup: average-hash (aHash) over decoded images —
    decode → 8×8 downsample → mean-threshold bit signature → 64-bit
    hash; exact-duplicate images share the hash, near-dups share the
    16-bit prefix bucket. The decode is the documented fake; the
    signature math (vectorized numpy over the batch) and the
    hash-groupBy dedup tail are the real 100 TB shape — identical to
    dedup_exact but keyed on perceptual content, not bytes.

    ORACLED (round 5, completing the multimodal family): integer
    stride indices + the EXACT mean threshold 64·px > Σpx (integer
    cross-multiply — no float mean), and the 64-bit signature built as
    Σ bit_i·2^i with bit 63 contributing −2^63, which equals numpy's
    uint64→int64 two's-complement wrap exactly; DuckDB re-derives
    every sampled byte via the hex-nibble decode over the tiled
    payload (the mm_resize trick) and both engines' arithmetic >> 48
    agree on the sign-extended near bucket."""
    assets = make_assets(spark, sf).filter(F.col("kind") == "image")

    def phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = 8
        for pdf in batches:
            hashes = np.zeros(len(pdf), dtype=np.int64)
            for i, (p, w, h) in enumerate(zip(pdf["payload"], pdf["width"],
                                              pdf["height"])):
                img = _decode_image(p, w, h)
                ys = ((np.arange(g) * (h - 1)) // (g - 1)).astype(np.intp)
                xs = ((np.arange(g) * (w - 1)) // (g - 1)).astype(np.intp)
                small = img[np.ix_(ys, xs)].astype(np.int64)
                # exact integer mean threshold: 64*px > sum(px)
                bits = (64 * small > small.sum()).flatten()
                hashes[i] = np.int64(
                    (bits.astype(np.uint64)
                     << np.arange(g * g, dtype=np.uint64)).sum()
                    .astype(np.int64))
            yield pd.DataFrame({"asset_id": pdf["asset_id"],
                                "phash": hashes})

    sigs = assets.mapInPandas(phash, schema="asset_id bigint, phash bigint")
    return (sigs.groupBy("phash")
            .agg(F.min("asset_id").cast("bigint").alias("keep_id"),
                 F.count("*").cast("bigint").alias("n_dups"),
                 F.shiftright(F.min("phash"), 48).alias("near_bucket")))


@q("mm_frame_sample", """
WITH v AS (
  SELECT doc_id AS asset_id,
         CAST(doc_id % 64 + 16 AS BIGINT) AS w,
         CAST(doc_id % 48 + 16 AS BIGINT) AS h,
         CAST(doc_id % 30 + 2 AS BIGINT) AS nf,
         hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS L
  FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 2
),
bpos AS (
  SELECT asset_id, hx, unnest(range(L)) AS pos FROM v
),
bytes AS (
  SELECT asset_id, pos,
         (strpos('0123456789ABCDEF',
                 substr(hx, CAST(2 * pos + 1 AS BIGINT), 1)) - 1) * 16
         + strpos('0123456789ABCDEF',
                  substr(hx, CAST(2 * pos + 2 AS BIGINT), 1)) - 1 AS bv
  FROM bpos
),
sums AS (
  SELECT v.asset_id, v.nf,
         CASE WHEN v.L = 0 THEN 0 ELSE
           (v.w * v.h // v.L) * COALESCE(b.total, 0) + COALESCE(b.pre, 0)
         END AS img_sum
  FROM v LEFT JOIN (
    SELECT bb.asset_id, sum(bb.bv) AS total,
           sum(CASE WHEN bb.pos < (vv.w * vv.h) % vv.L
                    THEN bb.bv ELSE 0 END) AS pre
    FROM bytes bb JOIN v vv USING (asset_id)
    GROUP BY bb.asset_id) b USING (asset_id)
),
frames AS (
  SELECT asset_id, img_sum, unnest(range((nf + 4) // 5)) AS k FROM sums
)
SELECT asset_id, CAST(5 * k AS INT) AS frame_idx,
       CAST(img_sum + 5 * k AS BIGINT) AS frame_checksum
FROM frames
""")
def mm_frame_sample(spark, sf):
    """Video frame sampling stub: one output row per sampled frame
    (every k-th), the N→M row-expansion shape of real frame extraction.

    ORACLED (round 5): the stub decode tiles the utf-8 payload to
    w × h bytes, so the per-frame checksum decomposes exactly as
    (w*h // L) * sum(all payload bytes) + sum(first (w*h) mod L bytes)
    + frame_idx — DuckDB re-derives every payload byte via hex() +
    nibble decode over range(L) and rebuilds the same arithmetic; the
    frame fan-out is a range((nf+4)//5) cross-join matching the
    Python range(0, nf, 5) loop."""
    assets = make_assets(spark, sf).filter(F.col("kind") == "video")
    stride = 5

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frames, checks = [], [], []
            for aid, p, nf, w, h in zip(pdf["asset_id"], pdf["payload"],
                                        pdf["n_frames"], pdf["width"],
                                        pdf["height"]):
                fake = _decode_image(p, w, h)
                for fi in range(0, int(nf), stride):
                    ids.append(aid)
                    frames.append(fi)
                    checks.append(int(fake.sum()) + fi)  # per-frame variant
            yield pd.DataFrame({"asset_id": pd.Series(ids, dtype="int64"),
                                "frame_idx": pd.Series(frames, dtype="int32"),
                                "frame_checksum": pd.Series(checks, dtype="int64")})

    return assets.mapInPandas(
        sample, schema="asset_id bigint, frame_idx int, frame_checksum bigint")

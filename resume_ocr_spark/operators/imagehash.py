"""Perceptual image hashing + image near-dup detection.

The multimodal dedup modality a 100 TB interleaved corpus needs (VERDICT r3
next-round #6): re-encoded / slightly-retouched copies of the same image
share no bytes, so text fingerprints and byte hashes miss them — but their
perceptual hashes land within a few bits of each other.

Two standard hashes, both pure numpy over the engine's real decoders
(PNG/JPEG/RIMG via ``formats.imagecodec.decode_image``):

  pHash — area-mean resize to 32×32 → orthonormal 2-D DCT-II → keep the
          8×8 low-frequency block, drop the DC term → bit = coefficient >
          median of the remaining 63 (the classic pHash recipe)
  dHash — area-mean resize to 9×8 → horizontal gradient sign bits

Near-dup pairing never goes all-pairs: the 64-bit hash is cut into
``bands`` equal bit-bands and docs join on (band, band_bits) — the
Hamming-space LSH twin of the MinHash banding in :mod:`.dedup`. By the
pigeonhole principle every pair within Hamming distance ``bands - 1`` is
guaranteed to share a band; beyond that the bands act as a recall dial,
exactly like MinHash band count. Exact Hamming distance (xor → bit_count,
pure Column ops) then verifies each candidate.

Scale posture: hashing is a zero-shuffle ``map_rows`` projection; pairing
is one equi-join on band bits whose cost tracks true near-dup density.
Degenerate buckets (a corpus of identical logos) fall under the same
``max_bucket_size`` / star-edge levers as the MinHash family.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..formats import imagecodec
from .extract import map_rows

PHASH_SIZE = 32   # pre-DCT resize edge
PHASH_KEEP = 8    # low-frequency block edge (8×8 − DC = 63 bits + 1 pad)


def _area_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic area-mean resize: output cell (i, j) is the mean of the
    input block [floor(i·h/H), floor((i+1)·h/H)) × [same for columns].
    Every input pixel belongs to exactly one output cell (no interpolation
    kernels — bit-identical everywhere numpy float64 is)."""
    h, w = img.shape
    re = np.minimum((np.arange(1, out_h + 1) * h) // out_h, h)
    ce = np.minimum((np.arange(1, out_w + 1) * w) // out_w, w)
    rs = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    cs = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    # upscale case (image smaller than the grid): floor(i·h/H) can equal
    # floor((i+1)·h/H), which would make an EMPTY block (mean 0 — a
    # checkerboard artifact on small images); widen to ≥1 pixel so the
    # cell nearest-neighbor-samples instead
    re = np.maximum(re, rs + 1)
    ce = np.maximum(ce, cs + 1)
    x = img.astype(np.float64)
    # row-sum prefix trick: cumsum once, slice block sums in O(out area)
    rowsum = np.vstack([np.zeros((1, w)), x.cumsum(axis=0)])
    bands = rowsum[re] - rowsum[rs]                      # out_h × w
    colsum = np.hstack([np.zeros((out_h, 1)), bands.cumsum(axis=1)])
    blocks = colsum[:, ce] - colsum[:, cs]               # out_h × out_w
    areas = np.outer(re - rs, ce - cs).astype(np.float64)
    return blocks / np.maximum(areas, 1.0)


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis: C[k, i] = s_k·cos(π·(2i+1)·k / 2n)."""
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    c = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    c[0, :] *= 1.0 / np.sqrt(2.0)
    return c


_DCT32 = _dct_matrix(PHASH_SIZE)


def _bits_to_i64(bits: np.ndarray) -> int:
    """64 bits (MSB first) → signed 64-bit int (two's complement), the
    representation both Spark BIGINT and DuckDB BIGINT carry natively."""
    v = np.uint64(0)
    for b in bits:
        v = np.uint64(v << np.uint64(1)) | np.uint64(int(b))
    return int(v.astype(np.int64))


def phash64(img: np.ndarray) -> int:
    """Classic 64-bit pHash. Bit 63 (MSB) is the first non-DC coefficient
    in row-major order — 63 median-threshold bits; the 64th (LSB) slot is
    a constant 0 pad (the DC term carries only brightness, which perceptual
    matching deliberately ignores)."""
    small = _area_resize(img, PHASH_SIZE, PHASH_SIZE)
    d = _DCT32 @ small @ _DCT32.T
    flat = d[:PHASH_KEEP, :PHASH_KEEP].flatten()
    ac = flat[1:]                      # 63 non-DC coefficients
    med = float(np.median(ac))
    bits = np.concatenate([(ac > med), [False]])
    return _bits_to_i64(bits)


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash: 9×8 area resize, bit = left pixel < right
    pixel per adjacent column pair (8 comparisons × 8 rows)."""
    small = _area_resize(img, 8, 9)
    bits = (small[:, 1:] > small[:, :-1]).flatten()
    return _bits_to_i64(bits)


HASH_SCHEMA = "phash long, dhash long, error string"


def with_image_hashes(media_df: DataFrame) -> DataFrame:
    """binary image column → (phash, dhash) via an Arrow batch UDF.
    Zero-shuffle projection; corrupt payloads become error rows."""
    return map_rows(media_df, ["doc_id"], ["media"], _hash_row, HASH_SCHEMA)


def _hash_row(payload: bytes | None) -> tuple:
    if payload is None:
        return None, None, "null payload"
    try:
        img = imagecodec.decode_image(payload)
    except imagecodec.ImageDecodeError as exc:
        return None, None, str(exc)
    return phash64(img), dhash64(img), None


def phash_near_dup(
    hash_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_distance: int = 6,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Hamming-space LSH pairing over 64-bit perceptual hashes:
    (id_a, id_b, hamming) for candidate pairs within ``max_distance`` bits.

    Candidates come from an equi-join on (band, band_bits) — ``bands``
    equal cuts of the hash word. Recall is exact for distance < ``bands``
    (pigeonhole: some band must be untouched) and high but sub-1.0 beyond;
    raise ``bands`` to trade join fan-in for recall, exactly like MinHash
    band count. ``max_bucket_size`` drops degenerate buckets (identical-
    logo floods) before the self-join — the same production dial as
    :func:`.dedup.minhash_lsh_candidates`."""
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64 (got {bands})")
    banded = _hash_bands(hash_df, id_col, hash_col, bands)
    if max_bucket_size is not None:
        sizes = banded.groupBy("band", "bb").agg(F.count("*").alias("_bsz"))
        banded = (banded.join(
            sizes.filter(F.col("_bsz") <= max_bucket_size), ["band", "bb"])
            .drop("_bsz"))
    left, right = banded.alias("l"), banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bb") == F.col("r.bb"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col(f"l.{hash_col}").alias("_ha"),
            F.col(f"r.{hash_col}").alias("_hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )


def _hash_bands(df: DataFrame, id_col: str, hash_col: str,
                bands: int) -> DataFrame:
    """(id, hash, band, band_bits) rows — the shared banding step."""
    width = 64 // bands
    mask = (1 << width) - 1
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col(hash_col), b * width).bitwiseAND(F.lit(mask))
            .alias("bb"),
        )
        for b in range(bands)
    ]
    return (
        df.filter(F.col(hash_col).isNotNull())
        .select(F.col(id_col), F.col(hash_col),
                F.explode(F.array(*band_cols)).alias("b"))
        .select(id_col, hash_col, "b.band", "b.bb")
    )


def phash_probe(
    new_hashes: DataFrame,
    index_hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_distance: int = 6,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Image near-dups BETWEEN a new batch and a persisted hash index —
    the incremental form (the :func:`~.dedup.minhash_lsh_probe` twin for
    the perceptual-hash family): band both sides, join only across them,
    verify with exact Hamming distance.

    The index side is just the (id, hash) table you append each batch's
    hashes to — 16 bytes/image, never the pixels. Cost tracks the
    increment's size; ``max_bucket_size`` caps degenerate INDEX buckets
    (an index flooded with one logo).

    Returns ``(new_id, index_id, hamming)`` pairs within
    ``max_distance``."""
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64 (got {bands})")
    nb = _hash_bands(new_hashes, id_col, hash_col, bands)
    ib = _hash_bands(index_hashes, id_col, hash_col, bands)
    if max_bucket_size is not None:
        sizes = ib.groupBy("band", "bb").agg(F.count("*").alias("_bsz"))
        ib = (ib.join(sizes.filter(F.col("_bsz") <= max_bucket_size),
                      ["band", "bb"]).drop("_bsz"))
    cand = (
        nb.alias("n")
        .join(ib.alias("i"),
              (F.col("n.band") == F.col("i.band"))
              & (F.col("n.bb") == F.col("i.bb")))
        .select(F.col(f"n.{id_col}").alias("new_id"),
                F.col(f"i.{id_col}").alias("index_id"),
                F.col(f"n.{hash_col}").alias("_ha"),
                F.col(f"i.{hash_col}").alias("_hb"))
        .distinct()
    )
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_distance)
        .select("new_id", "index_id", "hamming")
    )

"""Perceptual image hashing + complete Hamming near-dup join (Layer B).

Image dedup for multimodal training corpora (the LAION-style pipeline):
hash every image to a 64-bit perceptual fingerprint that is invariant to
re-encoding, uniform brightness shifts (dHash) or contrast scaling
(aHash), then find all pairs within a Hamming radius WITHOUT an O(N²)
comparison.

Reference scope note: the reference (pinecone-io/pinecone-datasets) has
no media operators — this is Layer-B training-pipeline extension.

Scale shapes:

* ``image_phash``: Arrow-batched ``mapInPandas`` over the binary
  ``content`` column (decode is inherently Python — no JVM PNG codec);
  one pass, no shuffle, no state. Same honest-codec policy as
  ``multimodal.extract_image_features``: PNG/BMP decode REALLY (stdlib
  zlib + defilter), undecodable bytes yield NULL hashes, ``fake=True``
  keeps a deterministic sha256 stand-in for plumbing tests.
* ``hamming_neardup_pairs``: the pigeonhole band join. Split the 64-bit
  hash into ``max_hamming + 1`` disjoint bit-bands; two hashes within
  Hamming distance ``max_hamming`` MUST agree exactly on at least one
  band (k differing bits cannot touch all k+1 bands), so the band-bucket
  self-join has **recall 1.0 by construction** — unlike MinHash/SimHash
  banding, which trade recall probabilistically. Verification is a
  native ``bit_count(xor)`` on candidate pairs only. The shuffle carries
  (band, band_value, id) triples — never pixels, never full rows.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .media_codecs import UnsupportedMediaError, image_luma

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)


def mean_pool(luma: np.ndarray, grid_h: int, grid_w: int) -> np.ndarray:
    """Deterministic area mean-pool of a (H, W) float array to
    (grid_h, grid_w): contiguous integer-boundary blocks, float64 sums —
    bit-identical across platforms, no interpolation kernel to disagree
    about. Images smaller than the grid are integer-upsampled first
    (``np.repeat``), which preserves block means exactly."""
    H, W = luma.shape
    if H < 1 or W < 1:
        raise ValueError("empty image")
    if H < grid_h:
        luma = np.repeat(luma, -(-grid_h // H), axis=0)
        H = luma.shape[0]
    if W < grid_w:
        luma = np.repeat(luma, -(-grid_w // W), axis=1)
        W = luma.shape[1]
    r_edges = [(i * H) // grid_h for i in range(grid_h)]
    c_edges = [(j * W) // grid_w for j in range(grid_w)]
    sums = np.add.reduceat(
        np.add.reduceat(luma.astype(np.float64), r_edges, axis=0),
        c_edges,
        axis=1,
    )
    r_sizes = np.diff(r_edges + [H])
    c_sizes = np.diff(c_edges + [W])
    return sums / np.outer(r_sizes, c_sizes)


def _pack_bits(flat_bits: np.ndarray) -> int:
    """64 bools (bit i = flat[i]) → signed int64 (two's complement)."""
    val = 0
    for i, b in enumerate(flat_bits):
        if b:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def ahash64(luma: np.ndarray) -> int:
    """Average hash: 8x8 mean-pool, bit = cell > grid mean. Invariant to
    positive contrast scaling (``c * luma`` keeps every comparison)."""
    g = mean_pool(luma, 8, 8)
    return _pack_bits((g > g.mean()).ravel())


def dhash64(luma: np.ndarray) -> int:
    """Difference hash: 8x9 mean-pool, bit = horizontal gradient sign.
    Invariant to uniform brightness shifts (``luma + c`` cancels in the
    difference) — the usual default for re-encode/near-dup detection."""
    g = mean_pool(luma, 8, 9)
    return _pack_bits((g[:, 1:] > g[:, :-1]).ravel())


def _fake_phash(content: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in: (width, height, hash) from sha256(content)."""
    h = hashlib.sha256(content or b"").digest()
    val = int.from_bytes(h[8:16], "big")
    if val >= 1 << 63:
        val -= 1 << 64
    return 64 + h[0], 64 + h[1], val


def image_phash(
    media: DataFrame,
    method: str = "dhash",
    fake: bool = False,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """binary content → (dims, 64-bit perceptual hash) via mapInPandas.

    ``method``: ``"dhash"`` (gradient sign — brightness-shift invariant)
    or ``"ahash"`` (above-mean — contrast-scale invariant). Undecodable
    rows yield NULL hash instead of failing the job.
    """
    if method not in ("dhash", "ahash"):
        raise ValueError(f"method must be 'dhash' or 'ahash', got {method!r}")
    from ..parallel import widen
    from .multimodal import _real_decode, _ship

    _ship(media)
    # The decode+hash kernel otherwise fuses into the media frame's
    # producing stage, inheriting its (possibly single-split) task
    # count; one image decode per row is exactly the work-per-byte
    # profile that pays for a rebalance (no-op on well-split inputs).
    media = widen(media, id_col)
    hash_fn = dhash64 if method == "dhash" else ahash64

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, vals = [], [], []
            for content in pdf[content_col]:
                raw = bytes(content) if content is not None else b""
                if fake:
                    w, h, v = _fake_phash(raw)
                    ws.append(w)
                    hs.append(h)
                    vals.append(v)
                    continue
                try:
                    img = _real_decode(raw)
                    luma = image_luma(img)
                    ws.append(img.shape[1])
                    hs.append(img.shape[0])
                    vals.append(hash_fn(luma))
                except (
                    UnsupportedMediaError,
                    IndexError,
                    ValueError,
                    struct.error,
                    zlib.error,
                ):
                    # struct/zlib cover corrupt-but-PNG-magic payloads
                    # (truncated IHDR, bad IDAT stream) — web-scraped
                    # corpora hit these; the contract is NULL, not a
                    # failed job.
                    ws.append(None)
                    hs.append(None)
                    vals.append(None)
            yield pd.DataFrame(
                {
                    # the select below already aliased id_col to media_id
                    "media_id": pdf["media_id"],
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "phash": pd.array(vals, dtype="Int64"),
                }
            )

    return media.select(
        F.col(id_col).alias("media_id"), F.col(content_col).alias(content_col)
    ).mapInPandas(kernel, PHASH_SCHEMA)


def hamming_band_exprs(
    hash_col: str, max_hamming: int, hash_bits: int = 64
) -> list:
    """The ``max_hamming + 1`` disjoint bit-band value expressions for
    the pigeonhole join — exposed so SQL twins can replay them. Band b
    covers bits [b*W//(k+1), (b+1)*W//(k+1)) via shift + mask (native,
    portable: DuckDB replays with ``(hash >> lo) & mask``)."""
    n_bands = max_hamming + 1
    if not 1 <= max_hamming < hash_bits:
        raise ValueError(
            f"max_hamming must be in [1, {hash_bits}): {max_hamming}"
        )
    edges = [(b * hash_bits) // n_bands for b in range(n_bands + 1)]
    out = []
    for b in range(n_bands):
        lo, hi = edges[b], edges[b + 1]
        mask = (1 << (hi - lo)) - 1
        out.append(
            F.shiftrightunsigned(F.col(hash_col), lo).bitwiseAND(
                F.lit(mask).cast("long")
            )
        )
    return out


def hamming_neardup_pairs(
    hashes: DataFrame,
    max_hamming: int = 6,
    id_col: str = "media_id",
    hash_col: str = "phash",
    hash_bits: int = 64,
) -> DataFrame:
    """All (id_a < id_b) pairs with ``bit_count(a ^ b) <= max_hamming``
    — EXACT (recall 1.0), without the O(N²) cross join.

    Pigeonhole: ``max_hamming + 1`` disjoint bit-bands; ≤ max_hamming
    differing bits leave at least one band untouched, so every true pair
    collides in some band bucket. The self-join shuffles (band, value,
    id) triples; the native ``bit_count(xor)`` verify runs on candidate
    pairs only. Precision is handled by the verify, recall by the
    construction — the knob ``max_hamming`` is semantic, not a tuning
    trade-off. NULL hashes (undecodable media) are excluded.

    Returns ``(id_a, id_b, hamming)``.
    """
    bands = hamming_band_exprs(hash_col, max_hamming, hash_bits)
    structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), e.alias("val"))
            for b, e in enumerate(bands)
        ]
    )
    buckets = (
        hashes.where(F.col(hash_col).isNotNull())
        .select(F.col(id_col), F.col(hash_col), F.explode(structs).alias("bb"))
        .select(
            F.col(id_col),
            F.col(hash_col),
            F.col("bb.band").alias("band"),
            F.col("bb.val").alias("val"),
        )
    )
    # merge hint: both sides are the SAME (often expensive — media
    # decode) subtree. A static auto-broadcast would run the decode
    # kernel TWICE (broadcast build + probe) and broadcast a corpus-
    # derived frame; under SMJ the two sides share one exchange subtree
    # (ReuseExchange) so every hash is computed exactly once (r13,
    # guide §2.4/§3.1 — measured on the minhash twin 2.33 s → 1.66 s).
    a, b = buckets.alias("a").hint("merge"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= F.lit(max_hamming))
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand


def image_neardup_pairs(
    media: DataFrame,
    max_hamming: int = 6,
    method: str = "dhash",
    fake: bool = False,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """End-to-end image near-dup: perceptual hash then complete Hamming
    join. One decode pass + one band-triple shuffle."""
    hashes = image_phash(
        media, method=method, fake=fake, id_col=id_col, content_col=content_col
    )
    return hamming_neardup_pairs(hashes, max_hamming=max_hamming)

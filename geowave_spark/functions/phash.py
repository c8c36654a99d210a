"""Perceptual hash (pHash) over decoded image pixels + hamming near-dup join.

The input-table `phash` column is a fixture fingerprint (sha256-derived,
sources/images.phash_for) used for deterministic geometry; THIS module
computes a real content hash from the pixels themselves — the image-payload
twin of the text pipeline's simhash (operators/dedup.simhash64):

* `phash64_pixels` — the classic DCT pHash construction: grayscale (BT.601
  luma) → 32x32 nearest-neighbour resample → orthonormal 2-D DCT-II → the
  8x8 low-frequency block → threshold each AC coefficient against the
  median of the 63 AC terms → 63-bit code (bit 63 stays 0, so the long is
  non-negative).  Perceptually-equal images (lossless re-encodes, mild
  noise, DCT/JPEG round-trips at PSNR>=40) land within a few bits; distinct
  random images sit near the 31.5-bit expected hamming distance.
* `compute_phash` — the distributed pass: Arrow-batched `mapInPandas` over
  (id, bytes, fmt), decode via the engine codecs (functions/imagecodec),
  one numpy hash per row inside the batch — no per-row Python UDFs
  (input_hint mandate), no driver involvement, scales with partitions.
* `image_neardup_pairs` — near-duplicate image pairs with
  hamming(phash) <= max_hamming, reusing the text pipeline's chunk-equality
  banding verbatim (operators/dedup.simhash_pairs with precomputed
  signatures): pigeonhole-sound candidate generation (max_hamming < bands),
  exact bit_count(xor) verify, never a cross join.  At 10^12 images the
  banded self-join runs over distinct hash VALUES with the same hot-bucket
  cap the text path has.

Reference parity note: GeoWave has no perceptual dedup — this is part of
the training-data-pipeline extension surface (SURVEY §"beyond the
reference"), sharing its candidate-generation machinery with
dedup.simhash_pairs so both payloads (text, image) take one audited plan.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup
from . import imagecodec as codec
from . import jpegcodec

# orthonormal 32-point DCT-II basis (the JPEG codec's 8x8 construction)
_D32 = jpegcodec._dct_matrix(32)
_LUMA = np.array([0.299, 0.587, 0.114])


def phash64_pixels(arr: np.ndarray) -> int:
    """63-bit DCT perceptual hash of an (h, w, 3) uint8 pixel array.

    Deterministic pure-numpy reference — the Spark path below calls exactly
    this per row, so driver-side recomputation is a bit-exact oracle."""
    g = arr.astype(np.float64) @ _LUMA  # (h, w) luma
    h, w = g.shape
    # nearest-neighbour resample to 32x32 (floor sampling — matches the
    # multimodal resize convention)
    gi = g[(np.arange(32) * h) // 32][:, (np.arange(32) * w) // 32]
    f = _D32 @ gi @ _D32.T
    ac = f[:8, :8].ravel()[1:]  # 63 low-frequency AC terms (DC dropped)
    med = np.median(ac)
    bits = ac > med
    out = 0
    for j in np.nonzero(bits)[0]:
        out |= 1 << int(j)
    return out


def ensure_decode_splits(df: DataFrame) -> DataFrame:
    """Re-split an under-partitioned frame before a decode-bound map.

    Python decode passes are wave-scheduled: 8 uneven partitions on 4
    cores run as 2 ragged waves and measured 0.63 scaling efficiency vs
    0.96 with 4 splits/core (BENCH.md image scaling).  Only frames under
    64 partitions are ever touched — a production table scans with far
    more splits than that, so no bytes ever shuffle at real scale.

    Streaming frames pass through untouched: partition count is a
    micro-batch property there (``df.rdd`` is illegal pre-start), and the
    source's ``maxFilesPerTrigger``/topic partitioning owns parallelism."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * 4
    parts = df.rdd.getNumPartitions()
    if parts < min(target, 64):
        return df.repartition(target)
    return df


def compute_phash(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    out_col: str = "phash64",
    on_error: str = "fail",
) -> DataFrame:
    """(id, phash64 long): decode + hash every image, Arrow-batched.

    ``on_error`` — corrupt-payload policy for 10^12-row robustness (one
    bad blob must not kill a cluster-day of work):
      "fail" (default) propagate the decode exception (task retry → job
             failure — the strict mode CI runs);
      "null" emit the row with a NULL hash (audit joins see exactly which
             ids failed; band/join stages drop nulls);
      "skip" drop the row.
    """
    if on_error not in ("fail", "null", "skip"):
        raise ValueError(f"on_error must be fail|null|skip, got {on_error!r}")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for i, b, f in zip(pdf[id_col], pdf[bytes_col], pdf[fmt_col]):
                if on_error == "fail":
                    h = phash64_pixels(codec.decode_image(b, f))
                else:
                    try:
                        h = phash64_pixels(codec.decode_image(b, f))
                    except Exception:
                        if on_error == "skip":
                            continue
                        h = None
                ids.append(i)
                hashes.append(h)
            yield pd.DataFrame({id_col: ids, out_col: pd.array(hashes, dtype="Int64")})

    return ensure_decode_splits(df.select(id_col, bytes_col, fmt_col)).mapInPandas(
        fn, f"{id_col} string, {out_col} long"
    )


def image_neardup_pairs(
    images: DataFrame,
    max_hamming: int = 4,
    bands: int = 5,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    max_bucket_size: int | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(img_a, img_b, hamming) pairs with hamming(phash) <= max_hamming.

    One decode pass computes the signatures; candidate generation and the
    exact verify are dedup.simhash_pairs on the precomputed 64-bit codes
    (pigeonhole-sound: max_hamming errors corrupt at most max_hamming of
    the `bands` chunks, so every qualifying pair shares a chunk).

    ``signatures``: optional precomputed (id, phash64) frame — callers
    composing several pHash stages (pairs + clusters + conflicts) pass the
    one decode pass through so it never re-runs."""
    sigs = (
        (
            signatures.select(F.col(id_col), F.col("phash64"))
            if signatures is not None
            else compute_phash(images, id_col, bytes_col, fmt_col, out_col="phash64")
        )
        # rows a tolerant decode pass (on_error="null") marked bad never
        # enter banding — they are auditable upstream, not joinable
        .filter(F.col("phash64").isNotNull())
        .withColumnRenamed(id_col, "doc_id")
        .withColumnRenamed("phash64", "simhash")
    )
    pairs = dedup.simhash_pairs(
        images,  # unused when signatures are supplied
        max_hamming=max_hamming,
        bits=64,
        bands=bands,
        signatures=sigs,
        max_bucket_size=max_bucket_size,
    )
    return pairs.select(
        F.col("doc_a").alias("img_a"), F.col("doc_b").alias("img_b"), "hamming"
    )


def image_neardup_clusters(
    images: DataFrame,
    max_hamming: int = 4,
    bands: int = 5,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    max_bucket_size: int | None = None,
    max_iter: int = 30,
    pairs: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(image_id, canonical_id): perceptual near-dup clustering.

    The image twin of the text corpus pipeline (`dedup.dedup_clusters`):
    pHash near-dup pairs → connected components (`dedup.label_components`,
    the shared min-label fixpoint) → canonical = component-minimum id.
    Transitive chains (A≈B≈C with hamming(A,C) > max_hamming) land in ONE
    cluster — the semantics a 10^12-image dedup actually wants.

    ``pairs`` / ``signatures``: optional precomputed stages (the pair frame
    from `image_neardup_pairs`, or the (id, phash64) signature frame) so a
    composed pipeline decodes each image exactly once."""
    if pairs is None:
        pairs = image_neardup_pairs(
            images, max_hamming, bands, id_col, bytes_col, fmt_col,
            max_bucket_size, signatures=signatures,
        )
    pairs = pairs.select(F.col("img_a").alias("doc_a"), F.col("img_b").alias("doc_b"))
    labels = dedup.label_components(
        images.select(F.col(id_col).alias("doc_id")), pairs, max_iter=max_iter
    )
    return labels.select(F.col("doc_id").alias(id_col), "canonical_id")


def caption_conflicts(
    images: DataFrame,
    max_hamming: int = 4,
    bands: int = 5,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    caption_col: str = "caption",
    max_bucket_size: int | None = None,
    pairs: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(img_a, img_b, hamming, caption_a, caption_b): near-identical pixels
    with DIFFERENT captions — the cross-modal curation flag.

    On an image+caption corpus a perceptual duplicate whose caption
    disagrees is either caption noise (mislabel, boilerplate swap) or an
    alt-text variant; both matter when the table feeds caption-supervised
    training.  Pure composition: pHash near-dup pairs (one decode pass,
    reusable via ``pairs``/``signatures``) joined back to the caption
    column on both sides, kept where captions differ — two
    broadcast-or-shuffle equi-joins on id, no new plan shapes to audit at
    10^12 rows."""
    if pairs is None:
        pairs = image_neardup_pairs(
            images, max_hamming, bands, id_col, bytes_col, fmt_col,
            max_bucket_size, signatures=signatures,
        )
    caps = images.select(F.col(id_col), F.col(caption_col))
    ca = caps.select(
        F.col(id_col).alias("img_a"), F.col(caption_col).alias("caption_a")
    )
    cb = caps.select(
        F.col(id_col).alias("img_b"), F.col(caption_col).alias("caption_b")
    )
    return (
        pairs.join(ca, "img_a").join(cb, "img_b")
        .filter(
            ~F.col("caption_a").eqNullSafe(F.col("caption_b"))
        )
        .select("img_a", "img_b", "hamming", "caption_a", "caption_b")
    )


def image_keep_best(
    images: DataFrame,
    max_hamming: int = 4,
    bands: int = 5,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    max_bucket_size: int | None = None,
    max_iter: int = 30,
    pairs: DataFrame | None = None,
    signatures: DataFrame | None = None,
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Quality-aware canonical selection over perceptual clusters.

    Keeps ONE image per near-dup cluster, preferring the largest pixel
    area w*h (the keep-the-highest-resolution heuristic for image
    corpora; ties → smallest image_id).  Output: kept rows as
    (image_id, n_px long).  One per-cluster top-1 window — partitions by
    canonical_id, so it parallelizes across clusters (the
    `dedup.dedup_keep_best` shape on the image payload).

    ``pairs`` / ``signatures``: optional precomputed stages (see
    `image_neardup_clusters`) so composed pipelines decode once."""
    from pyspark.sql import Window

    cl = image_neardup_clusters(
        images, max_hamming, bands, id_col, bytes_col, fmt_col,
        max_bucket_size, max_iter, pairs=pairs, signatures=signatures,
    )
    scored = images.select(
        F.col(id_col), (F.col(w_col).cast("long") * F.col(h_col)).alias("n_px")
    )
    j = cl.join(scored, id_col)
    win = Window.partitionBy("canonical_id").orderBy(F.desc("n_px"), F.asc(id_col))
    return (
        j.withColumn("_rk", F.row_number().over(win))
        .filter(F.col("_rk") == 1)
        .select(id_col, "n_px")
    )

"""Perceptual near-dup clustering + canonical keep over the image table.

Pins: transitive chains collapse to one cluster (union-find oracle
parity), singletons map to themselves, and keep-best retains exactly the
largest-area member per cluster (ties -> min id)."""

import numpy as np

from geowave_spark.functions import imagecodec as codec
from geowave_spark.functions import phash
from geowave_spark.sources import images


from conftest import image_rows as _rows


def _union_find_oracle(rows, max_hamming=4):
    """Driver-side oracle: all-pairs hamming -> union-find components."""
    ids = [r["image_id"] for r in rows]
    hs = {
        r["image_id"]: phash.phash64_pixels(codec.decode_image(r["bytes"], r["fmt"]))
        for r in rows
    }
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if int.bit_count(hs[ids[i]] ^ hs[ids[j]]) <= max_hamming:
                ra, rb = find(ids[i]), find(ids[j])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    # canonical = min id per component
    comp = {}
    for i in ids:
        comp.setdefault(find(i), []).append(i)
    out = {}
    for members in comp.values():
        c = min(members)
        for m in members:
            out[m] = c
    return out


def test_clusters_match_union_find_oracle(spark):
    """30 distinct random images + a planted transitive chain A~B~C:
    B is a lossless re-encode of A (hamming 0) and C is A's lossy
    round-trip (hamming <= 4); A..C land in ONE cluster even if
    hamming(B, C) alone exceeds nothing here — the chain semantics are
    exercised via the two planted edges sharing the A endpoint."""
    rows = _rows(30)
    arr = images.pixels_for(0)
    rows.append(
        {
            "image_id": "zdupB",
            "bytes": codec.encode_image(arr, "bmp"),
            "w": arr.shape[1],
            "h": arr.shape[0],
            "fmt": "bmp",
            "caption": "re-encode of img0",
            "phash": 0,
        }
    )
    rows.append(
        {
            "image_id": "zdupC",
            "bytes": codec.encode_image(arr, "jpeg"),
            "w": arr.shape[1],
            "h": arr.shape[0],
            "fmt": "jpeg",
            "caption": "lossy round-trip of img0",
            "phash": 0,
        }
    )
    df = spark.createDataFrame(rows, images.SCHEMA)
    got = {
        r["image_id"]: r["canonical_id"]
        for r in phash.image_neardup_clusters(df, max_hamming=4, bands=5).collect()
    }
    expect = _union_find_oracle(rows, max_hamming=4)
    assert got == expect
    # the planted chain is really one cluster rooted at img0
    assert got["zdupB"] == got["zdupC"] == "img" + "0" * 10
    # every row is labeled (singletons included)
    assert len(got) == len(rows)


def test_keep_best_retains_largest_area(spark):
    """Cluster {img1(32x32), small re-encode of img1 pixels upscaled?} —
    plant a LARGER near-dup (same pixels, but nearest-neighbour upscale
    keeps the pHash within radius) and check keep-best prefers it."""
    rows = _rows(12)
    # a 2x nearest-neighbour upscale of img1: identical 32x32 resample
    # grid -> identical pHash, 4x the pixel area
    arr = images.pixels_for(1)
    big = arr.repeat(2, axis=0).repeat(2, axis=1)
    rows.append(
        {
            "image_id": "zbig1",
            "bytes": codec.encode_image(big, "bmp"),
            "w": big.shape[1],
            "h": big.shape[0],
            "fmt": "bmp",
            "caption": "2x upscale of img1",
            "phash": 0,
        }
    )
    df = spark.createDataFrame(rows, images.SCHEMA)
    kept = {r["image_id"]: r["n_px"] for r in phash.image_keep_best(df).collect()}
    # exactly one kept per cluster: 12 originals + upscale merged with img1
    oracle = _union_find_oracle(rows)
    n_clusters = len(set(oracle.values()))
    assert len(kept) == n_clusters
    assert "zbig1" in kept  # the larger member wins its cluster
    assert "img" + "1".rjust(10, "0") not in kept
    h, w = images.pixels_for(1).shape[:2]
    assert kept["zbig1"] == 4 * h * w


def test_blank_image_hot_bucket_cap(spark):
    """A duplicate-heavy corpus (byte-identical frames all hash alike) is
    the image twin of the one-shingle-everywhere text corpus: the clique
    shares every band bucket.  With max_bucket_size the hot buckets drop
    (bounded cost, recall-only semantics, logged); distinct-image pairs
    elsewhere still surface."""
    import numpy as np

    rows = _rows(20)
    blank = codec.encode_image(np.zeros((16, 16, 3), dtype=np.uint8), "bmp")
    for i in range(60):  # 60 identical black frames, all pHash 0
        rows.append(
            {
                "image_id": f"blank{i:04d}",
                "bytes": blank,
                "w": 16, "h": 16, "fmt": "bmp",
                "caption": "blank", "phash": 0,
            }
        )
    arr = images.pixels_for(0)
    rows.append(
        {
            "image_id": "zdup0",
            "bytes": codec.encode_image(arr, "bmp"),
            "w": arr.shape[1], "h": arr.shape[0], "fmt": "bmp",
            "caption": "re-encode of img0", "phash": 0,
        }
    )
    df = spark.createDataFrame(rows, images.SCHEMA)
    # uncapped: the blank clique alone is C(60,2) = 1770 pairs
    uncapped = phash.image_neardup_pairs(df, max_hamming=4, bands=5)
    n_unc = uncapped.count()
    assert n_unc >= 1770
    # capped: blank buckets (60 members) drop; the planted pair survives
    capped = phash.image_neardup_pairs(
        df, max_hamming=4, bands=5, max_bucket_size=30
    ).collect()
    got = {(r["img_a"], r["img_b"]) for r in capped}
    assert ("img0000000000", "zdup0") in got
    assert all("blank" not in a or "blank" not in b for a, b in got)
    assert len(got) < n_unc


def test_caption_conflicts(spark):
    """Perceptual duplicates with disagreeing captions are flagged; the
    same-caption duplicate pair is NOT."""
    rows = _rows(15)
    arr0 = images.pixels_for(0)
    arr1 = images.pixels_for(1)
    rows.append(  # pixel dup of img0, DIFFERENT caption -> conflict
        {
            "image_id": "zalt0",
            "bytes": codec.encode_image(arr0, "bmp"),
            "w": arr0.shape[1], "h": arr0.shape[0], "fmt": "bmp",
            "caption": "a completely different description", "phash": 0,
        }
    )
    rows.append(  # pixel dup of img1, SAME caption -> clean duplicate
        {
            "image_id": "zsame1",
            "bytes": codec.encode_image(arr1, "bmp"),
            "w": arr1.shape[1], "h": arr1.shape[0], "fmt": "bmp",
            "caption": "c1", "phash": 0,
        }
    )
    df = spark.createDataFrame(rows, images.SCHEMA)
    got = phash.caption_conflicts(df, max_hamming=4, bands=5).collect()
    pairs = {(r["img_a"], r["img_b"]) for r in got}
    assert ("img0000000000", "zalt0") in pairs
    assert ("img0000000001", "zsame1") not in pairs
    row = [r for r in got if r["img_b"] == "zalt0"][0]
    assert row["caption_a"] == "c0"
    assert row["caption_b"] == "a completely different description"
    assert row["hamming"] == 0

"""Pair-budget (max_pairs) tests: bounded, deterministic, strongest-first.

The cluster-level operators (dedup_clusters / dedup_keep_best) are the
documented corpus-scale contract; the *_pairs operators emit quadratic
output on dup-dense corpora, so consumers opt into a deterministic budget.
A pathological duplicate clique (every doc a near-dup of every other) is
the worst case: n docs → n(n-1)/2 pairs unbudgeted.
"""

from __future__ import annotations

import pytest

from geowave_spark.operators import dedup

N = 40  # clique size → 780 unbudgeted pairs


@pytest.fixture(scope="module")
def clique(spark):
    # near-identical docs: shared 12-token core, one varying suffix token
    core = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{core} v{i}") for i in range(N)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_jaccard_clique_budget(clique):
    full = dedup.ngram_jaccard_pairs(clique, threshold=0.5)
    n_full = full.count()
    assert n_full == N * (N - 1) // 2  # the quadratic blow-up is real
    b = dedup.ngram_jaccard_pairs(clique, threshold=0.5, max_pairs=25)
    rows = b.collect()
    assert len(rows) == 25
    # strongest-first, deterministic: re-running yields the identical set
    rows2 = dedup.ngram_jaccard_pairs(clique, threshold=0.5, max_pairs=25).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    top = full.orderBy(dedup.F.col("jaccard_mu").desc(), "doc_a", "doc_b").limit(25)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, top.collect()))


def test_minhash_clique_budget(clique):
    b = dedup.minhash_lsh_pairs(clique, max_pairs=10)
    assert b.count() == 10
    # LSH is probabilistic (not every clique pair shares a band), but the
    # clique still explodes to hundreds of candidate pairs unbudgeted
    assert dedup.minhash_lsh_pairs(clique).count() > 500


def test_simhash_clique_budget(clique):
    full = dedup.simhash_pairs(clique, max_hamming=10, bands=12)
    assert full.count() > 10
    b = dedup.simhash_pairs(clique, max_hamming=10, bands=12, max_pairs=10).collect()
    assert len(b) == 10
    # closest-first: every kept hamming <= every dropped hamming
    kept_max = max(r.hamming for r in b)
    allr = sorted(full.collect(), key=lambda r: (r.hamming, r.doc_a, r.doc_b))
    assert [tuple(r) for r in allr[:10]] == sorted(
        [tuple(r) for r in b], key=lambda t: (t[2], t[0], t[1])
    )
    assert kept_max <= allr[10].hamming


def test_cluster_output_is_linear(clique):
    cl = dedup.dedup_clusters(clique, threshold=0.5)
    assert cl.count() == N  # one row per doc — the corpus-scale contract
    # LSH candidate recall is < 1, so the clique may split into a few
    # components — but output stays LINEAR (N rows, ~k canonicals), unlike
    # the 780-pair quadratic pair set
    n_comp = cl.select("canonical_id").distinct().count()
    assert n_comp <= 6
    keep = dedup.dedup_keep_best(clique, threshold=0.5)
    assert keep.count() == n_comp


def test_simhash_pairs_pigeonhole_guards(spark):
    docs = spark.createDataFrame([(1, "a b c"), (2, "a b d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs(docs, max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="bands"):
        dedup.simhash_pairs(docs, max_hamming=3, bands=64, bits=60)

"""Hot-key caps for the similarity joins (round-1 scale-killers).

* ngram_jaccard: a stop-phrase shingle shared by ALL n docs must not create
  n² candidate pairs — the document-frequency cutoff drops it before the
  inverted-index self-join.
* knn_join: a degenerate LSH bucket holding the whole corpus must not
  self-join quadratically — the per-(band,bucket) population cap bounds
  candidates at O(bands · cap²), each unordered pair emitted once.
"""

import random

from pdf2pdfocr_spark.operators import dedup, similarity


def test_ngram_df_cutoff_kills_hot_shingle_quadratic(spark):
    n = 40
    # every doc shares the stop-phrase 'alpha beta gamma'; everything else
    # is unique per doc
    rows = [(i, f"alpha beta gamma u{i} v{i} w{i}") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dedup.ngram_candidate_pairs(docs, n=3, max_df=10_000).count()
    capped = dedup.ngram_candidate_pairs(docs, n=3, max_df=5).count()
    assert uncapped == n * (n - 1) // 2  # the quadratic blow-up, 780
    assert capped == 0                    # hot shingle carried zero signal

    # and the verified join is still exact for surfaced pairs: two docs that
    # ALSO share a low-df shingle keep their full-set Jaccard
    rows2 = rows + [(100, "alpha beta gamma u0 v0 zz"), ]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs2, n=3, threshold=0.1, max_df=5
        ).collect()
    }
    # docs 0 and 100 share 'beta gamma u0' (df=2) and 'gamma u0 v0' (df=2);
    # full sets have 4 shingles each, 3 shared incl. the hot one → 3/5
    assert pairs == {(0, 100): 0.6}


def _dup_heavy_docs(spark, n):
    # k IDENTICAL docs: every band/chunk puts them in ONE bucket —
    # exactly the workload dedup exists for (round-2 verdict scale-killer)
    rows = [(i, "the quick brown fox jumps over the lazy dog")
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_bucket_cap_bounds_candidates(spark):
    n, cap, bands = 40, 6, 4
    docs = _dup_heavy_docs(spark, n)

    uncapped = dedup.minhash_lsh_pairs(
        docs, num_hashes=8, bands=bands, n=3, threshold=0.0,
        bucket_cap=10_000,
    ).count()
    capped_pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=8, bands=bands, n=3, threshold=0.0, bucket_cap=cap
    )
    capped = capped_pairs.count()
    # near-identical docs collide in every band → full quadratic uncapped
    assert uncapped == n * (n - 1) // 2
    # capped: ≤ bands · C(cap,2) distinct pairs, and still non-empty
    assert 0 < capped <= bands * cap * (cap - 1) // 2

    # surviving pairs keep their EXACT full-set Jaccard (cap affects which
    # pairs surface, never scores): identical docs → J=1.0
    for r in capped_pairs.collect():
        assert r["jaccard"] == 1.0

    # the truncation is visible, not silent
    overflow = dedup.minhash_band_overflow(
        docs, num_hashes=8, bands=bands, n=3, bucket_cap=cap
    ).collect()
    assert overflow and all(r["population"] > cap for r in overflow)
    assert sum(r["truncated"] for r in overflow) > 0


def test_minhash_rejects_ragged_banding(spark):
    docs = _dup_heavy_docs(spark, 4)
    import pytest

    with pytest.raises(ValueError, match="divisible"):
        dedup.minhash_lsh_pairs(docs, num_hashes=7, bands=2)


def test_simhash_bucket_cap_bounds_candidates(spark):
    n, cap = 40, 6
    docs = _dup_heavy_docs(spark, n)
    n_chunks = 4  # max_hamming=3

    uncapped = dedup.simhash_near_dups(
        docs, bits=32, max_hamming=3, bucket_cap=10_000
    ).count()
    capped_df = dedup.simhash_near_dups(
        docs, bits=32, max_hamming=3, bucket_cap=cap
    )
    capped = capped_df.count()
    assert uncapped == n * (n - 1) // 2  # identical fingerprints, quadratic
    assert 0 < capped <= n_chunks * cap * (cap - 1) // 2

    overflow = dedup.simhash_chunk_overflow(
        docs, bits=32, max_hamming=3, bucket_cap=cap
    ).collect()
    assert overflow and all(r["population"] > cap for r in overflow)


def test_knn_bucket_cap_bounds_candidates(spark):
    n, cap, bands = 60, 10, 2
    rng = random.Random(3)
    # all vectors point the same way → every band puts them in ONE bucket
    rows = [
        (i, [1.0 + rng.random() * 0.01 for _ in range(8)]) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = similarity.hyperplanes(8, 4, seed=42)

    uncapped = similarity.knn_candidates(
        emb, planes, bands=bands, bucket_cap=10_000
    ).count()
    capped = similarity.knn_candidates(
        emb, planes, bands=bands, bucket_cap=cap
    ).count()
    assert uncapped == n * (n - 1) // 2       # canonical pairs, quadratic
    assert 0 < capped <= bands * cap * (cap - 1) // 2

    # the capped join still produces top-k output rows
    out = similarity.knn_join(emb, planes, k=3, bands=bands, bucket_cap=cap)
    assert out.count() > 0

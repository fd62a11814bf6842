"""Unit tests for the training-data operators (dedup / similarity / text /
multimodal) on small in-memory fixtures with hand-checkable answers."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from pdf2pdfocr_spark.operators import dedup, multimodal, similarity
from pdf2pdfocr_spark.operators import text_analysis as ta


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The quick  brown fox jumps over the lazy dog"),  # case/ws dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (4, "completely different text about spark engines"),
        (5, "completely different text about spark engines"),  # exact dup of 4
        (6, "a b"),                                            # shorter than shingle
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    got = {r["keep_id"]: r["n_dups"] for r in dedup.exact_duplicates(docs).collect()}
    assert got == {1: 2, 4: 2}
    kept = dedup.dedup_exact(docs).select("doc_id").toPandas()["doc_id"].tolist()
    assert sorted(kept) == [1, 3, 4, 6]


def test_ngram_jaccard(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.4).collect()
    }
    assert pairs[(1, 2)] == 1.0  # normalized-identical
    assert (1, 3) in pairs and 0.4 <= pairs[(1, 3)] < 1.0
    assert (4, 5) in pairs and pairs[(4, 5)] == 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, num_hashes=16, bands=8, threshold=0.4
        ).collect()
    }
    assert (1, 2) in got and (4, 5) in got
    assert (1, 4) not in got


def test_minhash_tokenless_docs_match_duckdb(spark):
    """NULL, empty and whitespace-only texts get NULL signatures and no band
    rows, as in the DuckDB oracle, so they never pair with each other."""
    import duckdb

    from pdf2pdfocr_spark.plans.entry_queries import (
        SQL_MINHASH_PAIRS,
        SQL_MINHASH_SIG,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, None),
        (3, ""),
        (4, "   "),
        (5, "a quick brown fox jumped over a lazy dog today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    sig = dedup.with_minhash(docs, num_hashes=8, n=3)
    assert sorted(tuple(r) for r in sig.collect()) == sorted(
        con.execute(SQL_MINHASH_SIG).fetchall()
    )
    bands = dedup.minhash_band_rows(docs, num_hashes=8, bands=4, n=2)
    assert {r["doc_id"] for r in bands.collect()} == {1, 5}
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=8, bands=4, n=2, threshold=0.08, bucket_cap=10
    )
    assert sorted(tuple(r) for r in pairs.collect()) == sorted(
        con.execute(SQL_MINHASH_PAIRS).fetchall()
    )


def test_ngram_jaccard_tokenless_docs_match_duckdb(spark):
    """NULL, empty and whitespace-only texts have no shingle to share, so
    they never pair with each other, as in the DuckDB oracle."""
    import duckdb

    from pdf2pdfocr_spark.plans.entry_queries import SQL_NGRAM_JACCARD

    rows = [
        (1, "the quick brown fox jumps"),
        (2, None),
        (3, ""),
        (4, "   "),
        (5, "the quick brown fox leaps"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    pairs = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.08, max_df=30)
    assert sorted(tuple(r) for r in pairs.collect()) == sorted(
        con.execute(SQL_NGRAM_JACCARD).fetchall()
    )


def test_simhash_hamming(docs):
    fps = {r["doc_id"]: r["simhash"] for r in dedup.with_simhash(docs).collect()}
    assert fps[1] == fps[2]  # normalized-identical → identical fingerprint
    assert fps[4] == fps[5]
    ham13 = bin(fps[1] ^ fps[3]).count("1")
    ham14 = bin(fps[1] ^ fps[4]).count("1")
    assert ham13 < ham14  # near-dup closer than unrelated
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dups(docs, max_hamming=ham13).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0]),   # nearly parallel to 0
        (2, [0.0, 1.0, 0.0]),    # orthogonal
        (3, [-1.0, 0.0, 0.0]),   # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = similarity.cosine_topk(emb, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [0, 1]
    assert top[0]["score"] == 1.0


def test_lsh_ann_contains_true_neighbour(spark):
    import random

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)]
    rows.append((999, [v * 1.01 for v in rows[0][1]]))  # near-copy of vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = similarity.hyperplanes(16, 6, seed=42)
    got = similarity.lsh_ann_topk(emb, rows[0][1], planes, k=5).collect()
    ids = [r["vec_id"] for r in got]
    assert 0 in ids and 999 in ids


def test_ivf_topk_finds_true_neighbour(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    rows.append((999, [v * 1.02 for v in rows[0][1]]))  # near-copy of vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_centroids(16, 8, seed=7)
    got = similarity.ivf_topk(emb, rows[0][1], cents, nprobe=2, k=5).collect()
    ids = [r["vec_id"] for r in got]
    assert ids[0] in (0, 999) and {0, 999} <= set(ids)
    # the probe actually prunes: candidate set is a strict subset
    assigned = similarity.with_ivf_cell(emb, cents)
    cells = similarity.ivf_probe_cells(rows[0][1], cents, nprobe=2)
    n_cand = assigned.filter(F.col("ivf_cell").isin(cells)).count()
    assert 0 < n_cand < len(rows)


def test_with_ivf_cell_keeps_caller_dots_column(spark):
    """with_ivf_cell's temp column must not overwrite (and then drop) a
    caller column that happens to share its name."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_centroids(8, 4, seed=7)
    want = {
        r["vec_id"]: r["ivf_cell"]
        for r in similarity.with_ivf_cell(emb, cents).collect()
    }
    clashing = emb.withColumn("_dots", F.col("vec_id") * 10).withColumn(
        "__dots", F.lit("keep")
    )
    got = similarity.with_ivf_cell(clashing, cents)
    assert got.columns == clashing.columns + ["ivf_cell"]
    for r in got.collect():
        assert r["_dots"] == r["vec_id"] * 10 and r["__dots"] == "keep"
        assert r["ivf_cell"] == want[r["vec_id"]]


def test_knn_join_and_near_dups(spark):
    rows = [
        (1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, [0.0, 1.0]), (4, [0.01, 0.99]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = similarity.hyperplanes(2, 2, seed=1)
    nd = similarity.embedding_near_dups(emb, planes, threshold=0.95)
    got = {(r["id_a"], r["id_b"]) for r in nd.collect()}
    assert (1, 2) in got and (3, 4) in got and (1, 3) not in got


def test_langid_and_quality(spark):
    rows = [
        (1, "the cat sat on the mat and it is a good day for the park"),
        (2, "o gato sentou em um tapete e que dia bom para o parque"),
        (3, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    langs = {r["doc_id"]: r for r in df.select(
        "doc_id", ta.detect_language(F.col("text")).alias("lang")).collect()}
    assert langs[1]["lang"] == "en"
    assert langs[2]["lang"] == "pt"
    assert langs[3]["lang"] == "und"

    q = {r["doc_id"]: r for r in ta.quality_features(df).collect()}
    assert q[1]["quality_score"] > q[3]["quality_score"]
    assert q[1]["n_tokens"] == 15


def test_token_counts_and_fingerprint(spark):
    df = spark.createDataFrame([(1, "Hello, world! x2")], "doc_id long, text string")
    r = df.select(
        ta.token_count_ws(F.col("text")).alias("ws"),
        ta.token_count_bpe(F.col("text")).alias("bpe"),
        ta.fingerprint(F.col("text")).alias("fp"),
    ).collect()[0]
    assert r["ws"] == 3
    # Hello , world ! x 2 → 6 BPE-ish tokens
    assert r["bpe"] == 6
    assert 0 <= r["fp"] < (1 << 31) - 1
    # order sensitivity
    df2 = spark.createDataFrame([(1, "world! Hello, x2")], "doc_id long, text string")
    r2 = df2.select(ta.fingerprint(F.col("text")).alias("fp")).collect()[0]
    assert r2["fp"] != r["fp"]


def test_multimodal_features_plumbing(spark):
    media = multimodal.synth_media(spark, n=12)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 12
    by_type = {}
    for r in feats:
        assert r["error"] is None
        assert len(r["feature"]) == 8
        by_type.setdefault(r["media_type"], []).append(r)
    assert set(by_type) == {"image", "audio", "video"}
    assert all(r["n_frames_sampled"] == 4 for r in by_type["video"])
    assert all(r["out_width"] == 16 for r in by_type["image"])
    # determinism across runs
    again = multimodal.extract_features(multimodal.synth_media(spark, n=12)).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))


def _have_pillow() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    _have_pillow(),
    reason="codec installed: the real path is covered by "
    "test_multimodal_codec_decoder_real_image",
)
def test_multimodal_codec_decoder_stubbed(spark):
    media = multimodal.synth_media(spark, n=3)
    feats = multimodal.extract_features(media, decoder=multimodal.CodecDecoder())
    rows = feats.collect()
    assert all(r["error"] and "decoder_unavailable" in r["error"] for r in rows)


@pytest.mark.skipif(
    not _have_pillow(),
    reason="Pillow absent in this sandbox; cluster CI exercises the real "
    "decode path (round-5 verdict #8)",
)
def test_multimodal_codec_decoder_real_image(spark):
    """When a Pillow-class decoder IS present, CodecDecoder must use it:
    a real PNG decodes to its pixel array and flows through the
    mapInPandas feature path with no error."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (20, 10), (255, 0, 0)).save(buf, format="PNG")
    payload = buf.getvalue()

    arr = multimodal.CodecDecoder().decode(payload, "image")
    assert arr.shape == (10, 20, 3)
    assert (arr[:, :, 0] == 255).all() and (arr[:, :, 1] == 0).all()

    media = spark.createDataFrame(
        [("m1", "image", bytearray(payload), (20, 10, None, "png"))],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.extract_features(
        media, decoder=multimodal.CodecDecoder()
    ).collect()
    assert len(rows) == 1 and rows[0]["error"] is None
    # solid red resized: every feature chunk mean reflects (255,0,0)
    assert rows[0]["feature"] is not None and rows[0]["out_width"] == 16


CC_PATHS = ("driver", "distributed")


@contextmanager
def _cc_path(spark, path):
    """Runs the body on one exit of ``dedup.duplicate_clusters``: the
    default session finishes small edge sets on the driver ("driver"), and
    ``spark.sql.autoBroadcastJoinThreshold=-1`` forces distributed rounds
    ("distributed"). Asserts which one ran by counting large-star phases."""
    calls = []
    large_star = dedup._large_star

    def counted(edges):
        calls.append(1)
        return large_star(edges)

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    dedup._large_star = counted
    if path == "distributed":
        spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)
        dedup._large_star = large_star
    assert (len(calls) > 0) == (path == "distributed"), (path, len(calls))


def _clusters(spark, pairs, path) -> dict:
    with _cc_path(spark, path):
        return {r["doc_id"]: r["cluster_id"]
                for r in dedup.duplicate_clusters(pairs).collect()}


def test_duplicate_clusters_min_label(spark):
    # two components: {1,2,3,7} via chain 1-2, 2-3, 3-7; {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (10, 11)], "id_a long, id_b long"
    )
    for path in CC_PATHS:
        got = _clusters(spark, pairs, path)
        assert got == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}, path


def test_duplicate_clusters_string_ids(spark):
    """The job's ids are strings: labels are the minimum in Spark's string
    order ("doc-10" < "doc-9", "z" < "é") on both paths."""
    pairs = spark.createDataFrame(
        [("doc-9", "doc-2"), ("doc-2", "doc-10"), ("é", "z"), ("x", "x")],
        "id_a string, id_b string",
    )
    for path in CC_PATHS:
        got = _clusters(spark, pairs, path)
        assert got == {"doc-9": "doc-10", "doc-2": "doc-10",
                       "doc-10": "doc-10", "é": "z", "z": "z", "x": "x"}, path


def test_duplicate_clusters_chain_graph(spark):
    """A chain-shaped pair graph (A~B~C~…, realistic template drift) has
    diameter = chain length; min-label propagation needs O(diameter)
    rounds. Large-star/small-star converges in O(log n) rounds — a 200-node
    chain (diameter 200) must resolve well under the default max_iters."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    for path in CC_PATHS:
        assert _clusters(spark, pairs, path) == {i: 0 for i in range(201)}, path


def test_duplicate_clusters_driver_finish_after_rounds(spark, monkeypatch):
    """Edges above the bound run distributed rounds until the residual set
    fits, then finish on the driver. The 200-edge chain's ids take 982
    bytes; the star it converges to takes 692."""
    calls = {"large_star": 0, "driver": 0}
    large_star, driver_labels = dedup._large_star, dedup._driver_labels

    def count(name, fn):
        def wrapped(edges):
            calls[name] += 1
            return fn(edges)
        return wrapped

    monkeypatch.setattr(dedup, "_large_star", count("large_star", large_star))
    monkeypatch.setattr(dedup, "_driver_labels", count("driver", driver_labels))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "900b")
    try:
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup.duplicate_clusters(pairs).collect()}
    finally:
        spark.conf.set(key, prev)
    assert got == {i: 0 for i in range(201)}
    assert calls["large_star"] > 0 and calls["driver"] == 1


def test_duplicate_clusters_two_chains_and_dense(spark):
    """Mixed shapes in one pair set: two disjoint chains + one dense clique
    — labels must be each component's min, nothing cross-contaminates."""
    chain_a = [(i, i + 1) for i in range(100, 140)]
    chain_b = [(i, i + 1) for i in range(500, 520)]
    clique = [(a, b) for a in range(900, 905) for b in range(a + 1, 905)]
    pairs = spark.createDataFrame(
        chain_a + chain_b + clique, "id_a long, id_b long"
    )
    expect = {i: 100 for i in range(100, 141)}
    expect.update({i: 500 for i in range(500, 521)})
    expect.update({i: 900 for i in range(900, 905)})
    for path in CC_PATHS:
        assert _clusters(spark, pairs, path) == expect, path


def test_duplicate_clusters_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    for path in CC_PATHS:
        assert _clusters(spark, pairs, path) == {}, path


def test_stratified_sample_deterministic_and_bounded(spark):
    from pdf2pdfocr_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(100)], "doc_id long, source string"
    )
    a = sampling.stratified_sample(df, "source", k=4).collect()
    b = sampling.stratified_sample(df, "source", k=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    per = {}
    for r in a:
        per.setdefault(r["source"], []).append(r["_rank"])
    assert set(per) == {"s0", "s1", "s2"}
    for ranks in per.values():
        assert sorted(ranks) == [1, 2, 3, 4]
    # the hash order is not ingestion order (it actually shuffles)
    ids = sorted(r["doc_id"] for r in a)
    assert ids != list(range(12))


def test_pack_shards_greedy_boundaries(spark):
    from pdf2pdfocr_spark.operators import sampling

    # single bucket (buckets=1) isolates the packing semantics
    df = spark.createDataFrame(
        [(1, 60), (2, 60), (3, 250), (4, 10), (5, 10)],
        "doc_id long, n_tokens long",
    )
    got = {r["doc_id"]: r["shard"]
           for r in sampling.pack_shards(df, budget=100, buckets=1).collect()}
    # preceding sums: d1=0, d2=60, d3=120, d4=370, d5=380
    assert got == {1: 0, 2: 0, 3: 1, 4: 3, 5: 3}
    # every doc in exactly one shard; oversized doc 3 leaves shard 2 empty
    # (stable, non-dense numbering — documented)


def test_pack_shards_bucket_isolation(spark):
    from pdf2pdfocr_spark.operators import sampling
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, 50) for i in range(200)], "doc_id long, n_tokens long"
    )
    out = sampling.pack_shards(df, budget=200, buckets=8)
    # shard 0 of each bucket holds at most ceil(200/50)=4 docs
    sizes = (
        out.groupBy("bucket", "shard").count().agg(F.max("count")).collect()[0][0]
    )
    assert sizes <= 4
    assert out.count() == 200


def test_keep_cluster_representatives(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(8)], "doc_id long, text string"
    )
    # clusters {1,2,5} and {6,7}; docs 0,3,4 unpaired
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (6, 7)], "id_a long, id_b long"
    )
    for path in CC_PATHS:
        with _cc_path(spark, path):
            kept = sorted(
                r["doc_id"]
                for r in dedup.keep_cluster_representatives(docs, pairs).collect()
            )
        assert kept == [0, 1, 3, 4, 6], path  # min-id per cluster + all unpaired

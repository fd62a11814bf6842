"""End-to-end chained training-data dedup job (round-3 verdict #7):
MinHash∪SimHash pairs → clusters → keep-one → sample → token-budget shards,
with overflow ledgers + per-stage metrics written next to lineage."""

from pyspark.sql import functions as F

from pdf2pdfocr_spark import jobs, lineage

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen green "
    "turtles slowly carry heavy wooden crates across the narrow stone "
    "bridge under a pale winter moon as distant bells ring softly"
)


def _fixture_docs(spark):
    rows = []
    # near-dup group {1,2,3}: one-word drift per variant (chain-ish)
    rows.append((1, BASE, "web"))
    rows.append((2, BASE.replace("quick", "swift"), "web"))
    rows.append((3, BASE.replace("quick", "swift").replace("lazy", "idle"), "book"))
    # exact-dup group {10,11}
    dup = (
        "colorless green ideas sleep furiously beneath the ancient copper "
        "dome where forgotten machines hum their endless binary lullaby "
        "to rows of dusty terminals awaiting one final instruction"
    )
    rows.append((10, dup, "book"))
    rows.append((11, dup, "web"))
    # distinct docs 20-25: disjoint vocabularies
    uniques = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi",
        "uno dos tres cuatro cinco seis siete ocho nueve diez once "
        "doce trece catorce quince dieciseis diecisiete dieciocho",
        "north south east west summit valley river ocean desert tundra "
        "prairie canyon glacier plateau archipelago peninsula isthmus",
        "violin cello oboe clarinet bassoon trumpet trombone tuba harp "
        "timpani celesta piccolo contrabass marimba vibraphone",
        "enzyme protein ribosome mitochondria nucleus chromosome lipid "
        "membrane cytoplasm vacuole chloroplast organelle peptide",
        "voltage current resistance capacitance inductance impedance "
        "frequency amplitude waveform oscillator transistor diode",
    ]
    for i, txt in enumerate(uniques):
        rows.append((20 + i, txt, "web" if i % 2 == 0 else "book"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_dedup_job_end_to_end(spark, tmp_path):
    out = str(tmp_path / "dedup_out")
    docs = _fixture_docs(spark)
    metrics = jobs.run_dedup_job(
        spark, docs, out, "run-d1", shard_budget=60, shard_buckets=2
    )

    # clusters: {1,2,3}→1, {10,11}→10 (min-id representative)
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in spark.read.parquet(f"{out}/clusters").collect()
    }
    assert clusters[1] == 1 and clusters[2] == 1 and clusters[3] == 1
    assert clusters[10] == 10 and clusters[11] == 10
    assert not any(d >= 20 for d in clusters)  # distinct docs never pair

    # keep-one: reps + all unpaired docs survive
    shard_rows = spark.read.parquet(f"{out}/shards").collect()
    kept_ids = sorted(r["doc_id"] for r in shard_rows)
    assert kept_ids == [1, 10, 20, 21, 22, 23, 24, 25]  # each exactly once

    # shard packing: per-(bucket, shard) token sums respect the greedy
    # budget rule — a shard's preceding-sum boundary means every shard
    # except possibly the last-started one stays under budget + one doc
    by_shard = {}
    for r in shard_rows:
        by_shard.setdefault((r["bucket"], r["shard"]), []).append(r["n_tokens"])
    for (_b, _s), toks in by_shard.items():
        # exclusive preceding sum: first doc always fits; total ≤ budget
        # plus the doc that crossed the boundary
        assert sum(toks) <= 60 + max(toks)

    # metrics ledger: per-stage counts incl. overflow visibility (r3 #8)
    m = {
        r["stage"]: r["n"]
        for r in lineage.read_metrics(spark, out).collect()
    }
    assert m["docs_in"] == 11
    assert m["docs_dropped"] == 3 and m["docs_kept"] == 8
    assert m["docs_sampled"] == 8 and m["dup_pairs"] >= 3
    assert m["minhash_overflow_buckets"] == 0
    assert m["simhash_overflow_buckets"] == 0
    assert m["shards"] == len(by_shard)
    assert metrics["docs_kept"] == 8

    # overflow ledgers exist (empty here — caps not hit on this corpus)
    assert spark.read.parquet(f"{out}/ledgers/minhash_overflow").count() == 0
    assert spark.read.parquet(f"{out}/ledgers/simhash_overflow").count() == 0


def test_dedup_job_stratified_sampling(spark, tmp_path):
    """sample_k bounds survivors per stratum AFTER keep-one."""
    out = str(tmp_path / "dedup_sample_out")
    docs = _fixture_docs(spark)
    jobs.run_dedup_job(
        spark, docs, out, "run-d2", sample_k=2, strata_col="source",
        shard_budget=60, shard_buckets=2,
    )
    shards = spark.read.parquet(f"{out}/shards")
    per = {
        r["source"]: r["n"]
        for r in shards.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per and all(n <= 2 for n in per.values())


def test_dedup_job_custom_id_col(spark, tmp_path):
    """ADVICE r4: id_col != 'doc_id' must work end-to-end — the clusters
    frame always emits (doc_id, cluster_id), renamed before the keep-one
    anti-join."""
    out = str(tmp_path / "dedup_idcol_out")
    docs = _fixture_docs(spark).withColumnRenamed("doc_id", "docid")
    metrics = jobs.run_dedup_job(
        spark, docs, out, "run-d3", id_col="docid",
        shard_budget=60, shard_buckets=2,
    )
    assert metrics["docs_kept"] == 8
    kept = sorted(
        r["docid"] for r in spark.read.parquet(f"{out}/shards").collect()
    )
    assert kept == [1, 10, 20, 21, 22, 23, 24, 25]


def test_dedup_job_single_signature_pass(spark, tmp_path, monkeypatch):
    """Round-4 verdict #3: the job computes each signature frame (minhash
    bands / simhash chunks — the two most expensive stages) exactly ONCE,
    shared between the capped candidate join and its overflow ledger."""
    from pdf2pdfocr_spark.operators import dedup as d

    calls = {"band": 0, "chunk": 0}
    orig_band, orig_chunk = d.minhash_band_rows, d.simhash_chunk_rows

    def band_spy(*a, **k):
        calls["band"] += 1
        return orig_band(*a, **k)

    def chunk_spy(*a, **k):
        calls["chunk"] += 1
        return orig_chunk(*a, **k)

    monkeypatch.setattr(d, "minhash_band_rows", band_spy)
    monkeypatch.setattr(d, "simhash_chunk_rows", chunk_spy)
    jobs.run_dedup_job(
        spark, _fixture_docs(spark), str(tmp_path / "o"), "run-sp",
        shard_budget=60, shard_buckets=2,
    )
    assert calls == {"band": 1, "chunk": 1}


def test_overflow_reuses_persisted_signature_frame(spark):
    """Plan-level half of the single-pass contract: an overflow ledger fed
    the persisted signature frame reads the cache (InMemoryTableScan), not
    a fresh source scan + re-hash."""
    import io
    from contextlib import redirect_stdout

    from pdf2pdfocr_spark.operators import dedup as d

    docs = _fixture_docs(spark)
    band = d.minhash_band_rows(docs).persist()
    try:
        band.count()  # materialize the cache
        over = d.minhash_band_overflow(docs, band_rows=band, bucket_cap=1)
        buf = io.StringIO()
        with redirect_stdout(buf):
            over.explain("formatted")
        assert "InMemoryTableScan" in buf.getvalue()
    finally:
        band.unpersist()


def test_dedup_job_cli(spark, tmp_path, monkeypatch):
    """--job dedup drives the chained flow through the spark-submit CLI,
    which reads --input through the S1 corpus reader."""
    from pdf2pdfocr_spark.sources import readers

    read_paths = []
    real_read = readers.read_documents

    def spy(spark_, path):
        read_paths.append(path)
        return real_read(spark_, path)

    monkeypatch.setattr(readers, "read_documents", spy)
    inp = str(tmp_path / "docs_in")
    out = str(tmp_path / "cli_out")
    _fixture_docs(spark).write.parquet(inp)
    jobs.main([
        "--input", inp, "--output", out, "--run-id", "run-cli",
        "--job", "dedup", "--shard-budget", "60", "--shard-buckets", "2",
    ])
    assert read_paths == [inp]
    assert spark.read.parquet(f"{out}/shards").count() == 8


def test_dedup_job_keeps_tokenless_docs(spark, tmp_path):
    """Documents with NULL, empty or whitespace-only text have no MinHash
    signature, so they never pair with each other and all survive."""
    empties = spark.createDataFrame(
        [(30, None, "web"), (31, "", "web"), (32, "   ", "book")],
        "doc_id long, text string, source string",
    )
    out = str(tmp_path / "dedup_empty")
    metrics = jobs.run_dedup_job(
        spark, _fixture_docs(spark).unionByName(empties), out, "run-e1",
        shard_budget=60, shard_buckets=2,
    )
    assert metrics["docs_kept"] == 11
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/shards").collect()}
    assert {30, 31, 32} <= kept


def test_dedup_job_traced_split(spark, tmp_path):
    """The bench leg's per-layer split comes from Spark's event log of one
    traced call (bench.traced_dedup_job), not from barriers in the job:
    each dedup layer gets wall time, the split sums to the traced wall,
    and tracing leaves the job's results unchanged."""
    import bench
    from perfbench import eventlog

    docs = _fixture_docs(spark)
    metrics, split = bench.traced_dedup_job(
        spark, docs, str(tmp_path / "traced"), "run-t1",
        shard_budget=60, shard_buckets=2,
    )
    for layer in (
        "operators.dedup.signatures", "operators.dedup.pairs",
        "operators.dedup.cc",
    ):
        assert split.get(layer, 0) > 0, split
    wall = split.pop("traced_wall_s")
    assert set(split) <= {*eventlog.SELF_LAYERS, eventlog.UNATTRIBUTED}
    assert abs(sum(split.values()) - wall) <= 0.05 * wall, (split, wall)

    plain = jobs.run_dedup_job(
        spark, docs, str(tmp_path / "plain"), "run-t1",
        shard_budget=60, shard_buckets=2,
    )
    assert metrics == plain


def test_dedup_job_warm_call_reuses_generated_code(spark, tmp_path):
    """A second call on a warm session finds the job's generated classes in
    Spark's codegen cache instead of compiling them again (Janino + JIT):
    the default 100-entry cache is smaller than the ~200 classes one dedup
    job generates, which made every warm call recompile about 200."""
    compiled = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    docs = _fixture_docs(spark)
    jobs.run_dedup_job(spark, docs, str(tmp_path / "cold"), "run-c1",
                       shard_budget=60, shard_buckets=2)
    before = compiled.getCount()
    jobs.run_dedup_job(spark, docs, str(tmp_path / "warm"), "run-c2",
                       shard_budget=60, shard_buckets=2)
    assert compiled.getCount() - before <= 10


def test_dedup_job_spark_job_budget(spark, tmp_path):
    """The job is driver-bound, so its cost grows with the queries the
    driver plans: its counts ride on Observations of the writes it already
    does, and connected components finish on the driver with one aggregate
    and one collect. Re-counting the written frames and checkpointing the
    cc inputs took 56 jobs on this fixture; the job now takes 32."""
    docs = _fixture_docs(spark)
    sc = spark.sparkContext
    sc.setJobGroup("job-budget", "count the jobs of one call")
    try:
        jobs.run_dedup_job(
            spark, docs, str(tmp_path / "o"), "run-b1",
            shard_budget=60, shard_buckets=2,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n = len(sc.statusTracker().getJobIdsForGroup("job-budget"))
    assert n <= 40, n


def test_dedup_job_sampled_counts_without_checkpoint_or_python_worker(
    spark, tmp_path, monkeypatch
):
    """Under the broadcast bound connected components run no
    ``localCheckpoint`` and no ``createDataFrame`` (a Python worker task),
    and the observed counts of a sampled run match direct counts of what
    the job wrote."""
    from pyspark.sql import DataFrame, SparkSession

    docs = _fixture_docs(spark)
    n_docs = docs.count()

    def refuse(name):
        def raiser(*args, **kwargs):
            raise AssertionError(f"{name} called")
        return raiser

    monkeypatch.setattr(DataFrame, "localCheckpoint", refuse("localCheckpoint"))
    monkeypatch.setattr(SparkSession, "createDataFrame", refuse("createDataFrame"))
    out = str(tmp_path / "sampled")
    metrics = jobs.run_dedup_job(
        spark, docs, out, "run-s1", sample_k=2, strata_col="source",
        shard_budget=60, shard_buckets=2,
    )
    monkeypatch.undo()

    clusters = spark.read.parquet(f"{out}/clusters")
    dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).count()
    shards = spark.read.parquet(f"{out}/shards")
    m = {r["stage"]: r["n"] for r in lineage.read_metrics(spark, out).collect()}
    assert m["docs_in"] == n_docs
    assert m["docs_dropped"] == dropped == 3
    assert m["docs_kept"] == n_docs - dropped
    assert m["docs_sampled"] == shards.count() == 4  # 2 strata, k = 2
    assert m["shards"] == shards.select("bucket", "shard").distinct().count()
    assert {k: metrics[k] for k in m} == m

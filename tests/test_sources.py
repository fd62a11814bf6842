"""Sources/sinks (S1/S2/S5): mime sniff on magic bytes, raw-file ingest,
round-trip through the checkpointed span sink the job writes."""

from pyspark.sql import functions as F

from pdf2pdfocr_spark import corpus, lineage
from pdf2pdfocr_spark.oracle import PipelineConfig
from pdf2pdfocr_spark.pipeline import extract
from pdf2pdfocr_spark.sources import readers


def test_sniff_mime_magic_bytes(spark):
    rows = [
        ("pdf", b"%PDF-1.7 ..."),
        ("tiff_le", b"II*\x00rest"),
        ("tiff_be", b"MM\x00*rest"),
        ("jpeg", b"\xff\xd8\xff\xe0JFIF"),
        ("png", b"\x89PNG\r\n"),
        ("junk", b"hello world"),
    ]
    df = spark.createDataFrame(rows, "name string, content binary")
    got = {
        r["name"]: r["mime"]
        for r in df.select("name", readers.sniff_mime(F.col("content")).alias("mime")).collect()
    }
    assert got == {
        "pdf": "application/pdf",
        "tiff_le": "image/tiff",
        "tiff_be": "image/tiff",
        "jpeg": "image/jpeg",
        "png": "image/png",
        "junk": "application/octet-stream",
    }


def test_ingest_raw_files(spark, tmp_path):
    (tmp_path / "a.pdf").write_bytes(b"%PDF-1.4 fake")
    (tmp_path / "b.png").write_bytes(b"\x89PNG\r\n fake")
    (tmp_path / "c.txt").write_bytes(b"plain text")
    out = {r["source_path"].rsplit("/", 1)[-1]: r["accepted"]
           for r in readers.ingest_raw_files(spark, str(tmp_path)).collect()}
    assert out == {"a.pdf": True, "b.png": True, "c.txt": False}


def test_bucket_partition_pruning(spark, tmp_path):
    """Reading one doc_bucket partition must scan only that partition's
    files (the Iceberg bucket-transform pruning analog)."""
    docs = corpus.corpus_df(spark, corpus.synth_documents(26))
    processed, quarantine = extract(docs, PipelineConfig())
    out = str(tmp_path / "out")
    lineage.write_checkpointed(processed, quarantine, out, "r1", buckets=8)
    full = lineage.read_output(spark, out)
    pruned = full.filter(F.col("doc_bucket") == 3)
    assert pruned.count() > 0
    # the bucket predicate must appear as a PartitionFilter (pruned at
    # listing time), not a post-scan Filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "doc_bucket" in pf[0], plan[:800]


def test_write_read_spans_roundtrip(spark, tmp_path):
    docs = corpus.corpus_df(spark, corpus.synth_documents(13))
    processed, quarantine = extract(docs, PipelineConfig())
    out = str(tmp_path / "out")
    lineage.write_checkpointed(processed, quarantine, out, "r1", buckets=8)
    back = lineage.read_output(spark, out)
    assert back.count() == processed.count()
    assert set(back.select("doc_bucket").distinct().toPandas()["doc_bucket"]) <= set(range(8))
    a = {r["doc_id"]: r["spans"] for r in back.collect()}
    b = {r["doc_id"]: r["spans"] for r in processed.collect()}
    assert a == b


def test_missing_iceberg_support_classifier():
    """Round-4 verdict #6: only a missing-DataSource failure (no Iceberg
    jars) may trigger the parquet fallback of read_documents."""
    e1 = Exception(
        "[DATA_SOURCE_NOT_FOUND] Failed to find the data source: iceberg."
    )
    assert readers._is_missing_iceberg_support(e1)
    e2 = Exception("java.lang.ClassNotFoundException: iceberg.DefaultSource")
    assert readers._is_missing_iceberg_support(e2)
    chained = Exception("query failed")
    chained.__cause__ = e2
    assert readers._is_missing_iceberg_support(chained)
    e3 = Exception("[PATH_NOT_FOUND] Path does not exist: file:/nope")
    assert not readers._is_missing_iceberg_support(e3)
    e4 = Exception("org.apache.iceberg.exceptions.ValidationException: bad metadata")
    assert not readers._is_missing_iceberg_support(e4)


def test_read_documents_auto_reraises_real_errors(spark, tmp_path, monkeypatch):
    """read_documents falls back to parquet when Iceberg support is absent (the
    sandbox), but a REAL read error must re-raise instead of silently
    misreading the table dir as bare parquet."""
    import pytest

    p = str(tmp_path / "t")
    spark.range(3).toDF("doc_id").write.parquet(p)
    # sandbox has no Iceberg jars: classifier sees missing-support → parquet
    assert readers.read_documents(spark, p).count() == 3
    # same failure reclassified as a real error → must propagate
    monkeypatch.setattr(readers, "_is_missing_iceberg_support", lambda exc: False)
    with pytest.raises(Exception):
        readers.read_documents(spark, p)


def test_nested_schema_pruning_on_metadata_probe(spark, tmp_path):
    """Round-4 verdict #4: the 100 TB scan-cost lever. A kind-only metadata
    query (the S4 text probe / F2 page-count gate) over the span corpus
    must reach the parquet scan with a PRUNED ReadSchema — spans.text and
    spans.media_ref (the document payload, ~all the bytes) never read."""
    import io
    from contextlib import redirect_stdout

    from pdf2pdfocr_spark.pipeline import probe_text_layer

    path = str(tmp_path / "corpus")
    corpus.corpus_df(spark, corpus.synth_documents(8)).write.parquet(path)
    docs = spark.read.parquet(path)

    probe = probe_text_layer(docs).select("doc_id", "has_text")
    n_pages = docs.select(
        "doc_id",
        F.size(
            F.filter(
                F.col("spans").getField("kind"), lambda k: k == F.lit("image")
            )
        ).alias("n_pages"),
    )
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    try:
        spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
        for df in (probe, n_pages):
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            read_schema = [
                ln for ln in plan.splitlines() if "ReadSchema" in ln
            ]
            assert read_schema, plan
            line = read_schema[0]
            assert "kind" in line, line
            assert "media_ref" not in line, f"payload column read: {line}"
            assert "text" not in line.replace("has_text", ""), (
                f"span text read: {line}"
            )
            df.count()  # the pruned plan actually executes
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)


def test_flagship_plan_has_exactly_three_exchanges(spark, tmp_path):
    """SCALE.md's shuffle inventory, plan-PINNED (round 5): the production
    extract path shuffles exactly three times — salted page repartition
    (X2), groupBy(doc_id) reassembly (R1), and the doc-side reassembly
    join (R3; Broadcast at this scale, SMJ+AQE-skew at 100 TB). Gates,
    probe, payload decode and span emission must add ZERO exchanges — a
    fourth Exchange appearing here is a scale regression."""
    import io
    import re
    from contextlib import redirect_stdout

    path = str(tmp_path / "plan_corpus")
    corpus.corpus_df(spark, corpus.synth_documents(30)).write.parquet(path)
    processed, _q = extract(spark.read.parquet(path), PipelineConfig())
    buf = io.StringIO()
    with redirect_stdout(buf):
        processed.explain("formatted")
    exchanges = [
        ln.strip()
        for ln in buf.getvalue().splitlines()
        if re.match(r"^\(\d+\) (Exchange|BroadcastExchange)", ln.strip())
    ]
    assert len(exchanges) == 3, exchanges


def test_not_iceberg_table_classifier():
    """ADVICE r5 (low): on Iceberg-ENABLED clusters, read_documents over a plain
    parquet dir fails NoSuchTableException-shaped, not class-not-found —
    that shape is fallback-eligible (Iceberg itself asserted no table is
    there); genuine read errors stay non-matching."""
    e1 = Exception(
        "org.apache.iceberg.exceptions.NoSuchTableException: "
        "Table does not exist at location: file:/data/t"
    )
    assert readers._is_not_iceberg_table(e1)
    e2 = Exception(
        "[TABLE_OR_VIEW_NOT_FOUND] The table or view `t` cannot be found"
    )
    assert readers._is_not_iceberg_table(e2)
    e3 = Exception("file:/data/t is not an Iceberg table")
    assert readers._is_not_iceberg_table(e3)
    chained = Exception("query failed")
    chained.__cause__ = e1
    assert readers._is_not_iceberg_table(chained)
    e4 = Exception(
        "org.apache.iceberg.exceptions.ValidationException: bad metadata"
    )
    assert not readers._is_not_iceberg_table(e4)
    e5 = Exception("java.nio.file.AccessDeniedException: /data/t")
    assert not readers._is_not_iceberg_table(e5)


def test_read_documents_auto_falls_back_on_no_such_table(
    spark, tmp_path, monkeypatch
):
    """The NoSuchTableException-shaped failure path falls back to parquet
    even when Iceberg support is present (missing-support classifier says
    no), restoring parquet reads on Iceberg-enabled clusters."""
    p = str(tmp_path / "t")
    spark.range(3).toDF("doc_id").write.parquet(p)
    monkeypatch.setattr(
        readers, "_is_missing_iceberg_support", lambda exc: False
    )
    monkeypatch.setattr(readers, "_is_not_iceberg_table", lambda exc: True)
    assert readers.read_documents(spark, p).count() == 3

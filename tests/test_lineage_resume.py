"""Kill/resume semantics (SURVEY.md §5 item 4): a partial run followed by a
resumed run must equal a single full run — no duplicate spans, no re-OCR."""

from pyspark.sql import functions as F

from pdf2pdfocr_spark import corpus, lineage
from pdf2pdfocr_spark.oracle import PipelineConfig
from pdf2pdfocr_spark.pipeline import extract


def _run(spark, docs, out_path, run_id):
    df = corpus.corpus_df(spark, docs)
    df = lineage.resume_filter(df, out_path)
    processed, quarantine = extract(df, PipelineConfig())
    lineage.write_checkpointed(processed, quarantine, out_path, run_id)


def test_resume_produces_identical_table(spark, tmp_path):
    docs = corpus.synth_documents(26)
    part, full = str(tmp_path / "part"), str(tmp_path / "full")

    # "killed" run: only the first half landed
    _run(spark, docs[:13], part, run_id="run-001")
    # resume over the whole corpus
    _run(spark, docs, part, run_id="run-002")
    # uninterrupted single run
    _run(spark, docs, full, run_id="run-solo")

    a = {r["doc_id"]: r["spans"] for r in lineage.read_output(spark, part).collect()}
    b = {r["doc_id"]: r["spans"] for r in lineage.read_output(spark, full).collect()}
    assert a == b

    # no duplicates: every doc_id appears exactly once
    dup = (
        lineage.read_output(spark, part)
        .groupBy("doc_id").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0

    # resume run only processed the second half (minus quarantined docs)
    second = (
        lineage.read_output(spark, part)
        .filter(F.col("run_id") == "run-002").count()
    )
    assert second == len(docs) - 13 - 1  # one 'corrupt' doc in docs[13:]


def test_lineage_metrics_match_output(spark, tmp_path):
    docs = corpus.synth_documents(20)
    out = str(tmp_path / "out")
    _run(spark, docs, out, run_id="run-x")
    lin = lineage.read_lineage(spark, out)
    total = lin.agg(F.sum("n_docs"), F.sum("n_spans")).collect()[0]
    outdf = lineage.read_output(spark, out)
    assert total[0] == outdf.count()
    assert total[1] == outdf.agg(F.sum(F.size("spans"))).collect()[0][0]
    assert lin.filter(F.col("status") != "committed").count() == 0


def test_lineage_reads_only_this_runs_partition(spark, tmp_path):
    """Lineage derives from the LANDED spans partition of this run (round-3
    ADVICE: a recompute of the in-flight frame can disagree with what landed
    when a cache block is lost under timing-dependent quarantine), and the
    read-back lists ONLY this run's partition — O(this run), never the
    accumulated table (round-2 verdict kept: no O(total-corpus) re-scan)."""
    docs = corpus.synth_documents(30)
    out = str(tmp_path / "out")
    _run(spark, docs[:10], out, run_id="run-1")
    _run(spark, docs[:20], out, run_id="run-2")
    _run(spark, docs, out, run_id="run-3")

    landed = lineage.landed_run(spark, out, "run-3")
    files = landed.inputFiles()
    assert files, "run-3 landed nothing?"
    other = [f for f in files if "run_id=run-3" not in f]
    assert other == [], f"lineage read-back touches other runs: {other}"

    # persisted lineage for run-3 matches run-3's landed output exactly
    lin = lineage.read_lineage(spark, out).filter(F.col("run_id") == "run-3")
    written = lineage.read_output(spark, out).filter(F.col("run_id") == "run-3")
    tot = lin.agg(F.sum("n_docs"), F.sum("n_spans")).collect()[0]
    assert tot[0] == written.count()
    assert tot[1] == written.agg(F.sum(F.size("spans"))).collect()[0][0]


def test_resume_scans_only_compact_done_table(spark, tmp_path):
    """After 3 sequential runs the resume done-set reads ONLY the doc_id
    column of the spans table (the span payloads are never scanned), and
    it holds exactly the landed docs: quarantined docs are NOT done, so a
    later run retries them."""
    import io
    from contextlib import redirect_stdout

    docs = corpus.synth_documents(30)
    out = str(tmp_path / "out")
    _run(spark, docs[:10], out, run_id="run-1")
    _run(spark, docs[:20], out, run_id="run-2")
    _run(spark, docs, out, run_id="run-3")

    done = lineage.done_doc_ids(spark, out)
    buf = io.StringIO()
    with redirect_stdout(buf):
        done.explain("formatted")
    assert "ReadSchema: struct<doc_id:string>" in buf.getvalue()
    assert done.count() == lineage.read_output(spark, out).count()


def test_resume_lists_checkpoint_on_the_driver(spark, tmp_path):
    """A local session lists the checkpoint on the driver. Spark otherwise
    turns each listing of a dir with more than 32 subdirs into a job with
    one task per subdir, and a resume lists ``spans/`` for its done-set,
    again when the append refreshes the cached frame that scans it, and
    for the landed read-back."""
    import glob

    from pdf2pdfocr_spark import jobs

    docs = corpus.synth_documents(80)
    out = str(tmp_path / "out")
    jobs.run_extraction_job(spark, corpus.corpus_df(spark, docs[:60]), out, "r1")
    jobs.run_extraction_job(spark, corpus.corpus_df(spark, docs[:70]), out, "r2")
    assert len(glob.glob(f"{out}/spans/run_id=r1/doc_bucket=*")) > 32
    sc = spark.sparkContext
    # the task count below was measured at 8 shuffle partitions
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    sc.setJobGroup("resume-tasks", "count the tasks of one resume call")
    try:
        m = jobs.run_extraction_job(spark, corpus.corpus_df(spark, docs), out, "r3")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert m["n_docs"] > 0
    # Tasks that ran (a skipped stage completes none). The call runs 69
    # here; a listing job over r1's >32 bucket dirs alone adds one task
    # per dir: under Spark's default threshold two ran, 147 tasks in all.
    tracker = sc.statusTracker()
    tasks = sum(
        tracker.getStageInfo(s).numCompletedTasks
        for j in tracker.getJobIdsForGroup("resume-tasks")
        for s in tracker.getJobInfo(j).stageIds
    )
    assert tasks <= 100, tasks


def test_crash_between_spans_and_done_ids_reconciles(spark, tmp_path):
    """ADVICE r4 (high): a run killed AFTER its spans append but BEFORE its
    lineage write must neither double-append on re-submission nor drop
    docs — the spans append is the commit point, so everything it landed
    is already in the done set."""
    docs = corpus.synth_documents(26)
    out = str(tmp_path / "out")
    _run(spark, docs[:13], out, run_id="run-001")  # healthy first run

    # simulate the kill window: the second run's SPANS land, but its
    # lineage was never written
    df = corpus.corpus_df(spark, docs[13:20])
    df = lineage.resume_filter(df, out)
    processed, _q = extract(df, PipelineConfig())
    killed = lineage.with_bucket(processed, 64).withColumn(
        "run_id", F.lit("run-killed")
    )
    killed.write.mode("append").partitionBy("run_id", "doc_bucket").parquet(
        f"{out}/spans"
    )

    # the done set covers EVERYTHING landed, lineage or not
    done = lineage.done_doc_ids(spark, out)
    landed = lineage.read_output(spark, out)
    assert done.count() == landed.select("doc_id").distinct().count()

    # resume over the full corpus: identical to one uninterrupted run,
    # with no doc processed twice
    _run(spark, docs, out, run_id="run-resume")
    dup = (
        lineage.read_output(spark, out)
        .groupBy("doc_id").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0
    full = str(tmp_path / "full")
    _run(spark, docs, full, run_id="run-solo")
    a = {r["doc_id"]: r["spans"] for r in lineage.read_output(spark, out).collect()}
    b = {r["doc_id"]: r["spans"] for r in lineage.read_output(spark, full).collect()}
    assert a == b


def test_lineage_written_before_commit_marker(spark, tmp_path, monkeypatch):
    """The spans append is the commit point: a failure while writing
    lineage leaves the landed docs done (resume does not redo them), and
    re-submitting the run_id rebuilds the run's lineage from what landed."""
    import pytest

    docs = corpus.synth_documents(6)
    out = str(tmp_path / "out")
    real_summary = lineage.lineage_summary

    def boom(out):
        raise IOError("lineage write failed")

    monkeypatch.setattr(lineage, "lineage_summary", boom)
    with pytest.raises(IOError, match="lineage write failed"):
        _run(spark, docs, out, run_id="run-1")
    landed = lineage.landed_run(spark, out, "run-1").count()
    assert landed > 0
    assert lineage.done_doc_ids(spark, out).count() == landed

    monkeypatch.setattr(lineage, "lineage_summary", real_summary)
    _run(spark, docs, out, run_id="run-1")
    assert lineage.read_output(spark, out).count() == landed
    lin = lineage.read_lineage(spark, out).filter(F.col("run_id") == "run-1")
    assert lin.agg(F.sum("n_docs")).collect()[0][0] == landed


def test_commit_writes_one_file_per_bucket_dir(spark, tmp_path):
    """The spans append is clustered by its partition key, so every
    (run_id, doc_bucket) dir holds exactly one parquet file, and a small
    run's quarantine ledger is one file."""
    import glob

    out = str(tmp_path / "out")
    processed, quarantine = extract(
        corpus.corpus_df(spark, corpus.synth_documents(40)), PipelineConfig()
    )
    lineage.write_checkpointed(processed, quarantine, out, "run-1", buckets=8)
    dirs = sorted(glob.glob(f"{out}/spans/run_id=run-1/doc_bucket=*"))
    assert len(dirs) == 8
    per_dir = {d: len(glob.glob(f"{d}/*.parquet")) for d in dirs}
    assert set(per_dir.values()) == {1}, per_dir
    assert len(glob.glob(f"{out}/quarantine/*.parquet")) == 1
    assert lineage.landed_run(spark, out, "run-1").count() == (
        processed.count()
    )


def test_ledger_rows_written_without_python_worker(
    spark, tmp_path, monkeypatch
):
    """The metrics rows are JVM literals: with ``createDataFrame`` (the
    Python-worker path) unavailable, the commit and the metrics ledger
    still complete, and read back the same rows."""
    from pyspark.sql import SparkSession

    processed, quarantine = extract(
        corpus.corpus_df(spark, corpus.synth_documents(8)), PipelineConfig()
    )

    def no_python_rows(*args, **kwargs):
        raise AssertionError("ledger rows went through createDataFrame")

    monkeypatch.setattr(SparkSession, "createDataFrame", no_python_rows)
    out = str(tmp_path / "out")
    lineage.write_checkpointed(processed, quarantine, out, "run-1")
    lineage.write_metrics(spark, out, "run-1", {"ocr_pages_in": 5, "docs": 3})
    lineage.write_metrics(spark, out, "run-2", {})

    assert lineage.read_lineage(spark, out).count() > 0
    m = lineage.read_metrics(spark, out)
    assert m.schema.simpleString() == (
        "struct<stage:string,n:bigint,run_id:string>"
    )
    assert sorted(map(tuple, m.collect())) == [
        ("docs", 3, "run-1"), ("ocr_pages_in", 5, "run-1"),
    ]


def test_legacy_spans_layout_refused(spark, tmp_path):
    """ADVICE r4 (medium): appending (run_id, doc_bucket) partitions into a
    pre-round-4 doc_bucket-only spans dir would corrupt partition discovery
    for every later read — write_checkpointed refuses with a migration
    message instead of mixing the layouts."""
    import pytest

    out = str(tmp_path / "legacy")
    (tmp_path / "legacy" / "spans" / "doc_bucket=0").mkdir(parents=True)
    docs = corpus.synth_documents(4)
    processed, quarantine = extract(corpus.corpus_df(spark, docs), PipelineConfig())
    with pytest.raises(RuntimeError, match="legacy doc_bucket-partitioned"):
        lineage.write_checkpointed(processed, quarantine, out, "run-1")


def test_metrics_rerun_same_run_id_overwrites(spark, tmp_path):
    """ADVICE: re-running a job with the same run_id must not double-append
    metrics rows — the run's partition is dynamically overwritten."""
    out = str(tmp_path / "out")
    lineage.write_metrics(spark, out, "run-a", {"ocr_pages_in": 5})
    lineage.write_metrics(spark, out, "run-b", {"ocr_pages_in": 7})
    lineage.write_metrics(spark, out, "run-a", {"ocr_pages_in": 9})
    m = {
        (r["run_id"], r["stage"]): r["n"]
        for r in lineage.read_metrics(spark, out).collect()
    }
    # run-a replaced (not duplicated), run-b untouched
    assert m == {("run-a", "ocr_pages_in"): 9, ("run-b", "ocr_pages_in"): 7}


def test_quarantine_ledger_written(spark, tmp_path):
    """Default ledger is SLIM (round-5 verdict #5): (doc_id, skip_reason,
    n_spans, run_id) — no span payloads duplicated into quarantine/ (at a
    5% quarantine rate over 100 TB that copy is ~5 TB; the payload stays
    addressable in the source table by doc_id)."""
    docs = corpus.synth_documents(26)
    out = str(tmp_path / "out")
    _run(spark, docs, out, run_id="run-q")
    q = spark.read.parquet(f"{out}/quarantine")
    assert sorted(q.columns) == ["doc_id", "n_spans", "run_id", "skip_reason"]
    rows = q.filter(F.col("skip_reason") == "corrupt").collect()
    assert len(rows) == 2
    assert all(r["n_spans"] >= 0 for r in rows)


def test_quarantine_payloads_flag_keeps_spans(spark, tmp_path):
    """quarantine_payloads=True (debug deploys / --quarantine-payloads)
    keeps the full span payload beside the slim columns."""
    docs = corpus.synth_documents(26)
    out = str(tmp_path / "out")
    df = corpus.corpus_df(spark, docs)
    processed, quarantine = extract(df, PipelineConfig())
    lineage.write_checkpointed(
        processed, quarantine, out, "run-q", quarantine_payloads=True
    )
    q = spark.read.parquet(f"{out}/quarantine")
    assert "spans" in q.columns and "n_spans" in q.columns
    row = q.filter(F.col("skip_reason") == "corrupt").first()
    assert row["n_spans"] == len(row["spans"])


def test_run_id_with_escaped_chars_commits_cleanly(spark, tmp_path):
    """ADVICE r5 (low): Spark escapes ':', ' ', '%' etc. in partition-dir
    values; the landed read-back must resolve the ESCAPED directory of a
    raw run_id, and resume must treat the run's docs as done."""
    docs = corpus.synth_documents(8)
    out = str(tmp_path / "out")
    rid = "run:2026-08-17 07%30"
    _run(spark, docs, out, run_id=rid)

    # the escaped partition path resolves for the landed read-back
    assert lineage.landed_run(spark, out, rid).count() > 0

    # resume with the weird id already done: nothing reprocessed
    _run(spark, docs, out, run_id="run-resume")
    assert (
        lineage.read_output(spark, out)
        .filter(F.col("run_id") == "run-resume").count()
    ) == 0


def test_done_doc_ids_propagates_read_error_on_present_partition(
    spark, tmp_path, monkeypatch
):
    """ADVICE r5 (medium): a failing ``spans/`` existence check or read
    must propagate out of done_doc_ids — reading a transient storage error
    as "nothing done" would let resume double-append. Only an absent
    ``spans/`` means a first run (None)."""
    import pytest
    from pyspark.sql import DataFrameReader

    assert lineage.done_doc_ids(spark, str(tmp_path / "fresh")) is None
    out = str(tmp_path / "out")
    _run(spark, corpus.synth_documents(5), out, run_id="run-1")

    def blip(*args, **kwargs):
        raise IOError("transient storage blip")

    with monkeypatch.context() as m:
        m.setattr(lineage, "_exists", blip)
        with pytest.raises(IOError, match="transient storage blip"):
            lineage.done_doc_ids(spark, out)
    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "parquet", blip)
        with pytest.raises(IOError, match="transient storage blip"):
            lineage.done_doc_ids(spark, out)
    assert lineage.done_doc_ids(spark, out).count() == (
        lineage.read_output(spark, out).count()
    )


def test_write_checkpointed_propagates_landed_read_error(
    spark, tmp_path, monkeypatch
):
    """ADVICE r5 (medium): if the landed-partition read-back fails while the
    partition EXISTS, write_checkpointed must raise instead of writing
    lineage for an empty run — lineage describes what landed, never a
    guess."""
    import os

    import pytest

    docs = corpus.synth_documents(6)
    out = str(tmp_path / "out")

    def boom(spk, path, rid):
        raise IOError("read-back failed")

    monkeypatch.setattr(lineage, "landed_run", boom)
    df = corpus.corpus_df(spark, docs)
    processed, quarantine = extract(df, PipelineConfig())
    with pytest.raises(IOError, match="read-back failed"):
        lineage.write_checkpointed(processed, quarantine, out, "run-1")
    assert not os.path.exists(f"{out}/lineage")


def test_resubmitted_run_id_replaces_its_lineage(spark, tmp_path):
    """Re-submitting a run_id (the resume flow) replaces the run's lineage
    rows with a summary of everything it landed: the second call reports
    the same landed totals as the first, not twice them."""
    from pdf2pdfocr_spark import jobs

    docs = corpus.corpus_df(spark, corpus.synth_documents(6))
    out = str(tmp_path / "out")
    first = jobs.run_extraction_job(spark, docs, out, "r1")
    again = jobs.run_extraction_job(spark, docs, out, "r1")
    landed = lineage.landed_run(spark, out, "r1")
    n_docs = landed.count()
    n_spans = landed.agg(F.sum(F.size("spans"))).collect()[0][0]
    assert n_docs > 0
    assert (first["n_docs"], first["n_spans"]) == (n_docs, n_spans)
    assert (again["n_docs"], again["n_spans"]) == (n_docs, n_spans)
    lin = lineage.read_lineage(spark, out).filter(F.col("run_id") == "r1")
    assert lin.agg(F.sum("n_docs")).collect()[0][0] == n_docs
    assert lineage.read_lineage(spark, out).columns == list(lineage.LINEAGE_COLS)


def test_legacy_flat_lineage_layout_refused(spark, tmp_path):
    """Lineage is partitioned by run_id; a checkpoint whose lineage/ holds
    flat files is refused before anything is appended, because mixing the
    two layouts breaks partition discovery for every later read."""
    import os

    import pytest

    out = str(tmp_path / "legacy")
    spark.range(1).write.parquet(f"{out}/lineage")
    processed, quarantine = extract(
        corpus.corpus_df(spark, corpus.synth_documents(4)), PipelineConfig()
    )
    with pytest.raises(RuntimeError, match="legacy flat layout"):
        lineage.write_checkpointed(processed, quarantine, out, "run-1")
    assert not os.path.exists(f"{out}/spans")


def _dup_doc_ids(spark, out):
    return (
        lineage.read_output(spark, out)
        .groupBy("doc_id").count().filter(F.col("count") > 1).count()
    )


def test_resume_across_fresh_sessions(spark, tmp_path):
    """Each spark-submit starts with an empty session catalog. Three job
    calls over one output, with every catalog table a call registered
    dropped before the next (external tables: their files stay), must
    still resume: no doc lands twice, and re-submitting the last slice
    lands nothing."""
    from pdf2pdfocr_spark import jobs

    docs = corpus.synth_documents(30)
    out = str(tmp_path / "out")
    landed = []
    for n, run_id in ((10, "r1"), (20, "r2"), (20, "r3")):
        before = {t.name for t in spark.catalog.listTables()}
        m = jobs.run_extraction_job(
            spark, corpus.corpus_df(spark, docs[:n]), out, run_id
        )
        landed.append(m["n_docs"])
        for t in spark.catalog.listTables():
            if t.name not in before and not t.isTemporary:
                spark.sql(f"DROP TABLE {t.name}")
    assert _dup_doc_ids(spark, out) == 0
    assert landed[2] == 0
    assert lineage.read_output(spark, out).count() == landed[0] + landed[1]


def _quarantined(spark, out, run_id):
    return [
        (r["doc_id"], r["skip_reason"])
        for r in spark.read.parquet(f"{out}/quarantine")
        .filter(F.col("run_id") == run_id).collect()
    ]


def test_safe_mode_after_resubmitted_run_id(spark, tmp_path):
    """Re-submitting a run_id re-lands none of its docs, so a later
    safe-mode run quarantines each done doc exactly once as
    ``output_exists``."""
    import dataclasses

    from pdf2pdfocr_spark import jobs

    docs = corpus.corpus_df(spark, corpus.synth_documents(6))
    out = str(tmp_path / "out")
    jobs.run_extraction_job(spark, docs, out, "r1")
    jobs.run_extraction_job(spark, docs, out, "r1")
    done = sorted(r["doc_id"] for r in lineage.read_output(spark, out).collect())
    assert done
    safe = dataclasses.replace(PipelineConfig(), safe_mode=True)
    m = jobs.run_extraction_job(spark, docs, out, "r2", safe)
    assert m["n_docs"] == 0
    exists = sorted(
        d for d, why in _quarantined(spark, out, "r2") if why == "output_exists"
    )
    assert exists == done


def test_safe_mode_never_quarantines_what_it_lands(spark, tmp_path):
    """The quarantine ledger is written before the spans append: a
    safe-mode run over a partly done checkpoint quarantines exactly the
    previously done docs as ``output_exists``, and none it lands itself."""
    import dataclasses

    from pdf2pdfocr_spark import jobs

    docs = corpus.synth_documents(12)
    out = str(tmp_path / "out")
    jobs.run_extraction_job(spark, corpus.corpus_df(spark, docs[:4]), out, "r1")
    first = {r["doc_id"] for r in lineage.landed_run(spark, out, "r1").collect()}
    safe = dataclasses.replace(PipelineConfig(), safe_mode=True)
    m = jobs.run_extraction_job(spark, corpus.corpus_df(spark, docs), out, "r2", safe)
    second = {r["doc_id"] for r in lineage.landed_run(spark, out, "r2").collect()}
    assert m["n_docs"] == len(second) > 0
    q = _quarantined(spark, out, "r2")
    assert not second & {d for d, _ in q}
    assert sorted(d for d, why in q if why == "output_exists") == sorted(first)
    assert _dup_doc_ids(spark, out) == 0


def test_resume_after_first_run_quarantined_everything(spark, tmp_path):
    """A first run whose every doc is gated leaves a ``spans/`` with no
    data files. The done set is then an empty frame (not None, not an
    error), and a resume lands every doc."""
    import dataclasses

    from pdf2pdfocr_spark import jobs

    docs = corpus.corpus_df(spark, corpus.synth_documents(13))
    out = str(tmp_path / "out")
    gated = dataclasses.replace(PipelineConfig(), min_kbytes=10**9)
    assert jobs.run_extraction_job(spark, docs, out, "r1", gated)["n_docs"] == 0
    done = lineage.done_doc_ids(spark, out)
    assert done is not None and done.count() == 0
    m = jobs.run_extraction_job(spark, docs, out, "r2")
    assert m["n_docs"] == 12  # one corrupt-class doc quarantines
    assert lineage.read_output(spark, out).count() == 12

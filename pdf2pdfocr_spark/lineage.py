"""Per-partition checkpointed lineage + resume (north_rule requirement).

The reference's resume primitive is the safe-mode output-exists check
(pdf2pdfocr.py:1161-1167) and its progress tracking is marker files polled
by glob (160, 985-991). At cluster scale both become tables:

* **checkpoint**: the spans table itself, partitioned by (run_id, doc_id
  hash bucket) — its doc_id column is the one set of done doc_ids
  (``done_doc_ids``). The spans append is the commit point: a doc counts
  as done once its spans landed. Checkpoint dirs an older layout left
  beside spans (a bucketed done-id copy, a commit marker) are never read.
* **lineage**: one row per (run_id, doc_bucket) with doc_id range, doc/span
  counts and status — the per-partition metrics ledger.

Resume = a left-anti join of the input against done doc_ids (F5 analog):
already-processed documents are never re-OCR'd, and a re-run after a
mid-run kill produces the identical final table with no duplicate spans
(tested in tests/test_lineage_resume.py).

run_ids are caller-supplied and deterministic in tests (the reference's
5-char random temp prefix, pdf2pdfocr.py:501-504, replaced by seeded ids —
SURVEY.md §7 determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_COLS = (
    "run_id", "doc_bucket", "min_doc_id", "max_doc_id",
    "n_docs", "n_spans", "status",
)

# chars Spark/Hive escape in partition-directory values
# (PartitioningUtils.escapePathName): control chars + these ASCII specials
_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^') | frozenset(
    chr(c) for c in range(0x20)
) | {chr(0x7F)}


def _escape_partition_value(v: str) -> str:
    """Spark's escapePathName equivalent: the on-disk directory name for a
    partition value (``run_id=<escaped>``). Needed so a run_id containing
    ':' / ' ' / '%' etc. resolves to the directory Spark actually wrote
    (ADVICE r5 low: raw-vs-escaped mismatch made such runs look
    uncommitted forever)."""
    return "".join(
        f"%{ord(c):02X}" if c in _ESCAPE_CHARS else c for c in v
    )


def literal_rows(spark: SparkSession, schema: str, rows: list) -> DataFrame:
    """``rows`` (tuples) as a frame of JVM literals on ONE slice, typed by
    the DDL column list ``schema`` (e.g. ``"run_id string, n long"``) —
    the package's one way to write a few ledger rows. A one-slice range
    writes exactly one file; ``spark.createDataFrame(<list>)`` would
    instead ship the pickled rows through a Python worker task
    (``applySchemaToPythonRDD``), which costs more than the write itself."""
    structs = [F.struct(*[F.lit(v) for v in row]) for row in rows]
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.array(*structs).cast(f"array<struct<{schema}>>"))
    )


def with_bucket(df: DataFrame, buckets: int = 64) -> DataFrame:
    """Iceberg ``bucket(N, doc_id)`` transform analog: xxhash64 pmod N."""
    return df.withColumn(
        "doc_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(buckets)).cast("int")
    )


def lineage_summary(out: DataFrame) -> DataFrame:
    """Per-(run_id, doc_bucket) lineage rows aggregated from an output
    frame: (min/max doc_id, doc/span counts, status). Cost is O(the frame);
    ``write_checkpointed`` feeds it the LANDED data read back from this
    run's spans partition, so lineage always describes what actually
    committed (see ``landed_run``)."""
    return out.groupBy("run_id", "doc_bucket").agg(
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.count("*").alias("n_docs"),
        F.sum(F.size("spans")).alias("n_spans"),
        F.lit("committed").alias("status"),
    )


def landed_run(spark: SparkSession, out_path: str, run_id: str) -> DataFrame:
    """Read back ONLY this run's spans partition (spans are partitioned by
    (run_id, doc_bucket), so the scan lists/reads O(this run), never the
    accumulated table — round-2 verdict kept). Round-3 ADVICE: deriving
    lineage from a recompute of the in-flight frame can disagree with what
    landed when a cache block is lost and the pipeline has timing-dependent
    quarantine (page/doc timeouts); the landed partition is the truth."""
    return spark.read.option("basePath", f"{out_path}/spans").parquet(
        f"{out_path}/spans/run_id={_escape_partition_value(run_id)}"
    )


def _run_partition_exists(
    spark: SparkSession, out_path: str, run_id: str
) -> bool:
    """Filesystem-truth check for this run's spans partition directory.
    Deliberately does NOT swallow exceptions: callers use this to decide
    whether a read failure means 'nothing landed' (dir absent) or 'landed
    but unreadable' (must propagate — ADVICE r5 medium ×2: treating a
    transient FS error as 'no data' lets resume double-append)."""
    return _exists(
        spark, f"{out_path}/spans/run_id={_escape_partition_value(run_id)}"
    )


def _exists(spark: SparkSession, path: str) -> bool:
    """Hadoop FS ``exists`` (HDFS/S3A alike); errors propagate."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return bool(p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p))


def _check_layout(spark: SparkSession, out_path: str) -> None:
    """Refuse to append into a checkpoint dir written in an older layout,
    where mixing layouts under one root breaks Spark partition discovery
    (conflicting partition columns) for every later read:

    * spans partitioned by ``doc_bucket`` only (ADVICE r4 medium), where
      the current layout is (``run_id``, ``doc_bucket``);
    * lineage as flat files, where the current layout partitions it by
      ``run_id`` so a re-submitted run replaces its own rows.

    Legacy checkpoints stay READABLE (``done_doc_ids`` and ``read_output``
    read any spans layout) — they just can't be appended to in place;
    re-point the job at a fresh out_path (or rewrite the old tables once)
    to migrate."""
    jvm = spark._jvm

    def legacy(table: str, is_legacy) -> list:
        path = jvm.org.apache.hadoop.fs.Path(f"{out_path}/{table}")
        try:
            fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
            if not fs.exists(path):
                return []
            return [
                st.getPath().getName() for st in fs.listStatus(path)
                if is_legacy(st, st.getPath().getName())
            ]
        except Exception:  # noqa: BLE001 — unreadable root: let the write fail
            return []

    spans = legacy(
        "spans", lambda st, n: st.isDirectory() and n.startswith("doc_bucket=")
    )
    if spans:
        raise RuntimeError(
            f"{out_path}/spans holds a legacy doc_bucket-partitioned layout "
            f"({spans[0]}, ...); appending (run_id, doc_bucket) partitions "
            "into it would corrupt partition discovery for the whole table. "
            "Point the job at a fresh --output (old spans stay readable via "
            "read_output/done_doc_ids) or migrate the directory first."
        )
    flat = legacy(
        "lineage", lambda st, n: st.isFile() and n.endswith(".parquet")
    )
    if flat:
        raise RuntimeError(
            f"{out_path}/lineage holds a legacy flat layout ({flat[0]}, ...); "
            "writing run_id-partitioned lineage into it would corrupt "
            "partition discovery for the whole table. Point the job at a "
            "fresh --output or migrate the directory first."
        )


def write_checkpointed(
    processed: DataFrame,
    quarantine: DataFrame,
    out_path: str,
    run_id: str,
    buckets: int = 64,
    quarantine_payloads: bool = False,
) -> dict:
    """Append the quarantine ledger, then the processed output, then
    replace this run's lineage summary. Returns this run's landed totals,
    ``{"n_docs", "n_spans"}``, observed on the lineage write (no re-read).

    ``quarantine_payloads``: the quarantine ledger defaults to the SLIM
    schema (doc_id, skip_reason, n_spans, run_id) — round-5 verdict #5: at
    a 5% quarantine rate over 100 TB, carrying full span payloads
    duplicates 5 TB of input into ``quarantine/`` when the payload is
    already addressable in the source table by doc_id. Pass True (debug
    deploys) to keep the ``spans`` column for payload-at-hand triage.

    * quarantine: appended FIRST. The done-set is a lazy scan of the spans
      table this call appends to, and the gates (safe mode's
      ``output_exists`` join, resume's anti-join) are re-evaluated by the
      quarantine write. Written after the spans, it would see this run's
      own landed docs as done.
    * spans: partitioned by (run_id, doc_bucket) — resume-era reads touch
      one run's partition, never the history. The append carries a
      REBALANCE hint on ``doc_bucket``, so each (run_id, doc_bucket) dir
      gets ONE file: AQE coalesces a small run's buckets into few tasks
      and splits a skewed bucket at scale. The quarantine append is
      rebalanced the same way (one file for a small run). This append is
      the commit point: once it lands, its docs are in ``done_doc_ids``.
    * lineage: aggregated from the LANDED spans partition read back for this
      run (O(this run)) — faithful to committed data even if the in-flight
      frame's cache was lost and would recompute differently (ADVICE r3).
      Partitioned by run_id with dynamic partition overwrite: re-submitting
      a run_id (the resume flow) replaces the run's rows with a summary of
      everything the run has landed, instead of appending a second copy —
      which also rebuilds the lineage of a run killed after its spans
      append.
    """
    spark = processed.sparkSession
    _check_layout(spark, out_path)
    q = quarantine.withColumn("run_id", F.lit(run_id))
    if "spans" in quarantine.columns:
        q = q.withColumn("n_spans", F.size("spans"))
        if not quarantine_payloads:
            q = q.drop("spans")
    q.hint("rebalance").write.mode("append").parquet(f"{out_path}/quarantine")

    out = with_bucket(processed, buckets).withColumn("run_id", F.lit(run_id))
    out.hint("rebalance", "doc_bucket").write.mode("append").partitionBy(
        "run_id", "doc_bucket"
    ).parquet(f"{out_path}/spans")

    # ADVICE r5 (medium): the fallback to an empty frame is legal ONLY when
    # the partition genuinely doesn't exist (zero rows landed — e.g. every
    # doc quarantined). Any other failure (transient FS error, permission
    # blip) must PROPAGATE: lineage describes what landed, never a guess.
    if _run_partition_exists(spark, out_path, run_id):
        landed = landed_run(spark, out_path, run_id)
    else:
        landed = out.limit(0)
    landed_obs = Observation()
    lineage_summary(landed).observe(
        landed_obs,
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
        F.coalesce(F.sum("n_spans"), F.lit(0)).alias("n_spans"),
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("run_id").parquet(f"{out_path}/lineage")
    return landed_obs.get


def done_doc_ids(spark: SparkSession, out_path: str) -> DataFrame | None:
    """doc_ids already committed: the doc_id column of the spans table —
    the reference's output-exists check (pdf2pdfocr.py:1161-1167) as a
    scan. None on a first run (no ``spans/`` dir); an error from the
    existence check or the read propagates, since reading a failure as
    "nothing done" would let resume double-append. The explicit schema
    reads only doc_id, and makes a ``spans/`` that holds nothing but
    ``_SUCCESS`` (a first run that quarantined every doc) an empty set."""
    if not _exists(spark, f"{out_path}/spans"):
        return None
    return (
        spark.read.schema("doc_id string")
        .parquet(f"{out_path}/spans")
        .select("doc_id")
    )


def resume_filter(docs: DataFrame, out_path: str) -> DataFrame:
    """Left-anti join vs the done set (the F5 primitive, SURVEY.md §2.2):
    only not-yet-processed documents flow into the pipeline."""
    done = done_doc_ids(docs.sparkSession, out_path)
    if done is None:
        return docs
    return docs.join(done, "doc_id", "left_anti")


def write_metrics(
    spark: SparkSession, out_path: str, run_id: str, counts: dict
) -> None:
    """O5 per-stage metrics ledger: the accumulator snapshot (one row per
    stage counter) written next to the lineage table — the durable form of
    the reference's marker-file progress (pdf2pdfocr.py:985-991).

    Partitioned by run_id with DYNAMIC partition overwrite: re-running a job
    with the same run_id (the documented resume flow) replaces that run's
    rows instead of double-appending them, so per-(run_id, stage) sums on
    read stay correct. Caveat (documented): accumulator counts are
    AT-LEAST-ONCE — a retried or speculatively re-executed task re-adds its
    batch, so these are progress/ops numbers; exact per-run doc/span counts
    come from the lineage table, which is derived from the committed output
    frame. The rows are JVM literals (``literal_rows``) on one slice: one
    file per write, no Python worker task."""
    rows = [(run_id, stage, int(v)) for stage, v in sorted(counts.items())]
    (
        literal_rows(spark, "run_id string, stage string, n long", rows)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id")
        .parquet(f"{out_path}/metrics")
    )


def read_metrics(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.parquet(f"{out_path}/metrics")


def read_output(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.parquet(f"{out_path}/spans")


def read_lineage(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.parquet(f"{out_path}/lineage").select(*LINEAGE_COLS)

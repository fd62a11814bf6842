"""Job entry point — the spark-submit surface (north_rule packaging).

    spark-submit --py-files pdf2pdfocr_spark.zip -m pdf2pdfocr_spark.jobs \
        --input /path/corpus --output /path/out --run-id run-42 [flags]

Flags mirror the reference CLI (pdf2pdfocr.py:1413-1491): -t/--check-text,
-a/--avoid-encrypted, -b/--min-kbytes, -p/--max-pages, -c/--engine,
-l/--lang, -d/--deskew, -f/--force-rebuild, --ignore-existing-text,
-r/--dpi (image_resolution, 1465-1467), -m/--psm (tess_psm, 1472-1474),
-x/--extra-ocr-flags (extra_ocr_flag, 1476-1477), --timeout (whole-document
budget, 1478-1479 + 1511-1528), -s/--safe-mode (output-exists skip,
1161-1167). (--page-timeout is a Spark-side extension: the per-page wall
that keeps one stuck page from holding a whole Arrow batch.)

The job composes resume → extract → checkpointed write, so a re-submission
after a mid-run kill continues where the previous run stopped (never
double-appends) — the reference's safe-mode/continue-on-error semantics
(pdf2pdfocr.py:1161-1167, 1531-1533) at cluster scale.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession

from pdf2pdfocr_spark import lineage
from pdf2pdfocr_spark.ocr_engine import OcrConfig
from pdf2pdfocr_spark.oracle import PipelineConfig
from pdf2pdfocr_spark.pipeline import (
    StageProgress,
    build_spark,
    extract,
    negotiated_merge_route,
)
from pdf2pdfocr_spark.sources import readers


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    run_id: str,
    config: PipelineConfig | None = None,
) -> dict:
    """resume-filter → extract → checkpointed write; returns run metrics."""
    import dataclasses

    config = config or PipelineConfig()
    # the checkpointed write consumes BOTH branches (spans + quarantine) —
    # persist the assembled frame so the OCR stage runs exactly once
    config = dataclasses.replace(config, cache_assembled=True)
    done_docs = None
    if config.safe_mode:
        # -s safe mode (pdf2pdfocr.py:1161-1167): already-done docs stay in
        # the batch and quarantine with reason 'output_exists' (visible in
        # the ledger), instead of being silently anti-joined away
        remaining = docs
        done_docs = lineage.done_doc_ids(spark, out_path)
    else:
        remaining = lineage.resume_filter(docs, out_path)
    progress = StageProgress(spark)  # O5 live per-stage page counts
    processed, quarantine = extract(
        remaining, config, done_docs=done_docs, progress=progress
    )
    landed = lineage.write_checkpointed(
        processed, quarantine, out_path, run_id,
        quarantine_payloads=config.quarantine_payloads,
    )
    lineage.write_metrics(spark, out_path, run_id, progress.snapshot())
    # release the assembled-frame cache: a long-lived session running many
    # extraction jobs must not accumulate dataset-sized persisted frames
    cached = getattr(processed, "_persisted_parent", None)
    if cached is not None:
        cached.unpersist()
    return {
        "run_id": run_id,
        "n_docs": landed["n_docs"],
        "n_spans": landed["n_spans"],
        # negotiated per engine capability (reference: merge implementation
        # chosen from the tool probe, pdf2pdfocr.py:1258-1266) — recorded in
        # the job result so operators can see which merge plan the
        # PDF-synthesis sink must apply to this run's geometry
        "merge_route": negotiated_merge_route(config),
        "progress": progress.snapshot(),
    }


def run_dedup_job(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    run_id: str,
    threshold: float = 0.5,
    max_hamming: int = 3,
    bucket_cap: int = 1000,
    sample_k: int | None = None,
    strata_col: str = "source",
    shard_budget: int = 100_000,
    shard_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """The end-to-end training-data dedup flow the operator suite exists
    for (round-3 verdict #7), one composed job:

        MinHash-LSH pairs ∪ SimHash near-dup pairs
          → connected-component duplicate clusters (large-star/small-star)
          → keep one representative per cluster (min doc_id)
          → deterministic stratified sample (optional, ``sample_k``/stratum)
          → token-budgeted shard packing

    Writes next to lineage (all under ``out_path``):
      * ``shards``   — (bucket, shard, doc_id, n_tokens, …) partitioned by
        bucket (one dir per shard-writer)
      * ``clusters`` — the (doc_id, cluster_id) audit table
      * ``ledgers/minhash_overflow`` / ``ledgers/simhash_overflow`` — the
        no-silent-caps twins: which candidate buckets were truncated
      * ``metrics``  — per-stage counts INCLUDING the overflow bucket
        counts (round-3 verdict #8: capped buckets visible operationally)

    Returns the metrics dict. Candidate generation is bucketed-and-capped
    (never all-pairs) and every stage is one bounded shuffle — the same
    plans the per-operator oracle queries pin, just chained.

    The counts are exact and cost no extra Spark job: each is an
    ``Observation`` on an action the job runs anyway.
      * ``dup_pairs`` — the pairs cache fill (the first aggregate in
        ``duplicate_clusters``);
      * ``docs_dropped`` — the ``clusters`` write, rows with
        doc_id != cluster_id;
      * ``docs_kept`` — the keep-one frame, inside the ``shards`` write;
      * ``docs_sampled`` and ``shards`` — the ``shards`` write: its rows,
        and the rows that open a (bucket, shard);
      * ``*_overflow_buckets`` — each ledger's write;
      * ``docs_in`` = docs_kept + docs_dropped.

    Precondition: ``id_col`` is unique (rows sharing an id merge into one
    MinHash signature, and ``docs_in`` relies on it too). Token-less
    documents never pair, so all are kept. A per-layer wall split comes
    from Spark's event log of a traced call (``bench.traced_dedup_job``),
    never from timing actions in the job.
    """
    from pyspark.sql import Observation, Window
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from pdf2pdfocr_spark.operators import dedup, sampling
    from pdf2pdfocr_spark.operators.text_analysis import token_count_ws
    from pdf2pdfocr_spark.partitioning import fan_out

    def observed(df: DataFrame, **aggs) -> tuple:
        obs = Observation()
        return df.observe(
            obs, *[F.coalesce(c, F.lit(0)).alias(k) for k, c in aggs.items()]
        ), obs

    rows = F.count(F.lit(1))

    # single-file/single-row-group inputs leave every tokenize/hash map
    # stage on one core (guide §2.5 input skew) — fan_out is a no-op when
    # the input already has enough splits, so this never adds a shuffle on
    # a properly laid-out 100 TB table.
    docs = fan_out(docs)

    # one TOKENIZE+SHINGLE pass for the whole job (round-6 verdict #3): the
    # shingle frame feeds minhash signature generation AND both sides of
    # the exact-Jaccard verification join — previously the job tokenized
    # the full corpus once for signatures and twice more for verification.
    # MEMORY_AND_DISK: the frame is ~shingle-factor × corpus text, so at
    # cluster scale it spills rather than evicts; it is released as soon as
    # the ledgers are written. One signature pass per algorithm (round-4
    # verdict #3) is kept: band/chunk frames persist and feed both the
    # capped candidate join and the overflow ledger.
    sh_frame = dedup.with_shingles(
        docs, id_col=id_col, text_col=text_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    band_rows = dedup.minhash_band_rows(
        docs, id_col=id_col, text_col=text_col, shingles=sh_frame
    ).persist()
    chunk_rows = dedup.simhash_chunk_rows(
        docs, id_col=id_col, text_col=text_col
    ).persist()

    mh = dedup.minhash_lsh_pairs(
        docs, threshold=threshold, id_col=id_col, text_col=text_col,
        bucket_cap=bucket_cap, band_rows=band_rows, shingles=sh_frame,
    ).select("id_a", "id_b")
    sh = dedup.simhash_near_dups(
        docs, max_hamming=max_hamming, id_col=id_col, text_col=text_col,
        bucket_cap=bucket_cap, chunk_rows=chunk_rows,
    ).select("id_a", "id_b")
    # observed below the persist: counted once, by the action that fills
    # the cache (the first aggregate in duplicate_clusters)
    pairs, pairs_obs = observed(mh.union(sh).distinct(), dup_pairs=rows)
    pairs = pairs.persist()

    clusters, clusters_obs = observed(
        dedup.duplicate_clusters(pairs),
        docs_dropped=F.sum((F.col("doc_id") != F.col("cluster_id")).cast("long")),
    )
    clusters.write.mode("overwrite").parquet(f"{out_path}/clusters")
    clusters = spark.read.parquet(f"{out_path}/clusters")

    # duplicate_clusters always emits (doc_id, cluster_id) — rename to the
    # caller's id column so the anti-join resolves for any id_col (ADVICE r4)
    drop = (
        clusters.filter(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    kept, kept_obs = observed(
        docs.join(drop, id_col, "left_anti"), docs_kept=rows
    )
    kept = kept.withColumn("n_tokens", token_count_ws(F.col(text_col)))

    sampled = (
        sampling.stratified_sample(kept, strata_col, sample_k, id_col=id_col)
        if sample_k is not None
        else kept
    )
    shards = sampling.pack_shards(
        sampled, budget=shard_budget, id_col=id_col, buckets=shard_buckets
    )
    # observe rejects DISTINCT, so a (bucket, shard) is counted at its first
    # row in id order; lag over pack_shards' own window reuses its exchange
    # and sort
    first = F.lag("shard").over(Window.partitionBy("bucket").orderBy(id_col))
    shards, shards_obs = observed(
        shards.withColumn("_first", F.coalesce(first != F.col("shard"), F.lit(True))),
        docs_sampled=rows, shards=F.sum(F.col("_first").cast("long")),
    )
    shards.drop("_first").write.mode("overwrite").partitionBy("bucket").parquet(
        f"{out_path}/shards"
    )

    mh_over, mh_obs = observed(
        dedup.minhash_band_overflow(
            docs, id_col=id_col, text_col=text_col, bucket_cap=bucket_cap,
            band_rows=band_rows,
        ),
        minhash_overflow_buckets=rows,
    )
    sh_over, sh_obs = observed(
        dedup.simhash_chunk_overflow(
            docs, id_col=id_col, text_col=text_col, bucket_cap=bucket_cap,
            chunk_rows=chunk_rows,
        ),
        simhash_overflow_buckets=rows,
    )
    mh_over.write.mode("overwrite").parquet(f"{out_path}/ledgers/minhash_overflow")
    sh_over.write.mode("overwrite").parquet(f"{out_path}/ledgers/simhash_overflow")
    band_rows.unpersist()
    chunk_rows.unpersist()
    sh_frame.unpersist()
    pairs.unpersist()

    # every count comes from an Observation on an action above; docs_in
    # = kept + dropped holds because drop ⊆ docs and ids are unique
    observed_counts: dict = {}
    for obs in (pairs_obs, clusters_obs, kept_obs, shards_obs, mh_obs, sh_obs):
        observed_counts.update(obs.get)
    counts = {
        "docs_in": observed_counts["docs_kept"] + observed_counts["docs_dropped"],
        **observed_counts,
    }
    lineage.write_metrics(spark, out_path, run_id, counts)
    return {"run_id": run_id, **counts}


def _parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="pdf2pdfocr_spark")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", required=True)
    # job selector: 'extract' = the reference's OCR flow; 'dedup' = the
    # chained training-data dedup/sample/pack flow (run_dedup_job)
    p.add_argument("--job", choices=("extract", "dedup"), default="extract")
    p.add_argument("--dedup-threshold", type=float, default=0.5)
    p.add_argument("--dedup-max-hamming", type=int, default=3)
    p.add_argument("--dedup-bucket-cap", type=int, default=1000)
    p.add_argument("--sample-k", type=int, default=None)
    p.add_argument("--strata-col", default="source")
    p.add_argument("--shard-budget", type=int, default=100_000)
    p.add_argument("--shard-buckets", type=int, default=64)
    p.add_argument("-t", "--check-text", action="store_true")
    p.add_argument("-a", "--avoid-encrypted", action="store_true")
    p.add_argument("-b", "--min-kbytes", type=int, default=0)
    p.add_argument("-p", "--max-pages", type=int, default=None)
    p.add_argument("-c", "--engine", default="tesseract")
    p.add_argument("-l", "--lang", default="eng")
    p.add_argument("-d", "--deskew", type=float, default=0.0)
    p.add_argument("-g", "--convert-params", default="smart")
    p.add_argument("--autorotate", action="store_true")
    p.add_argument("-f", "--force-rebuild", action="store_true")
    p.add_argument("--ignore-existing-text", action="store_true")
    p.add_argument("-r", "--dpi", type=int, default=300)
    p.add_argument("-m", "--psm", type=int, default=None)
    # reference -x takes ONE string of engine flags; split on whitespace
    p.add_argument("-x", "--extra-ocr-flags", default="")
    p.add_argument("--timeout", type=float, default=None)       # per document
    p.add_argument("--page-timeout", type=float, default=None)  # per page
    p.add_argument("-s", "--safe-mode", action="store_true")
    p.add_argument("--salt-buckets", type=int,
                   default=PipelineConfig.salt_buckets)
    # debug triage: keep full span payloads in the quarantine ledger (the
    # default slim ledger is (doc_id, skip_reason, n_spans) — at 100 TB the
    # payload copy duplicates quarantined input into quarantine/)
    p.add_argument("--quarantine-payloads", action="store_true")
    return p.parse_args(argv)


def config_from_args(args: argparse.Namespace) -> "PipelineConfig":
    """argparse namespace → PipelineConfig (split out so tests can assert
    every CLI flag actually reaches the config)."""
    return PipelineConfig(
        ocr=OcrConfig(
            engine=args.engine,
            lang=args.lang,
            psm=args.psm,
            dpi=args.dpi,
            extra_flags=tuple(args.extra_ocr_flags.split()),
            page_timeout_s=args.page_timeout,
            doc_timeout_s=args.timeout,
        ),
        min_kbytes=args.min_kbytes,
        max_pages=args.max_pages,
        check_text_mode=args.check_text,
        avoid_encrypted=args.avoid_encrypted,
        safe_mode=args.safe_mode,
        ignore_existing_text=args.ignore_existing_text,
        deskew_threshold=args.deskew,
        convert_params=args.convert_params,
        autorotate=args.autorotate,
        force_rebuild=args.force_rebuild,
        salt_buckets=args.salt_buckets,
        quarantine_payloads=args.quarantine_payloads,
    )


def main(argv=None) -> None:
    args = _parse_args(argv)
    spark = build_spark(app=f"pdf2pdfocr_spark-{args.run_id}")
    docs = readers.read_documents(spark, args.input)
    if args.job == "dedup":
        metrics = run_dedup_job(
            spark, docs, args.output, args.run_id,
            threshold=args.dedup_threshold,
            max_hamming=args.dedup_max_hamming,
            bucket_cap=args.dedup_bucket_cap,
            sample_k=args.sample_k,
            strata_col=args.strata_col,
            shard_budget=args.shard_budget,
            shard_buckets=args.shard_buckets,
        )
    else:
        config = config_from_args(args)
        metrics = run_extraction_job(
            spark, docs, args.output, args.run_id, config
        )
    print(metrics)


if __name__ == "__main__":
    main()

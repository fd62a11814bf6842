"""Structured Streaming ingest (optional).

The reference has no streaming — its directory-watch mode is an
unimplemented TODO (pdf2pdfocr.py:722-723). This module provides the
micro-batch wrapper that TODO implies: watch a directory of document
parquet drops and run the extraction pipeline per micro-batch via
``foreachBatch`` (exactly-once with the lineage checkpoint, since each
batch goes through the same resume filter)."""

from pdf2pdfocr_spark.streaming.ingest import stream_extract  # noqa: F401

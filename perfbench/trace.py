"""Traced runs: timing spans around the layers' public functions, plus an
uncompressed Spark event log captured only while tracing is on.

Both are installed from outside the program. ``Tracer.install`` swaps the
module attributes listed in ``SPANS`` for wrappers that record a span and
name the Spark jobs started inside it with ``setJobDescription``;
``uninstall`` puts the originals back. ``EventLog`` attaches Spark's own
``EventLoggingListener`` to the running context and detaches it again, so
untraced reps in the same session run with no listener at all.
"""

from __future__ import annotations

import functools
import importlib
import os
import time

# (module, attribute, layer). Plan-building functions are lazy, so their
# spans hold driver time only; stage time reaches a layer through the
# plan operators it runs (see eventlog.operator_layer).
SPANS = (
    ("pdf2pdfocr_spark.lineage", "resume_filter", "lineage.resume"),
    ("pdf2pdfocr_spark.lineage", "write_checkpointed", "lineage.write"),
    ("pdf2pdfocr_spark.lineage", "write_metrics", "lineage.write_metrics"),
    ("pdf2pdfocr_spark.pipeline", "extract", "pipeline.extract"),
    ("pdf2pdfocr_spark.jobs", "extract", "pipeline.extract"),
    ("pdf2pdfocr_spark.pipeline", "apply_gates", "pipeline.gates"),
    ("pdf2pdfocr_spark.pipeline", "salted_repartition", "pipeline.salted_repartition"),
    ("pdf2pdfocr_spark.pipeline", "run_ocr", "pipeline.run_ocr"),
    ("pdf2pdfocr_spark.pipeline", "reassemble", "pipeline.reassemble"),
    ("pdf2pdfocr_spark.partitioning", "fan_out", "partitioning.fan_out"),
    ("pdf2pdfocr_spark.operators.dedup", "with_shingles", "operators.dedup.signatures"),
    ("pdf2pdfocr_spark.operators.dedup", "minhash_band_rows", "operators.dedup.signatures"),
    ("pdf2pdfocr_spark.operators.dedup", "simhash_chunk_rows", "operators.dedup.signatures"),
    ("pdf2pdfocr_spark.operators.dedup", "minhash_lsh_pairs", "operators.dedup.pairs"),
    ("pdf2pdfocr_spark.operators.dedup", "simhash_near_dups", "operators.dedup.pairs"),
    ("pdf2pdfocr_spark.operators.dedup", "minhash_band_overflow", "operators.dedup.pairs"),
    ("pdf2pdfocr_spark.operators.dedup", "simhash_chunk_overflow", "operators.dedup.pairs"),
    ("pdf2pdfocr_spark.operators.dedup", "duplicate_clusters", "operators.dedup.cc"),
    ("pdf2pdfocr_spark.operators.sampling", "stratified_sample", "operators.sampling.pack"),
    ("pdf2pdfocr_spark.operators.sampling", "pack_shards", "operators.sampling.pack"),
)


class Tracer:
    """Records spans as (layer, start_ms, end_ms, depth) in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []
        self._saved: list = []

    def span(self, layer: str):
        tracer = self

        class _Span:
            def __enter__(self):
                tracer._stack.append(layer)
                tracer.sc.setJobDescription(layer)
                self.start = time.time() * 1000.0
                return self

            def __exit__(self, *exc):
                end = time.time() * 1000.0
                tracer._stack.pop()
                tracer.spans.append((layer, self.start, end, len(tracer._stack)))
                tracer.sc.setJobDescription(
                    tracer._stack[-1] if tracer._stack else None
                )

        return _Span()

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for mod_name, attr, layer in SPANS:
            mod = importlib.import_module(mod_name)
            original = getattr(mod, attr)
            self._saved.append((mod, attr, original))
            setattr(mod, attr, self._wrap(original, layer))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, original = self._saved.pop()
            setattr(mod, attr, original)


class EventLog:
    """Spark's EventLoggingListener, attached for the traced reps only."""

    def __init__(self, spark, log_dir: str, name: str):
        self.spark = spark
        self.log_dir = log_dir
        self.name = name
        self._listener = None

    @property
    def path(self) -> str:
        return os.path.join(self.log_dir, self.name)

    def __enter__(self) -> "EventLog":
        jvm = self.spark._jvm
        jsc = self.spark.sparkContext._jsc.sc()
        conf = (
            jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.logBlockUpdates.enabled", "true")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        os.makedirs(self.log_dir, exist_ok=True)
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.name, jvm.scala.Option.apply(None),
            jvm.java.net.URI(f"file://{os.path.abspath(self.log_dir)}"),
            conf, jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None

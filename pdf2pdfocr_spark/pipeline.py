"""The extraction pipeline — one lazy DataFrame plan, Spark-first.

Stage map (reference cites per SURVEY.md §2):

1. ``probe_text_layer``  — S4 pdffonts probe → ``F.exists`` on the span array
2. ``apply_gates``       — F1-F5 admission gates → ``skip_reason`` column
                           (quarantine rows kept for lineage, never job abort)
3. ``explode_pages``     — P1/P2 page fan-out → ``posexplode``-style explode of
                           image spans; payload fields decoded JVM-side via
                           ``regexp_extract`` (blank/rotation/skew gates F6/P4/P5
                           never touch Python)
4. ``salted_repartition``— X2: defeat page-count skew (one 10k-page doc must
                           not become one task)
5. ``run_ocr``           — O1/O2 ``mapInPandas`` Arrow-batched OCR + hOCR parse
                           (H1-H6) behind the engine adapter
6. ``reassemble``        — R1/R2/R3: groupBy(doc_id) ordered aggregation, then
                           interleaved (text, media_ref) emission in reading
                           order, offsets renumbered — all JVM-side

Everything outside stage 5 is Catalyst built-ins (codegen'd); stage 5 is the
sanctioned Arrow escape hatch. No custom Catalyst rules (SURVEY.md §4).
"""

from __future__ import annotations

import os
import re
from typing import Iterator

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf2pdfocr_spark.ocr_engine import get_engine
from pdf2pdfocr_spark.oracle import GROUP4_PRESETS, PipelineConfig
from pdf2pdfocr_spark.schema import OCR_PAGE_RESULT_SCHEMA, PagePayload

# JVM-side validity check for media payloads (same shape schema.MEDIA_REF_RE
# matches driver-side; kept as a Java-regex literal for Column.rlike).
MEDIA_REF_JRE = (
    r"^sim://w=\d+;h=\d+;dpi=\d+;colors=\d+;rot=\d+;skew=[0-9.]+;"
    r"layout=[a-z_]+;seed=\d+$"
)

def SPAN() -> Column:
    # F.col needs an active session in classic mode — resolve lazily
    return F.col("spans")


def _payload_field(ref: Column, key: str) -> Column:
    return F.regexp_extract(ref, rf"{key}=(\d+)", 1)


def sorted_by_offset(arr: Column) -> Column:
    """Sort a span array by its ``offset`` field. A bare ``array_sort`` on a
    struct array compares fields in declaration order (kind first) — wrong;
    reading order is defined ONLY by offset (SURVEY.md §1.2: never rely on
    row or byte order)."""
    return F.transform(
        F.array_sort(
            F.transform(arr, lambda s: F.struct(s["offset"].alias("o"), s.alias("s")))
        ),
        lambda t: t["s"],
    )


# --------------------------------------------------------------------------
# 1-2. probe + gates (pure column expressions → whole-stage codegen)
# --------------------------------------------------------------------------

def probe_text_layer(docs: DataFrame) -> DataFrame:
    """S4: does the document already have a text layer? The reference shells
    to pdffonts (pdf2pdfocr.py:1215-1227); here the span schema makes it an
    array predicate.

    Written field-extraction-first (``spans.kind`` → array_contains) rather
    than ``exists`` over the struct lambda: extracting the field BEFORE the
    array op lets nested-schema pruning narrow the parquet ReadSchema to
    ``spans:array<struct<kind>>`` — a metadata-only probe over the 100 TB
    corpus then never reads span text / media payload bytes (round-4
    verdict #4; plan-asserted in tests/test_sources.py)."""
    return docs.withColumn(
        "has_text",
        F.array_contains(F.col("spans").getField("kind"), "text"),
    )


def apply_gates(
    docs: DataFrame,
    config: PipelineConfig,
    done_docs: DataFrame | None = None,
) -> DataFrame:
    """F1-F5 in the reference's evaluation order (pdf2pdfocr.py:694-710):
    min_size → corrupt → has_text(-t) → encrypted(-a) → output_exists(safe)
    → max_pages. Emits ``skip_reason`` (null = admitted) so excluded rows
    stay visible to lineage/metrics (north_rule)."""
    df = probe_text_layer(docs)

    size_kb = (
        F.aggregate(
            SPAN(),
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.octet_length(s["text"]) + F.octet_length(s["media_ref"]),
        )
        / F.lit(1024.0)
    )
    # corrupt = unreadable media payload OR duplicate offsets (the latter
    # would blow up map_from_entries in reassembly — one malformed doc must
    # quarantine, never abort the job, pdf2pdfocr.py:1531-1533)
    corrupt = F.exists(
        SPAN(),
        lambda s: (s["kind"] == F.lit("image")) & ~s["media_ref"].rlike(MEDIA_REF_JRE),
    ) | (
        F.size(SPAN())
        != F.size(F.array_distinct(F.transform(SPAN(), lambda s: s["offset"])))
    )
    encrypted = F.coalesce(F.col("meta")["encrypted"] == "true", F.lit(False))
    # field-extraction-first for the same pruning reason as probe_text_layer:
    # a max-pages-only scan reads spans.kind alone
    n_pages = F.size(
        F.filter(F.col("spans").getField("kind"), lambda k: k == F.lit("image"))
    )
    df = df.withColumn("n_pages", n_pages).withColumn("encrypted", encrypted)
    # rebuild branch flag (check_rebuild_pdf, pdf2pdfocr.py:762-767):
    # encrypted | non-pdf | use_deskew_mode(-d) | force(-f) — flag-driven
    df = df.withColumn(
        "rebuild",
        F.col("encrypted")
        | F.lit(config.force_rebuild)
        | F.lit(config.deskew_threshold > 0),
    )

    if config.safe_mode and done_docs is not None:
        # F5 safe mode: output already exists → skip. The left join (vs a
        # bare anti-join) keeps the row for the quarantine ledger; pure
        # resume uses lineage.resume_filter's left_anti instead. NO
        # broadcast hint (ADVICE r3): the done set is the accumulated
        # output's doc_ids — unbounded growth, so a forced broadcast
        # eventually exceeds driver/executor memory at 100 TB scale; AQE
        # picks broadcast while it's small and SMJ once it isn't. The done
        # set is the spans table's doc_id column, so each done doc matches
        # one row and is quarantined once.
        done = done_docs.select(
            F.col("doc_id").alias("doc_id"), F.lit(True).alias("_done")
        )
        df = df.join(done, "doc_id", "left")
    else:
        df = df.withColumn("_done", F.lit(None).cast("boolean"))

    reason = (
        F.when(
            F.lit(config.min_kbytes > 0) & (size_kb < F.lit(float(config.min_kbytes))),
            F.lit("min_size"),
        )
        .when(corrupt, F.lit("corrupt"))
        .when(F.lit(config.check_text_mode) & F.col("has_text"), F.lit("has_text"))
        .when(F.lit(config.avoid_encrypted) & F.col("encrypted"), F.lit("encrypted"))
        # per-doc rebuild×ignore_existing_text conflict (check_rebuild_pdf
        # raises "won't work together", pdf2pdfocr.py:765-767) — statically-
        # known combos already failed at config time; the dynamic trigger
        # (encrypted input) quarantines here, batch continues
        .when(
            F.lit(config.ignore_existing_text) & F.col("rebuild"),
            F.lit("rebuild_conflict"),
        )
        .when(F.coalesce(F.col("_done"), F.lit(False)), F.lit("output_exists"))
    )
    if config.max_pages is not None:
        reason = reason.when(
            F.col("n_pages") > F.lit(config.max_pages), F.lit("max_pages")
        )
    return df.withColumn("skip_reason", reason).drop("_done")


# --------------------------------------------------------------------------
# 3-4. page fan-out + skew-defeating salt
# --------------------------------------------------------------------------

def explode_pages(admitted: DataFrame, config: PipelineConfig) -> DataFrame:
    """P1/P2: one row per image span. Payload fields decode JVM-side so the
    blank gate (F6) and orientation/skew metadata (P4/P5) cost no Python."""
    pages = admitted.select(
        "doc_id",
        F.explode(F.filter(SPAN(), lambda s: s["kind"] == F.lit("image"))).alias("s"),
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.media_ref").alias("media_ref"),
    )
    return pages.withColumn(
        "n_colors", _payload_field(F.col("media_ref"), "colors").cast("int")
    ).withColumn(
        "rotation", _payload_field(F.col("media_ref"), "rot").cast("int")
    ).withColumn(
        "skew_pct",
        F.regexp_extract(F.col("media_ref"), r"skew=([0-9.]+)", 1).cast("double"),
    ).withColumn("is_blank", F.col("n_colors") == 1)


def salted_repartition(pages: DataFrame, num_partitions: int, salt_buckets: int) -> DataFrame:
    """X2: hash-partition on (doc_id, offset-salt) so a single huge document's
    pages spread over ``salt_buckets`` partitions instead of hot-spotting one
    (the reference's contiguous page-range split, pdf2pdfocr.py:1306-1331,
    re-expressed as a shuffle)."""
    return pages.repartition(
        num_partitions,
        F.col("doc_id"),
        F.pmod(F.col("offset"), F.lit(salt_buckets)).alias("_salt"),
    )


# --------------------------------------------------------------------------
# 5. OCR + hOCR extraction (the Arrow escape hatch)
# --------------------------------------------------------------------------

class StageProgress:
    """O5 live progress: Spark accumulators updated from inside the OCR
    stage — the cluster-native analog of the reference's per-page ``.tmp``
    marker files polled by glob (pdf2pdfocr.py:160, 985-991). Counts are
    visible on the driver WHILE the job runs (accumulator updates arrive per
    task) and are persisted per stage into the lineage metrics table by
    jobs.run_extraction_job."""

    STAGES = ("ocr_pages_in", "ocr_pages_ok", "ocr_pages_err")

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self.acc = {name: sc.accumulator(0) for name in self.STAGES}

    def snapshot(self) -> dict:
        return {name: a.value for name, a in self.acc.items()}


def _watchdog_call(base_call, engine, timeout_s: float):
    """X5 per-page watchdog: run ``base_call`` on a fresh daemon thread and
    give it ``timeout_s`` of wall — a stuck page quarantines, the batch
    lives (reference doc-level timeout, pdf2pdfocr.py:1511-1528). One fresh
    thread per page, never a shared 1-worker pool: a stuck call in a shared
    pool queues every later page behind it into false timeouts (round-1 X5
    bug). On timeout the engine's ``cancel()`` hook is invoked — the
    adapter analog of the reference killing its child processes
    (pdf2pdfocr.py:669-692, 1511-1528) — so the abandoned thread's
    underlying call is actually torn down instead of burning a core until
    it returns (round-3 verdict #2). Engines without a hook degrade to the
    documented abandon-the-thread behavior."""
    import threading

    def call(payload):
        box: dict = {}

        def _target():
            try:
                box["value"] = base_call(payload)
            except Exception as exc:  # noqa: BLE001
                # Exception only: re-raising SystemExit/KeyboardInterrupt
                # past the per-page quarantine handler would kill the batch
                box["error"] = exc

        t = threading.Thread(target=_target, daemon=True)
        t.start()
        t.join(timeout_s)
        if t.is_alive():
            cancel = getattr(engine, "cancel", None)
            if cancel is not None:
                cancel()
            raise TimeoutError(f"page OCR exceeded {timeout_s}s")
        if "error" in box:
            raise box["error"]
        return box["value"]

    return call


def run_ocr(pages: DataFrame, config: PipelineConfig,
            keep_geometry: bool = False,
            progress: StageProgress | None = None) -> DataFrame:
    """O1/O2 + H1-H6 in one ``mapInPandas`` pass: per Arrow batch, decode the
    page payload, run the (pluggable) OCR engine, parse hOCR to ordered word
    boxes. Per-page failures become ``error`` rows (quarantine, R7) — the
    batch never dies (pdf2pdfocr.py:1531-1533 semantics).

    Default output carries word texts only (array<string>); pass
    ``keep_geometry=True`` for the PDF-sink path that needs bbox structs
    (H7, pdf2pdfocr.py:419-430) — geometry roughly doubles the bytes the
    reassembly shuffle must move, so the span path never carries it."""
    ocr_cfg = config.ocr  # capture the small dataclass, not `config`'s frame
    acc = progress.acc if progress is not None else None

    def ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        engine = get_engine(ocr_cfg)
        # R7 retry ladder: engine failure gets one repair-and-retry before
        # quarantine (try_repair_input_and_merge, pdf2pdfocr.py:909-926)
        call = engine.ocr_page_with_repair
        if ocr_cfg.page_timeout_s:
            call = _watchdog_call(call, engine, ocr_cfg.page_timeout_s)
        # X5 doc budget ENFORCEMENT (ADVICE r4): cumulative per-doc OCR wall
        # within this task — once a doc's pages have burned the whole
        # --timeout budget, its remaining pages here are skipped (error row,
        # no engine call), matching the reference killing the document at
        # the budget (pdf2pdfocr.py:1511-1528) instead of letting N
        # individually-fast pages run N×budget. The dict is task-local, so
        # a salted doc can burn at most salt_buckets×budget across the
        # cluster (bounded and page-count-independent); the reassembly-side
        # doc_wall_s check still quarantines exactly at the budget.
        doc_budget = ocr_cfg.doc_timeout_s
        doc_elapsed: dict = {}

        import time as _time

        for pdf in batches:
            n = len(pdf)
            out = {
                "doc_id": pdf["doc_id"],
                "offset": pdf["offset"],
                "page_text": [None] * n,
                "words": [None] * n,
                "error": [None] * n,
                "wall_s": [0.0] * n,
            }
            if keep_geometry:
                out["word_boxes"] = [None] * n
                out["page_w_pt"] = [None] * n
                out["page_h_pt"] = [None] * n
                del out["words"]
            # doc_id list materialized ONLY under a doc budget — the
            # default path pays zero per-page cost for the enforcement
            batch_doc_ids = (
                pdf["doc_id"].tolist() if doc_budget is not None else None
            )
            for i, ref in enumerate(pdf["media_ref"]):
                _t0 = _time.perf_counter()
                if (
                    batch_doc_ids is not None
                    and doc_elapsed.get(batch_doc_ids[i], 0.0) >= doc_budget
                ):
                    out["error"][i] = (
                        f"doc_timeout: budget {doc_budget}s exhausted "
                        "before page ran (remaining pages cancelled)"
                    )
                    continue
                try:
                    payload = PagePayload.from_ref(ref)
                    res = call(payload)
                    out["page_text"][i] = res.text
                    if keep_geometry:
                        from pdf2pdfocr_spark.functions.render import (
                            word_render_geometry,
                        )

                        # tuples, not dicts: Arrow struct conversion from
                        # dicts is ~4× slower. Each word carries its H7
                        # render geometry (fontsize + Helvetica h-scale,
                        # pdf2pdfocr.py:419-430) for the PDF-synthesis sink.
                        out["word_boxes"][i] = [
                            (w.text, w.x1, w.y1, w.x2, w.y2)
                            + word_render_geometry(
                                w.text, w.x1, w.y1, w.x2, w.y2, payload.dpi
                            )
                            for w in res.words
                        ]
                        out["page_w_pt"][i] = res.page_w_pt
                        out["page_h_pt"][i] = res.page_h_pt
                    else:
                        out["words"][i] = [w.text for w in res.words]
                except Exception as exc:  # noqa: BLE001 — quarantine, not abort
                    out["error"][i] = f"{type(exc).__name__}: {exc}"
                finally:
                    out["wall_s"][i] = _time.perf_counter() - _t0
                    if batch_doc_ids is not None:
                        _did = batch_doc_ids[i]
                        doc_elapsed[_did] = (
                            doc_elapsed.get(_did, 0.0) + out["wall_s"][i]
                        )
            if acc is not None:  # O5 live progress, per Arrow batch
                n_err = sum(1 for e in out["error"] if e is not None)
                acc["ocr_pages_in"].add(n)
                acc["ocr_pages_ok"].add(n - n_err)
                acc["ocr_pages_err"].add(n_err)
            cols = (
                ["doc_id", "offset", "page_text", "word_boxes",
                 "page_w_pt", "page_h_pt", "error", "wall_s"]
                if keep_geometry
                else ["doc_id", "offset", "page_text", "words", "error",
                      "wall_s"]
            )
            yield pd.DataFrame({c: out[c] for c in cols})

    from pdf2pdfocr_spark.schema import OCR_PAGE_GEOMETRY_SCHEMA

    schema = OCR_PAGE_GEOMETRY_SCHEMA if keep_geometry else OCR_PAGE_RESULT_SCHEMA
    return pages.mapInPandas(ocr_batches, schema=schema)


# --------------------------------------------------------------------------
# 6. ordered reassembly + interleaved emission (JVM-side)
# --------------------------------------------------------------------------

def _deskewed_spans(spans: Column) -> Column:
    """P5 deskew transform over the span array: image payloads rewritten
    skew→0 (the `mogrify -deskew` in-place analog, pdf2pdfocr.py:94-101).
    Module-level so mutation tests can break it and watch goldens fail."""
    return F.transform(
        spans,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            F.when(
                s["kind"] == F.lit("image"),
                F.regexp_replace(s["media_ref"], r"skew=[0-9.]+", "skew=0.0"),
            ).otherwise(s["media_ref"]).alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )


def _rebuilt_ref(kind: Column, media_ref: Column) -> Column:
    """R5 rebuild re-render: when the doc takes the rebuild branch, its
    output pages are re-encoded with the preset's convert params
    (rebuild_and_merge, pdf2pdfocr.py:829-907). The Group4 presets quantize
    to bilevel (`-colors 2 -colorspace gray ... -compress Group4`, preset
    table at 834-838), so 'best'-preset pages emit with colors=2; the lossy
    'jpeg' preset keeps the palette. Blank pages (colors=1) stay 1 distinct
    color after quantization. Requires doc-level ``rebuild``/``preset``
    columns in scope. Codegen'd string ops only (the colors probe is a
    string compare — no cast, text spans carry '')."""
    return F.when(
        (kind == F.lit("image"))
        & F.col("rebuild")
        & F.col("preset").isin(*sorted(GROUP4_PRESETS))
        & (_payload_field(media_ref, "colors") != F.lit("1")),
        F.regexp_replace(media_ref, r"colors=\d+", "colors=2"),
    ).otherwise(media_ref)


def _autorotated_ref(kind: Column, media_ref: Column, autorotate: bool) -> Column:
    """P6 rotate-apply: fold the per-page OSD angle into the emitted image
    span — the final page displays upright (rotateClockwise at
    pdf2pdfocr.py:1070-1073), guarded by the doc-level OSD-count rule
    (``any_blank``, see extract). Codegen'd regexp_replace."""
    if not autorotate:
        return media_ref
    return F.when(
        (kind == F.lit("image")) & ~F.col("any_blank"),
        F.regexp_replace(media_ref, r"rot=\d+", "rot=0"),
    ).otherwise(media_ref)


def _emitted_ref(kind: Column, media_ref: Column, autorotate: bool) -> Column:
    """Output-side media_ref transform chain: rebuild re-render (R5) then
    autorotate (P6) — the order the reference applies them
    (rebuild_and_merge 829-907 → autorotate_final_output 1038-1083)."""
    return _autorotated_ref(kind, _rebuilt_ref(kind, media_ref), autorotate)


def reassemble(
    admitted: DataFrame, ocr_results: DataFrame, autorotate: bool = False
) -> DataFrame:
    """R1/R2/R3: per-doc ordered aggregation of page results, then the
    interleaved sandwich merge — each original span in offset order; image
    spans followed by their OCR'd word spans; offsets renumbered. Page order
    comes from ``array_sort`` on (offset, ...) structs, never row order
    (pdf2pdfocr.py:707's lexicographic-filename invariant made explicit)."""
    pages_by_doc = ocr_results.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("offset", "page_text", "words"))
        ).alias("pages"),
        F.max("error").alias("page_error"),
        # doc-level OCR wall: sum of per-page walls — the reference's
        # --timeout bounds the document, not the page (pdf2pdfocr.py:
        # 1511-1528); extract() quarantines docs over budget
        F.sum("wall_s").alias("doc_wall_s"),
    )

    joined = admitted.join(pages_by_doc, "doc_id", "left").withColumn(
        "pages", F.coalesce(F.col("pages"), F.array())
    )

    # Interleaved merge by sort key, not per-span map lookup (element_at on
    # a Spark map is a linear scan → O(pages²) per doc; this is O(W log W)
    # and handles blank/missing pages for free):
    #   original span  → key (offset, 0)
    #   OCR'd word j of the page at `offset` → key (offset, j+1)
    # concat + array_sort on the (k1, k2) struct prefix = reading order.
    originals = F.transform(
        F.col("spans"),
        lambda s: F.struct(
            s["offset"].alias("k1"),
            F.lit(0).alias("k2"),
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            _emitted_ref(s["kind"], s["media_ref"], autorotate).alias(
                "media_ref"
            ),
        ),
    )
    word_spans = F.flatten(
        F.transform(
            F.col("pages"),
            lambda p: F.transform(
                F.coalesce(p["words"], F.array()),
                lambda w, j: F.struct(
                    p["offset"].alias("k1"),
                    (j + 1).alias("k2"),
                    F.lit("text").alias("kind"),
                    w.alias("text"),
                    F.lit("").alias("media_ref"),
                ),
            ),
        )
    )
    merged = F.array_sort(F.concat(originals, word_spans))
    renumbered = F.transform(
        merged,
        lambda x, i: F.struct(
            x["kind"].alias("kind"),
            x["text"].alias("text"),
            x["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    doc_text = F.concat_ws(
        "", F.transform(F.col("pages"), lambda p: p["page_text"])
    )
    return joined.select(
        "doc_id",
        renumbered.alias("spans"),
        doc_text.alias("doc_text"),
        "n_pages",
        F.col("rebuild"),
        F.col("preset"),
        F.col("meta_out"),
        F.col("page_error"),
        F.coalesce(F.col("doc_wall_s"), F.lit(0.0)).alias("doc_wall_s"),
    )


# --------------------------------------------------------------------------
# full pipeline
# --------------------------------------------------------------------------

def negotiated_merge_route(config: PipelineConfig) -> str:
    """R3/R4 selection by engine capability — the reference picks its merge
    implementation from the tool probe (pdf2pdfocr.py:1258-1266: tesseract
    ≥3.05.01 emits a text-only PDF → qpdf sandwich underlay/overlay at
    643-651; otherwise the multibackground merge script runs,
    pdf2pdfocr_multibackground.py). Here the same gate drives which merge
    plan the PDF-synthesis sink applies to the geometry output:

    * ``sandwich_textonly`` — overlay the invisible-text layer (R3 span
      interleave + H7 render geometry);
    * ``multibackground``   — image-under-text merge math
      (functions/merge.multibackground_merge_plan, R4);
    * ``none``              — no-OCR passthrough (O3).
    """
    if config.ocr.engine == "no_ocr":
        return "none"
    caps = get_engine(config.ocr).capabilities()
    return "sandwich_textonly" if caps.get("textonly_pdf") else "multibackground"


def sink_merge_plan(
    docs: DataFrame,
    config: PipelineConfig,
    num_partitions: int | None = None,
) -> DataFrame:
    """R4 end-to-end: the PDF-synthesis sink's per-page merge-decision
    table for a capability-negotiated MULTIBACKGROUND engine (cuneiform
    class: hOCR only, no textonly_pdf — the reference then runs the
    image-under-text merge script, pdf2pdfocr_multibackground.py:34-94,
    instead of the qpdf sandwich at pdf2pdfocr.py:643-651).

    Composes the production path — gates → page explode → salted
    repartition → geometry OCR — with
    ``functions.merge.multibackground_merge_plan``: the image page dims
    come from the rasterized payload (px→pt at the payload dpi), the text
    page dims from the engine's hOCR, the angle from the page rotation.
    Raises when the negotiated route isn't 'multibackground' (a
    textonly_pdf engine's sink overlays the sandwich instead — R3)."""
    route = negotiated_merge_route(config)
    if route != "multibackground":
        raise ValueError(
            f"negotiated merge route is {route!r}; sink_merge_plan applies "
            "only to multibackground-negotiated engines (R4)"
        )
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if "meta" not in docs.columns:
        docs = docs.withColumn("meta", F.create_map().cast("map<string,string>"))
    admitted = apply_gates(docs, config).filter(F.col("skip_reason").isNull())
    pages = explode_pages(admitted, config).filter(~F.col("is_blank"))
    pages = salted_repartition(pages, num_partitions, config.salt_buckets)
    geo = run_ocr(pages, config, keep_geometry=True)

    ref = F.col("media_ref")
    dims = pages.select(
        "doc_id", "offset", "rotation",
        _payload_field(ref, "w").cast("int").alias("img_w_px"),
        _payload_field(ref, "h").cast("int").alias("img_h_px"),
        _payload_field(ref, "dpi").cast("int").alias("img_dpi"),
    )
    joined = geo.filter(F.col("error").isNull()).join(
        dims, ["doc_id", "offset"]
    )
    from pdf2pdfocr_spark.functions.merge import multibackground_merge_plan

    # px→pt at the payload dpi (H2 semantics, hocr.px_to_pt as a column)
    img_w_pt = F.col("img_w_px") / F.col("img_dpi") * F.lit(72.0)
    img_h_pt = F.col("img_h_px") / F.col("img_dpi") * F.lit(72.0)
    return multibackground_merge_plan(
        joined,
        img_w=img_w_pt,
        img_h=img_h_pt,
        txt_w=F.col("page_w_pt"),
        txt_h=F.col("page_h_pt"),
        angle=F.col("rotation"),
    )


def extract(
    docs: DataFrame,
    config: PipelineConfig | None = None,
    done_docs: DataFrame | None = None,
    num_partitions: int | None = None,
    progress: StageProgress | None = None,
) -> tuple[DataFrame, DataFrame]:
    """documents → (processed, quarantine). Lazy: nothing executes until an
    action; Catalyst keeps the gates upstream of the Arrow stage (predicate
    pushdown analog of the reference's gate-before-rasterize ordering)."""
    config = config or PipelineConfig()
    if config.ocr.doc_timeout_s is not None:
        # ADVICE r3: --timeout's doc budget is quarantine-ACCOUNTING (pages
        # run, walls sum, the doc quarantines post-hoc) — but the reference
        # --timeout also KILLS processing at the budget. Derive the per-page
        # enforcement wall from the doc budget: no single page may run past
        # the whole document's budget (nor past an explicit tighter page
        # wall), so a pathological page is killed+cancelled at the budget
        # instead of consuming unbounded OCR wall-clock. A doc of many
        # individually-fast pages is bounded too (ADVICE r4): run_ocr
        # tracks cumulative per-doc wall per task and cancels the doc's
        # remaining pages once the budget is exhausted, so worst-case
        # spend is salt_buckets times budget, not n_pages times budget.
        import dataclasses

        budget = float(config.ocr.doc_timeout_s)
        page_wall = (
            budget if config.ocr.page_timeout_s is None
            else min(float(config.ocr.page_timeout_s), budget)
        )
        config = dataclasses.replace(
            config, ocr=dataclasses.replace(config.ocr, page_timeout_s=page_wall)
        )
    if config.ocr.engine != "no_ocr":
        # capability negotiation, driver-side and eager — the adapter analog
        # of check_external_tools' version/feature probing (pdf2pdfocr.py:
        # 588-652; textonly_pdf probe 1258-1266): fail fast on an engine
        # that can't produce hOCR (the extraction semantics require it),
        # record negotiated features for the job log
        caps = get_engine(config.ocr).capabilities()
        if not caps.get("hocr"):
            raise ValueError(
                f"engine {caps.get('name')!r} lacks hOCR output — required "
                "for span extraction (reference probes tool features before "
                "running, pdf2pdfocr.py:588-652)"
            )
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if "meta" not in docs.columns:
        docs = docs.withColumn("meta", F.create_map().cast("map<string,string>"))

    gated = apply_gates(docs, config, done_docs)

    admitted = gated.filter(F.col("skip_reason").isNull())
    quarantined_by_gate = gated.filter(F.col("skip_reason").isNotNull()).select(
        "doc_id", "skip_reason", "spans"
    )

    # Derived per-doc columns are computed AFTER the admission filter: the
    # payload-field casts are only valid on admitted rows (a corrupt
    # media_ref would throw under ANSI), and quarantined rows don't need
    # them anyway. (The rebuild flag itself is computed in apply_gates — the
    # rebuild_conflict gate needs it.)

    # --- P5 deskew BEFORE OCR: the reference runs `mogrify -deskew` in
    # place on every page image ahead of external_ocr (pdf2pdfocr.py:94-101,
    # 1085-1098), then rebuilds the output from those straightened images.
    # Rewriting skew→0 on the admitted span array mirrors both effects at
    # once: the exploded OCR path sees a straight page AND the reassembled
    # output span carries the straightened capture. Pure codegen'd
    # regexp_replace — no Python touches the page.
    if config.deskew_threshold > 0:
        admitted = admitted.withColumn("spans", _deskewed_spans(SPAN()))

    # P6 autorotate eligibility: blank pages are excluded from OSD
    # generation (pdf2pdfocr.py:1021), so the OSD-count guard (1044-1047)
    # skips autorotation for any doc containing a blank page — a reference
    # quirk mirrored deliberately.
    admitted = admitted.withColumn(
        "any_blank",
        F.exists(
            # filter to image spans BEFORE the cast: text spans carry
            # media_ref '' and the payload-field cast would throw under ANSI
            F.filter(SPAN(), lambda s: s["kind"] == F.lit("image")),
            lambda s: _payload_field(s["media_ref"], "colors").cast("int") == 1,
        ),
    )

    # R6 preset resolution (-g, rebuild_and_merge pdf2pdfocr.py:842-872):
    # 'smart' = ALL pages greyscale → 'best' else 'jpeg' (an F.forall
    # aggregate, no explode needed); '' defaults to 'best'; named presets /
    # custom ImageMagick params pass through as constants
    from pdf2pdfocr_spark.oracle import GREYSCALE_MAX_COLORS, PRODUCER_SIGNATURE

    if config.convert_params == "smart":
        all_grey = F.forall(
            F.filter(SPAN(), lambda s: s["kind"] == F.lit("image")),
            lambda s: _payload_field(s["media_ref"], "colors").cast("int")
            <= F.lit(GREYSCALE_MAX_COLORS),
        )
        preset_col = F.when(all_grey, F.lit("best")).otherwise(F.lit("jpeg"))
    else:
        preset_col = F.lit(config.convert_params or "best")
    admitted = admitted.withColumn("preset", preset_col)

    # R8 producer metadata merge (edit_producer, pdf2pdfocr.py:1333-1374):
    # scrub values to printable ASCII, append our signature to /producer
    old_prod = F.col("meta").getItem("producer")
    new_prod = F.when(
        old_prod.isNotNull() & (old_prod != ""),
        F.concat(old_prod, F.lit("; " + PRODUCER_SIGNATURE)),
    ).otherwise(F.lit(PRODUCER_SIGNATURE))
    entries = F.filter(
        F.map_entries(F.coalesce(F.col("meta"), F.create_map().cast("map<string,string>"))),
        lambda e: e["key"] != F.lit("producer"),
    )
    scrubbed = F.transform(
        entries,
        lambda e: F.struct(
            e["key"].alias("key"),
            F.regexp_replace(e["value"], r"[^\x20-\x7e]", "").alias("value"),
        ),
    )
    meta_out = F.map_from_entries(
        F.concat(
            scrubbed,
            F.array(
                F.struct(
                    F.lit("producer").alias("key"), new_prod.alias("value")
                )
            ),
        )
    )
    admitted = admitted.withColumn("meta_out", meta_out)

    if config.ignore_existing_text:
        # gs -dFILTERTEXT analog (pdf2pdfocr.py:1104-1111): drop native text
        admitted = admitted.withColumn(
            "spans", F.filter(SPAN(), lambda s: s["kind"] == F.lit("image"))
        )

    if config.ocr.engine == "no_ocr":
        # O3 passthrough: identity projection, offsets renumbered; P6
        # autorotate still applies (autorotate_final_output runs on the
        # OUTPUT regardless of ocr_ignored, pdf2pdfocr.py:719-720)
        processed = admitted.select(
            "doc_id",
            F.transform(
                sorted_by_offset(SPAN()),
                lambda x, i: F.struct(
                    x["kind"].alias("kind"), x["text"].alias("text"),
                    _emitted_ref(
                        x["kind"], x["media_ref"], config.autorotate
                    ).alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans"),
            F.lit("").alias("doc_text"),
            "n_pages",
            "rebuild",
            "preset",
            "meta_out",
        )
        return processed, quarantined_by_gate

    pages = explode_pages(admitted, config)
    ocr_input = pages.filter(~F.col("is_blank"))  # F6/F7 blank skip
    ocr_input = salted_repartition(ocr_input, num_partitions, config.salt_buckets)
    ocr_results = run_ocr(ocr_input, config, progress=progress)

    assembled = reassemble(admitted, ocr_results, autorotate=config.autorotate)
    if config.ocr.doc_timeout_s is not None:
        # X5 doc budget: pages individually under the page wall can still
        # sum past the document budget — the reference quarantines the doc
        budget = float(config.ocr.doc_timeout_s)
        assembled = assembled.withColumn(
            "page_error",
            F.coalesce(
                F.col("page_error"),
                F.when(
                    F.col("doc_wall_s") > budget,
                    F.concat(
                        F.lit("doc_timeout: OCR wall "),
                        F.round(F.col("doc_wall_s"), 2).cast("string"),
                        F.lit(f"s exceeded budget {budget}s"),
                    ),
                ),
            ),
        )
    assembled = assembled.drop("doc_wall_s")
    if config.cache_assembled:
        from pyspark.storagelevel import StorageLevel

        # both output branches (processed + quarantine) consume this frame;
        # without the persist the OCR stage recomputes for the second action
        assembled = assembled.persist(StorageLevel.MEMORY_AND_DISK)
    processed = assembled.filter(F.col("page_error").isNull()).drop("page_error")
    if config.cache_assembled:
        # handle for callers to release the cache once both branches are
        # consumed (jobs.run_extraction_job unpersists after its writes —
        # a long-lived session running many jobs must not accumulate
        # dataset-sized cached frames)
        processed._persisted_parent = assembled
    quarantine = quarantined_by_gate.unionByName(
        assembled.filter(F.col("page_error").isNotNull()).select(
            "doc_id", F.col("page_error").alias("skip_reason"), "spans"
        )
    )
    return processed, quarantine


def build_spark(app: str = "pdf2pdfocr_spark", master: str | None = None,
                cores: int | None = None, shuffle_partitions: int | None = None,
                driver_memory: str | None = None) -> SparkSession:
    """Session tuned for local mode, where the driver JVM runs every task.

    Defaults come from the host: ``cores`` from the CPUs this process may
    run on, the driver heap from physical RAM (``_host_driver_memory``).
    The default 1g heap GC-thrashes as soon as tens of tasks hold
    collect_list/Arrow buffers, so it is sized explicitly.

    Under spark-submit the JVM is already up with the submitted conf: its
    master and driver memory win, and this sets a master only when the
    caller passes one. ``local[cores]`` and the heap apply only when this
    call starts the driver JVM itself.

    Local masters list files on the driver: a listing of more than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (default 32)
    dirs otherwise runs as a Spark job with one task per dir, and each task
    spends ~12 ms deserializing the Hadoop conf to list one local dir: a
    resume over run dirs of more than 32 ``doc_bucket`` dirs would run up
    to four such jobs per call. Cluster masters keep Spark's parallel
    listing, which pays there."""
    cores = cores or len(os.sched_getaffinity(0))
    # Codegen-heavy plans (wide HOF expressions over span structs) overflow
    # the JVM's default 240 MB JIT code cache after a few job runs; the JIT
    # then disables itself and whole stages fall back to the interpreter —
    # measured as bimodal walls (28 s steady vs 125-157 s degraded) on the
    # bench corpus. 1 GB keeps every compiled stage hot.
    jit_opts = "-XX:ReservedCodeCacheSize=1g"
    # Spark's generated-class cache (default 100 entries) is smaller than one
    # job's working set: a dedup job session compiles ~208 distinct classes
    # and an extraction-resume session ~135, so with the default a warm
    # dedup call recompiled 199-201 classes (Janino, then the JIT again)
    # and a warm resume ~25. At 4000 entries warm dedup recompiles 0-6;
    # 1000 keeps ~5x headroom over the larger set. Static conf: it must be
    # set before the session starts.
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.extraJavaOptions", jit_opts)
        .config("spark.executor.extraJavaOptions", jit_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # per-task thread clamp, reference X4 (pdf2pdfocr.py:1406,1410)
        .config("spark.executorEnv.OMP_THREAD_LIMIT", "1")
        .config("spark.executorEnv.MAGICK_THREAD_LIMIT", "1")
    )
    # spark-submit (or an earlier session) started the driver JVM: its
    # master and heap are fixed by the launching conf.
    jvm_up = SparkContext._jvm is not None or "PYSPARK_GATEWAY_PORT" in os.environ
    if not jvm_up:
        b = b.config("spark.driver.memory", driver_memory or _host_driver_memory())
        master = master or f"local[{cores}]"
    if master:
        b = b.master(master)
    spark = b.getOrCreate()
    if re.fullmatch(r"local(\[.*\])?", spark.sparkContext.master):
        spark.conf.set(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "2147483647"
        )
    _ship_package(spark)
    return spark


def _host_driver_memory() -> str:
    """Half of physical RAM (the Python workers need the rest), at most 48g."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(48, ram_gb // 2))}g"


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable on executor Python workers regardless of
    the driver's cwd — the in-process equivalent of
    ``spark-submit --py-files pdf2pdfocr_spark.zip`` (north_rule packaging).
    Idempotent per session."""
    import shutil
    import tempfile

    if getattr(spark, "_pdf2pdfocr_pyfiles_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.mkdtemp(prefix="pdf2pdfocr_pyfiles_"),
                        "pdf2pdfocr_spark")
    zip_path = shutil.make_archive(
        base, "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    spark.sparkContext.addPyFile(zip_path)
    spark._pdf2pdfocr_pyfiles_shipped = True

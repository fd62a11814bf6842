"""Single-document pure-Python oracle (no Spark).

Distills the reference's per-document flow (Pdf2PdfOcr.ocr(),
pdf2pdfocr.py:694-760) into a referentially-transparent function: the golden
generator for span-sequence equality tests (SURVEY.md §5.1) and the
normative definition of the pipeline's output contract.

Output contract — for each input span in offset order:

* native ``text`` span → emitted as-is (unless ``ignore_existing_text``,
  which drops native text before OCR, mirroring ``gs -dFILTERTEXT``,
  pdf2pdfocr.py:1104-1111);
* ``image`` span, blank (payload ``n_colors == 1``) → the image span is
  emitted with no text (blank pages skip OCR and are re-inserted as empty
  pages, pdf2pdfocr.py:1005-1016, 993-997);
* ``image`` span, engine ``no_ocr`` → emitted as-is (O3 passthrough,
  pdf2pdfocr.py:1001-1003);
* ``image`` span otherwise → the image span, then one ``text`` span per
  non-empty hOCR word in hOCR document order (the sandwich: original page
  + invisible text layer, pdf2pdfocr.py:769-805) with ligatures normalized;

and final offsets renumbered 0..n-1 (reading order). ``doc_text`` is the
byte-concat of per-page txt outputs in page order (the reference's txt
sink, pdf2pdfocr.py:928-940).

Admission gates run in the reference's order (pdf2pdfocr.py:694-710):
min_size(697) → corrupt(1169-1175) → has_text under -t (1192-1194) →
encrypted under -a (1196-1198) → safe-mode output-exists (1161-1167) →
max_pages(710). A gated/failed document is quarantined with a reason and the
batch continues (pdf2pdfocr.py:1531-1533) — never a job abort.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pdf2pdfocr_spark import hocr as H
from pdf2pdfocr_spark.ocr_engine import OcrConfig, get_engine
from pdf2pdfocr_spark.schema import PagePayload

_SKEW_RE = re.compile(r"skew=[0-9.]+")
_COLORS_RE = re.compile(r"colors=\d+")


@dataclass(frozen=True)
class PipelineConfig:
    """Mirrors the reference CLI flag surface (pdf2pdfocr.py:1413-1491)."""

    ocr: OcrConfig = field(default_factory=OcrConfig)
    min_kbytes: int = 0              # -b (check_avoid_file_by_size, 1207-1213)
    max_pages: int | None = None     # -p (check_avoid_high_pages, 1200-1205)
    check_text_mode: bool = False    # -t reject docs that already have text
    avoid_encrypted: bool = False    # -a
    safe_mode: bool = False          # -s skip docs already in the done set
    ignore_existing_text: bool = False  # --ignore-existing-text
    deskew_threshold: float = 0.0    # -d (>0 = use_deskew_mode: deskew pages
    #                                  before OCR AND force rebuild, 762-764)
    convert_params: str = "smart"    # -g rebuild convert preset
    #   (rebuild_and_merge, pdf2pdfocr.py:834-868): 'smart' picks
    #   best-vs-jpeg from the corpus greyscale scan (842-856); explicit
    #   fast|best|grayscale|jpeg|jpeg2000 select a preset; any other string
    #   is passed through as custom ImageMagick params
    autorotate: bool = False         # --autorotate (use_autorotate, 526):
    #                                  rotate final pages upright per OSD
    force_rebuild: bool = False      # -f
    # X2 page-skew salting (Spark side only): a doc's pages spread over up
    # to this many shuffle keys. Keep it ≥ several× the partition count —
    # with few keys, key-hash collisions re-concentrate the huge doc
    salt_buckets: int = 64
    # Persist the assembled output before consuming BOTH branches
    # (processed + quarantine): without it the expensive OCR stage is
    # recomputed for the second action. Off by default (single-action
    # consumers pay nothing); checkpointed jobs flip it on (jobs.py).
    cache_assembled: bool = False
    # Keep full span payloads in the quarantine ledger (debug triage).
    # Default OFF: the slim ledger is (doc_id, skip_reason, n_spans) — at a
    # 5% quarantine rate over 100 TB the payload copy is ~5 TB of input
    # duplicated into quarantine/, and the payload stays addressable in the
    # source table by doc_id anyway.
    quarantine_payloads: bool = False

    def __post_init__(self):
        # check_rebuild_pdf raises when rebuild-from-images is combined with
        # --ignore-existing-text ("won't work together", pdf2pdfocr.py:765-767)
        # — the statically-known combinations fail fast at config time; the
        # per-document trigger (encrypted input) quarantines instead.
        if self.ignore_existing_text and (
            self.force_rebuild or self.deskew_threshold > 0
        ):
            raise ValueError(
                "rebuild from images (force_rebuild/deskew) and "
                "ignore_existing_text won't work together "
                "(check_rebuild_pdf, pdf2pdfocr.py:765-767)"
            )


SPAN_FIELDS = ("kind", "text", "media_ref", "offset")

# R8 producer signature appended to document metadata (edit_producer,
# pdf2pdfocr.py:1333-1374)
PRODUCER_SIGNATURE = "pdf2pdfocr_spark 0.1.0"

# R6 smart-preset greyscale proxy: payloads with few distinct colors count
# as greyscale (do_check_img_greyscale, pdf2pdfocr.py:227-240)
GREYSCALE_MAX_COLORS = 16


def merged_meta(meta: dict) -> dict:
    """R8: copy source metadata, scrub values to printable ASCII
    (pdf2pdfocr.py:1352-1353), append our signature to /producer."""
    out = {}
    for k, v in (meta or {}).items():
        if k == "producer":
            continue
        out[k] = "".join(c for c in v if 0x20 <= ord(c) <= 0x7E)
    old = (meta or {}).get("producer", "")
    out["producer"] = f"{old}; {PRODUCER_SIGNATURE}" if old else PRODUCER_SIGNATURE
    return out


def smart_preset(payloads: dict) -> str:
    """R6: ALL pages greyscale → 'best', else 'jpeg'
    (pdf2pdfocr.py:842-856); documents with no pages default to 'best'."""
    return (
        "best"
        if all(p.n_colors <= GREYSCALE_MAX_COLORS for p in payloads.values())
        else "jpeg"
    )


# Group4-compressed presets quantize the re-rendered page to bilevel
# (-threshold/-colors 2 ... -compress Group4, preset table
# pdf2pdfocr.py:834-838); JPEG-family presets keep the palette.
GROUP4_PRESETS = frozenset({"fast", "best", "grayscale"})


def resolve_preset(convert_params: str, payloads: dict) -> str:
    """-g resolution (rebuild_and_merge, pdf2pdfocr.py:842-872): 'smart'
    scans the corpus colors; '' defaults to 'best' (line 871-872); anything
    else (named preset or custom ImageMagick params) passes through."""
    if convert_params == "smart":
        return smart_preset(payloads)
    if convert_params == "":
        return "best"
    return convert_params


def _span(kind: str, text: str, media_ref: str, offset: int) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def doc_size_kb(spans: list) -> float:
    """Document size proxy for the -b gate: utf-8 payload bytes / 1024."""
    return sum(
        len(s["text"].encode("utf-8")) + len(s["media_ref"].encode("utf-8"))
        for s in spans
    ) / 1024.0


def extract_document(
    doc: dict,
    config: PipelineConfig,
    done_doc_ids: frozenset = frozenset(),
) -> dict:
    """Run the full reference-equivalent flow for one document.

    Returns ``{doc_id, skip_reason, spans, doc_text, n_pages, rebuild}``;
    ``skip_reason`` is None for successfully processed docs, otherwise one of
    min_size / corrupt / has_text / encrypted / output_exists / max_pages.
    """
    doc_id = doc["doc_id"]
    spans = sorted(doc["spans"], key=lambda s: s["offset"])
    meta = doc.get("meta") or {}

    def skipped(reason: str) -> dict:
        return {
            "doc_id": doc_id, "skip_reason": reason, "spans": None,
            "doc_text": None, "n_pages": 0, "rebuild": False,
            "preset": None, "meta_out": None,
        }

    # --- admission gates, reference order -----------------------------------
    if config.min_kbytes and doc_size_kb(spans) < config.min_kbytes:
        return skipped("min_size")

    if len({s["offset"] for s in spans}) != len(spans):
        return skipped("corrupt")  # duplicate offsets = malformed document

    image_spans = [s for s in spans if s["kind"] == "image"]
    payloads = {}
    for s in image_spans:
        try:
            payloads[s["offset"]] = PagePayload.from_ref(s["media_ref"])
        except ValueError:
            return skipped("corrupt")

    has_text = any(s["kind"] == "text" for s in spans)  # S4 probe (1215-1227)
    if config.check_text_mode and has_text:
        return skipped("has_text")

    encrypted = meta.get("encrypted") == "true"
    if config.avoid_encrypted and encrypted:
        return skipped("encrypted")

    # --- rebuild branch flag (check_rebuild_pdf, pdf2pdfocr.py:762-767):
    # encrypted | non-pdf | use_deskew_mode | force — flag-driven, NOT
    # skew-content-driven (the reference keys on the -d mode, not on whether
    # pages actually are skewed)
    rebuild = bool(
        encrypted or config.force_rebuild or config.deskew_threshold > 0
    )
    # per-document rebuild×ignore_existing_text conflict (the dynamic part of
    # check_rebuild_pdf's guard, 765-767): quarantine, batch continues
    if rebuild and config.ignore_existing_text:
        return skipped("rebuild_conflict")

    if config.safe_mode and doc_id in done_doc_ids:
        return skipped("output_exists")

    if config.max_pages is not None and len(image_spans) > config.max_pages:
        return skipped("max_pages")

    # --- P5 deskew BEFORE OCR (mogrify -deskew in place on the page images,
    # pdf2pdfocr.py:94-101, driver 1085-1098): the page payload itself is
    # rewritten skew→0, so OCR sees a straight page. Without -d, OCR sees the
    # skewed capture and emits the smudged text (hocr.synth_hocr).
    if config.deskew_threshold > 0:
        payloads = {
            off: PagePayload(
                p.width_px, p.height_px, p.dpi, p.n_colors, p.rotation,
                0.0, p.layout, p.hocr_seed,
            )
            for off, p in payloads.items()
        }

    # P6 autorotate applies only when OSD info exists for EVERY page; blank
    # pages are excluded from OSD generation (pdf2pdfocr.py:1021), so any
    # blank page makes the OSD-count guard (1044-1047) skip the whole doc —
    # a reference quirk mirrored deliberately.
    any_blank = any(p.is_blank for p in payloads.values())
    do_rotate = config.autorotate and not any_blank

    preset = resolve_preset(config.convert_params, payloads)

    def _emit_image(media_ref: str, payload: PagePayload) -> str:
        if config.deskew_threshold > 0:
            # deskew mode forces rebuild-from-(deskewed)-images, so the
            # emitted page reflects the straightened capture
            media_ref = _SKEW_RE.sub("skew=0.0", media_ref)
        if rebuild and preset in GROUP4_PRESETS and not payload.is_blank:
            # R5 rebuild re-render: Group4-family presets quantize the
            # re-rendered page to bilevel (-colors 2 / -threshold ... Group4,
            # rebuild_and_merge presets pdf2pdfocr.py:834-838); JPEG-family
            # presets keep the palette
            media_ref = _COLORS_RE.sub("colors=2", media_ref)
        if do_rotate and payload.rotation:
            # rotateClockwise(OSD angle) folds into the emitted span: the
            # final page displays upright (apply at pdf2pdfocr.py:1070-1073)
            return media_ref.replace(f"rot={payload.rotation}", "rot=0")
        return media_ref

    # --- per-page OCR + interleaved emission ---------------------------------
    engine = None if config.ocr.engine == "no_ocr" else get_engine(config.ocr)
    out: list = []
    page_texts: list = []
    for s in spans:
        if s["kind"] == "text":
            if config.ignore_existing_text:
                continue
            out.append(_span("text", s["text"], "", -1))
            continue
        payload = payloads[s["offset"]]
        out.append(_span("image", "", _emit_image(s["media_ref"], payload), -1))
        if engine is None or payload.is_blank:
            continue
        result = engine.ocr_page_with_repair(payload)
        page_texts.append(result.text)
        for w in result.words:
            out.append(_span("text", w.text, "", -1))

    for i, s in enumerate(out):  # renumber reading order
        s["offset"] = i

    return {
        "doc_id": doc_id,
        "skip_reason": None,
        "spans": out,
        "doc_text": "".join(page_texts),
        "n_pages": len(image_spans),
        "rebuild": rebuild,
        "preset": preset,
        "meta_out": merged_meta(meta),
    }


def extract_corpus(docs: list, config: PipelineConfig, done=frozenset()) -> dict:
    """Oracle over a corpus → {doc_id: result}; continue-on-error semantics
    (per-doc failure never stops the batch, pdf2pdfocr.py:1531-1533)."""
    return {d["doc_id"]: extract_document(d, config, done) for d in docs}


def span_tuples(spans: list) -> list:
    """Canonical (kind, text, media_ref, order) tuples — the per-row
    invariant of BASELINE.json input_hint."""
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]

"""Operator-inventory queries + DuckDB oracle SQL (driver contract).

Each SURVEY.md §2 row that is SQL-expressible gets a (Spark DataFrame fn,
DuckDB SQL) pair over the driver testdata tables; the driver compares
row-count + schema + order-insensitive value hash at sf=0.01
(FIXTURES.md §B maps operators → fixture tables).

Cross-engine determinism rules used throughout:
* every computed column aliased identically on both sides;
* counts cast to BIGINT;
* double aggregates: per-row CAST to DECIMAL(18,4) → exact SUM → double →
  round (no double is ever exactly at a decimal tie — 10^k has a 5^k factor
  no binary fraction can carry — so double→decimal casts round identically
  in both engines);
* shared hash primitive: first 8 hex chars of md5 → BIGINT
  (Spark ``conv(substring(md5(x),1,8),16,10)`` ≡ DuckDB
  ``CAST('0x'||substr(md5(x),1,8) AS BIGINT)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf2pdfocr_spark.operators import dedup, similarity, text_analysis as ta
from pdf2pdfocr_spark.partitioning import fan_out

# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec_sum(col, alias, scale=2):
    return F.round(
        F.sum(col.cast("decimal(18,4)")).cast("double"), scale
    ).alias(alias)


# --- S4: text-layer probe (array predicate) --------------------------------

def q_s4_text_probe(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.exists(toks, lambda w: F.length(w) > 5).alias("has_long_word"),
    )


SQL_S4 = """
SELECT doc_id,
       len(list_filter(string_split_regex(trim(text), '\\s+'),
                       w -> length(w) > 5)) > 0 AS has_long_word
FROM documents
"""

# --- F1: min-size admission gate --------------------------------------------

def q_f1_min_size(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("n_chars") >= 300)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


SQL_F1 = """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE n_chars >= 300 GROUP BY source
"""

# --- F2: max-pages gate (per-order line cap) --------------------------------

def q_f2_max_pages(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(F.count("*").cast("long").alias("n_lines"))
        .filter(F.col("n_lines") <= 3)
    )


SQL_F2 = """
SELECT l_orderkey AS orderkey, CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem GROUP BY l_orderkey HAVING count(*) <= 3
"""

# --- F5: resume / safe-mode left-anti join ----------------------------------

def q_f5_anti_join(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    done = docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0).select("doc_id")
    return docs.join(done, "doc_id", "left_anti").select("doc_id", "n_chars")


SQL_F5 = """
SELECT doc_id, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
"""

# --- F6: blank-page filter analog (zero-value predicate filter) -------------

def q_f6_blank_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_discount") == 0.0)
        .groupBy("l_returnflag")
        .agg(F.count("*").cast("long").alias("n_zero_disc"))
    )


SQL_F6 = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_zero_disc
FROM lineitem WHERE l_discount = 0.0 GROUP BY l_returnflag
"""

# --- R1/S6: ordered reassembly + ordered concat -----------------------------

def q_r1_ordered_concat(spark, sf_dir):
    # no fan_out: partial collect_list is cheap map-side; the heavy
    # array_sort runs post-shuffle (parallel already) — measured neutral-to-
    # worse with an extra exchange
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("l_linenumber", "l_returnflag"))),
                lambda s: s["l_returnflag"],
            ),
        ).alias("flags")
    )


SQL_R1 = """
SELECT l_orderkey AS orderkey,
       string_agg(l_returnflag, '' ORDER BY l_linenumber, l_returnflag) AS flags
FROM lineitem GROUP BY l_orderkey
"""


def q_s6_event_seq(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("seq")
    )


SQL_S6 = """
SELECT user_id, string_agg(event_type, '|' ORDER BY ts, event_id) AS seq
FROM events GROUP BY user_id
"""

# --- R3: merge equi-join -----------------------------------------------------

def q_r3_merge_join(spark, sf_dir):
    orders = fan_out(_t(spark, sf_dir, "orders"))
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            _dec_sum(F.col("o_totalprice"), "revenue"),
        )
    )


SQL_R3 = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

# --- R6: every/bool_and (smart-preset decision) ------------------------------

def q_r6_every(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.every(F.col("l_quantity") < 45).alias("all_small")
    )


SQL_R6 = """
SELECT l_orderkey AS orderkey, bool_and(l_quantity < 45) AS all_small
FROM lineitem GROUP BY l_orderkey
"""

# --- H3: bbox-style regex extraction -----------------------------------------

def q_h3_regex_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    raw = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1)
    return ev.select(
        "event_id",
        F.when(raw == "", None).otherwise(raw).cast("int").alias("val_k"),
    )


SQL_H3 = """
SELECT event_id,
       CAST(nullif(regexp_extract(props, '"k":\\s*([0-9]+)', 1), '') AS INT) AS val_k
FROM events
"""

# --- H6 + §2.8: ligature normalize + printable scrub -------------------------

def q_h6_ligature(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    norm = F.translate(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "ﬂ", "fl"), "ﬁ", "fi"
        ),
        "aeiou",
        "AEIOU",
    )
    return docs.select("doc_id", F.md5(norm).alias("norm_hash"))


SQL_H6 = """
SELECT doc_id,
       md5(translate(replace(replace(text, 'ﬂ', 'fl'), 'ﬁ', 'fi'),
                     'aeiou', 'AEIOU')) AS norm_hash
FROM documents
"""

# --- §2.8 scalar math: px→pt + area + tolerance ------------------------------

def q_scalar_math(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") / 300.0 * 72.0, 4).alias("pts"),
        (F.col("p_size").cast("long") * F.col("p_size").cast("long")).alias("area"),
        (F.abs(F.col("p_retailprice") / 1000.0 - 1.0) > 0.001).alias("needs_scale"),
    )


SQL_SCALAR = """
SELECT p_partkey, round(p_retailprice / 300.0 * 72.0, 4) AS pts,
       CAST(p_size AS BIGINT) * CAST(p_size AS BIGINT) AS area,
       abs(p_retailprice / 1000.0 - 1.0) > 0.001 AS needs_scale
FROM part
"""

# --- H7: invisible-text render geometry (fontsize + Helvetica h-scale) -------

def q_h7_render_geometry(spark, sf_dir):
    """Reference render math (pdf2pdfocr.py:419-430) over deterministic
    word boxes derived from document tokens: fontsize = bbox height in pt,
    h_scale = 100 × bbox width / Helvetica stringWidth. The glyph-width
    aggregate is the same codegen'd expression the geometry sink uses."""
    from pdf2pdfocr_spark.functions.render import char_width_sum

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda t: F.length(t) > 0
    )
    t = docs.select("doc_id", F.posexplode(toks).alias("word_no", "word"))
    # synthetic bbox: 18 px per char wide, 28 px tall, at 300 dpi
    fontsize = F.lit(28.0) / F.lit(300.0) * F.lit(72.0)
    width_pt = (F.lit(18.0) * F.length("word")) / F.lit(300.0) * F.lit(72.0)
    sw = char_width_sum(F.col("word")).cast("double") * fontsize / F.lit(1000.0)
    return t.select(
        "doc_id",
        F.col("word_no").cast("int").alias("word_no"),
        "word",
        F.round(fontsize, 4).alias("fontsize_pt"),
        # floor-truncate instead of round: both engines floor the SAME IEEE
        # double; round() diverges at shortest-repr decimal ties
        (F.floor(F.lit(100.0) * width_pt / sw * F.lit(10000.0)) / F.lit(10000.0))
        .alias("h_scale"),
    )


def _duck_char_width_case() -> str:
    from pdf2pdfocr_spark.functions.render import HELVETICA_WIDTHS

    whens = " ".join(
        f"WHEN '{c}' THEN {w}" if c != "'" else f"WHEN '''' THEN {w}"
        for c, w in HELVETICA_WIDTHS.items()
    )
    return f"CASE c {whens} ELSE 556 END"


SQL_H7_RENDER = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents WHERE doc_id < 40
),
e AS (
  SELECT doc_id,
         unnest(list_transform(range(len(toks)),
                i -> struct_pack(word_no := i, word := toks[i+1]))) AS u
  FROM t
),
w AS (
  SELECT doc_id, CAST(u.word_no AS INT) AS word_no, u.word AS word,
         CAST(list_sum(list_transform(regexp_extract_all(u.word, '.'),
              c -> {_duck_char_width_case()})) AS DOUBLE) AS wsum
  FROM e
)
SELECT doc_id, word_no, word,
       round(28.0 / 300.0 * 72.0, 4) AS fontsize_pt,
       floor(100.0 * ((18.0 * length(word)) / 300.0 * 72.0)
             / (wsum * (28.0 / 300.0 * 72.0) / 1000.0) * 10000.0) / 10000.0
         AS h_scale
FROM w
"""

# --- R4: multibackground merge decision table ---------------------------------

def q_r4_multibackground(spark, sf_dir):
    """Scale/tolerance/rotation merge math of the qpdf-less fallback
    (pdf2pdfocr_multibackground.py:34-94) over deterministic page geometry
    derived from the part table."""
    from pdf2pdfocr_spark.functions.merge import multibackground_merge_plan

    part = _t(spark, sf_dir, "part")
    base = part.select(
        "p_partkey",
        (F.lit(400) + F.col("p_size") * 7).cast("int").alias("img_w"),
        (F.lit(600) + F.col("p_size") * 5).cast("int").alias("img_h"),
        (F.lit(400) + F.col("p_size") * 7 + F.pmod(F.col("p_partkey"), F.lit(3)) * 2)
        .cast("int").alias("txt_w"),
        (F.lit(600) + F.col("p_size") * 5 + F.pmod(F.col("p_partkey"), F.lit(5)))
        .cast("int").alias("txt_h"),
        (F.pmod(F.col("p_partkey"), F.lit(4)) * 90).cast("int").alias("angle"),
    )
    return multibackground_merge_plan(
        base,
        F.col("img_w"), F.col("img_h"), F.col("txt_w"), F.col("txt_h"),
        F.col("angle"),
    )


def q_r4_sink_merge(spark, sf_dir):
    """R4 capability-negotiated sink merge plan END-TO-END: the derived
    interleaved corpus runs gates → page explode → salted repartition →
    geometry OCR with the CUNEIFORM engine (hOCR-only → multibackground
    route, pdf2pdfocr.py:1258-1266) → the merge decision table
    (pdf2pdfocr_multibackground.py:34-94). Rotation is injected
    deterministically (raw doc_id % 4 × 90) so every branch of the
    decision table is exercised; the DuckDB oracle reproduces the page
    geometry CLOSED-FORM — the hOCR page of a 90/270 capture carries the
    swapped capture dims (hocr.synth_hocr), EXCEPT cuneiform's
    empty-page fallback (hocr_seed % 997 == 0, pdf2pdfocr.py:200 analog)
    which hard-codes the unswapped payload dims — the oracle models both,
    pinning that quirk cross-engine."""
    from pdf2pdfocr_spark.corpus import documents_from_testdata
    from pdf2pdfocr_spark.ocr_engine import OcrConfig
    from pdf2pdfocr_spark.oracle import PipelineConfig
    from pdf2pdfocr_spark.pipeline import _ship_package, sink_merge_plan

    _ship_package(spark)
    docs = documents_from_testdata(spark, sf_dir)
    rot = (
        F.pmod(F.substring(F.col("doc_id"), 5, 9).cast("long"), F.lit(4)) * 90
    ).cast("int")
    docs = docs.withColumn(
        "spans",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                F.regexp_replace(
                    s["media_ref"], F.lit("rot=0"),
                    F.concat(F.lit("rot="), rot.cast("string")),
                ).alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ),
    )
    plan = sink_merge_plan(
        docs, PipelineConfig(ocr=OcrConfig(engine="cuneiform"))
    )
    return plan.select(
        "doc_id",
        "offset",
        F.col("rotation").cast("int").alias("rotation"),
        "factor_x_ppm",
        "factor_y_ppm",
        "needs_scale",
        "merge_mode",
        "rotate_by",
        "translate_x",
        "translate_y",
    )


SQL_R4_SINK_MERGE = """
WITH base AS (
  SELECT doc_id AS raw_id,
         greatest(1, CAST(ceil(len(string_split(text, ' ')) / 12.0)
                          AS BIGINT)) AS n_chunks,
         CAST((doc_id % 4) * 90 AS INT) AS rotation,
         ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 2147483647) + 1 + 7) AS hocr_seed
  FROM documents
),
pages AS (
  SELECT printf('doc-%09d', raw_id) AS doc_id,
         CAST(c.i * 2 + 1 AS INT) AS "offset",
         rotation,
         (hocr_seed % 997 = 0) AS empty_fallback
  FROM base, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) c
),
geom AS (
  SELECT *,
         CAST(2480 AS DOUBLE) / 300 * 72.0 AS w_pt,
         CAST(3508 AS DOUBLE) / 300 * 72.0 AS h_pt,
         -- image dims, rotation-corrected (multibackground.py:56-60)
         CASE WHEN rotation IN (90, 270)
              THEN CAST(3508 AS DOUBLE) / 300 * 72.0
              ELSE CAST(2480 AS DOUBLE) / 300 * 72.0 END AS eff_x,
         CASE WHEN rotation IN (90, 270)
              THEN CAST(2480 AS DOUBLE) / 300 * 72.0
              ELSE CAST(3508 AS DOUBLE) / 300 * 72.0 END AS eff_y,
         -- text page dims from the engine's hOCR: swapped capture dims
         -- for 90/270 (synth_hocr), UNLESS the cuneiform empty-page
         -- fallback fired (unswapped payload dims, pdf2pdfocr.py:200)
         CASE WHEN rotation IN (90, 270) AND NOT empty_fallback
              THEN CAST(3508 AS DOUBLE) / 300 * 72.0
              ELSE CAST(2480 AS DOUBLE) / 300 * 72.0 END AS txt_w,
         CASE WHEN rotation IN (90, 270) AND NOT empty_fallback
              THEN CAST(2480 AS DOUBLE) / 300 * 72.0
              ELSE CAST(3508 AS DOUBLE) / 300 * 72.0 END AS txt_h
  FROM pages
)
SELECT doc_id,
       "offset",
       rotation,
       CAST(floor(txt_w / eff_x * 1000000.0) AS BIGINT) AS factor_x_ppm,
       CAST(floor(txt_h / eff_y * 1000000.0) AS BIGINT) AS factor_y_ppm,
       (abs(txt_w / eff_x - 1.0) > 0.001
        OR abs(txt_h / eff_y - 1.0) > 0.001) AS needs_scale,
       CASE WHEN rotation % 360 = 0 THEN 'simple'
            ELSE 'rotated' END AS merge_mode,
       CAST(CASE WHEN rotation = 0 THEN 0 ELSE -rotation END AS INT)
         AS rotate_by,
       CAST(CASE WHEN rotation = 0 THEN 0.0
                 WHEN rotation = 90 THEN eff_y / 2
                 ELSE eff_x / 2 END AS DOUBLE) AS translate_x,
       CAST(CASE WHEN rotation = 0 THEN 0.0
                 WHEN rotation = 270 THEN eff_x / 2
                 ELSE eff_y / 2 END AS DOUBLE) AS translate_y
FROM geom
"""

SQL_R4_MULTIBACKGROUND = """
WITH base AS (
  SELECT p_partkey,
         CAST(400 + p_size * 7 AS INT) AS img_w,
         CAST(600 + p_size * 5 AS INT) AS img_h,
         CAST(400 + p_size * 7 + (p_partkey % 3) * 2 AS INT) AS txt_w,
         CAST(600 + p_size * 5 + (p_partkey % 5) AS INT) AS txt_h,
         CAST((p_partkey % 4) * 90 AS INT) AS angle
  FROM part
),
m AS (
  SELECT *,
         CASE WHEN angle IN (90, 270) THEN CAST(img_h AS DOUBLE)
              ELSE CAST(img_w AS DOUBLE) END AS eff_x,
         CASE WHEN angle IN (90, 270) THEN CAST(img_w AS DOUBLE)
              ELSE CAST(img_h AS DOUBLE) END AS eff_y
  FROM base
)
SELECT p_partkey, img_w, img_h, txt_w, txt_h, angle,
       CAST(floor(CAST(txt_w AS DOUBLE) / eff_x * 1000000.0) AS BIGINT)
         AS factor_x_ppm,
       CAST(floor(CAST(txt_h AS DOUBLE) / eff_y * 1000000.0) AS BIGINT)
         AS factor_y_ppm,
       (abs(CAST(txt_w AS DOUBLE) / eff_x - 1.0) > 0.001
        OR abs(CAST(txt_h AS DOUBLE) / eff_y - 1.0) > 0.001) AS needs_scale,
       CASE WHEN angle % 360 = 0 THEN 'simple' ELSE 'rotated' END AS merge_mode,
       CAST(CASE WHEN angle % 360 = 0 THEN 0 ELSE -angle END AS INT) AS rotate_by,
       CASE WHEN angle % 360 = 0 THEN 0.0
            WHEN angle = 90 THEN eff_y / 2
            WHEN angle = 180 THEN eff_x / 2
            WHEN angle = 270 THEN eff_x / 2 END AS translate_x,
       CASE WHEN angle % 360 = 0 THEN 0.0
            WHEN angle = 90 THEN eff_y / 2
            WHEN angle = 180 THEN eff_y / 2
            WHEN angle = 270 THEN eff_x / 2 END AS translate_y
FROM m
"""

# --- X2: salted repartition preserves rows -----------------------------------

def q_x2_salt_preserve(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    salted = li.repartition(16, F.pmod(F.col("l_orderkey"), F.lit(16)))
    return salted.groupBy(
        F.pmod(F.col("l_orderkey"), F.lit(16)).cast("long").alias("salt")
    ).agg(F.count("*").cast("long").alias("n"))


SQL_X2 = """
SELECT CAST(((l_orderkey % 16) + 16) % 16 AS BIGINT) AS salt,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1
"""

# --- TPC-H Q1 style aggregate -------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    li = fan_out(_t(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(disc_price, "sum_disc_price"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

# --- top-k per group (window) --------------------------------------------------

def q_topk_per_group(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_orderpriority", "o_orderkey",
            F.round(F.col("o_totalprice"), 2).alias("totalprice"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


SQL_TOPK = """
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS totalprice,
       CAST(rn AS INT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""

# --- sessionization (lag + gap) ------------------------------------------------

def q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet timestamps load as TIMESTAMP_NTZ in Spark 4; unix_micros wants
    # LTZ — the cast is offset-free under the session's UTC timezone
    us = lambda c: F.unix_micros(c.cast("timestamp_ltz"))  # noqa: E731
    gap_us = us(F.col("ts")) - us(F.lag("ts").over(w))
    is_new = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(F.sum("is_new").cast("long").alias("n_sessions"))
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM g GROUP BY user_id
"""

# --- grouping sets / window frames (engine generality) -----------------------

def q_cube_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        _dec_sum(F.col("l_quantity"), "sum_qty"),
        F.count("*").cast("long").alias("n"),
    )


SQL_CUBE = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_rollup_agg(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        _dec_sum(F.col("o_totalprice"), "total"),
        F.count("*").cast("long").alias("n"),
    )


SQL_ROLLUP = """
SELECT o_orderstatus, o_orderpriority,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total,
       CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_window_running_sum(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w)
            .cast("double"),
            2,
        ).alias("running_total"),
    )


SQL_RUNNING_SUM = """
SELECT o_custkey, o_orderkey,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
         AS running_total
FROM orders
"""

# --- dedup: exact -----------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    # no fan_out: one md5 per row is cheap map-side work; the groupBy
    # already parallelizes post-shuffle (fan_out measured as a net loss)
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.md5(dedup.normalize_text(F.col("text"))).alias("content_hash"),
            "doc_id",
        )
        .groupBy("content_hash")
        .agg(
            F.count("*").cast("long").alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
    )


SQL_DEDUP_EXACT = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
       CAST(count(*) AS BIGINT) AS n_dups, min(doc_id) AS keep_id
FROM documents GROUP BY 1
"""

# --- dedup: n-gram Jaccard pairs ----------------------------------------------

def _duck_shingles(max_doc_id: int, n: int) -> str:
    return f"""
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(regexp_replace(lower(trim(text)),
                     '\\s+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS t
  FROM documents WHERE doc_id < {max_doc_id}
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
              ELSE list_distinct(list_transform(range(0, len(t) - {n - 1}),
                                 i -> array_to_string(t[(i+1):(i+{n})], ' ')))
         END AS shingles
  FROM toks
)
"""


_DUCK_SHINGLES = _duck_shingles(200, 3)


def q_dedup_ngram_jaccard(spark, sf_dir):
    # bigrams over the first 150 docs with a threshold inside the observed
    # similarity tail, so the check is non-trivial (returns pairs) at both
    # gate scales; max_df exercises the hot-shingle cutoff end-to-end
    docs = fan_out(_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150))
    return dedup.ngram_jaccard_pairs(
        docs, n=2, threshold=0.08, text_col="text", max_df=30
    )


SQL_NGRAM_JACCARD = f"""
WITH {_duck_shingles(150, 2)},
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
low AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= 30),
inv2 AS (SELECT doc_id, s FROM inv JOIN low USING (s)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv2 a JOIN inv2 b USING (s) WHERE a.doc_id < b.doc_id
),
v AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS c,
         len(sa.shingles) AS na, len(sb.shingles) AS nb
  FROM cand
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, round(c / (na + nb - c), 6) AS jaccard
FROM v WHERE c / (na + nb - c) >= 0.08
"""

# --- dedup: MinHash signatures -------------------------------------------------

def q_dedup_minhash_sig(spark, sf_dir):
    docs = fan_out(_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200))
    return dedup.with_minhash(docs, num_hashes=8, n=3, text_col="text")


def _duck_mh(i: int) -> str:
    return (
        "list_min(list_transform(shingles, "
        f"s -> CAST(('0x' || substr(md5('{i}|' || s), 1, 8)) AS BIGINT))) AS mh_{i}"
    )


SQL_MINHASH_SIG = (
    "WITH "
    + _DUCK_SHINGLES
    + "SELECT doc_id, "
    + ", ".join(_duck_mh(i) for i in range(8))
    + " FROM sh"
)

# --- dedup: MinHash-LSH capped candidate pairs (end-to-end) -------------------

def q_dedup_minhash_pairs(spark, sf_dir):
    """The FULL MinHash-LSH dedup path — band bucketing, the per-(band,sig)
    population cap (round-2 verdict: the uncapped band join was the first
    OOM on a dup-heavy corpus), and exact shingle-Jaccard verification —
    mirrored bucket-for-bucket in the DuckDB oracle (same row_number cap,
    same doc_id rank order)."""
    docs = fan_out(_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150))
    return dedup.minhash_lsh_pairs(
        docs, num_hashes=8, bands=4, n=2, threshold=0.08, text_col="text",
        bucket_cap=10,
    )


def _duck_band(b: int) -> str:
    return (
        f"SELECT doc_id, {b} AS band, "
        f"concat_ws('-', CAST(mh_{2 * b} AS VARCHAR), "
        f"CAST(mh_{2 * b + 1} AS VARCHAR)) AS sig FROM mh"
    )


SQL_MINHASH_PAIRS = (
    "WITH "
    + _duck_shingles(150, 2)
    + ", mh AS (SELECT doc_id, "
    + ", ".join(_duck_mh(i) for i in range(8))
    + " FROM sh), "
    + "bands AS ("
    + " UNION ALL ".join(_duck_band(b) for b in range(4))
    + """),
capped AS (
  SELECT doc_id, band, sig FROM (
    SELECT *, row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rk
    FROM bands
  ) WHERE rk <= 10
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b USING (band, sig) WHERE a.doc_id < b.doc_id
),
v AS (
  SELECT id_a, id_b,
         round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
               / (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles))), 6)
           AS jaccard
  FROM cand
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.08
"""
)

# --- dedup: SimHash fingerprints ------------------------------------------------

def q_dedup_simhash(spark, sf_dir):
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return dedup.with_simhash(docs, bits=32, text_col="text")


SQL_SIMHASH = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+'),
           x -> length(x) > 0)) AS tok
  FROM documents
),
h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM tok
),
votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, (SELECT unnest(range(0, 32)) AS b) bits
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT)
         AS simhash
FROM votes GROUP BY doc_id
"""

# --- dedup: SimHash capped near-dup pairs (end-to-end) -------------------------

def q_dedup_simhash_pairs(spark, sf_dir):
    """The FULL SimHash near-dup path — pigeonhole chunk bucketing, the
    per-(chunk,val) population cap (round-2 verdict: 8-10 bit chunks make
    degenerate buckets LIKELY, not adversarial), and exact Hamming
    verification — mirrored bucket-for-bucket in the DuckDB oracle."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return dedup.simhash_near_dups(
        docs, bits=32, max_hamming=2, text_col="text", bucket_cap=50
    )


# max_hamming=2 → 3 chunks of 32//3 = 10 bits; the fp CTE is the SQL_SIMHASH
# body verbatim. xor/bit_count and >>/& behave identically on BIGINT in both
# engines for these non-negative 32-bit values.
SQL_SIMHASH_PAIRS = (
    "WITH fp AS (" + SQL_SIMHASH + """),
chunks AS (
  SELECT doc_id, simhash, c.chunk,
         (simhash >> (c.chunk * 10)) & 1023 AS val
  FROM fp, (SELECT unnest([0, 1, 2]) AS chunk) c
),
capped AS (
  SELECT doc_id, simhash, chunk, val FROM (
    SELECT *, row_number() OVER (PARTITION BY chunk, val ORDER BY doc_id) AS rk
    FROM chunks
  ) WHERE rk <= 50
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.simhash AS h_a,
                  b.doc_id AS id_b, b.simhash AS h_b
  FROM capped a JOIN capped b USING (chunk, val)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(h_a, h_b)) <= 2
"""
)

# --- dedup: connected-component duplicate clusters ----------------------------

def q_dedup_clusters(spark, sf_dir):
    """Pairwise near-dups → actionable groups: connected components over the
    capped SimHash pair graph (large-star/small-star, finished by union-find
    on the driver once the edges fit a broadcast; dedup.duplicate_clusters).
    The DuckDB oracle computes the same clusters via a recursive-CTE
    transitive closure (min reachable id per node) — an engine-independent
    definition of the component labels."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    pairs = dedup.simhash_near_dups(
        docs, bits=32, max_hamming=2, text_col="text", bucket_cap=50
    )
    return dedup.duplicate_clusters(pairs)


SQL_DEDUP_CLUSTERS = (
    "WITH RECURSIVE pairs AS (" + SQL_SIMHASH_PAIRS + """),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, w) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.w = e.u
)
SELECT u AS doc_id, min(w) AS cluster_id FROM reach GROUP BY u
"""
)

# --- dedup: fuzzy keep-one (cluster representatives) ---------------------------

def q_dedup_fuzzy_keep_one(spark, sf_dir):
    """End-to-end fuzzy dedup: SimHash pairs → connected components → keep
    only each cluster's min-id representative (plus unpaired docs)."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    pairs = dedup.simhash_near_dups(
        docs, bits=32, max_hamming=2, text_col="text", bucket_cap=50
    )
    return dedup.keep_cluster_representatives(docs, pairs).select(
        "doc_id", "n_chars"
    )


SQL_FUZZY_KEEP_ONE = (
    SQL_DEDUP_CLUSTERS.rstrip()
    .replace(
        "SELECT u AS doc_id, min(w) AS cluster_id FROM reach GROUP BY u",
        """clusters AS (
  SELECT u AS doc_id, min(w) AS cluster_id FROM reach GROUP BY u
)
SELECT doc_id, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
""",
    )
    .replace(
        ")\nclusters AS (", "),\nclusters AS ("
    )
)

# --- dedup: the CHAINED training-data job as one oracle-checked query ---------

def q_dedup_job_kept(spark, sf_dir):
    """The chained dedup job (jobs.run_dedup_job semantics) end-to-end as a
    single cross-engine-checked query: MinHash-LSH pairs ∪ SimHash pairs →
    connected components (large-star/small-star) → keep one representative
    per cluster → whitespace token count → token-budget shard packing.
    The DuckDB twin recomputes every stage: same caps (band/chunk
    row_number), exact verification, recursive-CTE transitive closure,
    same md5 bucket + exclusive-preceding-sum shard window."""
    from pdf2pdfocr_spark.operators import sampling
    from pdf2pdfocr_spark.operators.text_analysis import token_count_ws

    docs = fan_out(_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150))
    mh = dedup.minhash_lsh_pairs(
        docs, num_hashes=8, bands=4, n=2, threshold=0.08, text_col="text",
        bucket_cap=10,
    ).select("id_a", "id_b")
    sh = dedup.simhash_near_dups(
        docs, bits=32, max_hamming=2, text_col="text", bucket_cap=50
    ).select("id_a", "id_b")
    pairs = mh.union(sh).distinct()
    clusters = dedup.duplicate_clusters(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    kept = docs.join(drop, "doc_id", "left_anti").withColumn(
        "n_tokens", token_count_ws(F.col("text"))
    )
    return sampling.pack_shards(kept, budget=500, buckets=4).select(
        "doc_id", "n_tokens", "bucket", "shard"
    )


SQL_DEDUP_JOB_KEPT = (
    "WITH RECURSIVE "
    + _duck_shingles(150, 2)
    + ", mh AS (SELECT doc_id, "
    + ", ".join(_duck_mh(i) for i in range(8))
    + " FROM sh), "
    + "bands AS ("
    + " UNION ALL ".join(_duck_band(b) for b in range(4))
    + """),
mcapped AS (
  SELECT doc_id, band, sig FROM (
    SELECT *, row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rk
    FROM bands
  ) WHERE rk <= 10
),
mcand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM mcapped a JOIN mcapped b USING (band, sig) WHERE a.doc_id < b.doc_id
),
mpairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS c,
           len(sa.shingles) AS na, len(sb.shingles) AS nb
    FROM mcand
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b
  ) WHERE c / (na + nb - c) >= 0.08
),
tok2 AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '\\s+'),
           x -> length(x) > 0)) AS tok
  FROM documents WHERE doc_id < 150
),
h2 AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
  FROM tok2
),
votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h2, (SELECT unnest(range(0, 32)) AS b) bits
  GROUP BY doc_id, b
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, simhash, c.chunk,
         (simhash >> (c.chunk * 10)) & 1023 AS val
  FROM fp, (SELECT unnest([0, 1, 2]) AS chunk) c
),
scapped AS (
  SELECT doc_id, simhash, chunk, val FROM (
    SELECT *, row_number() OVER (PARTITION BY chunk, val ORDER BY doc_id) AS rk
    FROM chunks
  ) WHERE rk <= 50
),
spairs AS (
  SELECT id_a, id_b FROM (
    SELECT DISTINCT a.doc_id AS id_a, a.simhash AS h_a,
                    b.doc_id AS id_b, b.simhash AS h_b
    FROM scapped a JOIN scapped b USING (chunk, val)
    WHERE a.doc_id < b.doc_id
  ) WHERE bit_count(xor(h_a, h_b)) <= 2
),
pairs AS (SELECT id_a, id_b FROM mpairs UNION SELECT id_a, id_b FROM spairs),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, w) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.w = e.u
),
clusters AS (SELECT u AS doc_id, min(w) AS cluster_id FROM reach GROUP BY u),
kept AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> length(x) > 0)) AS BIGINT) AS n_tokens,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 4 AS INT) AS bucket
  FROM documents
  WHERE doc_id < 150
    AND doc_id NOT IN
        (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
)
SELECT doc_id, n_tokens, bucket,
       CAST(floor(COALESCE(sum(n_tokens) OVER (
              PARTITION BY bucket ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / 500) AS INT) AS shard
FROM kept
"""
)

# --- sampling: deterministic per-stratum sample --------------------------------

def q_sample_stratified(spark, sf_dir):
    """Hash-deterministic stratified sampling (operators/sampling.py): at
    most k docs per source, chosen by md5-rank of the id — reproducible
    across runs AND engines (never rand())."""
    from pdf2pdfocr_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample(docs, "source", k=5).select(
        "doc_id", "source", F.col("_rank").alias("sample_rank")
    )


SQL_SAMPLE_STRATIFIED = """
SELECT doc_id, source, CAST(rn AS INT) AS sample_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substr(md5(source || '|' ||
                     CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT), doc_id) AS rn
  FROM documents
) WHERE rn <= 5
"""

# --- sharding: token-budget greedy packing --------------------------------------

def q_pack_shards(spark, sf_dir):
    """Token-budgeted shard packing (operators/sampling.py): docs hash-
    bucketed (parallel packers), greedy exclusive-running-sum within each
    bucket — shard = floor(preceding_tokens / budget)."""
    from pdf2pdfocr_spark.operators import sampling

    docs = fan_out(_t(spark, sf_dir, "documents")).withColumn(
        "n_tokens", ta.token_count_ws(F.col("text"))
    )
    return sampling.pack_shards(docs, budget=2000, buckets=8).select(
        "doc_id", "bucket", "shard", F.col("n_tokens").cast("long").alias("n_tokens")
    )


SQL_PACK_SHARDS = """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> length(x) > 0)) AS BIGINT) AS n_tokens,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 8 AS INT) AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CAST(floor(COALESCE(sum(n_tokens) OVER (
              PARTITION BY bucket ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / 2000) AS INT) AS shard,
       n_tokens
FROM t
"""

# --- similarity: brute-force cosine top-k ---------------------------------------

def q_sim_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return similarity.cosine_topk(emb, list(qvec), k=10, round_to=5)


SQL_COSINE_TOPK = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(qv AS DOUBLE[]),
                                        CAST(qv AS DOUBLE[])))), 5) AS score
FROM embeddings, q
ORDER BY score DESC, vec_id
LIMIT 10
"""

# --- similarity: LSH oracles with hyperplanes inlined as SQL literals --------
#
# The hyperplanes are deterministic driver-side float lists
# (similarity.hyperplanes, seeded) — inlining them as DOUBLE[] literals lets
# DuckDB reproduce bucket assignment bit-for-bit: both engines compute
# sign(list_dot_product(vec, plane)) over the same double arrays in the same
# order. EMB_DIM is pinned by the driver testdata (embeddings.parquet).

EMB_DIM = 64


def _duck_vec(p: list) -> str:
    return "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]"


def _duck_bucket(planes: list, vec_expr: str) -> str:
    terms = [
        f"CASE WHEN list_dot_product({vec_expr}, {_duck_vec(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


_PLANES_8 = similarity.hyperplanes(EMB_DIM, 8, seed=42)   # lsh_ann_topk
_PLANES_6 = similarity.hyperplanes(EMB_DIM, 6, seed=42)   # knn / near-dups

_DUCK_COS = (
    "round(list_dot_product(va.v, vb.v) / "
    "(sqrt(list_dot_product(va.v, va.v)) * "
    "sqrt(list_dot_product(vb.v, vb.v))), 5)"
)

SQL_LSH_ANN_TOPK = f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {_duck_bucket(_PLANES_8, "CAST(embedding AS DOUBLE[])")} AS bucket
  FROM embeddings
),
q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
             5) AS score
FROM b, q
WHERE bit_count(CAST(xor(bucket, qb) AS BIGINT)) <= 1
ORDER BY score DESC, vec_id
LIMIT 10
"""

_IVF_CENTROIDS = similarity.ivf_centroids(EMB_DIM, 8, seed=7)
_IVF_NPROBE = 3


def _ivf_sql(centroids: list, nprobe: int) -> str:
    """IVF oracle: cell = argmax-dot centroid (first index wins ties); the
    probe set is derived IN SQL from the query row's own dots list — rank of
    the row's cell among the query's cell-dots must be < nprobe (ties by
    index), which mirrors similarity.ivf_probe_cells exactly."""
    dots = (
        "["
        + ", ".join(f"list_dot_product(v, {_duck_vec(c)})" for c in centroids)
        + "]"
    )
    return f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
a AS (
  SELECT vec_id, v, {dots} AS dots,
         CAST(list_position({dots}, list_max({dots})) - 1 AS INT)
           AS cell
  FROM b
),
q AS (SELECT v AS qv, dots AS qdots FROM a WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
             5) AS score
FROM a, q
WHERE len(list_filter(range(len(qdots)),
          i -> qdots[i+1] > qdots[cell+1]
               OR (qdots[i+1] = qdots[cell+1] AND i < cell))) < {nprobe}
ORDER BY score DESC, vec_id
LIMIT 10
"""


SQL_IVF_TOPK = _ivf_sql(_IVF_CENTROIDS, _IVF_NPROBE)


def load_fitted_ivf_centroids() -> list:
    """The committed k-means quantizer artifact (tools/fit_ivf.py): trained
    once on the sf0.01 embeddings (bounded deterministic sample + Lloyd
    iterations, similarity.fit_ivf_centroids) and shipped as literals — the
    operator shape is identical to the random-quantizer path, only the
    centroids change (round-2 verdict #7)."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data", "ivf_centroids_sf001.json",
    )
    with open(path) as f:
        return json.load(f)["centroids"]


_IVF_KMEANS_CENTROIDS = load_fitted_ivf_centroids()
_IVF_KMEANS_NPROBE = 2

SQL_IVF_KMEANS_TOPK = _ivf_sql(_IVF_KMEANS_CENTROIDS, _IVF_KMEANS_NPROBE)

# multi-band candidate generation mirroring similarity.knn_candidates:
# bands=2, r=3 planes each, per-(band,bucket) cap 1000 by vec_id rank
_DUCK_KNN_SCORED = f"""
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bk AS (
  SELECT vec_id, 0 AS band,
         {_duck_bucket(_PLANES_6[0:3], "v")} AS bucket FROM base
  UNION ALL
  SELECT vec_id, 1 AS band,
         {_duck_bucket(_PLANES_6[3:6], "v")} AS bucket FROM base
),
capped AS (
  SELECT vec_id, band, bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id)
              AS rk
    FROM bk
  ) WHERE rk <= 1000
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbour_id
  FROM capped a JOIN capped b USING (band, bucket)
  WHERE a.vec_id <> b.vec_id
),
scored AS (
  SELECT c.vec_id, c.neighbour_id, {_DUCK_COS} AS score
  FROM cand c
  JOIN base va ON va.vec_id = c.vec_id
  JOIN base vb ON vb.vec_id = c.neighbour_id
)
"""

SQL_KNN_JOIN = f"""
WITH {_DUCK_KNN_SCORED}
SELECT vec_id, neighbour_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY score DESC, neighbour_id) AS rn
  FROM scored
) WHERE rn <= 3
"""

SQL_EMB_NEAR_DUPS = f"""
WITH {_DUCK_KNN_SCORED},
topk AS (
  SELECT vec_id, neighbour_id, score FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score DESC, neighbour_id) AS rn
    FROM scored
  ) WHERE rn <= 20
)
SELECT DISTINCT vec_id AS id_a, neighbour_id AS id_b, score
FROM topk WHERE score >= 0.35 AND vec_id < neighbour_id
"""

# --- golden-parquet oracles (non-SQL-expressible kernels) ---------------------
#
# The flagship OCR simulator and the multimodal fake decoder are seeded
# Python kernels — their oracles are golden parquets generated by the
# INDEPENDENT pure-Python implementation in tools/gen_goldens.py (the
# single-doc oracle / a from-scratch numpy reimplementation), committed
# under golden/ and re-checked by tests/test_goldens.py.

SQL_FLAGSHIP_GOLDEN = """
SELECT doc_id, n_spans, n_pages, text_hash
FROM read_parquet('/root/repo/golden/flagship_sf0.01.parquet')
"""

SQL_MULTIMODAL_GOLDEN = """
SELECT media_id, media_type, n_frames_sampled, error, feature_sum
FROM read_parquet('/root/repo/golden/multimodal_features.parquet')
"""

EXTRA_ORACLES = {
    "sim_ivf_topk": SQL_IVF_TOPK,
    "sim_ivf_kmeans_topk": SQL_IVF_KMEANS_TOPK,
    "sim_lsh_ann_topk": SQL_LSH_ANN_TOPK,
    "sim_knn_join": SQL_KNN_JOIN,
    "sim_embedding_near_dups": SQL_EMB_NEAR_DUPS,
    "flagship_extract_spans": SQL_FLAGSHIP_GOLDEN,
    "multimodal_features": SQL_MULTIMODAL_GOLDEN,
}

# --- text analysis ----------------------------------------------------------------

def q_text_langid(spark, sf_dir):
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", ta.detect_language(F.col("text")).alias("lang_guess"))


def _duck_swr(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in ta.STOPWORDS[lang])
    return (
        f"len(list_filter(list_transform(toks, t -> lower(t)),"
        f" t -> t IN ({words})))"
        " / greatest(len(toks), 1)"
    )


SQL_LANGID = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
),
r AS (
  SELECT doc_id,
         {_duck_swr('en')} AS r_en,
         {_duck_swr('pt')} AS r_pt,
         {_duck_swr('de')} AS r_de
  FROM t
)
SELECT doc_id,
       CASE WHEN greatest(r_en, r_pt, r_de) = 0 THEN 'und'
            WHEN r_en = greatest(r_en, r_pt, r_de) THEN 'en'
            WHEN r_pt = greatest(r_en, r_pt, r_de) THEN 'pt'
            ELSE 'de' END AS lang_guess
FROM r
"""


def q_text_quality(spark, sf_dir):
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return ta.quality_features(docs, "text").select(
        "doc_id", "n_tokens", "mean_word_len", "punct_ratio",
        "alpha_ratio", "stopword_ratio", "quality_score",
    )


_EN_WORDS = ", ".join(f"'{w}'" for w in ta.STOPWORDS["en"])

SQL_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> length(x) > 0) AS toks,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         round(n_chars / greatest(CAST(len(toks) AS BIGINT), 1), 4) AS mean_word_len,
         round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
               / greatest(n_chars, 1), 4) AS punct_ratio,
         round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               / greatest(n_chars, 1), 4) AS alpha_ratio,
         round(len(list_filter(list_transform(toks, x -> lower(x)),
                               x -> x IN ({_EN_WORDS})))
               / greatest(len(toks), 1), 4) AS stopword_ratio
  FROM t
)
SELECT doc_id, n_tokens, mean_word_len, punct_ratio, alpha_ratio, stopword_ratio,
       round(least(n_tokens / 100.0, 1.0) * 0.25
             + CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10
                    THEN 0.25 ELSE 0.0 END
             + least(stopword_ratio * 5, 1.0) * 0.25
             + alpha_ratio * 0.25, 6) AS quality_score
FROM m
"""


def q_text_tokens(spark, sf_dir):
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        ta.token_count_ws(F.col("text")).alias("n_ws"),
        ta.token_count_bpe(F.col("text")).alias("n_bpe"),
    )


SQL_TOKENS = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                            x -> length(x) > 0)) AS BIGINT) AS n_ws,
       CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe
FROM documents
"""


def q_text_fingerprint(spark, sf_dir):
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", ta.fingerprint(F.col("text")).alias("fingerprint")
    )


SQL_FINGERPRINT = """
WITH t AS (
  SELECT doc_id,
         list_transform(
           list_filter(string_split_regex(trim(
             regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+'),
             x -> length(x) > 0),
           tok -> CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)) AS hs
  FROM documents
)
SELECT doc_id,
       CAST(((list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                          (acc, h) -> (acc * 31 + h) % 2147483647)
              % 2147483647) + 2147483647) % 2147483647 AS BIGINT) AS fingerprint
FROM t
"""

# --- gates over the derived interleaved spans table --------------------------

def q_gates_on_spans(spark, sf_dir):
    """F-gates evaluated on the input_hint span shape derived from the flat
    documents table (corpus.documents_from_testdata): text-layer probe (S4)
    and image-page count (F2) as array expressions over spans."""
    from pdf2pdfocr_spark.corpus import documents_from_testdata

    docs = documents_from_testdata(spark, sf_dir)
    spans = F.col("spans")
    return docs.select(
        "doc_id",
        F.exists(spans, lambda s: s["kind"] == F.lit("text")).alias("has_text"),
        F.size(F.filter(spans, lambda s: s["kind"] == F.lit("image")))
        .cast("long")
        .alias("n_image_pages"),
        F.size(spans).cast("long").alias("n_spans"),
    )


# the derivation rule: text split into 12-word chunks, each chunk followed
# by one image span → n_image_pages = ceil(words/12), n_spans = 2×that
SQL_GATES_ON_SPANS = """
WITH t AS (
  SELECT printf('doc-%09d', doc_id) AS doc_id,
         greatest(1, CAST(ceil(len(string_split(text, ' ')) / 12.0) AS BIGINT))
           AS n_chunks
  FROM documents
)
SELECT doc_id,
       n_chunks > 0 AS has_text,
       n_chunks AS n_image_pages,
       n_chunks * 2 AS n_spans
FROM t
"""

# --- dedup: keep-one projection ----------------------------------------------

def q_dedup_keep_one(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.dedup_exact(docs, text_col="text").select("doc_id", "n_chars")


SQL_DEDUP_KEEP_ONE = """
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         row_number() OVER (
           PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
           ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "s4_text_probe": q_s4_text_probe,
    "f1_min_size_gate": q_f1_min_size,
    "f2_max_pages_gate": q_f2_max_pages,
    "f5_resume_anti_join": q_f5_anti_join,
    "f6_blank_filter": q_f6_blank_filter,
    "r1_ordered_concat": q_r1_ordered_concat,
    "s6_event_seq": q_s6_event_seq,
    "r3_merge_join": q_r3_merge_join,
    "r6_every": q_r6_every,
    "h3_regex_extract": q_h3_regex_extract,
    "h6_ligature_normalize": q_h6_ligature,
    "h7_render_geometry": q_h7_render_geometry,
    "r4_multibackground_merge": q_r4_multibackground,
    "r4_sink_merge_plan": q_r4_sink_merge,
    "scalar_px_pt_area": q_scalar_math,
    "x2_salt_preserve": q_x2_salt_preserve,
    "tpch_q1_agg": q_tpch_q1,
    "cube_agg": q_cube_agg,
    "rollup_agg": q_rollup_agg,
    "window_running_sum": q_window_running_sum,
    "topk_per_group": q_topk_per_group,
    "events_sessionize": q_sessionize,
    "gates_on_spans": q_gates_on_spans,
    "dedup_keep_one": q_dedup_keep_one,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_sig": q_dedup_minhash_sig,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_clusters": q_dedup_clusters,
    "dedup_fuzzy_keep_one": q_dedup_fuzzy_keep_one,
    "dedup_job_kept": q_dedup_job_kept,
    "sample_stratified": q_sample_stratified,
    "pack_shards": q_pack_shards,
    "sim_cosine_topk": q_sim_cosine_topk,
    "text_langid": q_text_langid,
    "text_quality": q_text_quality,
    "text_tokens": q_text_tokens,
    "text_fingerprint": q_text_fingerprint,
}

ORACLES = {
    "s4_text_probe": SQL_S4,
    "f1_min_size_gate": SQL_F1,
    "f2_max_pages_gate": SQL_F2,
    "f5_resume_anti_join": SQL_F5,
    "f6_blank_filter": SQL_F6,
    "r1_ordered_concat": SQL_R1,
    "s6_event_seq": SQL_S6,
    "r3_merge_join": SQL_R3,
    "r6_every": SQL_R6,
    "h3_regex_extract": SQL_H3,
    "h6_ligature_normalize": SQL_H6,
    "h7_render_geometry": SQL_H7_RENDER,
    "r4_multibackground_merge": SQL_R4_MULTIBACKGROUND,
    "r4_sink_merge_plan": SQL_R4_SINK_MERGE,
    "scalar_px_pt_area": SQL_SCALAR,
    "x2_salt_preserve": SQL_X2,
    "tpch_q1_agg": SQL_TPCH_Q1,
    "cube_agg": SQL_CUBE,
    "rollup_agg": SQL_ROLLUP,
    "window_running_sum": SQL_RUNNING_SUM,
    "topk_per_group": SQL_TOPK,
    "events_sessionize": SQL_SESSIONIZE,
    "gates_on_spans": SQL_GATES_ON_SPANS,
    "dedup_keep_one": SQL_DEDUP_KEEP_ONE,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": SQL_NGRAM_JACCARD,
    "dedup_minhash_sig": SQL_MINHASH_SIG,
    "dedup_minhash_pairs": SQL_MINHASH_PAIRS,
    "dedup_simhash": SQL_SIMHASH,
    "dedup_simhash_pairs": SQL_SIMHASH_PAIRS,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "dedup_fuzzy_keep_one": SQL_FUZZY_KEEP_ONE,
    "dedup_job_kept": SQL_DEDUP_JOB_KEPT,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "pack_shards": SQL_PACK_SHARDS,
    "sim_cosine_topk": SQL_COSINE_TOPK,
    "text_langid": SQL_LANGID,
    "text_quality": SQL_QUALITY,
    "text_tokens": SQL_TOKENS,
    "text_fingerprint": SQL_FINGERPRINT,
}

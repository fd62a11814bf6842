"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

All hot paths are JVM-side column expressions (hash / explode / groupBy);
no Python UDFs anywhere in this module. Cross-engine-checkable variants use
md5 (present in both Spark and DuckDB) so the DuckDB oracle can reproduce
values bit-for-bit; Spark-only variants use xxhash64 (faster, codegen'd).

Scale notes (100 TB):
* exact dedup: one shuffle on a 16-byte digest — the minimum possible.
* MinHash LSH: docs → K minhashes → B bands; candidate generation is a
  self-join on (band_id, band_hash) buckets with a per-bucket population
  cap, so cost is bounded by O(B · cap²), never |docs|². Band hashing is
  `hash()` over a minhash slice.
* SimHash: token-hash bit-vote via explode + groupBy(doc, bit) — two
  shuffles, both partial-aggregated map-side; the pigeonhole chunk join is
  capped the same way (chunks are 8-10 bits — degenerate buckets are likely
  even on benign corpora).
* Caps are never silent: every capped join has a ``*_overflow`` twin
  listing the truncated buckets (population, truncated count).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType, IntegerType, LongType, ShortType, StringType,
)

TOKEN_SPLIT_RE = r"\s+"
# id types whose collected values order in Python as Spark orders them and
# round-trip through JSON unchanged: the ones the cc driver finish takes
_DRIVER_ID_TYPES = (ByteType, ShortType, IntegerType, LongType, StringType)


def _tokens(col):
    # drop empty tokens: split('') yields [''] and every DuckDB oracle
    # filters length(x) > 0 — an empty/whitespace-only document must hash
    # identically in both engines (matches text_analysis._tokens)
    return F.filter(
        F.split(F.trim(col), TOKEN_SPLIT_RE), lambda t: F.length(t) > 0
    )


def normalize_text(col):
    """Canonical form for fuzzy dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


# --------------------------------------------------------------------------
# bucket caps (shared by the MinHash-band and SimHash-chunk self-joins)
# --------------------------------------------------------------------------

def _cap_buckets(rows: DataFrame, keys: list, cap: int,
                 order_col: str = "doc_id") -> DataFrame:
    """Keep at most ``cap`` members per bucket (deterministic ``order_col``
    rank) — the same guard knn_candidates uses (similarity.py): a degenerate
    bucket holding half the corpus contributes O(cap²) self-join rows, never
    O(n²). Truncation is NOT silent: pair it with ``bucket_overflow`` to
    surface which buckets were cut (no-silent-caps convention)."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        rows.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


def bucket_overflow(rows: DataFrame, keys: list, cap: int) -> DataFrame:
    """Overflow ledger: one row per bucket whose population exceeds ``cap``
    — (keys..., population, truncated). Runs off the same pre-cap frame the
    candidate join caps, so a dup-heavy corpus's cut buckets are visible to
    the job log / lineage instead of silently under-reporting pairs."""
    return (
        rows.groupBy(*keys)
        .agg(F.count("*").cast("long").alias("population"))
        .filter(F.col("population") > cap)
        .withColumn("truncated", (F.col("population") - cap).cast("long"))
    )


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) texts with >1 member.
    Output: (content_hash, n_dups, keep_id) — keep the smallest id."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.md5(normalize_text(F.col(text_col))).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.count("*").cast("long").alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep exactly one row (min id) per distinct normalized text."""
    w = Window.partitionBy(F.md5(normalize_text(F.col(text_col)))).orderBy(
        F.col(id_col)
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# shingles + n-gram Jaccard
# --------------------------------------------------------------------------

def with_shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Word n-gram shingle set per document, built with JVM array functions:
    tokens → sliding windows via transform over an index sequence."""
    toks = _tokens(normalize_text(F.col(text_col)))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    shingles = F.when(
        F.size(toks) < n, F.array(F.concat_ws(" ", toks))
    ).otherwise(
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        )
    )
    return docs.select(F.col(id_col).alias("doc_id"), shingles.alias("shingles"))


def ngram_candidate_pairs(
    docs: DataFrame,
    n: int = 3,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct candidate pairs sharing ≥1 LOW-document-frequency shingle.

    Round-1 verdict: without a df cutoff one stop-phrase shingle appearing
    in k docs yields k² join rows. Shingles with df > ``max_df`` are dropped
    from the inverted index BEFORE the self-join — they carry ~zero Jaccard
    signal (a shingle shared by everyone distinguishes nothing) but all of
    the quadratic blow-up. Trade-off (documented): a pair whose ONLY shared
    shingles are stop-phrases is missed; every surfaced pair still gets its
    EXACT full-set Jaccard in ngram_jaccard_pairs.
    """
    sh = with_shingles(docs, n, id_col, text_col)
    # with_shingles yields [""] only for zero tokens: no token, no pair
    inv = sh.select(
        "doc_id", F.explode("shingles").alias("shingle")
    ).filter(F.col("shingle") != "")
    low_df = (
        inv.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("shingle")
    )
    inv = inv.join(low_df, "shingle")
    return (
        inv.alias("a")
        .join(inv.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 1000,
) -> DataFrame:
    """All candidate pairs with shingle-set Jaccard ≥ threshold.

    Inverted-index candidate generation with a document-frequency cutoff
    (ngram_candidate_pairs), NOT a doc×doc cross join; each candidate is
    verified with the EXACT Jaccard over the full shingle sets (so the df
    cutoff only affects which pairs are surfaced, never their scores).
    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    sh = with_shingles(docs, n, id_col, text_col)
    cand = ngram_candidate_pairs(docs, n, max_df, id_col, text_col)
    verified = (
        cand.join(sh.select(F.col("doc_id").alias("id_a"),
                            F.col("shingles").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"),
                        F.col("shingles").alias("sh_b")), "id_b")
        .withColumn(
            "_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn(
            "_j",
            F.col("_common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("_common")),
        )
        # filter on the raw double, round only for output — keeps the
        # admit/reject decision bit-identical with the DuckDB oracle
        .filter(F.col("_j") >= threshold)
        .select("id_a", "id_b", F.round(F.col("_j"), 6).alias("jaccard"))
    )
    return verified


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def _md5_long(col):
    """First 8 md5 hex chars → long. Reproducible in DuckDB:
    CAST(('0x' || substr(md5(x),1,8)) AS BIGINT) — the cross-engine hash."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def with_minhash(docs: DataFrame, num_hashes: int = 16, n: int = 3,
                 id_col: str = "doc_id", text_col: str = "text",
                 shingles: DataFrame | None = None) -> DataFrame:
    """K minhash values per doc: min over shingles of md5(i || shingle).

    Computed as explode(shingles) → K codegen'd md5 min-aggregates — NOT
    ``array_min(transform(...))``: higher-order functions are
    CodegenFallback, so the K·|shingles| md5 calls used to run interpreted
    with per-element boxing (the dominant cost of the dedup job's signature
    stage, optimization guide §4.1). The explode form pays one extra
    map-side-combined shuffle of K longs per doc — negligible — and min is
    commutative, so the values are bit-identical to the array_min form
    (the DuckDB oracle is unchanged).

    ``shingles``: pass a (persisted) ``with_shingles`` frame to share one
    tokenize+shingle pass with the verification joins (round-6 verdict #3).

    Precondition: ``doc_id`` is unique — rows sharing an id aggregate into
    one signature mixing the minimums of both texts. A document with no
    tokens gets NULL ``mh_*`` values, as in the DuckDB oracle.
    """
    sh = (
        shingles if shingles is not None
        else with_shingles(docs, n, id_col, text_col)
    )
    # with_shingles yields [""] only for zero tokens (every real shingle
    # holds ≥1 non-empty token); NULL hashes to NULL and min skips it
    ex = sh.select("doc_id", F.explode("shingles").alias("_s")).select(
        "doc_id", F.nullif(F.col("_s"), F.lit("")).alias("_s")
    )
    return ex.groupBy("doc_id").agg(
        *[
            F.min(
                _md5_long(F.concat(F.lit(f"{i}|"), F.col("_s")))
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_band_rows(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, sig) LSH band-bucket rows: band signature = concat of
    r = K/B consecutive minhashes. Exposed so the overflow ledger and the
    candidate join run off the same frame. K must divide evenly into B —
    a silent remainder would drop minhashes from the last band's signature
    (lower precision) with no warning. ``shingles`` forwards to
    ``with_minhash`` (share one shingle pass). NULL signatures (no tokens)
    get no band rows: ``concat_ws`` would bucket them all under ``""``."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by bands={bands} "
            "(a remainder would silently drop minhashes from the banding)"
        )
    r = num_hashes // bands
    mh = with_minhash(docs, num_hashes, n, id_col, text_col, shingles=shingles)
    return mh.filter(F.col("mh_0").isNotNull()).select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "-", *[F.col(f"mh_{b * r + j}") for j in range(r)]
                        ).alias("sig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int = 1000,
    band_rows: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs, verified by exact shingle Jaccard.

    band signature = concat of r = K/B minhashes; candidates = docs sharing
    any band bucket (groupBy band, never doc×doc), with each (band, sig)
    bucket capped at ``bucket_cap`` members (deterministic doc_id rank) —
    round-2 verdict: a dup-heavy corpus (the workload dedup exists for!)
    puts k near-identical docs in the same bucket in EVERY band → k² join
    rows without the cap. A capped bucket surfaces O(cap²) of its pairs
    (connected-component dedup downstream still collapses the cluster via
    transitive pairs); use ``minhash_band_overflow`` to see what was cut.
    Verification joins back to shingle sets — the cap changes which pairs
    are surfaced, never their exact Jaccard scores.
    Output: (id_a, id_b, jaccard ≥ threshold).

    ``band_rows``: pass a (persisted) ``minhash_band_rows`` frame to share
    ONE signature computation with ``minhash_band_overflow`` (round-4
    verdict #3: the chained dedup job used to hash every shingle twice).
    ``shingles``: pass a (persisted) ``with_shingles`` frame to share one
    tokenize+shingle pass with signature generation — without it the
    verification joins re-tokenize the whole corpus twice (round-6
    verdict #3: the two largest avoidable scans in the chained job).
    """
    if band_rows is None:
        band_rows = minhash_band_rows(
            docs, num_hashes, bands, n, id_col, text_col, shingles=shingles
        )
    capped = _cap_buckets(band_rows, ["band", "sig"], bucket_cap)
    cand = (
        capped.alias("a")
        .join(capped.alias("b"), ["band", "sig"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sh = (
        shingles if shingles is not None
        else with_shingles(docs, n, id_col, text_col)
    )
    verified = (
        cand.join(sh.select(F.col("doc_id").alias("id_a"),
                            F.col("shingles").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"),
                        F.col("shingles").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def minhash_band_overflow(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int = 1000,
    band_rows: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Which (band, sig) buckets exceeded ``bucket_cap`` (and by how much)
    for the corresponding minhash_lsh_pairs call — the visibility half of
    the no-silent-caps convention. Pass the same ``band_rows`` frame given
    to ``minhash_lsh_pairs`` to avoid recomputing signatures."""
    if band_rows is None:
        band_rows = minhash_band_rows(
            docs, num_hashes, bands, n, id_col, text_col, shingles=shingles
        )
    return bucket_overflow(band_rows, ["band", "sig"], bucket_cap)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def with_simhash(docs: DataFrame, bits: int = 32, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-doc SimHash: each token votes ±1 on each bit of its md5-derived
    hash; sign of the column sum is the fingerprint bit. Fully JVM-side:
    explode(tokens) → groupBy(doc) with one conditional-sum per bit
    (map-side partial agg keeps the shuffle tiny)."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(normalize_text(F.col(text_col)))).alias("tok"),
    ).withColumn("h", _md5_long(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"v_{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"v_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_chunk_rows(docs: DataFrame, bits: int = 32, max_hamming: int = 3,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash, chunk, val) pigeonhole rows: the fingerprint split
    into (max_hamming+1) bit chunks. Exposed so the overflow ledger and the
    candidate join run off the same frame."""
    fp = with_simhash(docs, bits, id_col, text_col)
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    return fp.select(
        "doc_id", "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(
                            F.col("simhash"), c * chunk_bits
                        ).bitwiseAND(F.lit((1 << chunk_bits) - 1)).alias("val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.val")


def simhash_near_dups(docs: DataFrame, bits: int = 32, max_hamming: int = 3,
                      id_col: str = "doc_id", text_col: str = "text",
                      bucket_cap: int = 1000,
                      chunk_rows: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, candidate-
    generated by banding the fingerprint into (max_hamming+1) chunks — by
    pigeonhole, any pair within distance d shares ≥1 identical chunk.

    Each (chunk, val) bucket is capped at ``bucket_cap`` members
    (deterministic doc_id rank) — round-2 verdict: the chunks are SMALL
    (bits/(d+1), 8 bits at the defaults), so degenerate buckets are likely
    even on benign corpora, and identical docs share ALL chunks → k² join
    rows without the cap. ``simhash_chunk_overflow`` surfaces cut buckets;
    the exact Hamming verification below the cap is untouched.

    ``chunk_rows``: pass a (persisted) ``simhash_chunk_rows`` frame to
    share ONE fingerprint computation with ``simhash_chunk_overflow``."""
    chunks = (
        chunk_rows
        if chunk_rows is not None
        else simhash_chunk_rows(docs, bits, max_hamming, id_col, text_col)
    )
    capped = _cap_buckets(chunks, ["chunk", "val"], bucket_cap)
    cand = (
        capped.alias("a")
        .join(capped.alias("b"), ["chunk", "val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("a.simhash").alias("h_a"),
            F.col("b.doc_id").alias("id_b"), F.col("b.simhash").alias("h_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): for every node u with neighbourhood N (edges
    taken undirected) and m = min(N ∪ {u}), rewire every STRICTLY LARGER
    neighbour to m — emit (v, m) for v ∈ N, v > u. Output edges are always
    (larger, smaller)-oriented; connectivity is preserved."""
    und = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = und.groupBy("u").agg(F.min("v").alias("_mn")).select(
        "u", F.least(F.col("_mn"), F.col("u")).alias("m")
    )
    return (
        und.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: edges arrive (larger, smaller)-oriented; for
    every node u with smaller-neighbour set N and m = min(N), rewire all of
    N ∪ {u} to m — emit (v, m) for v ∈ N \\ {m} plus (u, m)."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        edges.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    own = mins.select(F.col("u"), F.col("m").alias("v"))
    return rewired.union(own).filter(F.col("u") != F.col("v")).distinct()


def _driver_labels(edges: DataFrame) -> DataFrame:
    """Union-find over the collected (u, v) edges: (doc_id, cluster_id) for
    every endpoint. Linking the larger root under the smaller keeps every
    root its component's minimum id — the label the star fixed point gives.
    Python orders ints and strs as Spark orders longs and UTF-8 binary
    strings.

    The labels go back to the JVM as ONE JSON string literal, parsed by
    ``from_json`` and exploded on a one-slice range: ``createDataFrame``
    would ship the rows through a Python worker task
    (``applySchemaToPythonRDD``), and per-row literals would give Catalyst
    hundreds of expressions to fold."""
    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges.collect():
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    labels = json.dumps([{"doc_id": x, "cluster_id": find(x)} for x in parent])
    id_type = edges.schema["u"].dataType.simpleString()
    return edges.sparkSession.range(0, 1, 1, 1).select(F.inline(F.from_json(
        F.lit(labels), f"array<struct<doc_id:{id_type},cluster_id:{id_type}>>"
    )))


def _id_bytes():
    """An edge's UTF-8 byte size with its ids as strings: what the driver
    finish of ``duplicate_clusters`` holds against its bound."""
    return (
        F.octet_length(F.col("u").cast("string"))
        + F.octet_length(F.col("v").cast("string"))
    )


def duplicate_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id) where
    cluster_id = the MINIMUM doc_id reachable through the pair graph — the
    step that turns pairwise dedup output into actionable groups (keep one
    representative per cluster, drop the rest).

    Driver exit first: one aggregate sums the pairs' id bytes (the ids as
    UTF-8 strings). When that is within the session's
    ``spark.sql.autoBroadcastJoinThreshold`` — the bound Spark already uses
    to pull a join side onto the driver; ``-1`` disables it — the pairs are
    collected once, labelled by union-find on the driver and returned as a
    JVM-side frame (``_driver_labels``): no checkpoint, no label join, no
    Python worker. Ids of other types than integers and strings always take
    the distributed path.

    Distributed path: alternating large-star / small-star (Kiveris et al.),
    which converges in O(log n) rounds on ANY graph shape, so a chain of
    pairwise-similar docs (A~B~C~…, realistic template drift) converges: a
    200-node chain takes ~6 rounds
    (tests/test_operators.py::test_duplicate_clusters_chain_graph). Each
    round is two groupBy+join phases, all JVM-side. The driver loop runs
    one signature aggregate on the initial edges and one after each phase
    (count + hash-sum + the edges' byte size — O(1) rows collected) and
    stops at the fixed point, where every edge points directly at its
    component minimum (a star), or as soon as the residual edges fit the
    bound, where ``_driver_labels`` finishes them. ``max_iters`` is a
    safety net that raises rather than silently emitting unconverged
    labels. Per-phase ``localCheckpoint`` (eager) truncates the logical
    plan to the materialized blocks — without it the plan doubles every
    round and Catalyst re-analysis goes exponential.

    Input: (id_a, id_b [, ...]) pair rows. Output: (doc_id, cluster_id),
    one row per node that appears in any pair.
    """
    edges = pairs.select(
        F.greatest("id_a", "id_b").alias("u"),
        F.least("id_a", "id_b").alias("v"),
    )
    limit = (
        pairs.sparkSession._jsparkSession.sessionState().conf()
        .autoBroadcastJoinThreshold()
    )
    if not isinstance(edges.schema["u"].dataType, _DRIVER_ID_TYPES):
        limit = -1
    if (edges.agg(F.sum(_id_bytes())).collect()[0][0] or 0) <= limit:
        return _driver_labels(edges)

    nodes = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = (
        edges.filter(F.col("u") != F.col("v")).distinct()
        .localCheckpoint(eager=True)
    )

    def _sig(e: DataFrame) -> tuple:
        # decimal sum: a long sum of xxhash64 values overflows under ANSI
        row = e.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            F.sum(_id_bytes()).alias("b"),
        ).collect()[0]
        return (row["n"], row["h"]), row["b"] or 0

    def _label(labels: DataFrame) -> DataFrame:
        # nodes absent from labels are component roots (or only ever
        # paired with themselves): their own label
        return nodes.join(labels, "doc_id", "left").select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )

    sig, size = _sig(edges)
    for _ in range(max_iters):
        if size <= limit:
            return _label(_driver_labels(edges))
        after_large = _large_star(edges).localCheckpoint(eager=True)
        sig_large, _ = _sig(after_large)
        edges = _small_star(after_large).localCheckpoint(eager=True)
        sig_small, size = _sig(edges)
        if sig_large == sig and sig_small == sig_large:
            # BOTH phases were no-ops — the paper's termination criterion,
            # which holds only at the star fixed point (every non-root
            # points directly at its component min; roots have no out-edge).
            # Checking only the composition could stop on an L/S 2-cycle.
            return _label(edges.groupBy(F.col("u").alias("doc_id")).agg(
                F.min("v").alias("cluster_id")
            ))
        sig = sig_small
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iters} rounds — "
        "raise max_iters (large-star/small-star needs O(log n) rounds)"
    )


def keep_cluster_representatives(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Fuzzy keep-one: drop every clustered document except its cluster's
    representative (the min id — ``duplicate_clusters`` label). Documents in
    no pair survive untouched. The fuzzy analog of ``dedup_exact``: one
    left-anti join against the non-representative member set."""
    clusters = duplicate_clusters(pairs, max_iters)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def simhash_chunk_overflow(docs: DataFrame, bits: int = 32,
                           max_hamming: int = 3, id_col: str = "doc_id",
                           text_col: str = "text",
                           bucket_cap: int = 1000,
                           chunk_rows: DataFrame | None = None) -> DataFrame:
    """Which (chunk, val) buckets exceeded ``bucket_cap`` for the
    corresponding simhash_near_dups call. Pass the same ``chunk_rows``
    frame given to ``simhash_near_dups`` to avoid recomputing
    fingerprints."""
    chunks = (
        chunk_rows
        if chunk_rows is not None
        else simhash_chunk_rows(docs, bits, max_hamming, id_col, text_col)
    )
    return bucket_overflow(
        chunks.select("doc_id", "chunk", "val"), ["chunk", "val"], bucket_cap
    )

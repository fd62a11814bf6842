"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — brute-force top-k against a query vector, fully JVM-side
  (``zip_with`` dot product + ``aggregate`` reduction): the exactness
  baseline. At 100 TB this is one scan + one top-k (TakeOrdered), no shuffle
  beyond the final k-row reduce.
* ``lsh_ann_topk`` — random-hyperplane LSH bucketing: each vector signs
  against H fixed hyperplanes → an H-bit bucket; the query probes only its
  bucket (and optional neighbor buckets), turning a full scan into a
  partition-pruned fraction. Hyperplanes are deterministic (seeded) and
  generated driver-side once (tiny broadcast literal).
* ``knn_join`` — top-k neighbours for EVERY vector via bucketed self-join
  (the scale path for embedding near-dup detection).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdf2pdfocr_spark.lineage import literal_rows


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _vec_lit(vec: list) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 5,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``. Output:
    (vec_id, score) ordered by (-score, vec_id) — deterministic ties."""
    q = _vec_lit(query_vec)
    scored = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.round(cosine_sim(F.col(vec_col).cast("array<double>"), q), round_to)
        .alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list:
    """Deterministic random hyperplanes (unit-free; only the sign matters)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _bucket_of(vec_col: Column, planes: list) -> Column:
    bits = [
        F.when(_dot(vec_col, _vec_lit(p)) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def with_lsh_bucket(
    embeddings: DataFrame,
    planes: list,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the random-hyperplane bucket id; at scale, write the table
    partitioned by this column so probes prune partitions
    (``write_lsh_partitioned``).

    If ``lsh_bucket`` is already a column — i.e. the input IS such a
    partitioned table — it is trusted as-is, so downstream probe filters hit
    the PARTITION column and the scan prunes to the probe set (asserted in
    tests/test_ann_pruning.py). Recomputing it would silently shadow the
    partition column and read every partition."""
    if "lsh_bucket" in embeddings.columns:
        return embeddings
    return embeddings.withColumn(
        "lsh_bucket", _bucket_of(F.col(vec_col).cast("array<double>"), planes)
    )


def _ann_fingerprint(kind: str, params: list) -> str:
    """Deterministic digest of the quantizer parameters (planes/centroids)
    a partitioned ANN table was written with."""
    import hashlib
    import json

    blob = json.dumps(
        {"kind": kind, "params": [[round(float(v), 12) for v in row]
                                  for row in params]},
        sort_keys=True,
    )
    return hashlib.md5(blob.encode()).hexdigest()


def _write_ann_meta(spark, path: str, kind: str, params: list) -> None:
    """Sidecar fingerprint next to the partitioned table (written through
    Spark so it lands on whatever filesystem the table does)."""
    literal_rows(
        spark,
        "kind string, fingerprint string",
        [(kind, _ann_fingerprint(kind, params))],
    ).write.mode("overwrite").json(f"{path}__ann_meta")


def _validate_ann_meta(spark, path: str, kind: str, params: list) -> None:
    try:
        row = spark.read.json(f"{path}__ann_meta").collect()[0]
    except Exception as exc:  # noqa: BLE001
        raise ValueError(
            f"no ANN fingerprint sidecar at {path}__ann_meta — was this "
            "table written by write_lsh_partitioned/write_ivf_partitioned? "
            "Probing a table with unknown quantizer params returns silently "
            "wrong neighbors."
        ) from exc
    got = (row["kind"], row["fingerprint"])
    want = (kind, _ann_fingerprint(kind, params))
    if got != want:
        raise ValueError(
            f"ANN table at {path} was written with different quantizer "
            f"params than those passed (fingerprint {got} != {want}) — "
            "probe buckets would not match the stored partition column "
            "(ADVICE r3: silent wrong-neighbor hazard). Re-write the table "
            "or pass the original planes/centroids."
        )


def read_lsh_partitioned(spark, path: str, planes: list) -> DataFrame:
    """Open a ``write_lsh_partitioned`` table for probing, VALIDATING that
    ``planes`` match the ones the table was written with — a pre-existing
    ``lsh_bucket`` column is trusted by ``with_lsh_bucket`` (that trust is
    what makes partition pruning work), so the fingerprint check is the
    guard against probing with mismatched planes."""
    _validate_ann_meta(spark, path, "lsh", planes)
    return spark.read.parquet(path)


def read_ivf_partitioned(spark, path: str, centroids: list) -> DataFrame:
    """IVF analog of ``read_lsh_partitioned`` (validates centroids)."""
    _validate_ann_meta(spark, path, "ivf", centroids)
    return spark.read.parquet(path)


def write_lsh_partitioned(
    embeddings: DataFrame,
    planes: list,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the embeddings table partitioned by ``lsh_bucket`` — the
    100 TB ANN layout: a probe with H planes reads |probes|/2^H of the data
    via partition pruning instead of scanning everything. A fingerprint of
    ``planes`` is written alongside; ``read_lsh_partitioned`` validates it
    before trusting the stored bucket column."""
    (
        with_lsh_bucket(embeddings, planes, vec_col)
        .write.mode("overwrite")
        .partitionBy("lsh_bucket")
        .parquet(path)
    )
    _write_ann_meta(embeddings.sparkSession, path, "lsh", planes)


def lsh_query_probes(query_vec: list, planes: list,
                     probe_hamming: int = 1) -> list:
    """The multi-probe bucket set for a query: its own bucket plus every
    bucket within ``probe_hamming`` sign-flips (driver-side — a handful of
    ints). Public so tests/callers can assert which partitions a probe of a
    ``write_lsh_partitioned`` table is allowed to read."""
    n_planes = len(planes)
    qbits = 0
    for i, p in enumerate(planes):
        s = sum(float(a) * float(b) for a, b in zip(query_vec, p))
        if s >= 0:
            qbits |= 1 << i
    probes = {qbits}
    if probe_hamming >= 1:
        for i in range(n_planes):
            probes.add(qbits ^ (1 << i))
    if probe_hamming >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                probes.add(qbits ^ (1 << i) ^ (1 << j))
    return sorted(probes)


def lsh_ann_topk(
    embeddings: DataFrame,
    query_vec: list,
    planes: list,
    k: int = 10,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors whose bucket is within
    ``probe_hamming`` bits of the query's bucket (multi-probe LSH). Over a
    ``write_lsh_partitioned`` table the bucket filter hits the partition
    column, so the scan reads only the probe partitions."""
    probes = lsh_query_probes(query_vec, planes, probe_hamming)
    bucketed = with_lsh_bucket(embeddings, planes, vec_col)
    cand = bucketed.filter(F.col("lsh_bucket").isin(*probes))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def ivf_centroids(dim: int, n_cells: int, seed: int = 7) -> list:
    """Deterministic coarse-quantizer centroids (seeded random directions —
    an IVF with a data-independent quantizer; swap in k-means centroids on a
    real deploy, the operator shape is identical)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_cells)]


def _cell_dots(vec_col: Column, centroids: list) -> Column:
    return F.array(*[_dot(vec_col, _vec_lit(c)) for c in centroids])


def with_ivf_cell(
    embeddings: DataFrame,
    centroids: list,
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its max-dot coarse cell (first index wins
    ties). At scale, write the table partitioned by ``ivf_cell`` so probes
    prune partitions — the IVF inverted-list analog
    (``write_ivf_partitioned``). An existing ``ivf_cell`` column (a
    partitioned table being probed) is trusted as-is so probe filters prune
    partitions (see with_lsh_bucket)."""
    if "ivf_cell" in embeddings.columns:
        return embeddings
    v = F.col(vec_col).cast("array<double>")
    # two projections: the n_cells·dim dots array is materialized ONCE as a
    # column and then referenced by array_position AND array_max — inlining
    # the whole tree twice into one projection doubles the dominant per-row
    # work at high cell counts. CollapseProject keeps the boundary (`_dots`
    # is non-trivial and referenced twice). Same values, same cell. The
    # temp name must not shadow a caller column (it is dropped afterwards).
    dots = "_dots"
    while dots in embeddings.columns:
        dots = "_" + dots
    tmp = embeddings.withColumn(dots, _cell_dots(v, centroids))
    return tmp.withColumn(
        "ivf_cell",
        (F.array_position(F.col(dots), F.array_max(F.col(dots))) - 1)
        .cast("int"),
    ).drop(dots)


def write_ivf_partitioned(
    embeddings: DataFrame,
    centroids: list,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the embeddings table partitioned by ``ivf_cell`` — probes
    read only the ``nprobe`` nearest inverted lists. Fingerprinted like
    ``write_lsh_partitioned`` (``read_ivf_partitioned`` validates)."""
    (
        with_ivf_cell(embeddings, centroids, vec_col)
        .write.mode("overwrite")
        .partitionBy("ivf_cell")
        .parquet(path)
    )
    _write_ann_meta(embeddings.sparkSession, path, "ivf", centroids)


def kmeans_centroids(vectors, n_cells: int, iters: int = 10,
                     seed: int = 7) -> list:
    """Plain Lloyd k-means over an in-memory sample (numpy, deterministic).

    Cosine-flavored: points and centroids are L2-normalized each round, so
    argmax-dot assignment (what ``with_ivf_cell`` computes) IS the nearest-
    centroid rule being optimized. An emptied cluster re-seeds to the point
    farthest from its assigned centroid (a standard, deterministic repair).
    Returns plain float lists — inlineable as Spark/DuckDB literals."""
    import numpy as np

    x = np.asarray(vectors, dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(norms == 0, 1.0, norms)
    rng = np.random.default_rng(seed)
    # greedy farthest-point init (deterministic k-means++ analog): random
    # first seed, then repeatedly the point least similar to its nearest
    # chosen centroid — covers every real cluster before Lloyd starts, where
    # plain random init happily drops two seeds in one cluster and zero in
    # another (a local optimum Lloyd can't escape)
    k = min(n_cells, len(x))
    chosen = [int(rng.integers(len(x)))]
    best_sim = x @ x[chosen[0]]
    for _ in range(k - 1):
        nxt = int(np.argmin(best_sim))
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, x @ x[nxt])
    c = x[chosen].copy()
    for _ in range(iters):
        sims = x @ c.T                      # (n, k) cosine similarities
        assign = np.argmax(sims, axis=1)
        # ADVICE r3: the inner loop used to shadow `k` (the cluster count)
        # and, when several clusters emptied in one iteration, re-seeded
        # them ALL to the same worst point (sims not refreshed) — duplicate
        # centroids. Re-seed order now walks points by ascending
        # similarity-to-assigned-centroid, skipping points already used as
        # a re-seed this iteration, so emptied clusters get distinct seeds.
        worst_order = np.argsort(sims[np.arange(len(x)), assign], kind="stable")
        next_worst = iter(int(i) for i in worst_order)
        for ci in range(len(c)):
            members = x[assign == ci]
            if len(members) == 0:
                c[ci] = x[next(next_worst)]
                continue
            m = members.mean(axis=0)
            n = np.linalg.norm(m)
            c[ci] = m / n if n > 0 else m
    return [[float(v) for v in row] for row in c]


def fit_ivf_centroids(
    embeddings: DataFrame,
    n_cells: int,
    sample_n: int = 10_000,
    iters: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Train the IVF coarse quantizer on a bounded, DETERMINISTIC sample:
    the ``sample_n`` vectors with the smallest xxhash64(id) (a seedable
    uniform-ish hash order, stable across partitionings — ``.sample()`` is
    not), collected to the driver (bounded: sample_n × dim doubles), then
    Lloyd k-means in numpy (``kmeans_centroids``).

    Round-2 verdict #7: the seeded-random quantizer (``ivf_centroids``)
    makes nprobe recall meaningless on clustered embeddings; this is the fit
    step a real deploy runs once and ships as an artifact
    (tools/fit_ivf.py writes the committed JSON the entry queries inline).
    """
    # seed folded in via string concat, NOT arithmetic `+` — `id + seed`
    # nulls out on string id columns, silently degrading the deterministic
    # sample to arbitrary order (ADVICE r3); concat works for any id type
    rows = (
        embeddings.select(
            F.col(vec_col).alias("v"),
            F.xxhash64(
                F.concat(F.col(id_col).cast("string"), F.lit(f"|{seed}"))
            ).alias("_h"),
        )
        .orderBy("_h")
        .limit(sample_n)
        .collect()
    )
    return kmeans_centroids([list(r["v"]) for r in rows], n_cells, iters, seed)


def ivf_probe_cells(query_vec: list, centroids: list, nprobe: int) -> list:
    """The ``nprobe`` cells nearest the query by dot product (driver-side —
    a handful of floats; ties break by cell index)."""
    scored = sorted(
        (
            (-sum(float(a) * float(b) for a, b in zip(query_vec, c)), i)
            for i, c in enumerate(centroids)
        )
    )
    return sorted(i for _, i in scored[:nprobe])


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list,
    centroids: list,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: scan only the ``nprobe`` coarse cells nearest
    the query, then exact cosine top-k inside them — the inverted-file scale
    path beside the LSH one (lsh_ann_topk)."""
    cells = ivf_probe_cells(query_vec, centroids, nprobe)
    cand = with_ivf_cell(embeddings, centroids, vec_col).filter(
        F.col("ivf_cell").isin(*cells)
    )
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def knn_candidates(
    embeddings: DataFrame,
    planes: list,
    bands: int = 2,
    bucket_cap: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate neighbour pairs from MULTIPLE independent LSH band tables
    with a per-bucket population cap.

    Round-1 verdict: one table of H planes = 2^H buckets makes the
    self-join quadratic within each bucket (~n²/2^H pairs). Instead the
    planes split into ``bands`` groups of r = H/bands planes; each band is
    its own (smaller, higher-recall) bucket table, candidates are the UNION
    over bands, and each (band, bucket) keeps at most ``bucket_cap``
    members (deterministic vec_id rank) — so a degenerate bucket holding
    half the corpus contributes O(cap²) pairs, never O(n²). Distinct
    canonical pairs out (vec_id < neighbour_id, each unordered pair once);
    knn_join scores them and emits both directions.
    """
    bands = max(1, min(bands, len(planes)))
    r = len(planes) // bands
    # ADVICE (round 2): planes that don't divide evenly into bands used to
    # be silently dropped (7 planes / 2 bands → only 6 used), reducing
    # candidate recall with no warning. The remainder folds into the LAST
    # band, which therefore has up to (bands-1) extra planes — slightly
    # finer buckets there, no planes lost.
    slices = [
        planes[b * r:(b + 1) * r] if b < bands - 1 else planes[(bands - 1) * r:]
        for b in range(bands)
    ]
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    bucketed = base.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[_bucket_of(F.col("v"), sl) for sl in slices]
            )
        ).alias("band", "bucket"),
    )
    w = Window.partitionBy("band", "bucket").orderBy("vec_id")
    capped = (
        bucketed.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= bucket_cap)
        .drop("_rk")
    )
    return (
        capped.alias("a")
        .join(capped.alias("b"), ["band", "bucket"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbour_id"),
        )
        .distinct()
    )


def knn_join(
    embeddings: DataFrame,
    planes: list,
    k: int = 5,
    bands: int = 2,
    bucket_cap: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 5,
) -> DataFrame:
    """Top-k neighbours for every vector over multi-band LSH candidates
    (see knn_candidates). Output: (vec_id, neighbour_id, score)."""
    # norms hoisted per vector: computing cosine_sim per pair re-evaluates
    # norm(a) and norm(b) for every candidate (each as costly as the dot
    # itself — 3× the HOF work). Same arithmetic (dot / (norm_a · norm_b)),
    # identical doubles, so the DuckDB oracle needs no change.
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nrm", _norm(F.col("v")))
    cand = knn_candidates(embeddings, planes, bands, bucket_cap, id_col, vec_col)
    # Score each canonical pair once, then mirror (guide §1.2: halve the
    # volume term). The mirrored score is bit-identical: the per-term
    # products and the norm product commute in IEEE arithmetic
    # (dot(a,b) ≡ dot(b,a), nrm_a·nrm_b ≡ nrm_b·nrm_a). explode — not a
    # self-union — keeps the scored subtree evaluated ONCE in the plan.
    scored = (
        cand.join(
            vecs.select("vec_id", F.col("v").alias("v_a"),
                        F.col("nrm").alias("nrm_a")),
            "vec_id",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("neighbour_id"),
                F.col("v").alias("v_b"), F.col("nrm").alias("nrm_b"),
            ),
            "neighbour_id",
        )
        .select(
            "vec_id",
            "neighbour_id",
            F.round(
                _dot(F.col("v_a"), F.col("v_b"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                round_to,
            ).alias("score"),
        )
    )
    pairs = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_id").alias("vec_id"),
                    F.col("neighbour_id").alias("neighbour_id"),
                    F.col("score").alias("score"),
                ),
                F.struct(
                    F.col("neighbour_id").alias("vec_id"),
                    F.col("vec_id").alias("neighbour_id"),
                    F.col("score").alias("score"),
                ),
            )
        ).alias("p")
    ).select("p.vec_id", "p.neighbour_id", "p.score")
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("neighbour_id"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def embedding_near_dups(
    embeddings: DataFrame,
    planes: list,
    threshold: float = 0.95,
    bands: int = 2,
    bucket_cap: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (score ≥ threshold), multi-band
    LSH-bucketed — the embedding leg of the dedup suite."""
    nn = knn_join(
        embeddings, planes, k=20, bands=bands, bucket_cap=bucket_cap,
        id_col=id_col, vec_col=vec_col,
    )
    return (
        nn.filter((F.col("score") >= threshold) & (F.col("vec_id") < F.col("neighbour_id")))
        .select(
            F.col("vec_id").alias("id_a"),
            F.col("neighbour_id").alias("id_b"),
            "score",
        )
        .distinct()
    )

#!/usr/bin/env python
"""Benchmark harness.

Default mode: runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) plus the
flagship extraction pipeline over a deterministic synthetic corpus, and
prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "docs_per_sec": ...}

Scaling mode (``--scaling-interleaved``): runs the identical flagship job
at two parallelism levels (local[8] = N, local[32] = 4N) in two resident
``--rep-server`` JVMs on the same input, as adjacent alternating-order rep
pairs, and writes the per-pair N→4N efficiencies (target ≥0.8) to
BENCH/SCALING_INTERLEAVED.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = (
    "tpch_q1_agg",
    "r1_ordered_concat",
    "r3_merge_join",
    "topk_per_group",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash_sig",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "sim_cosine_topk",
    "sim_ivf_topk",
    "sim_knn_join",
    "h7_render_geometry",
    "text_quality",
    "text_fingerprint",
    "sample_stratified",
    "pack_shards",
)

BENCH_DOCS = 20_000      # default-mode flagship corpus (fast per-round run)
# scaling-mode corpus: sized so the N run is ≥ 3 min — per-job fixed costs
# (stage scheduling, worker handshakes) drop under ~2 % of wall at BOTH
# levels, which is what a long-lived cluster job actually amortizes to, and
# sandbox CPU noise averages out within a rep
SCALING_DOCS = 200_000
HUGE_EVERY = 100
HUGE_PAGES = 120
CORPUS_ROOT = "/tmp/spark_graft_bench_corpus"


def build_session(cores: int):
    from pdf2pdfocr_spark.pipeline import build_spark

    # 3 tasks per core: page batches are uneven (power-law page counts), so a
    # single wave of core-sized tasks idles cores at every stage tail. The
    # 48g heap is the one the BENCH_r* figures were measured with.
    spark = build_spark(
        app=f"bench-local{cores}", master=f"local[{cores}]",
        shuffle_partitions=3 * max(cores, 8), driver_memory="48g",
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def corpus_path(n_docs: int) -> str:
    return f"{CORPUS_ROOT}_{n_docs}d"


def prepare_corpus(spark, n_docs: int) -> str:
    """Write the deterministic bench corpus once (Iceberg-style bucketed
    parquet); benchmark runs then measure the production shape scan→extract,
    not driver-side synthesis."""
    import os

    path = corpus_path(n_docs)
    if os.path.exists(f"{path}/_BENCH_READY"):
        return path
    from pdf2pdfocr_spark import corpus

    # chunked synth keeps driver memory flat for large corpora
    chunk = 20_000
    mode = "overwrite"
    for start in range(0, n_docs, chunk):
        rows = []
        for i in range(start, min(start + chunk, n_docs)):
            huge = HUGE_EVERY and i % HUGE_EVERY == HUGE_EVERY - 1
            rows.append(
                corpus.synth_document(
                    f"doc-{i:09d}",
                    "image_only" if huge else corpus.CLASSES[i % len(corpus.CLASSES)],
                    seed=42,
                    n_pages=HUGE_PAGES if huge else None,
                )
            )
        corpus.corpus_df(spark, rows, partitions=32).write.mode(mode).parquet(path)
        mode = "append"
    open(f"{path}/_BENCH_READY", "w").close()
    return path


def run_flagship(spark, n_docs: int) -> tuple:
    """Extraction pipeline docs/sec: parquet scan → gates → explode+salt →
    OCR → reassembly → count."""
    from pdf2pdfocr_spark.oracle import PipelineConfig
    from pdf2pdfocr_spark.pipeline import extract

    path = prepare_corpus(spark, n_docs)
    docs = spark.read.parquet(path)
    t0 = time.perf_counter()
    processed, _q = extract(docs, PipelineConfig())
    n_out = processed.count()
    dt = time.perf_counter() - t0
    return n_out, dt


BENCH_REPS = 3  # timed reps per query/flagship; headline = MEDIAN

# ---------------------------------------------------------------------------
# ANN pruning leg (round-3 verdict #6): the partitioned-table probe must be
# measurably FASTER than the unpartitioned scan, not just proven-correct.
# sf0.1's embeddings table is 2k rows — far too small to show a scan-vs-prune
# delta — so the leg synthesizes a deterministic 2M×64 table once (JVM-side
# expression gen, no Python row loop) and probes both layouts. Round-4
# verdict #2: at 200k rows per-query fixed costs (~1 s of planning + noop
# sink) swamped the scan delta (measured 1.5×, claimed ~30×); at 2M the
# scan term dominates and the measured ratio is the honest pruning story.
# ---------------------------------------------------------------------------
ANN_N, ANN_DIM, ANN_PLANES = 2_000_000, 64, 6  # 2^6 = 64 partitions
ANN_ROOT = f"/tmp/spark_graft_bench_ann_{ANN_N}"


def _ann_planes():
    from pdf2pdfocr_spark.operators import similarity

    return similarity.hyperplanes(ANN_DIM, ANN_PLANES, seed=42)


def prepare_ann_tables(spark) -> tuple:
    """Write the synthetic embeddings twice: raw parquet and LSH-partitioned
    (write_lsh_partitioned). Deterministic: vector components derive from
    xxhash64(vec_id|j). One-time cost, marker-guarded."""
    from pyspark.sql import functions as F

    from pdf2pdfocr_spark.operators import similarity

    raw, part = f"{ANN_ROOT}/raw", f"{ANN_ROOT}/lsh"
    if os.path.exists(f"{ANN_ROOT}/_ANN_READY"):
        return raw, part
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(ANN_DIM - 1)),
        lambda j: (
            F.pmod(
                F.xxhash64(F.concat(F.col("id").cast("string"), F.lit("|"),
                                    j.cast("string"))),
                F.lit(2000),
            )
            / F.lit(1000.0)
            - F.lit(1.0)
        ).cast("float"),
    )
    emb = spark.range(ANN_N).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    emb.repartition(32).write.mode("overwrite").parquet(raw)
    similarity.write_lsh_partitioned(
        spark.read.parquet(raw), _ann_planes(), part
    )
    open(f"{ANN_ROOT}/_ANN_READY", "w").close()
    return raw, part


def run_ann_pruning_leg(spark, reps: int) -> dict:
    """Median wall of the SAME multi-probe top-k over (a) the raw table —
    bucket computed per row, full scan — and (b) the lsh_bucket-partitioned
    table — trusted column + partition pruning (reads |probes|/2^H of the
    files). Both write to the noop sink."""
    import statistics

    from pdf2pdfocr_spark.operators import similarity

    raw, part = prepare_ann_tables(spark)
    planes = _ann_planes()
    qvec = list(
        spark.read.parquet(raw).filter("vec_id = 0").first()["embedding"]
    )

    def probe(path, validated):
        tbl = (
            similarity.read_lsh_partitioned(spark, path, planes)
            if validated
            else spark.read.parquet(path)
        )
        similarity.lsh_ann_topk(
            tbl, qvec, planes, k=10, probe_hamming=1
        ).write.format("noop").mode("overwrite").save()

    timings = {}
    for name, path, validated in (
        ("ann_probe_unpartitioned", raw, False),
        ("ann_probe_partitioned", part, True),
    ):
        probe(path, validated)  # untimed warm-up
        secs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            probe(path, validated)
            secs.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(secs), 3)
    return timings


def traced_dedup_job(spark, docs, out: str, run_id: str, **kwargs) -> tuple:
    """``run_dedup_job`` once under perfbench's layer tracer, with Spark's
    event log attached to a temp dir for this call only. Returns the job's
    metrics and its wall split by layer: ``eventlog.self_times`` over the
    call, keyed by ``eventlog.SELF_LAYERS`` names plus
    ``trace.unattributed``, so the values sum to ``traced_wall_s``."""
    import tempfile

    from pdf2pdfocr_spark import jobs
    from perfbench import eventlog, trace

    tracer = trace.Tracer(spark)
    with tempfile.TemporaryDirectory(prefix="bench_dedup_") as log_dir:
        with trace.EventLog(spark, log_dir, "dedup") as log:
            tracer.install()
            try:
                with tracer.span("jobs"):
                    metrics = jobs.run_dedup_job(spark, docs, out, run_id, **kwargs)
            finally:
                tracer.uninstall()
        _, t0, t1, _ = tracer.spans[-1]  # the "jobs" span closes last
        log_data = eventlog.EventLogData.load(log.path)
    att = eventlog.Attribution(log_data, t0, t1, tracer.spans)
    selfs: dict = {}
    for layer, sec in eventlog.self_times(att, "jobs").items():
        # Spark names some jobs itself (parallel file listing): their time
        # counts as unattributed, so the keys stay the known layers
        key = layer if layer in eventlog.SELF_LAYERS else eventlog.UNATTRIBUTED
        selfs[key] = selfs.get(key, 0.0) + sec
    split = {layer: round(sec, 3) for layer, sec in sorted(selfs.items())}
    split["traced_wall_s"] = round((t1 - t0) / 1000.0, 3)
    return metrics, split


def run_dedup_job_leg(spark, sf_dir: str, reps: int) -> dict:
    """Round-4 verdict #7: the chained training-data dedup job
    (MinHash∪SimHash pairs → connected components → keep → pack) gets a
    throughput number beside the flagship, not just a correctness test.
    Times jobs.run_dedup_job end-to-end (including its table writes) over
    the sf documents table; median of ``reps`` after one warm-up. One more,
    untimed call runs ``traced_dedup_job``: its per-layer split comes from
    Spark's event log, not from barriers in the job."""
    import shutil
    import statistics

    from pdf2pdfocr_spark.jobs import run_dedup_job

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    out = "/tmp/spark_graft_bench_dedupjob"

    def _run():
        shutil.rmtree(out, ignore_errors=True)
        run_dedup_job(spark, docs, out, "bench-dedup", sample_k=None)

    _run()  # untimed warm-up
    secs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _run()
        secs.append(time.perf_counter() - t0)
    shutil.rmtree(out, ignore_errors=True)
    _, stages = traced_dedup_job(spark, docs, out, "bench-dedup", sample_k=None)
    return {
        "dedup_job": round(statistics.median(secs), 3),
        "dedup_job_stages": stages,
    }


# ---------------------------------------------------------------------------
# host probes: the interleaved scaling campaign brackets every rep with a
# fixed CPU probe and compares it with the stored quiet-host reference, so
# a contended pair is discarded instead of reported.
# ---------------------------------------------------------------------------
PROBE_REF_PATH = "BENCH/probe_ref.json"


def _probe_worker(seconds: float) -> float:
    # module-level for multiprocessing pickling
    import hashlib

    blob = b"\xab" * 65536
    h = hashlib.md5()
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        h.update(blob)
        n += 1
    return n / (time.perf_counter() - t0)


def cpu_probe(seconds: float = 2.0) -> float:
    """Single-threaded md5 throughput (iterations/sec over a fixed block) —
    detects per-core slowdown (frequency scaling, core oversubscription)."""
    return _probe_worker(seconds)


def cpu_probe_mt(seconds: float = 1.5, workers: int | None = None) -> float:
    """WHOLE-MACHINE probe: one hashing process per CPU, aggregate
    iterations/sec. The round-4 lesson: a single-threaded probe passed at
    92% of reference while the 32-core phase ran 60% slow — one probe
    thread happily lands on a free core while co-tenants load the other 31.
    Saturating every core makes co-tenant load show up as lost aggregate
    throughput, which is exactly what a 32-core Spark phase experiences."""
    import multiprocessing as mp

    workers = workers or os.cpu_count() or 1
    with mp.Pool(workers) as pool:
        res = pool.map(_probe_worker, [seconds] * workers)
    return sum(res)


def _load_probe_ref() -> dict:
    if os.path.exists(PROBE_REF_PATH):
        with open(PROBE_REF_PATH) as f:
            ref = json.load(f)
        ref.setdefault("hz_mt", None)  # pre-round-4 single-value format
        return ref
    return {"hz": None, "hz_mt": None}


def probe_host() -> dict:
    """One combined probe sample: {'hz': single-core, 'hz_mt': all-cores}
    plus the reference each is judged against. A sample that beats the
    stored reference stands in for it; the file itself is never rewritten."""
    ref = _load_probe_ref()
    hz = cpu_probe()
    hz_mt = cpu_probe_mt()
    ref_hz = max(ref["hz"] or 0, hz)
    ref_hz_mt = max(ref["hz_mt"] or 0, hz_mt)
    return {"hz": round(hz), "hz_mt": round(hz_mt),
            "ref_hz": round(ref_hz), "ref_hz_mt": round(ref_hz_mt)}


def run_operator_queries(spark, sf_dir: str, reps: int = BENCH_REPS) -> dict:
    """Median-of-``reps`` per query after one untimed warm-up rep — round-2
    verdict: the single-rep bench contradicted the scaling campaign's
    steady-state numbers by 4× (JIT tiering + sandbox CPU noise); medians
    make round-over-round deltas attributable to code, not reps."""
    import statistics

    import __spark_entry__ as entry

    queries = entry.queries()
    # warm the JVM/codegen paths so the first timed query isn't charged
    # for session startup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).count()

    def _run(name):
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings = {}
    for name in HEADLINE:
        _run(name)  # untimed warm-up rep (codegen compile, shuffle files)
        secs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            _run(name)
            secs.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(secs), 3)
    return timings


def main_bench(args) -> None:
    import statistics

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    reps = max(args.reps, BENCH_REPS)
    spark = build_session(cores)

    timings = run_operator_queries(spark, sf_dir, reps)
    timings.update(run_ann_pruning_leg(spark, reps))
    timings.update(run_dedup_job_leg(spark, sf_dir, reps))
    run_flagship(spark, args.n_docs)  # untimed warm-up: JIT + Python workers
    flag_secs, n_docs = [], 0
    for _ in range(reps):
        n_docs, dt = run_flagship(spark, args.n_docs)
        flag_secs.append(dt)
    dt = statistics.median(flag_secs)
    timings["flagship_extract"] = round(dt, 3)
    docs_per_sec = round(n_docs / dt, 2)

    # the traced per-layer split rides beside the queries map (values
    # there stay plain seconds for round-over-round diffing)
    dedup_stages = timings.pop("dedup_job_stages", {})
    total = round(sum(timings.values()), 3)
    result = {
        "metric": "e2e_bench_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "docs_per_sec": docs_per_sec,
        "flagship_docs": n_docs,
        "cores": cores,
        "reps": reps,
        "flagship_all_secs": [round(s, 3) for s in flag_secs],
        "dedup_job_stages": dedup_stages,
    }
    print(json.dumps(result))
    spark.stop()


def main_rep_server(args) -> None:
    """Child of the interleaved campaign: ONE long-lived (optionally
    taskset-pinned) JVM that warms up twice, prints READY, then runs one
    flagship rep per 'run' line on stdin — so both cluster sizes stay
    resident and a rep at either size can start within seconds of the
    other's finish."""
    spark = build_session(args.cores)
    run_flagship(spark, args.n_docs)  # warm-up 1 (also writes the corpus)
    run_flagship(spark, args.n_docs)  # warm-up 2 (tiered-JIT convergence)
    print("READY", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "run":
            n, dt = run_flagship(spark, args.n_docs)
            print(json.dumps({"docs": n, "sec": round(dt, 3)}), flush=True)
        elif cmd == "quit":
            break
    spark.stop()


def main_scaling_interleaved(args) -> None:
    """Drift-robust N-vs-4N protocol. The host's effective capacity
    oscillates on a ~minutes timescale, so the two cluster sizes run as
    ADJACENT rep pairs from two resident JVMs (local[8] pinned to cores
    0-7; local[32] unpinned), alternating pair order to cancel any
    first-runner bias. Efficiency is the MEDIAN of per-pair ratios
    eff_i = (tp32_i / tp8_i) / 4 — each ratio is taken over a ~6-minute
    window in which host capacity is strongly correlated. A pair is
    accepted only if the three all-cores probes bracketing its two reps
    agree within 15% (stability gate — RELATIVE, so a slow-but-steady host
    can still be measured honestly); absolute probe levels vs the stored
    quiet-host reference are reported alongside so a capacity-capped host
    is visible, never hidden."""
    if args.n_docs == BENCH_DOCS:
        args.n_docs = SCALING_DOCS
    args.reps = max(args.reps, 5)
    import statistics

    servers = {}

    def _spawn(cores, pin):
        cmd = [sys.executable, os.path.abspath(__file__), "--rep-server",
               "--cores", str(cores), "--n-docs", str(args.n_docs)]
        if pin and os.path.exists("/usr/bin/taskset"):
            cmd = ["taskset", "-c", pin] + cmd
        return subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True, bufsize=1,
        )

    # corpus must pre-exist so the two servers don't race to write it
    if not os.path.exists(f"{corpus_path(args.n_docs)}/_BENCH_READY"):
        boot = _spawn(32, None)
        boot.stdin.write("quit\n")
        boot.stdin.flush()
        boot.wait(timeout=3600)
    servers[8] = _spawn(8, "0-7")
    servers[32] = _spawn(32, None)
    for cores, srv in servers.items():
        line = srv.stdout.readline().strip()
        if line != "READY":
            raise RuntimeError(f"{cores}c rep server failed: {line!r}")

    def ask(cores):
        servers[cores].stdin.write("run\n")
        servers[cores].stdin.flush()
        return json.loads(servers[cores].stdout.readline())

    # quiet-window gating (round-6): rounds 2-5 proved the job's quiet-host
    # efficiency (0.824 r2, 0.905 near-quiet pair r5) but the on-HEAD
    # campaigns kept landing on an 85-90%-capacity host, where co-tenant
    # load structurally biases the ratio AGAINST the 32c leg (the pinned
    # local[8] keeps cores 0-7 busy, so the kernel migrates co-tenant
    # threads onto 8-31 during the 8c rep — the 8c leg dodges load the 32c
    # leg must absorb). With --quiet-gate P, a pair STARTS only when the
    # all-cores probe reads ≥ P% of the stored quiet-host reference and
    # COUNTS only if every bracketing probe stays ≥ P% (plus the 15%
    # relative-stability gate); the campaign polls until --budget-min
    # expires, then reports however many quiet pairs it caught.
    pairs, discarded, waits = [], 0, 0
    ledger = []  # EVERY measured pair, accepted or not — auditable evidence
    gate = (args.quiet_gate or 0) / 100.0
    budget_s = (args.budget_min * 60) if args.budget_min else None
    t_start = time.time()
    attempts = args.reps + 4 if budget_s is None else 10**9
    while len(pairs) < args.reps and attempts > 0:
        if budget_s is not None and time.time() - t_start > budget_s:
            print(f"# budget exhausted after {waits} waits, "
                  f"{len(pairs)} quiet pairs", file=sys.stderr)
            break
        pre = probe_host()
        if gate and pre["hz_mt"] < gate * pre["ref_hz_mt"]:
            waits += 1
            if waits % 10 == 1:
                print(f"# waiting for quiet window: probe {pre['hz_mt']}/s "
                      f"= {100 * pre['hz_mt'] / pre['ref_hz_mt']:.1f}% of "
                      f"ref (gate {args.quiet_gate}%)", file=sys.stderr)
            time.sleep(25)
            continue
        attempts -= 1
        order = (8, 32) if (len(pairs) + discarded) % 2 == 0 else (32, 8)
        probes = [pre]
        res = {}
        for cores in order:
            res[cores] = ask(cores)
            probes.append(probe_host())
        hzs = [p["hz_mt"] for p in probes]
        ref_hz_mt = probes[-1]["ref_hz_mt"]
        stable = max(hzs) / min(hzs) <= 1.15
        quiet = (not gate) or all(h >= gate * ref_hz_mt for h in hzs)
        tp8 = res[8]["docs"] / res[8]["sec"]
        tp32 = res[32]["docs"] / res[32]["sec"]
        rec = {
            "order": list(order),
            "sec8": res[8]["sec"], "sec32": res[32]["sec"],
            "tp8": round(tp8, 1), "tp32": round(tp32, 1),
            "eff": round((tp32 / tp8) / 4.0, 3),
            "probes_hz_mt": hzs, "stable": stable,
            "cap_pct": round(100 * min(hzs) / ref_hz_mt, 1),
        }
        if stable and quiet:
            rec["accepted"] = True
            pairs.append(rec)
            print(f"# pair accepted: {json.dumps(rec)}", file=sys.stderr)
        else:
            discarded += 1
            why = ("probe drift" if not stable else
                   f"below quiet gate {args.quiet_gate}%")
            rec["accepted"] = False
            rec["why_discarded"] = why
            print(f"# pair discarded ({why} {min(hzs)}→{max(hzs)}): "
                  f"{json.dumps(rec)}", file=sys.stderr)
        ledger.append(rec)
    for srv in servers.values():
        try:
            srv.stdin.write("quit\n")
            srv.stdin.flush()
        except Exception:  # noqa: BLE001
            pass
    if not pairs:
        print(json.dumps({"metric": "scaling_efficiency_interleaved",
                          "value": None, "unit": "ratio", "queries": {},
                          "sf": 0, "aborted": "no stable pairs",
                          "ledger": ledger, "quiet_waits": waits}))
        sys.exit(3)
    eff = statistics.median(p["eff"] for p in pairs)
    ref = _load_probe_ref()
    cap_pct = round(
        100 * statistics.median(
            h for p in pairs for h in p["probes_hz_mt"]
        ) / ref["hz_mt"], 1,
    ) if ref["hz_mt"] else None
    # BENCH/probe_ref.json may be absent (nothing here writes it): a bare
    # :.0f format would lose the whole multi-hour report to a TypeError
    cap_clause = (
        f"Host absolute capacity during the accepted pairs: median "
        f"all-cores probe at {cap_pct}% of the stored quiet-host "
        f"reference ({ref['hz_mt']:.0f}/s)"
        if ref["hz_mt"] is not None else
        "No quiet-host probe reference stored (BENCH/probe_ref.json "
        "absent), so absolute host capacity for these pairs is unknown"
    )
    gate_clause = (
        f" Quiet-window gating was ON: pairs started only when the "
        f"all-cores probe read ≥{args.quiet_gate}% of the quiet-host "
        f"reference and counted only if every bracketing probe stayed "
        f"above that bar; the campaign waited through {waits} "
        f"25-second poll cycles for quiet windows."
        if gate else ""
    )
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/SCALING_INTERLEAVED.md", "w") as f:
        f.write(
            "# Interleaved N-vs-4N scaling measurement (drift-robust "
            "protocol)\n\n"
            f"Flagship extraction job over the {args.n_docs}-doc "
            "deterministic corpus; two RESIDENT JVMs (local[8] pinned to "
            "cores 0-7, local[32] unpinned), each warmed twice; reps run "
            "as adjacent alternating-order pairs so each per-pair ratio "
            "eff_i = (tp_4N / tp_N) / 4 samples a ~6-minute window of the "
            "same host capacity, which oscillates on a minutes timescale "
            "(see the measurement ledger). A pair "
            "counts only if the three all-cores probes bracketing its two "
            "reps agree within 15%." + gate_clause + "\n\n"
            "| pair | order | wall8 (s) | wall32 (s) | docs/s 8c | docs/s "
            "32c | eff | probes (hz_mt) | cap % |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
            + "\n".join(
                f"| {i+1} | {'→'.join(map(str, p['order']))} | {p['sec8']} "
                f"| {p['sec32']} | {p['tp8']} | {p['tp32']} | {p['eff']} "
                f"| {p['probes_hz_mt']} | {p.get('cap_pct', '—')} |"
                for i, p in enumerate(pairs)
            )
            + "\n\nFull measurement ledger (every pair, accepted or "
            "discarded — the audit trail):\n\n"
            "| # | accepted | why | order | docs/s 8c | docs/s 32c | eff "
            "| cap % |\n|---|---|---|---|---|---|---|---|\n"
            + "\n".join(
                f"| {i+1} | {'yes' if p.get('accepted') else 'NO'} "
                f"| {p.get('why_discarded', '—')} "
                f"| {'→'.join(map(str, p['order']))} | {p['tp8']} "
                f"| {p['tp32']} | {p['eff']} | {p.get('cap_pct', '—')} |"
                for i, p in enumerate(ledger)
            )
            + f"\n\n**Median pair efficiency = {eff}** (target ≥ 0.8); "
            f"pairs discarded: {discarded}. {cap_clause} — reported so a "
            "capacity-capped host is visible, never hidden.\n\n"
            f"Reproduce: `python bench.py --scaling-interleaved --reps "
            f"{args.reps}"
            + (f" --quiet-gate {args.quiet_gate} --budget-min "
               f"{args.budget_min}" if gate else "")
            + "`.\n"
        )
    print(json.dumps({"metric": "scaling_efficiency_interleaved",
                      "value": eff, "unit": "ratio", "queries": {}, "sf": 0,
                      "pairs": pairs, "discarded": discarded,
                      "ledger": ledger,
                      "host_capacity_pct": cap_pct,
                      "quiet_gate_pct": args.quiet_gate or None,
                      "quiet_waits": waits}))


if __name__ == "__main__":
    # no prefix matching: a bare --scaling must not silently start the
    # multi-hour interleaved campaign
    p = argparse.ArgumentParser(allow_abbrev=False)
    p.add_argument("--scaling-interleaved", action="store_true")
    p.add_argument("--rep-server", action="store_true")
    p.add_argument("--cores", type=int, default=32)
    p.add_argument("--reps", type=int, default=1)
    p.add_argument("--n-docs", type=int, default=BENCH_DOCS)
    p.add_argument("--quiet-gate", type=float, default=0,
                   help="interleaved mode: start/accept pairs only while "
                        "the all-cores probe is ≥ this %% of the "
                        "quiet-host reference (0 = off)")
    p.add_argument("--budget-min", type=float, default=0,
                   help="interleaved mode: total campaign wall budget in "
                        "minutes (0 = attempts-based, reps+4)")
    a = p.parse_args()
    if a.scaling_interleaved:
        main_scaling_interleaved(a)
    elif a.rep_server:
        main_rep_server(a)
    else:
        main_bench(a)

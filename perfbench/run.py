"""Whole-job benchmark for pdf2pdfocr_spark.

    python3 perfbench/run.py --workload extract_resume --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one ``local[nproc]`` session
built by ``pipeline.build_spark``; after the workload's untimed warm-up,
job calls run in a closed loop with one client (each call starts after the
previous one returned) until ``--seconds`` have passed, at least one.
Every call's output is checked against an oracle computed without Spark.
The last stdout line is one JSON object: end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics of one traced call
(timing spans plus Spark's own event log, both installed from this
directory) between two untraced calls that give the tracing overhead.

Everything the run writes (inputs, outputs, Spark local dirs, warehouse,
event log, temp files) lives under ``.perfbench_run/`` in the checkout and
is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("extract_resume", "dedup_neardup")
CALL_LIMIT_S = 120.0  # a job call slower than this counts as failed
# skip reasons set by pipeline.apply_gates (the rest are OCR page errors)
GATE_REASONS = frozenset((
    "min_size", "corrupt", "has_text", "encrypted", "output_exists",
    "max_pages", "rebuild_conflict",
))
# Printed for every untraced run. Only those BENCHMARK.json lists under
# end_to_end go into the result: wall and docs/s are not among them,
# because across runs on a shared 4-vCPU host they spread by more than the
# largest bound allowed while CPU time held steady (see CALIBRATION.md).
UNITS = {
    "job_wall_s": "s", "docs_per_s": "docs/s", "cpu_s": "s",
    "files_written": "count", "bytes_written": "bytes", "setup_s": "s",
}


def _parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(run_root: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_root``; must run before the Spark gateway starts."""
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in (
        "--conf", f"spark.local.dir={os.path.join(run_root, 'local')}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_root, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ))


def _driver_memory() -> str:
    """A quarter of physical RAM, capped at 4 GB (build_spark's 48g
    default does not fit small hosts)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def _tree_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Workload:
    """Set-up plus one checked job call per ``rep``."""

    name = ""
    input_dir = "input_docs"

    def __init__(self, spark, seed: int, run_root: str, cores: int, inputs: dict):
        self.spark, self.seed, self.root, self.cores = spark, seed, run_root, cores
        self.inputs = inputs
        self.input_path = os.path.join(run_root, self.input_dir)
        self.context: dict = {}  # per-layer counts the last call produced
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.call_span = contextlib.nullcontext  # the tracer swaps this in

    def timed(self, job) -> tuple:
        """Run ``job()``: its result plus wall and CPU of the Spark JVM
        tree over exactly that call."""
        from perfbench import procstat

        cpu0 = procstat.tree_cpu_s(self.jvm_pid)
        with self.call_span():
            t0 = time.perf_counter()
            result = job()
            wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s(self.jvm_pid) - cpu0
        return result, {"wall": wall, "cpu": cpu}

    @staticmethod
    def make_inputs(seed: int) -> dict:
        """Generated docs and oracle values: plain Python, so ``run`` makes
        them on a thread while the Spark session starts."""
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def call(self, i: int) -> dict:
        """Run job call ``i``; returns its wall, docs resolved, output dir
        stats and whether the output check passed."""
        raise NotImplementedError

    def kernel_sample(self) -> tuple[float, float]:
        return 0.0, 0.0


class ExtractResume(Workload):
    name = "extract_resume"

    @staticmethod
    def make_inputs(seed: int) -> dict:
        from perfbench import workloads as wl

        rows = wl.scanned_corpus(seed)
        chunks, remaining = wl.split_done(rows)
        return {
            "rows": rows, "chunks": chunks, "remaining": remaining,
            "expected": wl.expected_extraction(rows, [r for c in chunks for r in c]),
        }

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from pdf2pdfocr_spark import corpus, jobs

        rows, chunks = self.inputs["rows"], self.inputs["chunks"]
        self.remaining, self.expected = self.inputs["remaining"], self.inputs["expected"]
        corpus.corpus_df(self.spark, rows, partitions=self.cores).write.parquet(
            self.input_path
        )
        self.work = os.path.join(self.root, "checkpoint")
        # prior state built by the job itself: committed runs that append
        # to spans/quarantine/done_ids and register the bucketed done-ids
        # table in the session catalog. Each reads the timed call's input
        # through the same scan, so they also warm up its plan shapes.
        for k, chunk in enumerate(chunks):
            ids = [r["doc_id"] for r in chunk]
            docs = self.spark.read.parquet(self.input_path).where(
                F.col("doc_id").isin(ids)
            )
            jobs.run_extraction_job(self.spark, docs, self.work, f"prior-{k:02d}")
        self.pristine = os.path.join(self.root, "checkpoint_prior")
        shutil.copytree(self.work, self.pristine)
        self.prior_stats = _tree_stats(self.pristine)
        self.done_tables = [
            t.name for t in self.spark.catalog.listTables()
            if t.name.startswith("done_ids_")
        ]

    def _restore(self) -> None:
        """Every call starts from the identical committed prior state, with
        the done-ids table still registered as the seeding runs left it."""
        shutil.rmtree(self.work)
        shutil.copytree(self.pristine, self.work)
        for t in self.done_tables:
            self.spark.catalog.refreshTable(t)

    def call(self, i: int) -> dict:
        from pdf2pdfocr_spark import jobs

        self._restore()
        docs = self.spark.read.parquet(self.input_path)
        run_id = f"bench-{i:03d}"
        _, rec = self.timed(
            lambda: jobs.run_extraction_job(self.spark, docs, self.work, run_id)
        )
        rec["ok"], rec["docs"] = self._check(run_id)
        files, size = _tree_stats(self.work)
        rec["files"] = files - self.prior_stats[0]
        rec["bytes"] = size - self.prior_stats[1]
        return rec

    def _check(self, run_id: str) -> tuple[bool, int]:
        from pyspark.sql import functions as F

        from perfbench import workloads as wl
        from pdf2pdfocr_spark import lineage

        digest = F.md5(F.concat_ws("\u0001", F.transform(
            "spans", lambda s: F.concat_ws(
                "\u0002", s["kind"], s["text"], s["media_ref"],
                s["offset"].cast("string"),
            ),
        )))
        landed = [
            (r[0], r[1]) for r in lineage.landed_run(self.spark, self.work, run_id)
            .select("doc_id", digest).collect()
        ]
        quarantined = [
            (r[0], r[1]) for r in
            self.spark.read.parquet(os.path.join(self.work, "quarantine"))
            .filter(F.col("run_id") == run_id)
            .select("doc_id", "skip_reason").collect()
        ]
        gated = sum(1 for _, reason in quarantined if reason in GATE_REASONS)
        self.context = {
            "pipeline.gates.docs_admitted": float(len(landed) + len(quarantined) - gated),
            "pipeline.gates.docs_quarantined": float(gated),
        }
        ok = wl.extraction_digest(landed, quarantined) == self.expected
        return ok, len(landed) + len(quarantined)

    def kernel_sample(self) -> tuple[float, float]:
        """Median ms per page of the OCR engine call and of hOCR parsing,
        timed directly on a seeded sample of the pages the job OCRs."""
        import random

        from pdf2pdfocr_spark import hocr
        from pdf2pdfocr_spark.ocr_engine import OcrConfig, get_engine
        from pdf2pdfocr_spark.schema import PagePayload

        payloads = []
        for row in self.remaining:
            for s in row["spans"]:
                if s["kind"] != "image":
                    continue
                try:
                    p = PagePayload.from_ref(s["media_ref"])
                except ValueError:
                    continue
                if not p.is_blank:
                    payloads.append(p)
        sample = random.Random(self.seed).sample(payloads, min(60, len(payloads)))
        engine = get_engine(OcrConfig())
        page_ms, parse_ms = [], []
        for p in sample:
            t0 = time.perf_counter()
            res = engine.ocr_page_with_repair(p)
            page_ms.append((time.perf_counter() - t0) * 1000.0)
            t0 = time.perf_counter()
            hocr.parse_hocr(res.hocr)
            parse_ms.append((time.perf_counter() - t0) * 1000.0)
        return statistics.median(page_ms), statistics.median(parse_ms)


class DedupNeardup(Workload):
    name = "dedup_neardup"
    WARMUP_DOCS = 100

    @staticmethod
    def make_inputs(seed: int) -> dict:
        from perfbench import workloads as wl

        recorded = os.path.join(os.path.dirname(__file__), "expected_dedup.json")
        with open(recorded) as f:
            expected = json.load(f)
        if wl.expected_dedup() != expected:
            raise RuntimeError(
                "planted dedup structure no longer matches expected_dedup.json"
            )
        return {"rows": wl.neardup_corpus(seed), "expected": expected}

    def setup(self) -> None:
        from pdf2pdfocr_spark import jobs

        rows, self.expected = self.inputs["rows"], self.inputs["expected"]
        self.ids = {r[0] for r in rows}
        # one file, one row group: the layout partitioning.fan_out exists for
        schema = "doc_id string, text string, source string"
        self.spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            self.input_path
        )
        # Warm-up: one untimed job call on a slice of the input. The job is
        # bound by driver round-trips, so the slice compiles the same plans
        # for about two thirds of a cold full call (see CALIBRATION.md).
        warm_in = os.path.join(self.root, "warmup_docs")
        self.spark.createDataFrame(rows[:self.WARMUP_DOCS], schema).coalesce(1) \
            .write.parquet(warm_in)
        jobs.run_dedup_job(
            self.spark, self.spark.read.parquet(warm_in),
            os.path.join(self.root, "warmup_out"), "warmup",
        )

    def call(self, i: int) -> dict:
        from pdf2pdfocr_spark import jobs

        out = os.path.join(self.root, "dedup_out")
        shutil.rmtree(out, ignore_errors=True)
        docs = self.spark.read.parquet(self.input_path)
        counts, rec = self.timed(
            lambda: jobs.run_dedup_job(self.spark, docs, out, f"bench-{i:03d}")
        )
        rec["ok"] = self._check(out, counts)
        rec["docs"] = counts["docs_in"]
        rec["files"], rec["bytes"] = _tree_stats(out)
        return rec

    def _check(self, out: str, counts: dict) -> bool:
        from pyspark.sql import functions as F

        from perfbench import workloads as wl

        kept = [r[0] for r in self.spark.read.parquet(f"{out}/shards")
                .select("doc_id").collect()]
        dropped = [r[0] for r in self.spark.read.parquet(f"{out}/clusters")
                   .filter(F.col("doc_id") != F.col("cluster_id"))
                   .select("doc_id").collect()]
        self.context = {
            "operators.dedup.pairs.overflow_buckets": float(
                counts["minhash_overflow_buckets"] + counts["simhash_overflow_buckets"]
            ),
            "operators.sampling.pack.shards": float(counts["shards"]),
        }
        return (
            {k: counts.get(k) for k in self.expected["counts"]} == self.expected["counts"]
            and wl.ids_digest(kept) == self.expected["kept_digest"]
            and len(kept) == len(set(kept))
            and not set(kept) & set(dropped)
            and set(kept) | set(dropped) == self.ids
        )


def _median(values: list) -> float:
    return float(statistics.median(values)) if values else 0.0


class Runner:
    def __init__(self, workload: Workload):
        self.w = workload
        self.calls: list = []

    def call(self) -> dict:
        """One closed-loop call; failures are recorded, never raised."""
        try:
            rec = self.w.call(len(self.calls))
        except Exception:  # noqa: BLE001 — a failed call is a measured outcome
            traceback.print_exc(file=sys.stderr)
            rec = {"wall": None, "cpu": 0.0, "docs": 0, "ok": False,
                   "files": 0, "bytes": 0}
        if rec["wall"] is not None and rec["wall"] > CALL_LIMIT_S:
            rec["ok"] = False
        self.calls.append(rec)
        return rec

    def loop(self, seconds: float) -> list:
        start, done = time.perf_counter(), []
        while not done or time.perf_counter() - start < seconds:
            done.append(self.call())
        return done

    def end_to_end(self, calls: list, setup_s: float) -> dict:
        ok = [c for c in calls if c["ok"]] or calls
        timed = [c for c in ok if c["wall"]]
        return {
            "job_wall_s": _median([c["wall"] for c in timed]),
            "docs_per_s": _median([c["docs"] / c["wall"] for c in timed]),
            "cpu_s": _median([c["cpu"] for c in ok]),
            "files_written": _median([c["files"] for c in ok]),
            "bytes_written": _median([c["bytes"] for c in ok]),
            "setup_s": setup_s,
        }


def traced(runner: Runner, run_root: str, cores: int) -> dict:
    """Three calls: untraced, traced, untraced, so a linear warm-up drift
    cancels out of ``trace.overhead_s``. The traced call gets its own
    event log and the layer spans; untraced calls get neither. Per-layer
    figures are those of the one traced call."""
    from perfbench import eventlog, trace

    w = runner.w
    tracer = trace.Tracer(w.spark)
    plain, windows = [], []
    for k, traced_call in enumerate((False, True, False)):
        if not traced_call:
            plain.append(runner.call()["wall"])
            continue
        log = trace.EventLog(
            w.spark, os.path.join(run_root, "eventlog"), f"perfbench-{k}"
        )
        first = len(tracer.spans)
        with log:
            tracer.install()
            w.call_span = lambda: tracer.span("jobs")
            try:
                runner.call()
            finally:
                w.call_span = contextlib.nullcontext
                tracer.uninstall()
        # the job call's own span, absent if the call failed before it ran
        for layer, start, end, depth in tracer.spans[first:]:
            if layer == "jobs" and depth == 0:
                windows.append((start, end, dict(w.context), log.path))
    if not windows:
        return {}
    page_ms, parse_ms = w.kernel_sample()
    per_call = []
    for t0, t1, context, path in windows:
        m = eventlog.layer_metrics(
            eventlog.EventLogData.load(path), t0, t1, tracer.spans, cores,
            w.input_dir,
        )
        m.update(context)
        m["ocr_engine.page_ms"] = page_ms
        m["hocr.parse_ms"] = parse_ms
        py_s = m["pipeline.run_ocr.python_run_s"]
        m["pipeline.run_ocr.kernel_share"] = (
            m["pipeline.run_ocr.pages"] * page_ms / 1000.0 / py_s if py_s else 0.0
        )
        per_call.append(m)
    out = {k: _median([m.get(k, 0.0) for m in per_call]) for k in per_call[0]}
    out["jobs.wall_s"] = _median([wall for wall in plain if wall])
    out["trace.overhead_s"] = (
        _median([(t1 - t0) / 1000.0 for t0, t1, _, _ in windows])
        - out["jobs.wall_s"]
    )
    return out


def _listed_units(kind: str) -> dict:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def run(args, run_root: str) -> dict:
    _isolate(run_root)
    sys.path.insert(0, ROOT)
    t_setup = time.perf_counter()
    from concurrent.futures import ThreadPoolExecutor

    # imported here so the thread below imports nothing
    from perfbench import workloads  # noqa: F401
    from pdf2pdfocr_spark.pipeline import build_spark

    cls = ExtractResume if args.workload == "extract_resume" else DedupNeardup
    cores = len(os.sched_getaffinity(0))
    with ThreadPoolExecutor(1) as pool:
        inputs = pool.submit(cls.make_inputs, args.seed)
        spark = build_spark(
            app=f"perfbench-{args.workload}", master=f"local[{cores}]",
            cores=cores, driver_memory=_driver_memory(),
        )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        w = cls(spark, args.seed, run_root, cores, inputs.result())
        w.setup()
        setup_s = time.perf_counter() - t_setup
        runner = Runner(w)
        if args.trace:
            units = listed = _listed_units("per_layer")
            values = traced(runner, run_root, cores)
        else:
            units, listed = UNITS, _listed_units("end_to_end")
            values = runner.end_to_end(runner.loop(args.seconds), setup_s)
    finally:
        _stop(spark)
    attempted = len(runner.calls)
    failed = sum(1 for c in runner.calls if not c["ok"])
    for name, unit in units.items():
        print(f"{args.workload}  {name:<48} {values.get(name, 0.0):>16.6g} {unit}")
    print(f"{args.workload}  {'failed_share':<48} {failed / max(1, attempted):>16.6g} ratio")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": values.get(k, 0.0), "unit": unit} for k, unit in listed.items()
        },
    }


def _stop(spark) -> None:
    """Stop the session and wait for the gateway JVM (and the Python
    workers below it) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pdf2pdfocr_spark")):
        print("perfbench: pdf2pdfocr_spark/ is missing next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_run")
    run_root = os.path.join(base, f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

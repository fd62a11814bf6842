"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(__file__))))

from perfbench import eventlog, workloads  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")
T = 1_000_000  # the fixture's clock origin (epoch ms)
SPANS = [
    ("jobs", T, T + 1000, 0),
    ("lineage.resume", T + 5, T + 40, 1),
    ("lineage.write", T + 45, T + 980, 1),
]


# -- inputs -------------------------------------------------------------------

@pytest.mark.parametrize("workload", ["extract_resume", "dedup_neardup"])
def test_same_seed_same_input_digest(workload):
    assert workloads.input_digest(workload, 7) == workloads.input_digest(workload, 7)


@pytest.mark.parametrize("workload", ["extract_resume", "dedup_neardup"])
def test_different_seeds_different_input_digest(workload):
    assert workloads.input_digest(workload, 7) != workloads.input_digest(workload, 8)


def test_planted_dedup_structure_matches_recorded_expectation():
    import json

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "expected_dedup.json")
    with open(path) as f:
        assert workloads.expected_dedup() == json.load(f)


def test_neardup_corpus_pairs_are_exactly_the_planted_edges():
    rows = workloads.neardup_corpus(3)
    sigs = [workloads.Signature(text) for _, text, _ in rows]
    found = {
        (i, j) for i in range(len(sigs)) for j in range(i + 1, len(sigs))
        if sigs[i].near(sigs[j])
    }
    assert len(found) == workloads.expected_dedup()["counts"]["dup_pairs"]


# -- reducer on the committed fixture ---------------------------------------

@pytest.fixture(scope="module")
def log():
    return eventlog.EventLogData.load(FIXTURE)


def test_self_times_split_the_whole_window(log):
    att = eventlog.Attribution(log, T, T + 1000, SPANS)
    got = eventlog.self_times(att, "jobs")
    want = {
        "trace.unattributed": 0.030,
        "lineage.resume": 0.035,
        "lineage.write": 0.135,
        "pipeline.salted_repartition": 0.200,
        "pipeline.run_ocr": 0.500,
        "pipeline.reassemble": 0.100,
    }
    assert got == pytest.approx(want)
    assert sum(got.values()) == pytest.approx(1.0)


def test_layer_metrics_from_fixture(log):
    m = eventlog.layer_metrics(log, T, T + 1000, SPANS, cores=4, input_dir="input_docs")
    assert m["sources.scan_bytes"] == 77000
    assert m["sources.scan_s"] == pytest.approx(0.07)
    assert m["pipeline.salted_repartition.shuffle_bytes"] == 1600
    assert m["pipeline.salted_repartition.records"] == 50
    assert m["pipeline.salted_repartition.skew"] == pytest.approx(1.5)
    assert m["pipeline.run_ocr.pages"] == 50
    assert m["pipeline.run_ocr.python_run_s"] == pytest.approx(0.65)
    # worker init is capped at the task time not spent running Python
    assert m["pipeline.run_ocr.python_init_s"] == pytest.approx(0.12)
    assert m["pipeline.run_ocr.bytes_to_python"] == 1500
    assert m["pipeline.run_ocr.bytes_from_python"] == 15000
    assert m["pipeline.reassemble.shuffle_bytes"] == 12000
    assert m["pipeline.reassemble.stage_wall_s"] == pytest.approx(0.1)
    assert m["lineage.write.files"] == 4
    assert m["lineage.write.bytes"] == 52000
    assert m["lineage.write.commit_s"] == pytest.approx(0.025)
    assert m["lineage.write.jobs"] == 1
    assert m["lineage.write.call_s"] == pytest.approx(0.935)
    assert m["lineage.resume.call_s"] == pytest.approx(0.035)
    assert m["jobs.spark_jobs"] == 2
    assert m["jobs.stages"] == 4
    assert m["jobs.tasks"] == 6
    assert m["jobs.executor_busy_share"] == pytest.approx(1.28 / 4)
    assert m["jobs.driver_gap_s"] == pytest.approx(0.18)
    assert m["trace.coverage"] == pytest.approx(0.97)


def test_jobs_outside_the_window_are_ignored(log):
    m = eventlog.layer_metrics(log, T + 2000, T + 3000, [], cores=4, input_dir="input_docs")
    assert m["jobs.spark_jobs"] == 0
    assert m["trace.unattributed_s"] == pytest.approx(1.0)


# -- attribution of plan operators -------------------------------------------

@pytest.mark.parametrize("name, simple, writes, layer", [
    ("MapInPandas", "MapInPandas ocr_batches(doc_id#1, offset#2)", False, "pipeline.run_ocr"),
    ("Exchange", "Exchange hashpartitioning(doc_id#1, pmod(offset#2, 64), 4), REPARTITION_BY_NUM",
     True, "pipeline.salted_repartition"),
    ("Exchange", "Exchange hashpartitioning(doc_id#1, pmod(offset#2, 64), 4), REPARTITION_BY_NUM",
     False, None),
    ("ObjectHashAggregate", "ObjectHashAggregate(keys=[doc_id#5], functions=[collect_list(struct(offset))])",
     False, "pipeline.reassemble"),
    ("Exchange", "Exchange RoundRobinPartitioning(8), REPARTITION_BY_NUM", True, "partitioning.fan_out"),
    ("HashAggregate", "HashAggregate(keys=[doc_id#1], functions=[partial_min(cast(conv(substring(md5(cast(concat(0|, _s#2)",
     False, "operators.dedup.signatures"),
    ("HashAggregate", "HashAggregate(keys=[doc_id#1], functions=[partial_sum(CASE WHEN NOT ((h#3L & 1) = 0) THEN 1 ELSE -1 END)",
     False, "operators.dedup.signatures"),
    ("WindowGroupLimit", "WindowGroupLimit [band#1, sig#2], [doc_id#3 ASC NULLS FIRST], row_number(), 1000, Partial",
     False, "operators.dedup.pairs"),
    ("BroadcastHashJoin", "BroadcastHashJoin [id_b#1], [id_b#2], Inner, BuildRight, (round((cast(size(array_intersect(sh_a#3",
     False, "operators.dedup.pairs"),
    ("HashAggregate", "HashAggregate(keys=[id_a#1, id_b#2], functions=[])", False, "operators.dedup.pairs"),
    ("Window", "Window [sum(n_tokens#1L) windowspecdefinition(bucket#2, doc_id#3 ASC NULLS FIRST)]",
     False, "operators.sampling.pack"),
    ("Scan parquet spark_catalog.default.done_ids_0123456789ab",
     "FileScan parquet spark_catalog.default.done_ids_0123456789ab[doc_id#1] Bucketed: true", False, "lineage.resume"),
    ("BroadcastHashJoin", "BroadcastHashJoin [doc_id#1], [doc_id#2], LeftOuter, BuildRight, false", False, None),
    ("Scan parquet ", "FileScan parquet [doc_id#1,text#2] Location: InMemoryFileIndex(1 paths)[file:/x/input_docs]",
     False, None),
    ("Filter", "Filter isnotnull(doc_id#1)", False, None),
])
def test_operator_layer(name, simple, writes, layer):
    assert eventlog.operator_layer(name, simple, writes) == layer


@pytest.mark.parametrize("path, layer", [
    ("file:/x/out/spans", "lineage.write"),
    ("file:/x/out/quarantine", "lineage.write"),
    ("file:/x/out/done_ids", "lineage.write"),
    ("file:/x/out/metrics", "lineage.write_metrics"),
    ("file:/x/out/clusters", "operators.dedup.cc"),
    ("file:/x/out/shards", "operators.sampling.pack"),
    ("file:/x/out/ledgers/minhash_overflow", "operators.dedup.pairs"),
    ("file:/x/elsewhere", None),
])
def test_write_layer(path, layer):
    assert eventlog.write_layer(path) == layer


def test_persisted_frame_layers():
    assert eventlog.persisted_layer(
        "Project [doc_id#1, transform(array_sort(concat(transform(spans#2"
    ) == "pipeline.reassemble"
    assert eventlog.persisted_layer(
        "Project [doc_id#2, bs#3.band AS band#4, bs#3.sig AS sig#5]"
    ) == "operators.dedup.signatures"
    assert eventlog.persisted_layer("HashAggregate(keys=[id_a#1, id_b#2])") == \
        "operators.dedup.pairs"
    assert eventlog.persisted_layer("MapPartitionsRDD") is None

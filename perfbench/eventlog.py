"""Stdlib-only reducer for an uncompressed Spark event log.

``EventLogData.load`` parses the events a traced run needs (jobs, stages,
tasks, SQL plans and their metric accumulators, block updates).
``attribute`` then gives every stage a layer in two steps:

1. the span that was innermost when its job was submitted, taken from the
   job description the tracer set (``trace.Tracer``);
2. inside that action, the layer owning a plan operator the stage ran, or
   the output path its SQL execution wrote (``operator_layer``,
   ``WRITE_LAYERS``), which overrides the span.

Operators are matched by name and plan text only, never by source line.
``self_times`` splits a traced call's wall clock over layers: running
stages share each instant; with no stage running, an open SQL execution
or the innermost span owns it; what is left is reported as unattributed.
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict

# metric type → factor to seconds
_TIME_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}

# output directory (last path component) → the layer that writes it
WRITE_LAYERS = {
    "spans": "lineage.write",
    "quarantine": "lineage.write",
    "done_ids": "lineage.write",
    "runs_committed": "lineage.write",
    "lineage": "lineage.write",
    "metrics": "lineage.write_metrics",
    "clusters": "operators.dedup.cc",
    "shards": "operators.sampling.pack",
    "minhash_overflow": "operators.dedup.pairs",
    "simhash_overflow": "operators.dedup.pairs",
}

# layers an operator can claim, strongest first
PRIORITY = (
    "pipeline.run_ocr",
    "pipeline.reassemble",
    "pipeline.salted_repartition",
    "operators.dedup.pairs",
    "operators.dedup.signatures",
    "operators.sampling.pack",
    "partitioning.fan_out",
    "lineage.resume",
)

_PAIRS_MARKS = (
    "array_intersect(", "bit_count(", "sh_a#", "sh_b#", "_rk#",
    "[band#", "[chunk#", "population#",
)
_SIGNATURE_MARKS = (
    "md5(", "THEN 1 ELSE -1", "explode(shingles", "struct(band",
    "struct(chunk", "split(trim(regexp_replace(lower(",
)
_WRITE_RE = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?),")


def operator_layer(name: str, simple: str, writes_shuffle: bool = False) -> str | None:
    """The layer that owns one physical plan operator, or None when the
    operator is shared plumbing (scans, filters, codegen, plain exchanges).

    ``writes_shuffle``: the stage writes this Exchange's map output, which
    is where a repartition's cost lands (the reading side belongs to the
    consumer)."""
    if name == "MapInPandas":
        return "pipeline.run_ocr"
    if "collect_list(" in simple:
        return "pipeline.reassemble"
    if name == "Exchange":
        if not writes_shuffle:
            return None
        if "REPARTITION_BY_NUM" in simple and "pmod(offset" in simple:
            return "pipeline.salted_repartition"
        if "RoundRobinPartitioning" in simple:
            return "partitioning.fan_out"
        return None
    if any(m in simple for m in _PAIRS_MARKS):
        return "operators.dedup.pairs"
    if name.startswith("HashAggregate") and "keys=[id_a#" in simple:
        return "operators.dedup.pairs"  # candidate / pair distinct
    if any(m in simple for m in _SIGNATURE_MARKS):
        return "operators.dedup.signatures"
    if "n_tokens#" in simple:
        return "operators.sampling.pack"
    if name.startswith("Scan") and "done_ids" in simple:
        return "lineage.resume"
    return None


def persisted_layer(rdd_name: str) -> str | None:
    """Layer of a persisted frame, from its cached RDD name (the plan
    text of the frame). The stage that first computes the frame is the
    one that runs its plan, e.g. extraction's reassembly join feeding the
    assembled-output cache."""
    if "array_sort(concat(" in rdd_name:
        return "pipeline.reassemble"
    if "id_a#" in rdd_name:
        return "operators.dedup.pairs"
    if any(m in rdd_name for m in (
        "shingles#", "band#", "chunk#", "simhash#",
        "split(trim(regexp_replace(lower(",
    )):
        return "operators.dedup.signatures"
    return None


def write_layer(path: str | None) -> str | None:
    if not path:
        return None
    return WRITE_LAYERS.get(path.rstrip("/").rsplit("/", 1)[-1])


class Node:
    __slots__ = ("name", "simple", "parent", "children", "metrics")

    def __init__(self, name, simple, parent):
        self.name, self.simple, self.parent = name, simple, parent
        self.children: list = []
        self.metrics: dict = {}  # metric name → (accumulator id, type)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLogData:
    def __init__(self):
        self.jobs: dict = {}
        self.stages: dict = {}
        self.executions: dict = {}
        self.acc_node: dict = {}   # accumulator id → (Node, metric name, type)
        self.acc_value: dict = defaultdict(float)
        self.stage_accs: dict = defaultdict(set)
        self.blocks: dict = {}     # block id → bytes (latest update)
        self.cached_rdds: dict = {}  # rdd id → (name, first stage id)

    # -- parsing ----------------------------------------------------------

    @classmethod
    def load(cls, path: str) -> "EventLogData":
        data = cls()
        with open(path, encoding="utf-8") as f:
            for line in f:
                data._event(json.loads(line))
        return data

    def _plan(self, info: dict, parent=None) -> Node:
        node = Node(info["nodeName"], info.get("simpleString", ""), parent)
        for m in info.get("metrics", ()):
            node.metrics[m["name"]] = (m["accumulatorId"], m["metricType"])
            self.acc_node[m["accumulatorId"]] = (node, m["name"], m["metricType"])
        node.children = [self._plan(c, node) for c in info.get("children", ())]
        return node

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"], "end": None,
                "desc": props.get("spark.job.description"),
                "eid": int(eid) if eid is not None else None,
                "stages": list(e["Stage IDs"]),
            }
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = self._stage(si["Stage ID"])
            st["submit"] = si.get("Submission Time")
            st["end"] = si.get("Completion Time")
            for a in si.get("Accumulables", ()):
                self.stage_accs[si["Stage ID"]].add(a["ID"])
            for r in si.get("RDD Info", ()):
                lvl = r.get("Storage Level") or {}
                if (lvl.get("Use Memory") or lvl.get("Use Disk")) and \
                        r["RDD ID"] not in self.cached_rdds:
                    self.cached_rdds[r["RDD ID"]] = (r.get("Name", ""), si["Stage ID"])
        elif ev == "SparkListenerTaskEnd":
            self._task(e)
        elif ev.endswith("SQLExecutionStart"):
            self.executions[e["executionId"]] = {
                "start": e["time"], "end": None,
                "plans": [self._plan(e["sparkPlanInfo"])],
            }
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            x = self.executions.get(e["executionId"])
            if x is not None:
                x["plans"].append(self._plan(e["sparkPlanInfo"]))
        elif ev.endswith("SQLExecutionEnd"):
            x = self.executions.get(e["executionId"])
            if x is not None:
                x["end"] = e["time"]
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", ()):
                self.acc_value[acc_id] += _num(value)
        elif ev == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            size = _num(info.get("Memory Size")) + _num(info.get("Disk Size"))
            # a removal reports size 0: keep the largest size the block had
            bid = info["Block ID"]
            self.blocks[bid] = max(self.blocks.get(bid, 0.0), size)

    def _stage(self, sid: int) -> dict:
        if sid not in self.stages:
            self.stages[sid] = {
                "submit": None, "end": None, "tasks": 0, "run_ms": 0.0,
                "cpu_ns": 0.0, "spill_disk": 0.0, "spill_mem": 0.0,
                "shuffle_read": [], "task_spans": [], "python_init_ms": 0.0,
            }
        return self.stages[sid]

    def _task(self, e: dict) -> None:
        st = self._stage(e["Stage ID"])
        info = e.get("Task Info") or {}
        tm = e.get("Task Metrics") or {}
        st["tasks"] += 1
        st["task_spans"].append((info.get("Launch Time"), info.get("Finish Time")))
        st["run_ms"] += _num(tm.get("Executor Run Time"))
        st["cpu_ns"] += _num(tm.get("Executor CPU Time"))
        st["spill_disk"] += _num(tm.get("Disk Bytes Spilled"))
        st["spill_mem"] += _num(tm.get("Memory Bytes Spilled"))
        rd = tm.get("Shuffle Read Metrics") or {}
        st["shuffle_read"].append(
            _num(rd.get("Remote Bytes Read")) + _num(rd.get("Local Bytes Read"))
        )
        py: dict = {}
        for a in info.get("Accumulables", ()):
            self.stage_accs[e["Stage ID"]].add(a["ID"])
            self.acc_value[a["ID"]] += _num(a.get("Update"))
            if "Python workers" in (a.get("Name") or ""):
                py[a["Name"]] = _num(a.get("Update"))
        if py:
            # a reused worker stamps its "boot" when it returns for the
            # next task, so Spark's start+init counter includes the idle
            # time between tasks; cap it at the task time not spent
            # running Python
            init = py.get("time to start Python workers", 0.0) + \
                py.get("time to initialize Python workers", 0.0)
            spare = _num(tm.get("Executor Run Time")) - \
                py.get("time to run Python workers", 0.0)
            st["python_init_ms"] += max(0.0, min(init, spare))

    # -- queries ------------------------------------------------------------

    def metric(self, node: Node, name: str) -> float:
        """A node's SQL metric in its natural unit (seconds for times)."""
        if name not in node.metrics:
            return 0.0
        acc_id, kind = node.metrics[name]
        return self.acc_value.get(acc_id, 0.0) * _TIME_UNITS.get(kind, 1.0)

    def stage_nodes(self, sid: int) -> list:
        """(node, writes_shuffle) for every plan operator the stage ran."""
        seen: dict = {}
        for a in self.stage_accs.get(sid, ()):
            hit = self.acc_node.get(a)
            if hit is None:
                continue
            node, metric, _ = hit
            writes = metric.startswith("shuffle ") and "written" in metric
            seen[id(node)] = (node, seen.get(id(node), (node, False))[1] or writes)
        return list(seen.values())

    def execution_path(self, eid) -> str | None:
        x = self.executions.get(eid)
        if x is None:
            return None
        for plan in x["plans"]:
            for node in plan.walk():
                m = _WRITE_RE.search(node.simple)
                if m:
                    return m.group(1)
        return None

    def plan_nodes(self, eids) -> list:
        """Nodes of every plan version (initial and adaptive) of each
        execution; a cached frame's operators appear only in some."""
        return [
            n for eid in sorted(eids)
            if eid in self.executions
            for plan in self.executions[eid]["plans"]
            for n in plan.walk()
        ]


class Attribution:
    """Stage → layer, job → span layer, for the jobs inside one window."""

    def __init__(self, log: EventLogData, t0: float, t1: float, spans: list):
        self.log = log
        self.t0, self.t1 = t0, t1
        self.spans = [s for s in spans if s[1] >= t0 - 1 and s[2] <= t1 + 1]
        self.jobs = {
            j: v for j, v in log.jobs.items()
            if v["submit"] is not None and t0 - 1 <= v["submit"] <= t1 + 1
        }
        self.eids = {v["eid"] for v in self.jobs.values() if v["eid"] is not None}
        self.stage_job = {}
        for j, v in self.jobs.items():
            for sid in v["stages"]:
                if sid in log.stages and log.stages[sid]["submit"] is not None:
                    self.stage_job[sid] = j
        self.stage_layer = {sid: self._stage_layer(sid) for sid in self.stage_job}

    def span_at(self, t: float) -> str | None:
        """Innermost span open at ``t`` (depth 0 is the job call itself)."""
        best = None
        for layer, s, e, depth in self.spans:
            if s <= t <= e and (best is None or depth > best[1]):
                best = (layer, depth)
        return best[0] if best else None

    def job_span(self, j: int) -> str | None:
        v = self.jobs[j]
        return v["desc"] or self.span_at(v["submit"])

    def _stage_layer(self, sid: int) -> str | None:
        claims = {
            operator_layer(n.name, n.simple, w)
            for n, w in self.log.stage_nodes(sid)
        }
        for layer in PRIORITY:
            if layer in claims:
                return layer
        for name, first_sid in self.log.cached_rdds.values():
            if first_sid == sid and persisted_layer(name):
                return persisted_layer(name)
        j = self.stage_job[sid]
        return write_layer(self.log.execution_path(self.jobs[j]["eid"])) or \
            self.job_span(j)

    def execution_layer(self, eid: int) -> str | None:
        by_path = write_layer(self.log.execution_path(eid))
        if by_path:
            return by_path
        for j, v in sorted(self.jobs.items()):
            if v["eid"] == eid:
                return self.job_span(j)
        return self.span_at(self.log.executions[eid]["start"])

    def stages_of(self, layer: str) -> list:
        return [s for s, lay in self.stage_layer.items() if lay == layer]


UNATTRIBUTED = "trace.unattributed"


def self_times(att: Attribution, top_layer: str) -> dict:
    """Layer → seconds of the window [t0, t1], summing to the window."""
    log = att.log
    stage_iv = [
        (log.stages[s]["submit"], log.stages[s]["end"], att.stage_layer[s])
        for s in att.stage_job if log.stages[s]["end"] is not None
    ]
    exec_iv = [
        (x["start"], x["end"], att.execution_layer(eid), x["start"])
        for eid in att.eids
        for x in [log.executions.get(eid)] if x and x["end"] is not None
    ]
    points = {att.t0, att.t1}
    for iv in stage_iv + exec_iv:
        points.update(p for p in iv[:2] if att.t0 < p < att.t1)
    for _, s, e, _ in att.spans:
        points.update(p for p in (s, e) if att.t0 < p < att.t1)
    bounds = sorted(points)
    out: dict = defaultdict(float)
    for a, b in zip(bounds, bounds[1:]):
        mid, width = (a + b) / 2.0, (b - a) / 1000.0
        running = [lay for s, e, lay in stage_iv if s <= mid < e]
        if running:
            for lay in running:
                out[lay or UNATTRIBUTED] += width / len(running)
            continue
        open_x = [(st, lay) for s, e, lay, st in exec_iv if s <= mid < e]
        if open_x:
            out[max(open_x)[1] or UNATTRIBUTED] += width
            continue
        span = att.span_at(mid)
        out[UNATTRIBUTED if span in (None, top_layer) else span] += width
    return dict(out)


def busy_intervals(att: Attribution) -> list:
    """Merged [start, end] intervals during which any task ran."""
    ivs = sorted(
        (s, e) for sid in att.stage_job
        for s, e in att.log.stages[sid]["task_spans"]
        if s is not None and e is not None
    )
    merged: list = []
    for s, e in ivs:
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return merged


def skew(values: list) -> float:
    """max / median of the non-empty reduce partitions."""
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return max(vals) / statistics.median(vals)


# layers whose self time the traced run reports; "jobs" is Spark work the
# job function runs itself (read-backs, counts)
SELF_LAYERS = (
    "lineage.resume", "pipeline.extract", "pipeline.gates",
    "pipeline.salted_repartition", "pipeline.run_ocr", "pipeline.reassemble",
    "lineage.write", "lineage.write_metrics", "partitioning.fan_out",
    "operators.dedup.signatures", "operators.dedup.pairs",
    "operators.dedup.cc", "operators.sampling.pack", "jobs",
)


def _unique_nodes(att: Attribution) -> list:
    """Plan operators of the window's executions, each once: AQE re-posts
    the plan per stage, and a cached frame's plan shows up under every
    execution that reads it, always with the same metric accumulators."""
    seen, out = set(), []
    for n in att.log.plan_nodes(att.eids):
        key = min((a for a, _ in n.metrics.values()), default=None)
        if key is None or key in seen:
            continue
        seen.add(key)
        out.append(n)
    return out


def _consumer_layer(node: Node) -> str | None:
    p, hops = node.parent, 0
    while p is not None and hops < 4:
        layer = operator_layer(p.name, p.simple)
        if layer:
            return layer
        p, hops = p.parent, hops + 1
    return None


def layer_metrics(log: EventLogData, t0: float, t1: float, spans: list,
                  cores: int, input_dir: str) -> dict:
    """Every per-layer figure for one traced job call [t0, t1] (epoch ms).
    ``spans``: the tracer's (layer, start, end, depth) tuples, the call
    itself at depth 0 with layer ``jobs``."""
    att = Attribution(log, t0, t1, spans)
    wall = (t1 - t0) / 1000.0
    selfs = self_times(att, "jobs")
    nodes = _unique_nodes(att)
    m: dict = {f"{lay}.self_s": selfs.get(lay, 0.0) for lay in SELF_LAYERS}
    m["trace.unattributed_s"] = selfs.get(UNATTRIBUTED, 0.0)
    m["trace.coverage"] = 1.0 - m["trace.unattributed_s"] / wall if wall else 0.0

    def total(pred, metric):
        return sum(log.metric(n, metric) for n in nodes if pred(n))

    def call_s(layer):
        return sum((e - s) / 1000.0 for lay, s, e, _ in att.spans if lay == layer)

    def stage_sum(layer, key):
        return sum(log.stages[s][key] for s in att.stages_of(layer))

    def stage_wall(layer):
        return sum(
            (log.stages[s]["end"] - log.stages[s]["submit"]) / 1000.0
            for s in att.stages_of(layer)
        )

    def jobs_in(layer):
        return sum(1 for j in att.jobs if att.job_span(j) == layer)

    def is_input_scan(n):
        return n.name.startswith("Scan") and f"/{input_dir}" in n.simple

    def is_done_scan(n):
        return n.name.startswith("Scan") and "done_ids" in n.simple

    def is_exchange(n, layer):
        return n.name == "Exchange" and operator_layer(n.name, n.simple, True) == layer

    m["sources.scan_bytes"] = total(is_input_scan, "size of files read")
    m["sources.scan_s"] = total(is_input_scan, "scan time")

    m["lineage.resume.call_s"] = call_s("lineage.resume")
    m["lineage.resume.done_rows"] = max(
        (log.metric(n, "number of output rows") for n in nodes if is_done_scan(n)),
        default=0.0,
    )
    exchanges = 0
    for n in nodes:
        if "Join" in n.name and "LeftAnti" in n.simple:
            for side in n.children:
                sub = list(side.walk())
                if any(is_done_scan(x) for x in sub):
                    exchanges = max(exchanges, sum(x.name == "Exchange" for x in sub))
    m["lineage.resume.exchanges"] = float(exchanges)

    salted = lambda n: is_exchange(n, "pipeline.salted_repartition")  # noqa: E731
    m["pipeline.salted_repartition.shuffle_bytes"] = total(salted, "shuffle bytes written")
    m["pipeline.salted_repartition.records"] = total(salted, "shuffle records written")
    m["pipeline.salted_repartition.skew"] = skew(
        [b for s in att.stages_of("pipeline.run_ocr") for b in log.stages[s]["shuffle_read"]]
    )

    ocr = lambda n: n.name == "MapInPandas"  # noqa: E731
    m["pipeline.run_ocr.pages"] = total(ocr, "number of output rows")
    m["pipeline.run_ocr.stage_wall_s"] = stage_wall("pipeline.run_ocr")
    m["pipeline.run_ocr.python_run_s"] = total(ocr, "time to run Python workers")
    m["pipeline.run_ocr.python_init_s"] = stage_sum(
        "pipeline.run_ocr", "python_init_ms"
    ) / 1000.0
    m["pipeline.run_ocr.bytes_to_python"] = total(ocr, "data sent to Python workers")
    m["pipeline.run_ocr.bytes_from_python"] = total(ocr, "data returned from Python workers")

    reasm = lambda n: n.name == "Exchange" and _consumer_layer(n) == "pipeline.reassemble"  # noqa: E731
    m["pipeline.reassemble.shuffle_bytes"] = total(reasm, "shuffle bytes written")
    m["pipeline.reassemble.spill_bytes"] = stage_sum("pipeline.reassemble", "spill_disk")
    m["pipeline.reassemble.stage_wall_s"] = stage_wall("pipeline.reassemble")
    m["pipeline.reassemble.task_cpu_s"] = stage_sum("pipeline.reassemble", "cpu_ns") / 1e9

    writes = lambda n: write_layer(  # noqa: E731
        (_WRITE_RE.search(n.simple) or [None, None])[1]
    ) == "lineage.write"
    m["lineage.write.call_s"] = call_s("lineage.write")
    m["lineage.write.commit_s"] = total(writes, "job commit time")
    m["lineage.write.jobs"] = float(jobs_in("lineage.write"))
    m["lineage.write.files"] = total(writes, "number of written files")
    m["lineage.write.bytes"] = total(writes, "written output")

    fan = lambda n: is_exchange(n, "partitioning.fan_out")  # noqa: E731
    m["partitioning.fan_out.exchanges"] = float(sum(1 for n in nodes if fan(n)))
    m["partitioning.fan_out.shuffle_bytes"] = total(fan, "shuffle bytes written")

    sig_rdds = {
        rid for rid, (name, sid) in log.cached_rdds.items()
        if sid in att.stage_job and persisted_layer(name) == "operators.dedup.signatures"
    }
    m["operators.dedup.signatures.persisted_bytes"] = sum(
        size for bid, size in log.blocks.items()
        if bid.startswith("rdd_") and int(bid.split("_")[1]) in sig_rdds
    )
    cand = total(
        lambda n: "Join" in n.name and ("[band#" in n.simple or "[chunk#" in n.simple),
        "number of output rows",
    )
    verified = total(
        lambda n: "array_intersect(" in n.simple or "bit_count(" in n.simple,
        "number of output rows",
    )
    m["operators.dedup.pairs.candidates"] = cand
    m["operators.dedup.pairs.verified"] = verified
    m["operators.dedup.pairs.verify_yield"] = verified / cand if cand else 0.0
    m["operators.dedup.cc.call_s"] = call_s("operators.dedup.cc")
    # duplicate_clusters collects one edge signature up front and one per
    # large-star / small-star phase, two phases per round
    sig_execs = {
        v["eid"] for j, v in att.jobs.items()
        if att.job_span(j) == "operators.dedup.cc" and v["eid"] in log.executions
        and any("xxhash64(u#" in n.simple
                for n in log.executions[v["eid"]]["plans"][-1].walk())
    }
    m["operators.dedup.cc.rounds"] = max(0.0, (len(sig_execs) - 1) / 2.0)
    m["operators.dedup.cc.jobs"] = float(jobs_in("operators.dedup.cc"))

    busy = busy_intervals(att)
    busy_s = sum(
        max(0.0, min(e, t1) - max(s, t0)) for s, e in busy
    ) / 1000.0
    m["jobs.spark_jobs"] = float(len(att.jobs))
    m["jobs.stages"] = float(len(att.stage_job))
    m["jobs.tasks"] = float(sum(log.stages[s]["tasks"] for s in att.stage_job))
    m["jobs.executor_busy_share"] = (
        sum(log.stages[s]["run_ms"] for s in att.stage_job) / 1000.0 / (cores * wall)
        if wall else 0.0
    )
    m["jobs.driver_gap_s"] = wall - busy_s
    return m

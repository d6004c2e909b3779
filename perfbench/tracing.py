"""Spans around calls into the engine's layers, joined with Spark's own
stage metrics.

Each span sets the Spark job group, so every job a layer submits is
tagged with the span that caused it.  After an operation the tracer
reads the live UI's status REST API (jobs, stages, SQL executions and
cached RDDs) and folds the figures into per-span records.  Spans are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.parse
import urllib.request

PY_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")
NODE_RE = re.compile(r"^[\s:+|*-]*([A-Za-z]\w*)")
NUM_RE = re.compile(r"\s*\(\d+\)|, Statistics\(.*\)")


def _ui_base(spark):
    """The live UI's address, pinned to the loopback interface."""
    url = spark.sparkContext.uiWebUrl
    if not url:
        return None
    port = urllib.parse.urlparse(url).port
    return "http://127.0.0.1:%d/api/v1" % port


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def executed_nodes(plan_text):
    """Operators of one SQL execution, from its formatted physical plan:
    the tree only (not the per-node details after it) and the final
    plan of an adaptive one.  Returns (names, cached) where ``cached``
    maps each cached relation's subtree text to the operator names
    inside it."""
    lines = plan_text.splitlines()
    if "== Physical Plan ==" in lines:
        lines = lines[lines.index("== Physical Plan ==") + 1:]
    tree = []
    for ln in lines:
        if not ln.strip():
            break
        tree.append(ln)
    marks = [i for i, ln in enumerate(tree) if "== Final Plan ==" in ln]
    if marks:
        end = next((i for i, ln in enumerate(tree) if "== Initial Plan ==" in ln), len(tree))
        tree = tree[marks[0] + 1:end]
    names, cached, open_cache = [], {}, None
    for ln in tree:
        m = NODE_RE.match(ln)
        if not m:
            continue
        depth, name = m.start(1), m.group(1)
        if open_cache and depth > open_cache[0]:
            open_cache[1].append(NUM_RE.sub("", ln[depth:]))
            open_cache[2].append(name)
            continue
        if open_cache:
            cached["\n".join(open_cache[1])] = open_cache[2]
            open_cache = None
        names.append(name)
        if name == "InMemoryRelation":
            open_cache = (depth, [NUM_RE.sub("", ln[depth:])], [])
    if open_cache:
        cached["\n".join(open_cache[1])] = open_cache[2]
    return names, cached


class StatusReader:
    """Snapshot of the status store of the current SparkContext."""

    def __init__(self, spark):
        self.spark = spark
        self.base = _ui_base(spark)
        self.app = _get(self.base + "/applications")[0]["id"] if self.base else None

    def drain(self):
        """Wait until the listener bus has delivered every event, so the
        REST view covers all finished jobs."""
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(1.0)

    def _api(self, path):
        return _get("%s/applications/%s/%s" % (self.base, self.app, path))

    def jobs(self):
        return self._api("jobs")

    def stages(self):
        return self._api("stages?status=complete")

    def sql(self):
        return self._api("sql?details=false&planDescription=true&offset=0&length=100000")

    def storage_mb(self):
        rdds = self._api("storage/rdd")
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / 1e6


def group_metrics(reader, groups):
    """Stage metrics summed per job group.

    Returns {group: {jobs, tasks, run_s, cpu_s, wait_s, gc_s,
    shuffle_mb, spill_mb, py_nodes, reused_exchanges}}; a group with no
    jobs maps to zeros."""
    reader.drain()
    jobs = [j for j in reader.jobs() if j.get("jobGroup") in groups]
    stages = {}
    for s in reader.stages():
        stages.setdefault(s["stageId"], []).append(s)
    execs = reader.sql()
    out = {g: dict(jobs=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                   shuffle_mb=0.0, spill_mb=0.0, py_nodes=0,
                   reused_exchanges=0) for g in groups}
    job_group = {}
    for j in jobs:
        g = out[j["jobGroup"]]
        job_group[j["jobId"]] = j["jobGroup"]
        g["jobs"] += 1
        for sid in j.get("stageIds", []):
            for s in stages.get(sid, []):
                g["tasks"] += s.get("numCompleteTasks", 0)
                g["run_s"] += s.get("executorRunTime", 0) / 1e3
                g["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                g["gc_s"] += s.get("jvmGcTime", 0) / 1e3
                g["shuffle_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
                g["spill_mb"] += (
                    s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                ) / 1e6
    # a cached relation's operators ran in the first execution that
    # shows it (the one that filled the cache); later ones only read it
    seen = set()
    for e in sorted(execs, key=lambda e: e["id"]):
        ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
        owners = {job_group[i] for i in ids if i in job_group}
        if len(owners) != 1:
            continue
        names, cached = executed_nodes(e.get("planDescription", ""))
        for sig, inner in cached.items():
            if sig not in seen:
                seen.add(sig)
                names = names + inner
        g = out[owners.pop()]
        g["py_nodes"] += sum(n in PY_NODES for n in names)
        g["reused_exchanges"] += names.count("ReusedExchange")
    for g in out.values():
        g["wait_s"] = max(g["run_s"] - g["cpu_s"], 0.0)
    return out


class Tracer:
    """Records spans of one operation at a time.

    ``span(layer)`` opens a child of the operation's root span and tags
    every Spark job submitted inside it.  Nested calls into another
    layer while a span is open stay inside the open span."""

    def __init__(self):
        self.spans = []      # every span of the run, in start order
        self._stack = []
        self._op = None
        self._seq = 0

    @property
    def current(self):
        return self._stack[-1] if self._stack else None

    def _set_group(self, spark, span):
        sc = spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, spark, name):
        parent = self.current
        self._seq += 1
        s = dict(
            name=name, op=self._op, parent=parent["id"] if parent else None,
            id=self._seq, group="perfbench-%d-%d" % (self._op or 0, self._seq),
            start=time.perf_counter(), end=None,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(spark, s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(spark, self.current)

    @contextlib.contextmanager
    def operation(self, spark, op_id):
        self._op = op_id
        with self.span(spark, "op") as root:
            yield root

    def op_spans(self, op_id):
        return [s for s in self.spans if s["op"] == op_id]

    def attach_stage_metrics(self, spark, op_id, cores):
        """Fold Spark's stage metrics into each span of one operation
        and compute self times (duration minus the part of it that
        child spans cover)."""
        spans = self.op_spans(op_id)
        reader = StatusReader(spark)
        per_group = group_metrics(reader, {s["group"] for s in spans})
        for s in spans:
            s["wall_s"] = s["end"] - s["start"]
            s.update(per_group[s["group"]])
        for s in spans:
            kids = sorted(
                (c["start"], c["end"]) for c in spans if c["parent"] == s["id"]
            )
            covered, edge = 0.0, s["start"]
            for a, b in kids:
                a = max(a, edge)
                if b > a:
                    covered += b - a
                    edge = b
            s["self_s"] = s["wall_s"] - covered
        root = next(s for s in spans if s["parent"] is None)
        run_s = sum(s["run_s"] for s in spans)
        root["idle_core_s"] = cores * root["wall_s"] - run_s
        return spans

    def dump(self, path, extra=None):
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = []
        for s in self.spans:
            r = dict(s)
            r["start"] = round(s["start"] - t0, 6)
            r["end"] = round((s["end"] or s["start"]) - t0, 6)
            rows.append(r)
        with open(path, "w") as f:
            json.dump(dict(spans=rows, **(extra or {})), f, indent=1, default=str)

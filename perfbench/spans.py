"""Spans recorded from outside the program, and the per-layer numbers
read back from Spark's status stores.

A span is opened around a call into one layer of the engine (either by
the workload code or by a wrapper this module installs on a module
attribute for the traced run).  Each span sets its own Spark job group,
so every job the call launches is attributed to it.  Spans are kept in
memory; ``harvest`` reads jobs, stages, tasks, shuffle, spill and the
SQL metrics of Python nodes from the JVM status stores once the timed
phase is over (they work with ``spark.ui.enabled=false``).

When one Spark job covers several layers (scoring, ranking and
hydration inside one collect), its stages are split between the layers
by the plan operators each stage runs; see ``query_stage_layer`` and
``write_stage_layer``.  Nothing is re-materialized to measure a layer.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

GENERIC = ("wall_s", "self_s", "driver_s", "calls", "jobs", "tasks",
           "busy_s", "wait_s", "shuffle_bytes", "spill_bytes")
# layer-specific counters a span may carry (set by the workload code or
# by a patch's ``after`` hook)
COUNTERS = ("bytes_written", "bytes_rewritten", "cached_bytes",
            "checkpoint_bytes", "delta_segments")

# build layers materialized inside the persist write of each table
WRITE_BUILD_LAYER = {"postings_raw": "build.tokenize",
                     "terms": "build.term_stats",
                     "postings": "build.weighting",
                     "docs": "build.doc_table"}
PERSIST_TABLES = ("postings_raw", "terms", "postings", "blocks", "term_max",
                  "champions", "docs", "lineage")

_RANK_OPS = ("Window", "WindowGroupLimit", "TakeOrderedAndProject")
_PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
             "FlatMapGroupsInPandas", "BatchEvalPython")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def query_stage_layer(stage: dict) -> str:
    """Layer of one stage of a ranking collect: stages running a ranking
    window or top-k are ranking; the rest (postings scan, score join
    and aggregation, broadcasts of the query terms) are scoring."""
    if any(op in stage["ops"] for op in _RANK_OPS):
        return "query.rank"
    return "query.score"


def write_stage_layer(table: str, stage: dict) -> str:
    """Layer of one stage of a persist write: shuffle-writing stages and
    the tokenizer pass compute the build layer the table holds; the
    final write stage is the persist layer."""
    build = WRITE_BUILD_LAYER.get(table)
    if build and (stage["shuffle_write"] > 0 or "MapInArrow" in stage["ops"]):
        return build
    return f"persist.{table}"


class Tracer:
    """In-memory span recorder.  Disabled tracers cost one branch per
    span and never touch Spark."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        # parent for spans opened on another thread (the socket server's
        # handler thread) while a client-side request span is open
        self.remote_parent: dict | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        stack = self._stack()
        parent = stack[-1] if stack else self.remote_parent
        with self._lock:
            self._ids += 1
            sid = self._ids
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "request": (parent or {}).get("request"),
               "group": f"perfbench-{sid}", "start": time.time(), **attrs}
        sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            if stack:
                sc.setJobGroup(stack[-1]["group"], stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t1

    def patch(self, module, attr: str, layer: str, before=None, after=None,
              **attrs) -> None:
        """Replace ``module.attr`` with a wrapper that runs the call in a
        ``layer`` span.  ``before(args, kwargs)`` returns a state that
        ``after(state, result, span)`` turns into span counters."""
        if not self.enabled:
            return
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(layer, **attrs) as rec:
                state = before(args, kwargs) if before else None
                out = orig(*args, **kwargs)
                if after:
                    after(state, out, rec)
                return out

        self.replace(module, attr, wrapper)

    def replace(self, obj, attr: str, new) -> None:
        """Set ``obj.attr = new`` until ``unpatch``."""
        self._patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    # ---- read-back -----------------------------------------------------

    def harvest(self) -> None:
        """Attach jobs and stages (and Python-node SQL metrics) to every
        recorded span."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        owner = {}
        for rec in self.spans:
            rec["jobs"] = []
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                owner[int(jid)] = rec
        # a stage that ran in one job is listed again (skipped) by later
        # jobs reusing its shuffle output: count it once, in the first
        seen: set[int] = set()
        for jid in sorted(owner):
            owner[jid]["jobs"].append(_job(store, jid, seen))
        _attach_sql_metrics(self.spark, self.spans)


def _date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _job(store, jid: int, seen: set) -> dict:
    jd = store.job(jid)
    stages = []
    it = jd.stageIds().iterator()
    while it.hasNext():
        sid = int(it.next())
        if sid in seen:
            continue
        st = _stage(store, sid)
        if st is not None:
            seen.add(sid)
            stages.append(st)
    return {"id": jid, "submitted": _date_s(jd.submissionTime()),
            "completed": _date_s(jd.completionTime()),
            "stages": sorted(stages, key=lambda s: s["id"])}


def _stage(store, sid: int) -> dict | None:
    sd = store.lastStageAttempt(sid)
    if sd.status().toString() == "SKIPPED":
        return None
    ops: list[str] = []

    def walk(c):
        ops.append(str(c.name()))
        ci = c.childClusters().iterator()
        while ci.hasNext():
            walk(ci.next())
    walk(store.operationGraphForStage(sid).rootCluster())
    sub, first = _date_s(sd.submissionTime()), _date_s(sd.firstTaskLaunchedTime())
    done = _date_s(sd.completionTime())
    return {"id": sid, "ops": ops, "tasks": int(sd.numTasks()),
            "busy_s": sd.executorRunTime() / 1000.0,
            "wait_s": max(0.0, (first or sub or 0) - (sub or 0)),
            "wall_s": max(0.0, (done or sub or 0) - (sub or 0)),
            "shuffle_read": int(sd.shuffleReadBytes()),
            "shuffle_write": int(sd.shuffleWriteBytes()),
            "spill": int(sd.memoryBytesSpilled() + sd.diskBytesSpilled())}


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}


def _metric_value(text: str) -> float:
    """Parse a formatted SQL metric ("1,234", or a size metric whose
    second line starts with the total, "12.3 MiB (...)")."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1)


def _attach_sql_metrics(spark, spans: list[dict]) -> None:
    """Sum Python-node metrics (bytes to and from the Python workers,
    rows returned) and parquet files read over the SQL executions whose
    jobs belong to each span."""
    job_span = {j["id"]: rec for rec in spans for j in rec.get("jobs", ())}
    for rec in spans:
        rec.setdefault("sql", {})
    sqls = spark._jsparkSession.sharedState().statusStore()
    execs = sqls.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        owners = set()
        jit = ex.jobs().keysIterator()
        while jit.hasNext():
            rec = job_span.get(int(jit.next()))
            if rec is not None:
                owners.add(rec["id"])
        if len(owners) != 1:
            continue
        rec = next(r for r in spans if r["id"] in owners)
        values = sqls.executionMetrics(ex.executionId())
        nodes = sqls.planGraph(ex.executionId()).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            name = str(node.name())
            if name in _PY_NODES:
                keys = {"data sent to Python workers": "py_bytes_in",
                        "data returned from Python workers": "py_bytes_out",
                        "number of output rows": "py_rows_out"}
            elif name.startswith("Scan parquet"):
                keys = {"number of files read": "files_scanned"}
            else:
                continue
            ms = node.metrics()
            for m in range(ms.size()):
                pm = ms.apply(m)
                key = keys.get(str(pm.name()))
                if key is None:
                    continue
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    sql = rec["sql"]
                    sql[key] = sql.get(key, 0.0) + _metric_value(str(v.get()))


# ---- per-layer aggregation ------------------------------------------------

def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_table(spans: list[dict], split) -> dict[str, dict]:
    """Aggregate spans into per-layer records.  ``split(span, job,
    stage)`` names the layer a stage of that span belongs to (the
    span's own layer when it is not split)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    layers: dict[str, dict] = {}

    def rec_of(name: str) -> dict:
        return layers.setdefault(name, {k: 0.0 for k in GENERIC})

    for s in spans:
        wall = s["end"] - s["start"]
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], ())]
        self_s = max(0.0, wall - _union(kids))
        own = [(max(j["submitted"] or s["start"], s["start"]),
                min(j["completed"] or s["end"], s["end"]))
               for j in s.get("jobs", ())]
        r = rec_of(s["name"])
        r["calls"] += 1
        r["wall_s"] += wall
        r["self_s"] += self_s
        r["driver_s"] += max(0.0, self_s - _union(own))
        r["jobs"] += len(s.get("jobs", ()))
        for key in COUNTERS:
            if key in s:
                r[key] = r.get(key, 0.0) + float(s[key])
        seen_jobs: dict[str, set] = {}
        for j in s.get("jobs", ()):
            for st in j["stages"]:
                lname = split(s, j, st)
                lr = rec_of(lname)
                if lname != s["name"]:
                    lr["wall_s"] += st["wall_s"]
                    lr["self_s"] += st["wall_s"]
                    if j["id"] not in seen_jobs.setdefault(lname, set()):
                        seen_jobs[lname].add(j["id"])
                        lr["jobs"] += 1
                lr["tasks"] += st["tasks"]
                lr["busy_s"] += st["busy_s"]
                lr["wait_s"] += st["wait_s"]
                lr["shuffle_bytes"] += st["shuffle_read"] + st["shuffle_write"]
                lr["spill_bytes"] += st["spill"]
        for key, v in s.get("sql", {}).items():
            target = s.get("py_layer", s["name"]) if key.startswith("py_") \
                else s["name"]
            tr = rec_of(target)
            tr[key] = tr.get(key, 0.0) + v
    for name, r in layers.items():
        for k in GENERIC:
            if k.endswith("_s"):
                r[k] = round(r[k], 6)
    return layers

"""Spans and Spark counters for the traced run.

The benchmark wraps named public functions of the engine's layers. Each
wrapper records a span (name, start, end, parent, op) and points the
Spark job group at that span, so every job the call triggers is
attributed to it. After each op, outside its timed window, the tracer
waits for the listener bus to drain and reads job, stage, storage and
SQL-execution data from ``statusTracker()`` and the UI REST API.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

PKG = "data_engineer_project_spark"

# (module, function, layer). The layer names are the package's modules.
WRAPPED = (
    ("fixtures", "dataframes", "fixtures"),
    ("sources.registry", "read_table", "sources"),
    ("plans.star", "build_star", "plans"),
    ("plans.star", "write_star", "plans"),
    ("plans.snowflake", "build_snowflake", "plans"),
    ("operators.cache", "tracked_persist", "cache"),
    ("operators.graph", "connected_components", "graph"),
    ("operators.graph", "connected_components_from_edges", "graph"),
    ("operators.dedup", "skew_guarded_self_pairs", "dedup"),
    ("operators.dedup", "band_candidates", "dedup"),
    ("operators.dedup", "exact_jaccard", "dedup"),
    ("operators.dedup", "shingle_table", "dedup"),
    ("operators.dedup", "exploded_shingles", "dedup"),
    ("operators.dedup", "minhash_signatures", "dedup"),
    ("operators.dedup", "minhash_lsh_pairs", "dedup"),
    ("operators.dedup", "minhash_lsh_pairs_from_shingles", "dedup"),
    ("operators.similarity", "banded_lsh_sigs", "similarity"),
    ("operators.similarity", "lsh_topk", "similarity"),
)

# Physical operators that run Python workers (Arrow or pickled batches).
_PYTHON_NODE = re.compile(r"Pandas|Arrow|Python")
# Spark names a cached DataFrame's RDD after its plan; an RDD nobody
# named shows its class name. Here those are operators.graph's local
# checkpoints, which the ContextCleaner frees only when the driver JVM
# garbage-collects them, so their bytes at an op's end vary from pass
# to pass. storage_bytes leaves them out.
_UNNAMED_RDD = re.compile(r"^[A-Za-z]+RDD$")


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    extra: dict = field(default_factory=dict)


def _rest_time(s: str | None) -> float | None:
    # e.g. "2026-10-17T04:21:07.123GMT"
    if not s:
        return None
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def walk_plan(jplan) -> dict:
    """Count physical nodes, exchanges and reused exchanges of an
    executed plan, looking through adaptive wrappers and query stages."""
    nodes = exchanges = reused = 0
    stack = [jplan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        nodes += 1
        if cls.startswith("ReusedExchange"):
            reused += 1
            continue
        if "Exchange" in cls:
            exchanges += 1
        children = p.children()
        stack.extend(children.apply(i) for i in range(children.size()))
        subqueries = p.subqueries()
        stack.extend(subqueries.apply(i) for i in range(subqueries.size()))
    return {"plan_nodes": nodes, "exchanges": exchanges, "reused_exchanges": reused}


class Tracer:
    """Records spans around wrapped layer calls and per-op Spark counters."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = -1
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self._api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    # ---- spans -------------------------------------------------------

    def _open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(len(self.spans), name, layer, self._op, parent, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{span.sid}")
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        group = f"pb{self._stack[-1].sid}" if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def begin_op(self, op_index: int, name: str) -> Span:
        self._op = op_index
        return self._open(name, "op")

    def end_op(self, span: Span) -> None:
        self._close(span)

    def install(self) -> None:
        """Replace each WRAPPED function, in its module and in every
        package module that imported it by name."""
        mods = [m for n, m in list(sys.modules.items()) if n == PKG or n.startswith(PKG + ".")]
        for mod_name, fn_name, layer in WRAPPED:
            mod = sys.modules.get(f"{PKG}.{mod_name}")
            if mod is None:
                raise RuntimeError(f"layer module {PKG}.{mod_name} is not imported")
            orig = getattr(mod, fn_name)
            wrapper = self._wrap(orig, f"{layer}.{fn_name}", layer)
            for m in mods:
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapper)

    def _wrap(self, orig, name: str, layer: str):
        graph_stats = sys.modules[f"{PKG}.operators.graph"].LAST_RUN_STATS

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = self._open(name, layer)
            try:
                return orig(*args, **kwargs)
            finally:
                if layer == "graph":
                    span.extra["rounds"] = graph_stats.get("rounds", 0)
                self._close(span)

        return wrapper

    # ---- counters ----------------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.loads(r.read())

    def _drain(self) -> None:
        bus = self.sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty()

    def collect_op(self, op_index: int) -> dict:
        """Jobs, stages and SQL metrics of one finished op, by span."""
        self._drain()
        op_spans = [s for s in self.spans if s.op == op_index]
        tracker = self.sc.statusTracker()
        job_span: dict[int, int] = {}
        for s in op_spans:
            for jid in tracker.getJobIdsForGroup(f"pb{s.sid}"):
                job_span[int(jid)] = s.sid
        jobs = {j["jobId"]: j for j in self._get("/jobs") if j["jobId"] in job_span}
        stage_ids = {sid for j in jobs.values() for sid in j["stageIds"]}
        stages = [
            st
            for st in self._get("/stages")
            if st["stageId"] in stage_ids and st["status"] != "SKIPPED"
        ]
        # A stage reused by a later job shows there as skipped; it belongs
        # to the first job that listed it.
        stage_job: dict[int, int] = {}
        for jid in sorted(jobs):
            for sid in jobs[jid]["stageIds"]:
                stage_job.setdefault(sid, jid)
        storage = self._get("/storage/rdd")
        python_rows = python_bytes = 0
        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ids & set(jobs):
                continue
            for node in ex.get("nodes", []):
                if not _PYTHON_NODE.search(node.get("nodeName", "")):
                    continue
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        python_bytes += _size_bytes(m["value"])
                    elif m["name"] == "number of output rows":
                        python_rows += _first_int(m["value"])
        per_job = {}
        for jid, j in jobs.items():
            t0, t1 = _rest_time(j.get("submissionTime")), _rest_time(j.get("completionTime"))
            per_job[jid] = {
                "span": job_span[jid],
                "interval": (t0, t1) if t0 and t1 else None,
                "stages": 0,
                "tasks": 0,
                "failed_tasks": 0,
                "executor_run_s": 0.0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "input_rows": 0,
                "input_bytes": 0,
            }
        for st in stages:
            pj = per_job[stage_job[st["stageId"]]]
            pj["stages"] += 1
            pj["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            pj["failed_tasks"] += st["numFailedTasks"]
            pj["executor_run_s"] += st["executorRunTime"] / 1000.0
            pj["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            pj["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            pj["input_rows"] += st["inputRecords"]
            pj["input_bytes"] += st["inputBytes"]
        return {
            "jobs": per_job,
            "storage_bytes": sum(
                r["memoryUsed"] + r["diskUsed"] for r in storage if not _UNNAMED_RDD.match(r["name"])
            ),
            "python_rows": python_rows,
            "python_bytes": python_bytes,
        }


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size_bytes(value: str) -> int:
    # "total (min, med, max ...)\n12.3 KiB (1.0 KiB, ...)" or "12.3 KiB"
    line = value.strip().splitlines()[-1]
    m = re.match(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)", line)
    return int(float(m.group(1)) * _UNITS[m.group(2)]) if m else 0


def _first_int(value: str) -> int:
    line = value.strip().splitlines()[-1].replace(",", "")
    m = re.match(r"(\d+)", line)
    return int(m.group(1)) if m else 0

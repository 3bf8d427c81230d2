"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources, none of which changes what the program computes:

- spans: thin wrappers around the package's public functions record start
  and end in memory and tag the Spark jobs they issue with
  ``setJobDescription("<workload>:<layer>:<call>")``. They pass arguments
  through untouched and never materialize a frame;
- the Spark event log (uncompressed JSON lines), parsed per job, stage,
  task and SQL-plan node into the ``spark.*``, ``opslog.*``, ``cdc.*``,
  ``stream.*`` and ``plans.*`` numbers;
- :class:`CountingFactory`, a proxy around the DBAPI connection factory the
  sink receives; executor-side counts and times come back through a Spark
  accumulator.
"""

from __future__ import annotations

import glob
import json
import math
import re
import sqlite3
import statistics
import time
from collections import defaultdict

from pyspark.accumulators import AccumulatorParam

SINK_KEYS = ("rows_upserted", "rows_patched", "rows_deleted", "txns", "statements",
             "execute_s", "commit_s", "replay_skips")


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------
class Tracer:
    def __init__(self, spark, workload: str, sink_acc=None) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.sink_acc = sink_acc  # sink counts are snapshotted at span edges
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple] = []

    def span(self, layer: str, call: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span; its jobs carry the span's tag."""
        tag = f"{self.workload}:{layer}:{call}"
        prev = self.sc.getLocalProperty("spark.job.description")
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "parent": parent, "layer": layer, "call": call, "tag": tag,
               "start": time.time(), "end": None}
        if self.sink_acc is not None:
            rec["sink_start"] = dict(self.sink_acc.value)
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(tag)
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.time()
            if self.sink_acc is not None:
                rec["sink_end"] = dict(self.sink_acc.value)
            self._stack.pop()
            self.sc.setJobDescription(prev)

    def wrap(self, modules, name: str, layer: str) -> None:
        """Replace ``name`` in every module that binds it with a span wrapper."""
        orig = None
        for m in modules:
            if hasattr(m, name):
                orig = getattr(m, name)
                break
        if orig is None:
            raise AttributeError(name)

        def wrapper(*args, **kwargs):
            return self.span(layer, name, orig, *args, **kwargs)

        for m in modules:
            if getattr(m, name, None) is orig:
                self._restore.append((m, name, orig))
                setattr(m, name, wrapper)

    def wrap_method(self, cls, name: str, layer: str) -> None:
        orig = getattr(cls, name)
        tracer = self

        def wrapper(obj, *args, **kwargs):
            return tracer.span(layer, name, orig, obj, *args, **kwargs)

        self._restore.append((cls, name, orig))
        setattr(cls, name, wrapper)

    def restore(self) -> None:
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)
        self._restore.clear()

    def _closed(self, layer: str, call: str | None):
        return [s for s in self.spans if s["layer"] == layer and s["end"] is not None
                and (call is None or s["call"] == call)]

    def total(self, layer: str, call: str | None = None) -> float:
        """Summed duration of the spans of ``layer`` (and ``call``)."""
        return sum(s["end"] - s["start"] for s in self._closed(layer, call))

    def sink_delta(self, layer: str, call: str, key: str) -> float:
        """Sink count ``key`` accrued inside the spans of ``layer``/``call``."""
        return sum(s["sink_end"].get(key, 0) - s["sink_start"].get(key, 0)
                   for s in self._closed(layer, call))


# --------------------------------------------------------------------------
# sink proxy
# --------------------------------------------------------------------------
class DictSum(AccumulatorParam):
    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a


_VERB = re.compile(r"^\s*(INSERT|UPDATE|DELETE|SELECT)\b", re.I)


class _Cursor:
    def __init__(self, cur, counts) -> None:
        self._cur = cur
        self._counts = counts

    def _count(self, sql: str, rows: int, dt: float) -> None:
        c = self._counts
        c["statements"] = c.get("statements", 0) + 1
        c["execute_s"] = c.get("execute_s", 0.0) + dt
        verb = (_VERB.match(sql) or [None, ""])[1].upper()
        if "momyre_progress" in sql:
            if verb == "SELECT":
                c["_progress_read"] = 1
            return
        key = {"INSERT": "rows_upserted", "UPDATE": "rows_patched",
               "DELETE": "rows_deleted"}.get(verb)
        if key:
            c[key] = c.get(key, 0) + rows

    def execute(self, sql, params=()):
        t = time.perf_counter()
        out = self._cur.execute(sql, params)
        self._count(sql, 1, time.perf_counter() - t)
        return out

    def executemany(self, sql, seq):
        seq = list(seq)
        t = time.perf_counter()
        out = self._cur.executemany(sql, seq)
        self._count(sql, len(seq), time.perf_counter() - t)
        return out

    def __getattr__(self, name):
        return getattr(self._cur, name)


class _Conn:
    def __init__(self, conn, acc) -> None:
        self._conn = conn
        self._acc = acc
        self._counts: dict = {}
        self._ended = False

    def cursor(self):
        return _Cursor(self._conn.cursor(), self._counts)

    def execute(self, sql, params=()):
        return self.cursor().execute(sql, params)

    def commit(self):
        t = time.perf_counter()
        self._conn.commit()
        self._counts["commit_s"] = self._counts.get("commit_s", 0.0) + time.perf_counter() - t
        self._counts["txns"] = self._counts.get("txns", 0) + 1
        self._ended = True

    def rollback(self):
        self._conn.rollback()
        self._ended = True

    def close(self):
        c = self._counts
        # a connection that read its replay marker and ended without a
        # commit or rollback skipped an already-applied partition
        if c.pop("_progress_read", 0) and not self._ended:
            c["replay_skips"] = c.get("replay_skips", 0) + 1
        self._conn.close()
        if c:
            self._acc.add(dict(c))
        c.clear()

    def __getattr__(self, name):
        return getattr(self._conn, name)


class CountingFactory:
    """Picklable connection factory that counts sink work per connection."""

    def __init__(self, path: str, acc) -> None:
        self.path = path
        self.acc = acc

    def __call__(self):
        return _Conn(sqlite3.connect(self.path, timeout=60), self.acc)


def sink_counts(acc) -> dict:
    v = acc.value
    return {k: v.get(k, 0) for k in SINK_KEYS}


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------
def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class EventLog:
    """Jobs, stages, tasks, SQL-plan metrics and stream progress of one
    application's event log."""

    def __init__(self, log_dir: str) -> None:
        files = sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)) or \
            sorted(p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress"))
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = defaultdict(lambda: {
            "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write": 0,
            "spill": 0, "accs": set()})
        self.acc_total: dict[int, float] = defaultdict(float)
        # acc id -> (node, node>input, metric, type)
        self.plan_metrics: dict[int, tuple[str, str, str, str]] = {}
        self.progress: list[dict] = []
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _plan(self, node: dict) -> None:
        name = node["nodeName"]
        child = node
        while child.get("children") and child["children"][0]["nodeName"] in (
                "InputAdapter", "WholeStageCodegen"):
            child = child["children"][0]
        if child.get("children"):
            # "Filter>MapInPandas": a node named together with its input
            name_in = f"{name}>{child['children'][0]['nodeName']}"
        else:
            name_in = name
        for m in node.get("metrics", []):
            self.plan_metrics[m["accumulatorId"]] = (name, name_in, m["name"], m["metricType"])
        for ch in node.get("children", []):
            self._plan(ch)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "desc": props.get("spark.job.description") or "",
                # batch ids restart with every new query: key by both
                "batch": (props.get("sql.streaming.queryId"), props.get("streaming.sql.batchId"))
                if props.get("streaming.sql.batchId") is not None else None,
                "start": e["Submission Time"] / 1000, "end": None,
                "stages": e["Stage IDs"]}
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            st = self.stages[e["Stage ID"]]
            m = e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["run_s"] += m.get("Executor Run Time", 0) / 1000
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                st["accs"].add(a["ID"])
                upd = a.get("Update")
                if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                    self.acc_total[a["ID"]] += float(upd)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("QueryProgressEvent"):
            self.progress.append(e["progress"])

    # -- selections --------------------------------------------------------
    def jobs_where(self, pred) -> list[dict]:
        return [j for j in self.jobs.values() if j["end"] is not None and pred(j)]

    def stages_of(self, jobs) -> list[dict]:
        ids = {s for j in jobs for s in j["stages"]}
        return [self.stages[s] for s in ids if s in self.stages and self.stages[s]["tasks"]]

    def node_metric(self, node: str, metric: str, stages: list[dict]) -> float:
        """Sum of one SQL metric over the plan nodes of that name (or
        ``"Node>Input"`` name) that ran in ``stages``; timing metrics are
        returned in seconds."""
        ran = set().union(*(s["accs"] for s in stages))
        total = 0.0
        for acc, (n, n_in, m, typ) in self.plan_metrics.items():
            if node in (n, n_in) and m == metric and acc in ran:
                v = self.acc_total.get(acc, 0.0)
                total += v / 1e9 if typ == "nsTiming" else v / 1000 if typ == "timing" else v
        return total

    def executor(self, wall_s: float, cores: int) -> dict:
        jobs = self.jobs_where(lambda j: True)
        st = self.stages_of(jobs)
        run = sum(s["run_s"] for s in st)
        return {
            "spark.jobs": len(jobs),
            "spark.tasks": sum(s["tasks"] for s in st),
            "spark.task_run_s": run,
            "spark.task_cpu_s": sum(s["cpu_s"] for s in st),
            "spark.gc_s": sum(s["gc_s"] for s in st),
            "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
            "spark.spill_bytes": sum(s["spill"] for s in st),
            "spark.core_busy": run / (wall_s * cores) if wall_s > 0 else 0.0,
            "spark.outside_jobs_s": max(0.0, wall_s - _union_s(
                (j["start"], j["end"]) for j in jobs)),
        }

    def stream(self, n_tables: int) -> dict:
        for p in self.progress:
            p["numInputRows"] = sum(s.get("numInputRows", 0) for s in p.get("sources", []))
        prog = [p for p in self.progress if p["numInputRows"] > 0]
        jobs = self.jobs_where(lambda j: j["batch"] is not None)
        st = self.stages_of(jobs)
        by_batch: dict[tuple, list] = defaultdict(list)
        for j in jobs:
            by_batch[j["batch"]].append(j)
        n = max(1, len(prog))
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in prog]
        add = [p["durationMs"].get("addBatch", 0) / 1000 for p in prog]
        driver = 0.0
        for p in prog:
            bj = by_batch.get((p["id"], str(p["batchId"])), [])
            in_jobs = _union_s((j["start"], j["end"]) for j in bj)
            driver += max(0.0, p["durationMs"].get("addBatch", 0) / 1000 - in_jobs)
        # stages whose tasks ran the decoder (updated a MapInPandas metric);
        # the first of them per batch also runs the first table's partial
        # aggregate, as the decoded batch is cached inside that stage
        mip = {a for a, meta in self.plan_metrics.items() if meta[0] == "MapInPandas"}
        decode = [s for s in st if s["accs"] & mip]
        # map side of each run of the per-key merge aggregate
        agg_map = [s for s in st if s["shuffle_write"] > 0]
        return {
            "stream.batches": len(prog),
            "stream.entries_per_batch_p50": statistics.median(
                [p["numInputRows"] for p in prog]) if prog else 0,
            "stream.batch_s_p50": statistics.median(trig) if trig else 0.0,
            "stream.batch_s_p90": quantile(trig, 0.9) if trig else 0.0,
            "stream.jobs_per_batch": len(jobs) / n,
            "stream.stages_per_batch": sum(len(j["stages"]) for j in jobs) / n,
            "stream.addbatch_s": sum(add),
            "stream.overhead_s": sum(trig) - sum(add),
            "stream.driver_s": driver,
            "opslog.entries_in": sum(p["numInputRows"] for p in prog),
            "opslog.ops_out": self.node_metric("MapInPandas", "number of output rows", st),
            "opslog.python_s": self.node_metric("MapInPandas", "time to run Python workers",
                                                st),
            "opslog.task_s": sum(s["run_s"] for s in decode),
            "cdc.ops_in": self.node_metric("Filter>MapInPandas", "number of output rows", st),
            "cdc.agg_runs_per_table_batch": len(agg_map) / (n * n_tables),
            "cdc.shuffle_bytes": sum(s["shuffle_write"] for s in agg_map),
            "cdc.task_s": sum(s["run_s"] for s in agg_map),
        }

    def tagged(self, tag: str) -> dict:
        """Jobs and driver-only time of the spans carrying ``tag``."""
        jobs = self.jobs_where(lambda j: j["desc"] == tag)
        return {"jobs": len(jobs),
                "job_s": _union_s((j["start"], j["end"]) for j in jobs)}


def quantile(values, q: float) -> float:
    """Nearest-rank quantile of ``values``."""
    v = sorted(values)
    return v[min(len(v), max(1, math.ceil(q * len(v)))) - 1]

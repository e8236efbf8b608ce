"""Reading Spark's own statistics from Python: SQL metrics on an executed
plan, job counts per job group, and streaming progress via a listener."""

from __future__ import annotations

import datetime as dt
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: plan nodes that wrap the subtree actually run
_STAGE_WRAPPERS = (
    "ShuffleQueryStageExec",
    "BroadcastQueryStageExec",
    "TableCacheQueryStageExec",
    "ResultQueryStageExec",
)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def plan_metrics(jplan) -> dict:
    """Sums of the SQL metrics of an executed physical plan, walking through
    adaptive plans and query stages. Returns operator-level totals:
    exchanges, shuffle/broadcast/spill/file bytes and peak memory."""
    out = {
        "exchanges": 0,
        "shuffle_bytes": 0,
        "broadcast_bytes": 0,
        "spill_bytes": 0,
        "peak_mem_bytes": 0,
        "files_read_bytes": 0,
        "python_bytes_sent": 0,
    }
    todo = [jplan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.finalPhysicalPlan())
            continue
        if cls in _STAGE_WRAPPERS:
            todo.append(node.plan())
            continue
        if cls == "InMemoryTableScanExec":
            # a cached relation's own plan ran once, when it was filled
            todo.append(node.relation().cachedPlan())
        metrics = {kv._1(): kv._2().value() for kv in _scala_iter(node.metrics())}
        if cls == "ShuffleExchangeExec":
            out["exchanges"] += 1
            out["shuffle_bytes"] += metrics.get("shuffleBytesWritten", 0)
        elif cls == "BroadcastExchangeExec":
            out["exchanges"] += 1
            out["broadcast_bytes"] += metrics.get("dataSize", 0)
        out["spill_bytes"] += metrics.get("spillSize", 0)
        out["peak_mem_bytes"] = max(out["peak_mem_bytes"], metrics.get("peakMemory", 0))
        out["files_read_bytes"] += metrics.get("filesSize", 0)
        out["python_bytes_sent"] += metrics.get("pythonDataSent", 0)
        todo.extend(_scala_iter(node.children()))
    return out


class JobCounter:
    """Tags every job started inside ``with counter.group(name)`` and counts
    them afterwards from the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    def group(self, name: str):
        self._n += 1
        return _Group(self.sc, f"perfbench-{self._n}-{name}")


class _Group:
    def __init__(self, sc, gid: str):
        self.sc, self.gid = sc, gid

    def __enter__(self) -> "_Group":
        self.sc.setJobGroup(self.gid, self.gid)
        return self

    def __exit__(self, *exc) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @property
    def jobs(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.gid))


def planned(df):
    """Force the executed plan: analysis, Catalyst optimization and
    physical planning. Returns the JVM plan."""
    return df._jdf.queryExecution().executedPlan()


def run_planned(df, collect: bool = False):
    """Run the plan ``planned`` built, to completion: the collected rows
    with ``collect``, else only the row count crosses to the driver."""
    return df.collect() if collect else df._jdf.queryExecution().toRdd().count()


def timed_execute(df, collect: bool = False) -> tuple[float, float, object, dict]:
    """(optimize seconds, execute seconds, result, plan metrics)."""
    t0 = time.perf_counter()
    plan = planned(df)
    t1 = time.perf_counter()
    result = run_planned(df, collect)
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, result, plan_metrics(plan)


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Keeps one record per (query id, batch id) of every progress event."""

    def __init__(self):
        self.batches: dict[tuple[str, int], dict] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        dur = dict(p.durationMs or {})
        ops = list(p.stateOperators or [])
        rec = {
            "query": str(p.id),
            "batch": p.batchId,
            "run": str(p.runId),
            "rows": p.numInputRows,
            "start": _epoch(p.timestamp),
            "commit": _epoch(p.timestamp) + dur.get("triggerExecution", 0) / 1000.0,
            "dur_ms": dur,
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_mem": sum(o.memoryUsedBytes for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "dropped": sum(o.numRowsDroppedByWatermark for o in ops),
        }
        with self._lock:
            self.batches[(rec["query"], rec["batch"])] = rec

    def records(self, query_id: str) -> list[dict]:
        with self._lock:
            rs = [r for (q, _), r in self.batches.items() if q == query_id]
        return sorted(rs, key=lambda r: r["batch"])

    def committed_rows(self, query_id: str) -> int:
        return sum(r["rows"] for r in self.records(query_id))


def is_subplan(part, whole) -> bool:
    """Whether ``part``'s analyzed plan is a subtree of ``whole``'s."""
    target = part._jdf.queryExecution().analyzed()
    h = target.semanticHash()
    todo = [whole._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.semanticHash() == h and node.sameResult(target):
            return True
        todo.extend(_scala_iter(node.children()))
    return False

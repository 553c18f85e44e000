"""Tracing and measurement helpers: in-memory spans around calls into
the engine's modules, Spark event-log summaries per op, and process,
file and shuffle counters read from outside the engine.

Spans are recorded only from the benchmark's own files: a traced run
rebinds module attributes to timing wrappers (:meth:`Tracer.wrap`) and
restores them afterwards. Nothing here changes what the engine computes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time


# --- process and file counters ---------------------------------------------


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (``VmHWM``) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def reset_peak_rss() -> None:
    """Restart this process's ``VmHWM`` from its current resident size,
    so memory used before (building inputs) is not counted."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def file_state(dirs) -> dict:
    """path -> (inode, mtime_ns, size) for every file under ``dirs``."""
    state = {}
    for d in dirs:
        for root, _, files in os.walk(d):
            for name in files:
                p = os.path.join(root, name)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                state[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return state


def written_since(before: dict, dirs) -> tuple[int, int]:
    """(files, bytes) present under ``dirs`` now that were not, in the
    same version, in ``before``: what was written since."""
    files = size = 0
    for p, st in file_state(dirs).items():
        if before.get(p) != st:
            files += 1
            size += st[2]
    return files, size


def last_stage_id(spark) -> int:
    """Highest stage id Spark has recorded so far (-1 if none)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    return _stage_totals(spark, store, -1)[0]


def shuffle_write_bytes_since(spark, after_stage: int) -> int:
    """Shuffle bytes written by stages with id > ``after_stage``, from
    Spark's live status store (no event log needed)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    return _stage_totals(spark, store, after_stage)[1]


def _stage_totals(spark, store, after_stage: int) -> tuple[int, int]:
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    ).iterator()
    top, total = -1, 0
    while stages.hasNext():
        s = stages.next()
        sid = s.stageId()
        top = max(top, sid)
        if sid > after_stage:
            total += s.shuffleWriteBytes()
    return top, total


# --- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent span id
    and op id. A span opened while another is open is its child."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "op_id": self.op_id,
            "name": name,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, module, attr: str, name: str) -> None:
        """Rebind ``module.attr`` to a wrapper recording span ``name``
        around every call; :meth:`restore` undoes it."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def total(self, names) -> float:
        """Summed duration of spans whose name is in ``names``."""
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] in names and s["end"] is not None
        )

    def op_windows(self) -> list[dict]:
        """The top-level (op) spans."""
        return [s for s in self.spans if s["parent"] is None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- Spark event log ---------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
_SQL_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
_BROADCAST_TIMES = ("time to collect", "time to build", "time to broadcast")
_TRANSPARENT = ("WholeStageCodegen", "InputAdapter", "ColumnarToRow",
                "ShuffleQueryStage", "BroadcastQueryStage", "TableCacheQueryStage",
                "AQEShuffleRead")


class EventLog:
    """The parts of a Spark event log the per-op metrics need."""

    def __init__(self, lines):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.sql: dict[int, dict] = {}
        self.accum: dict[int, float] = {}
        self.cores = 1
        for line in lines:
            if line.strip():
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerExecutorAdded":
            self.cores = max(self.cores, e["Executor Info"]["Total Cores"])
        elif kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            self.jobs[jid] = {"submit": e["Submission Time"]}
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "sw_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "sw_records": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Records Written", 0),
                "fetch_wait_ms": (m.get("Shuffle Read Metrics") or {}).get(
                    "Fetch Wait Time", 0),
            })
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    self.accum[a["ID"]] = (
                        self.accum.get(a["ID"], 0) + float(a["Update"])
                    )
        elif kind == _SQL_START:
            self.sql[e["executionId"]] = {
                "time": e["time"], "plan": e.get("sparkPlanInfo"),
                "driver": {},
            }
        elif kind == _SQL_AQE and e["executionId"] in self.sql:
            self.sql[e["executionId"]]["plan"] = e["sparkPlanInfo"]
        elif kind == _SQL_ACCUM and e["executionId"] in self.sql:
            drv = self.sql[e["executionId"]]["driver"]
            for aid, value in e["accumUpdates"]:
                drv[aid] = value

    @classmethod
    def from_dir(cls, path: str) -> "EventLog":
        """Read every event file under ``path`` (rolling v2 layout or a
        single uncompressed file)."""
        lines: list[str] = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for name in sorted(files):
                if name.startswith("events_") or name.startswith("local-"):
                    with open(os.path.join(root, name)) as f:
                        lines.extend(f)
        return cls(lines)

    def window(self, start_s: float, end_s: float) -> dict:
        """Execution metrics of the jobs submitted and SQL executions
        started within [start_s, end_s] (epoch seconds)."""
        lo, hi = start_s * 1000.0, end_s * 1000.0
        jobs = {j for j, r in self.jobs.items() if lo <= r["submit"] <= hi}
        tasks = [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]
        by_stage: dict[int, list] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        skew = 0.0
        if by_stage:
            widest = max(by_stage.values(), key=lambda v: (len(v), sum(v)))
            skew = max(widest) / max(statistics.median(widest), 1.0)
        run_s = sum(t["run_ms"] for t in tasks) / 1000.0
        wall = max(end_s - start_s, 1e-9)
        plans = [
            x for x in self.sql.values() if lo <= x["time"] <= hi and x["plan"]
        ]
        exchanges = sum(_count_nodes(p["plan"], ("Exchange", "BroadcastExchange"))
                        for p in plans)
        # a DataFrame run twice reuses its physical plan and with it the
        # metric accumulators, so count each accumulator once
        broadcast = {}
        for p in plans:
            for i in _metric_ids(p["plan"], "BroadcastExchange", _BROADCAST_TIMES):
                broadcast[i] = max(broadcast.get(i, 0.0),
                                   float(p["driver"].get(i, 0)))
        broadcast_ms = sum(broadcast.values())
        candidates = emitted = 0.0
        for p in plans:
            c, e = self._filter_over_aggregate(p["plan"])
            candidates += c
            emitted += e
        return {
            "jobs": len(jobs),
            "stages": len(by_stage),
            "tasks": len(tasks),
            "task_run_s": run_s,
            "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
            "spill_bytes": sum(t["spill"] for t in tasks),
            "scan_bytes": sum(t["in_bytes"] for t in tasks),
            "shuffle_write_bytes": sum(t["sw_bytes"] for t in tasks),
            "shuffle_records": sum(t["sw_records"] for t in tasks),
            "fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1000.0,
            "core_util": run_s / (wall * self.cores),
            "stage_skew": skew,
            "exchanges": exchanges,
            "broadcast_s": broadcast_ms / 1000.0,
            "filter_in_rows": candidates,
            "filter_out_rows": emitted,
        }

    def _filter_over_aggregate(self, plan: dict) -> tuple[float, float]:
        """Rows into and out of the topmost Filter applied directly to a
        HashAggregate's output (the threshold filter of a candidate-pair
        aggregation), from the executed plan's SQL metrics."""
        for node in _walk(plan):
            if node["nodeName"] != "Filter":
                continue
            child = _first_real_child(node)
            if child is not None and child["nodeName"] == "HashAggregate":
                return (
                    self._rows(child), self._rows(node),
                )
        return 0.0, 0.0

    def _rows(self, node: dict) -> float:
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows":
                return self.accum.get(m["accumulatorId"], 0.0)
        return 0.0


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)


def _first_real_child(node: dict):
    kids = node.get("children", [])
    while kids:
        c = kids[0]
        if not c["nodeName"].startswith(_TRANSPARENT):
            return c
        kids = c.get("children", [])
    return None


def _count_nodes(plan: dict, names) -> int:
    return sum(1 for n in _walk(plan) if n["nodeName"] in names)


def _metric_ids(plan: dict, node_name: str, metric_names) -> list[int]:
    return [
        m["accumulatorId"]
        for n in _walk(plan) if n["nodeName"] == node_name
        for m in n.get("metrics", []) if m["name"] in metric_names
    ]

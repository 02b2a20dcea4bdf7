"""Tracing for the benchmark: spans around calls into the package's layers,
Spark's own per-job/stage/SQL metrics read back from the event log, and a
``/proc`` RSS sampler over the whole process tree.

Spans are recorded only by the benchmark's own code, around public calls
(``sources``, ``plans``, ``operators``, ``functions``, ``geo``) and around the
Spark action that runs the plan (layer ``spark``). They live in memory and are
written out once, at exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.enabled = False
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "layer": layer, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter_ns(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter_ns()

    def self_time_s(self, ops: set[str]) -> dict[str, float]:
        """Per-layer self time (span duration minus its children's) summed
        over the spans of ``ops``. Children run on the same thread inside
        their parent, so they never overlap each other."""
        child = [0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] in ops and s["end"] is not None:
                out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - child[s["id"]]) / 1e9
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark event log: per-operation job, stage and SQL metrics
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _walk(node, out):
    out.append(node)
    for c in node.get("children", []):
        _walk(c, out)
    return out


class EventLog:
    """Parsed Spark event log, grouped by job group (one group per
    operation: the ``spark.jobGroup.id`` local property the benchmark sets)."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}  # job id -> {group, execution}
        self.stage_job: dict[int, int] = {}
        self.plans: dict[int, dict] = {}  # execution id -> final plan tree
        self.acc: dict[int, int] = {}  # accumulator id -> summed task updates
        self.tasks: list[dict] = []  # {stage, run_ms, gc_ms, input_b, shuffle_w_b}
        with open(path, encoding="utf-8") as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "execution": int(ex) if ex is not None else None,
            }
            for s in e.get("Stage IDs", []):
                self.stage_job[s] = e["Job ID"]
        elif kind in (_SQL_START, _SQL_AQE):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info") or {}
            for a in info.get("Accumulables", []):
                u = a.get("Update")
                if isinstance(u, (int, float)) or (isinstance(u, str) and u.lstrip("-").isdigit()):
                    self.acc[a["ID"]] = self.acc.get(a["ID"], 0) + int(u)
            m = e.get("Task Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "shuffle_w_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            })

    def group_jobs(self, group: str) -> list[int]:
        return [j for j, v in self.jobs.items() if v["group"] == group]

    def group_tasks(self, group: str) -> list[dict]:
        jobs = set(self.group_jobs(group))
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def group_plans(self, group: str) -> list[dict]:
        ex = {self.jobs[j]["execution"] for j in self.group_jobs(group)} - {None}
        return [self.plans[x] for x in sorted(ex) if x in self.plans]

    def metric(self, node: dict, name: str) -> int:
        for m in node.get("metrics", []):
            if m["name"] == name:
                return self.acc.get(m["accumulatorId"], 0)
        return 0

    def node_rows(self, group: str, prefixes: tuple[str, ...]) -> int:
        """Summed ``number of output rows`` of plan nodes whose name starts
        with one of ``prefixes``, over the group's SQL executions."""
        total = 0
        for plan in self.group_plans(group):
            for n in _walk(plan, []):
                if n["nodeName"].startswith(prefixes):
                    total += self.metric(n, "number of output rows")
        return total

    def join_side_rows(self, group: str) -> int:
        """Rows entering the spatial join's equi-join on grid cells: for each
        child of the join node, the output rows of its topmost ``Generate``
        (the last explode of the tessellation/salting chain)."""
        total = 0
        for plan in self.group_plans(group):
            for n in _walk(plan, []):
                if "Join" not in n["nodeName"]:
                    continue
                for child in n.get("children", []):
                    for d in _walk(child, []):
                        if d["nodeName"].startswith("Generate"):
                            total += self.metric(d, "number of output rows")
                            break
        return total


def find_event_log(directory: str) -> str | None:
    names = [n for n in os.listdir(directory) if not n.startswith(".")] if os.path.isdir(directory) else []
    return os.path.join(directory, sorted(names)[-1]) if names else None


# ---------------------------------------------------------------------------
# RSS sampler
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_tree(root: int) -> list[int]:
    """``root`` and every descendant, from ``/proc/<pid>/stat`` parent links."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, with reaped children) of ``root`` and its
    descendants. Time the hypervisor steals is not charged to processes."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background thread sampling the summed RSS of this process, the JVM it
    launches and the JVM's Python workers; keeps the peak."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

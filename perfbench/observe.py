"""What the benchmark records besides its own timings: spans, Spark
stage metrics from the event log, host drift and process-tree memory.

Spans are kept in memory and written once at the end of a traced run.
Spark jobs are attributed to spans by time window: a job belongs to the
innermost span of an attributed kind whose wall-clock interval holds
the job's submission time.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# span kinds whose Spark jobs are summed into spark.<kind>.* metrics
SPARK_SPANS = ("merge", "read", "changes", "mv_refresh")
SPARK_FIELDS = ("jobs", "tasks", "input_bytes", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "task_skew")
SPAN_SLACK_S = 0.005  # clock slack allowed when a child is checked against its parent
CANARY_REPS = 3
RSS_INTERVAL_S = 0.25


class Tracer:
    """Records ``{id, name, parent, run, start, end}`` spans (epoch
    seconds). Disabled, ``span`` yields ``None`` and records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.time(), None, self.current())
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float | None, parent: int | None) -> dict:
        """Record a span measured elsewhere (e.g. a streaming commit
        stamped from its progress callback on another thread)."""
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "run": self.run_id, "start": start, "end": end}
            self.spans.append(rec)
        return rec

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of
        its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, hi = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, hi), min(b, s["end"])
                if b > a:
                    covered += b - a
                    hi = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def check_span_tree(spans: list[dict]) -> list[str]:
    """Problems with a span list: a missing parent, an unfinished span,
    or a child that does not fit inside its parent."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            bad.append(f"span {s['id']} {s['name']} is not closed")
            continue
        p = s["parent"]
        if p is None:
            continue
        if p not in by_id:
            bad.append(f"span {s['id']} {s['name']} has unknown parent {p}")
        elif (s["start"] < by_id[p]["start"] - SPAN_SLACK_S
              or s["end"] > by_id[p]["end"] + SPAN_SLACK_S):
            bad.append(f"span {s['id']} {s['name']} overruns parent {p}")
    return bad


def spark_attribution(event_log_dir: str, spans: list[dict]) -> dict:
    """Per span kind: jobs, tasks, input/shuffle/spill bytes and task
    skew (max over stages of max/median task run time), parsed from the
    Spark event log of this run (the one uncompressed, non-rolling file
    that the traced session writes into ``event_log_dir``)."""
    jobs: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    [name] = os.listdir(event_log_dir)
    with open(os.path.join(event_log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tasks.setdefault(ev["Stage ID"], []).append(ev["Task Metrics"])
    kinds = [s for s in spans if s["name"] in SPARK_SPANS and s["end"] is not None]

    def owner(t: float) -> str | None:
        best = None
        for s in kinds:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best["name"] if best else None

    job_kind = {j: owner(t) for j, t in jobs.items()}
    out = {k: {f: 0.0 for f in SPARK_FIELDS} for k in SPARK_SPANS}
    for k in SPARK_SPANS:
        out[k]["jobs"] = float(sum(1 for v in job_kind.values() if v == k))
    for sid, metrics in tasks.items():
        k = job_kind.get(stage_job.get(sid))
        if k is None:
            continue
        o = out[k]
        o["tasks"] += len(metrics)
        for m in metrics:
            o["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics", {})
            o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics", {})
            o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        run = sorted(m.get("Executor Run Time", 0) for m in metrics)
        if len(run) >= 2:
            med = statistics.median(run)
            o["task_skew"] = max(o["task_skew"], run[-1] / med if med > 0 else 1.0)
    return out


def cpu_times() -> tuple[int, ...]:
    with open("/proc/stat") as f:
        return tuple(int(x) for x in f.readline().split()[1:])


def cpu_share(a: tuple[int, ...], b: tuple[int, ...]) -> dict:
    """user and steal percentages of all host CPU time between two
    ``cpu_times`` reads (guest time is already inside user)."""
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d[:8]) or 1
    return {"user_pct": 100.0 * d[0] / tot,
            "steal_pct": 100.0 * d[7] / tot if len(d) > 7 else 0.0}


def canary_s() -> float:
    """Median wall of a fixed pure-Python + hashlib computation: moves
    with the host (steal, throttling), never with the program."""
    buf = bytes(range(256)) * 4096
    walls = []
    for _ in range(CANARY_REPS):
        t = time.perf_counter()
        h = hashlib.sha256()
        for i in range(64):
            h.update(buf)
            h.update(str(sum(j * i for j in range(2000))).encode())
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants(root: int) -> list[int]:
    children = _children_map()
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def kill_and_wait(pids: list[int], grace_s: float = 0.0) -> None:
    """Give ``pids`` ``grace_s`` seconds to exit, SIGKILL the rest, and
    wait until every one is gone."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user and system, own and reaped children's) of a
    process and every live descendant: the Python process, the JVM and
    its Python workers. Time the host takes from this machine's CPUs for
    other guests (steal) is not in it."""
    root = os.getpid() if root is None else root
    ticks = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_kb(root: int) -> int:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


class TreeRss:
    """Samples the RSS of this process and all its descendants (the
    JVM and its Python workers) on a background thread."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
            self._stop.wait(RSS_INTERVAL_S)

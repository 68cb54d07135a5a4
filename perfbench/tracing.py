"""Measurement helpers that live outside the program: spans, process
memory, host CPU steal, and the Spark event log.

Everything here observes the engine from the outside.  Spans wrap public
calls (``wrap_public``) or are opened around the benchmark's own calls
(``SpanRecorder.span``); nothing is added inside ``crawl4ai_spark``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class SpanRecorder:
    """In-memory spans (name, start, end, parent, run id), written once
    at exit.  Start/end are wall-clock seconds (``time.time``) so they
    line up with Spark event-log timestamps."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "id": idx,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None):
        """Record a span whose boundaries were timestamped elsewhere
        (round boundaries come from the ``should_cancel`` hook)."""
        self.spans.append({
            "name": name, "start": start, "end": end, "parent": parent,
            "run_id": self.run_id, "id": len(self.spans),
        })

    def durations(self, name: str) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        ]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextmanager
def wrap_public(recorder: SpanRecorder, targets: list[tuple[object, str, str]]):
    """Temporarily replace ``owner.attr`` with a span-recording wrapper
    for each ``(owner, attr, span_name)``; restores the originals on
    exit.  Only eager calls are wrapped: a lazy DataFrame builder returns
    before any work happens, so a span around it would time nothing.

    Yields ``{span_name: [first positional argument of each call]}`` so
    the caller can read public state (e.g. ``CrawlEngine.metrics``) of
    objects the program created internally."""
    saved = []
    receivers: dict[str, list] = {name: [] for _, _, name in targets}
    for owner, attr, name in targets:
        raw = owner.__dict__[attr]
        is_classmethod = isinstance(raw, classmethod)
        fn = raw.__func__ if is_classmethod else raw

        def make(fn=fn, name=name):
            def wrapper(*args, **kwargs):
                if args:
                    receivers[name].append(args[0])
                with recorder.span(name):
                    return fn(*args, **kwargs)
            wrapper.__wrapped__ = fn
            return wrapper

        w = make()
        setattr(owner, attr, classmethod(w) if is_classmethod else w)
        saved.append((owner, attr, raw))
    try:
        yield receivers
    finally:
        for owner, attr, raw in reversed(saved):
            setattr(owner, attr, raw)


class RoundClock:
    """A ``should_cancel`` callback that never cancels and timestamps
    every call.  The engines call it once before each round and once
    more before they stop, so consecutive calls bound the rounds."""

    def __init__(self):
        self.calls: list[float] = []

    def __call__(self) -> bool:
        self.calls.append(time.time())
        return False

    def rounds(self) -> list[tuple[float, float]]:
        return list(zip(self.calls, self.calls[1:]))


# -- host and process counters ----------------------------------------------

def read_cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    vals = (vals + [0] * 8)[:8]
    return sum(vals), vals[7]


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[0] - t0[0]
    return 100.0 * (t1[1] - t0[1]) / total if total > 0 else 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class PeakRss:
    """Samples the summed RSS of every process this one started — the
    driver JVM and the Python workers it forks — on a background thread
    and keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in descendants(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_bytes / (1 << 20)


# -- Spark event log -------------------------------------------------------

def read_event_log(log_dir: Path) -> dict:
    """Jobs and task metrics from the one application log in
    ``log_dir`` (read after the session stopped, so the file is
    complete).  Times are epoch seconds."""
    files = [
        p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1000.0}
            elif kind == "SparkListenerJobEnd":
                jobs.setdefault(ev["Job ID"], {})["end"] = (
                    ev["Completion Time"] / 1000.0
                )
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "start": info.get("Launch Time", 0) / 1000.0,
                    "end": info.get("Finish Time", 0) / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "shuffle_read": rd.get("Remote Bytes Read", 0)
                    + rd.get("Local Bytes Read", 0),
                    "shuffle_write": wr.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": list(jobs.values()), "tasks": tasks}


def spark_totals(log: dict, windows: list[tuple[float, float]]) -> dict:
    """Jobs submitted and task metrics of tasks launched inside any of
    ``windows`` (matched by time, the engine tags nothing)."""

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    tasks = [t for t in log["tasks"] if inside(t["start"])]
    mb = float(1 << 20)
    return {
        "jobs": sum(1 for j in log["jobs"] if inside(j.get("start", -1.0))),
        "executor_run_s": sum(t["run_s"] for t in tasks),
        "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / mb,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / mb,
        "spill_mb": sum(t["spill"] for t in tasks) / mb,
    }

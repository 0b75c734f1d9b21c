"""Span recorder and resource sampling for the benchmark.

A span is ``(id, name, trace, parent, start, end, attrs)``. Spans are
recorded around calls into the engine's public functions, kept in
memory, and written out once when the run ends. A layer's self time is
its span's duration minus the part of that interval covered by its
child spans. With tracing off, ``span`` records nothing."""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def new_trace(self) -> int:
        return next(self._ids)

    @contextmanager
    def span(self, name: str, trace: int | None = None, **attrs):
        """Record ``name`` around the body; yields the span's attribute
        dict (or a throwaway dict when tracing is off) so the body can
        attach counts measured where the work happens."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "trace": trace if trace is not None else (parent["trace"] if parent else 0),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        stack.append(rec)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[int, float]:
        """Span id → self time (duration minus the union of its
        children's intervals)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def by_name(self, since: float = float("-inf")) -> dict[str, dict]:
        """Per span name: count, total and median duration, total self
        time — over spans that started at or after ``since``."""
        selft = self.self_times()
        agg: dict[str, dict] = {}
        for s in self.spans:
            if s["start"] < since:
                continue
            a = agg.setdefault(s["name"], {"n": 0, "durations": [], "self_s": 0.0})
            a["n"] += 1
            a["durations"].append(s["end"] - s["start"])
            a["self_s"] += selft[s["id"]]
        for a in agg.values():
            a["total_s"] = sum(a["durations"])
            a["median_s"] = statistics.median(a["durations"])
            del a["durations"]
        return agg

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    """Resident bytes from ``/proc/<pid>/statm``, a constant-time read."""
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with pages shared between
    processes (forked Python workers share most of theirs) split among
    the sharers, so the sum over processes does not count them twice."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> dict[str, int]:
    """Resident memory of ``root`` and all its descendants (the driver,
    the JVM it launched and the JVM's Python workers), by role. Python
    processes count their PSS. The JVM counts its RSS: it shares pages
    with no other process of the tree, so the two differ only by its
    share of common libraries, and reading PSS would walk every page of
    a ~1.5 GB process (50-130 ms per read on 4 vCPUs, holding the
    JVM's memory-map lock meanwhile) on every sample."""
    kids = _children_map()
    out = {"driver": 0, "jvm": 0, "workers": 0}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            role = "driver" if pid == root else "jvm" if comm == "java" else "workers"
            out[role] += _rss_bytes(pid) if role == "jvm" else _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            continue
    return out


class RssSampler:
    """Samples the process tree's resident memory on a thread and keeps
    the peak total with its split by role. ``stop()`` joins the thread."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        split = tree_rss_bytes(os.getpid())
        total = sum(split.values())
        if total > self.peak:
            self.peak, self.peak_split = total, split

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def process_start_time() -> float:
    """Wall-clock time this process started (from /proc), so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")

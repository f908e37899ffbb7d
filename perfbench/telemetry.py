"""Measurements taken from outside the program: query progress, the
file source's commit log, process memory, and timing spans around the
pipeline's own attributes."""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from datetime import datetime

import numpy as np


# -- streaming progress -------------------------------------------------------


def triggers(query) -> list[dict]:
    """Every trigger that ran a batch, oldest first, as plain dicts with
    ``start``/``end`` in epoch seconds.  Read from the query's own
    ``recentProgress`` after ``processAllAvailable``, so the last
    trigger is never lost to a listener detached too early.  Idle
    progress events carry no ``addBatch`` and are skipped."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        dur = d.get("durationMs") or {}
        if "addBatch" not in dur:
            continue
        start = datetime.fromisoformat(d["timestamp"].replace("Z", "+00:00"))
        d["start"] = start.timestamp()
        d["end"] = d["start"] + dur["triggerExecution"] / 1000.0
        out.append(d)
    return out


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name → batch id that consumed it, from the file source's
    metadata log (``sources/0``: one JSON entry per file, compacted
    every few batches; plain entries and compactions both count)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith((".", "_")):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # version header
                e = json.loads(line)
                name = os.path.basename(e["path"])
                b = int(e["batchId"])
                out[name] = min(b, out.get(name, b))
    return out


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


# -- process memory -----------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name may hold spaces and parentheses: ppid is the
        # second field after the LAST closing parenthesis
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(exclude: set[int]) -> float:
    """Sum of VmHWM (peak resident set) over this process and every
    descendant — the JVM and its Python workers — except ``exclude``."""
    pids = [p for p in descendants(os.getpid()) if p not in exclude]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


# -- spans ---------------------------------------------------------------------


class Tracer:
    """In-memory spans around attributes of pipeline objects.  A span
    records name, start, end and its parent; spans under one
    ``foreachBatch`` call share that streaming batch id as trace id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _run(self, name: str, fn, args, kwargs, trace_arg: int | None):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if trace_arg is not None and len(args) > trace_arg:
            trace = args[trace_arg]
        else:
            trace = parent["trace"] if parent else None
        span = {
            "id": next(self._ids), "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace, "start": time.time(),
        }
        stack.append(span)
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def wrap(self, obj, attr: str, name: str, trace_arg: int | None = None) -> None:
        """Replace the bound method ``obj.attr`` with a timed wrapper;
        ``trace_arg`` names the positional argument holding the batch
        id for a root span."""
        fn = getattr(obj, attr)

        def wrapper(*args, **kwargs):
            return self._run(name, fn, args, kwargs, trace_arg)

        setattr(obj, attr, wrapper)

    def proxy(self, obj, name: str, trace_arg: int | None = None):
        """A stand-in for a callable object: calls are timed, every
        other attribute is the original's."""
        tracer = self

        class _Timed:
            def __call__(self, *args, **kwargs):
                return tracer._run(name, obj, args, kwargs, trace_arg)

            def __getattr__(self, item):
                return getattr(obj, item)

        return _Timed()

    def add(self, name: str, start: float, end: float, trace=None) -> None:
        """A span measured elsewhere (a query's own trigger timing)."""
        with self._lock:
            self.spans.append({
                "id": next(self._ids), "name": name, "parent": None,
                "trace": trace, "start": start, "end": end,
            })

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, inclusive seconds, and self seconds
        (duration minus the part covered by direct children)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            row = out.setdefault(s["name"], {"calls": 0, "busy_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["busy_s"] += d
            row["self_s"] += d - child.get(s["id"], 0.0)
        return out

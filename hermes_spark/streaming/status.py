"""Pipeline status surface — the reference's CLI/status + notification
counters as a ``StreamingQueryListener``.

The reference exposes a status socket on the server (per-type diff
counters, per-phase timings — /root/reference/server/hermesserver.py:
584-616) and per-cycle change-notification counters on clients
(clients/__init__.py:1852-1983).  The Spark restatement has three
layers:

* per-commit op counts + wall already land in the target's commit
  ledger with ZERO extra jobs (``ExactlyOnceSink`` Observation);
* this module adds the LIVE view: a ``StreamingQueryListener``
  capturing every trigger's progress (rows/s, batch wall, state-store
  rows and bytes, watermark) into a bounded in-memory ring plus an optional
  JSONL file — the process-level status endpoint;
* ``PipelineStatus.status()`` folds both into one dict, the analog of
  the reference's CLI ``status`` verb.

Listener callbacks run on the driver's listener bus — they must stay
O(1) and never touch Spark (no jobs, no locks held across calls), so
everything here is dict/deque work on already-materialized progress
objects.
"""

from __future__ import annotations

import json
import os
from collections import deque

from pyspark.sql.streaming import StreamingQueryListener


def _progress_row(p) -> dict:
    """Flatten a StreamingQueryProgress into the fields the reference's
    status surface shows (counts, rates, phase timings, state size)."""
    state = p.stateOperators or []

    def custom(name: str) -> int:
        # RocksDB provider metrics; absent under another provider
        return sum(int((s.customMetrics or {}).get(name, 0)) for s in state)

    return {
        "event": "progress",
        "query_id": str(p.id),
        "name": p.name,
        "batch_id": p.batchId,
        "timestamp": p.timestamp,
        "num_input_rows": p.numInputRows,
        "input_rows_per_sec": p.inputRowsPerSecond,
        "processed_rows_per_sec": p.processedRowsPerSecond,
        "duration_ms": dict(p.durationMs or {}),
        "state_rows_total": sum(s.numRowsTotal for s in state),
        "state_rows_updated": sum(s.numRowsUpdated for s in state),
        # state size: rows count grouped-state keys (hash buckets for
        # the stateful classifier), bytes show what the state holds and
        # what this trigger rewrote
        "state_memory_bytes": sum(s.memoryUsedBytes for s in state),
        "state_sst_bytes": custom("rocksdbSstFileSize"),
        "state_bytes_written": custom("rocksdbTotalBytesWritten"),
        "watermark": (p.eventTime or {}).get("watermark"),
    }


class PipelineStatusListener(StreamingQueryListener):
    """Bounded ring of per-trigger progress + lifecycle events, with an
    optional JSONL audit file (one line per event, append-only — the
    same WAL discipline as the commit ledger)."""

    def __init__(self, path: str | None = None, keep: int = 256) -> None:
        self.events: deque = deque(maxlen=keep)
        self.path = path
        if path:
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def _emit(self, row: dict) -> None:
        self.events.append(row)
        if self.path:
            with open(self.path, "a") as f:
                f.write(json.dumps(row, separators=(",", ":")) + "\n")

    # -- listener callbacks (must stay O(1), no Spark calls) -----------

    def onQueryStarted(self, event) -> None:
        self._emit(
            {"event": "started", "query_id": str(event.id), "name": event.name}
        )

    def onQueryProgress(self, event) -> None:
        self._emit(_progress_row(event.progress))

    def onQueryIdle(self, event) -> None:
        self._emit({"event": "idle", "query_id": str(event.id)})

    def onQueryTerminated(self, event) -> None:
        self._emit(
            {
                "event": "terminated",
                "query_id": str(event.id),
                "exception": event.exception,
            }
        )

    # -- read side ------------------------------------------------------

    def last_progress(self) -> dict | None:
        for row in reversed(self.events):
            if row["event"] == "progress":
                return row
        return None

    def throughput(self) -> float | None:
        """Sustained rows/sec over the retained window (total rows /
        total batch wall — batches with zero duration excluded)."""
        rows = wall = 0.0
        for r in self.events:
            if r["event"] != "progress":
                continue
            dur = (r["duration_ms"] or {}).get("triggerExecution", 0)
            if dur:
                rows += r["num_input_rows"]
                wall += dur / 1000.0
        return round(rows / wall, 1) if wall else None


class PipelineStatus:
    """The reference's CLI ``status`` verb for one pipeline: live
    trigger progress (listener) + durable per-op counters (commit
    ledger) + error-queue depth, one dict, no Spark jobs except the
    O(queue) depth count."""

    def __init__(self, pipeline, listener: PipelineStatusListener) -> None:
        self.pipeline = pipeline
        self.listener = listener

    def status(self, include_queue_depth: bool = True) -> dict:
        ledger = {"inserts": 0, "updates": 0, "deletes": 0, "commits": 0}
        by_type: dict = {}
        for c in self.pipeline.target._read_commits():
            info = c.get("info")
            if not info or c.get("batch_id") is None:
                continue
            ledger["commits"] += 1
            for k in ("inserts", "updates", "deletes"):
                ledger[k] += int(info.get(k, 0) or 0)
            # per-objtype breakdown (the reference status verb reports
            # added/modified/removed PER TYPE, hermesserver.py:584-616)
            # — present when the sink was built with type_col/type_names
            for t, counts in (info.get("by_type") or {}).items():
                acc = by_type.setdefault(
                    t, {"inserts": 0, "updates": 0, "deletes": 0}
                )
                for k in acc:
                    acc[k] += int(counts.get(k, 0) or 0)
        out = {
            "target_version": self.pipeline.target.current_version(),
            "applied": ledger,
            "last_trigger": self.listener.last_progress(),
            "sustained_rows_per_sec": self.listener.throughput(),
        }
        if by_type:
            out["applied_by_type"] = by_type
        dlq = getattr(self.pipeline, "dlq", None)
        if dlq is not None and include_queue_depth:
            out["error_queue_depth"] = dlq.read().count()
        return out


def attach_status(pipeline, path: str | None = None) -> PipelineStatus:
    """Register a status listener on the pipeline's session and return
    the combined status surface.  Call before ``start()``."""
    listener = PipelineStatusListener(path=path)
    pipeline.spark.streams.addListener(listener)
    return PipelineStatus(pipeline, listener)

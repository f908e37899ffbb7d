"""Format-symmetric table layer: atomic, idempotent MERGE over parquet.

The engine's sink contract is Iceberg's: atomic snapshot commits and an
idempotent ``MERGE INTO`` keyed on the row pkey (the Spark restatement
of the reference's sync-ack producer + write-if-changed cache,
/root/reference/server/hermesserver.py:697-724 and
lib/datamodel/serialization.py:373-510).  The sandbox image has no
Iceberg runtime jar, so `ParquetMergeTable` implements the same
protocol over plain parquet:

* data lives in immutable versioned snapshot dirs ``versions/v%08d``;
* a commit is ONE appended line in the ``_commits.jsonl`` ledger
  recording ``(version, batch_id)`` — O(1) per commit, torn tails from
  a crash are repaired before the next append, so readers only ever
  see complete commits over fully-written snapshots (the atomicity
  discipline of the reference's cache writer, serialization.py:389-398,
  in WAL form);
* MERGE is **idempotent per batch_id**: replaying an already-committed
  micro-batch is a no-op, which is exactly what makes ``foreachBatch``
  exactly-once under restart-from-checkpoint.

On a real cluster the class is swapped for Iceberg `MERGE INTO`
(`hermes_spark.iceberg.IcebergTable`, gated on the catalog being
configured) with identical call signatures — engine code never
branches on the format.

Scale note: a commit writes only the batch's change rows as a delta
snapshot (merge-on-read, O(batch)); ``read()`` folds base + deltas
latest-per-key, and ``compact``/``compact_deltas`` bound that fold
out-of-band — the same shape as Iceberg's merge-on-read row-level
operations plus ``rewrite_data_files``.  The *logical* plan is what
the engine owns and is format-independent.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ParquetMergeTable:
    """A keyed target table with atomic versioned commits and
    batch-id-idempotent MERGE, **merge-on-read** style.

    A MERGE commit only writes the batch's change rows as a *delta*
    snapshot — O(batch), not O(table) — mirroring Iceberg's
    merge-on-read row-level operations.  ``read()`` reconstructs the
    current state: base snapshot + deltas folded latest-per-key (op
    ``delete`` drops the key).  After ``compact_every`` deltas the
    table self-compacts into a new base (Iceberg's rewrite/maintenance
    job), bounding read amplification."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: Sequence[str],
        schema: T.StructType,
        compact_every: int | None = 8,
        tombstone_mode: str = "drop",
        tombstone_retention: str | None = None,  # SQL interval, e.g. "30 days"
    ) -> None:
        self.spark = spark
        self.path = path
        self.key = list(key)
        self.schema = schema
        self.compact_every = compact_every
        # "drop": op='delete' rows vanish on read/compaction (plain
        # target).  "retain": tombstone rows survive as state memory
        # (target-as-state mode; purge via retention policy).
        self.tombstone_mode = tombstone_mode
        # event-time retention for retained tombstones: on compaction,
        # delete-rows older than (max event ts - interval) are purged
        self.tombstone_retention = tombstone_retention
        os.makedirs(os.path.join(path, "versions"), exist_ok=True)
        # first-ever open: record the declared key + schema so later
        # opens can reconcile a CHANGED declaration against the disk
        # truth (the declarative-config layer's live pkey migration and
        # schema-evolution audit both key off this record; the
        # reference's server diffs its schema registry the same way,
        # /root/reference/server/hermesserver.py:340-443)
        if not os.path.exists(self._commits_path):
            self._append_record(
                {
                    "kind": "create",
                    "info": {
                        "key": self.key,
                        "schema": [
                            [f.name, f.dataType.simpleString()]
                            for f in self.schema.fields
                        ],
                    },
                }
            )
        # consumer side of schema evolution: replay the log's schema
        # history so a reader constructed with the original schema sees
        # the evolved one (the reference client's __updateSchema on
        # receiving a dataschema event,
        # /root/reference/clients/__init__.py:876-887).  The fold is
        # IN LOG ORDER: dataschema adds columns, purge/migrate records
        # drop exactly the columns they removed at their point in time
        # — so an add that a later migration dropped does not resurrect
        # on reopen, while constructor-declared columns the log never
        # removed always survive.
        for r in self._read_log():
            kind = r.get("kind")
            info = r.get("info") or {}
            if kind == "dataschema":
                self._apply_dataschema(info)
            elif kind in ("purge", "migrate"):
                dropped = set(
                    info.get("columns") or info.get("removed") or []
                )
                if dropped:
                    self.schema = T.StructType(
                        [
                            f for f in self.schema.fields
                            if f.name not in dropped
                        ]
                    )

    # -- commit log ---------------------------------------------------
    #
    # Append-only JSONL (WAL discipline): each commit is ONE appended
    # line — O(1) per commit instead of rewriting the whole array
    # (round 1's O(n²) driver bytes over a long stream).  A torn final
    # line from a crash mid-append fails to parse and is ignored, so
    # readers only ever see complete commits.  Metrics/lineage attach
    # as separate ``annotate`` records keyed by version, folded in at
    # read time — annotation never rewrites history and always lands on
    # the intended commit even if a compaction committed in between.

    @property
    def _commits_path(self) -> str:
        return os.path.join(self.path, "_commits.jsonl")

    def _fold(self) -> dict:
        """Incrementally-maintained view of the log: O(1) amortized per
        append / per read (the single-writer invariant makes the
        size-tagged cache exact; an external append invalidates it).
        The long-stream test pins this flatness down."""
        try:
            size = os.path.getsize(self._commits_path)
        except FileNotFoundError:
            size = 0
        cache = getattr(self, "_fold_cache", None)
        if cache is not None and cache["size"] == size:
            return cache
        cache = {
            "size": size,
            "records": [],
            "commits": [],
            "by_version": {},
            "batch_ids": set(),
            "version_by_batch": {},
        }
        if size:
            with open(self._commits_path) as f:
                for line in f:
                    try:
                        r = json.loads(line)
                    except json.JSONDecodeError:
                        break  # torn tail from a crash mid-append — ignore
                    self._fold_one(cache, r)
        self._fold_cache = cache
        return cache

    @staticmethod
    def _fold_one(cache: dict, r: dict) -> None:
        cache["records"].append(r)
        kind = r.get("kind", "base")
        if kind == "annotate":
            c = cache["by_version"].get(r["version"])
            if c is not None:
                c["info"] = {**c.get("info", {}), **r.get("info", {})}
            return
        if kind == "noop":
            # batch-id latch without data: the batch is "committed"
            # for replay detection but contributes no snapshot
            if r.get("batch_id") is not None:
                cache["batch_ids"].add(r["batch_id"])
            return
        if kind not in ("base", "delta", "deltafold"):
            return  # audit records (e.g. migrate/purge/step) are not commits
        c = dict(r)
        cache["commits"].append(c)
        cache["by_version"][c["version"]] = c
        if c.get("batch_id") is not None:
            cache["batch_ids"].add(c["batch_id"])
            cache["version_by_batch"][c["batch_id"]] = c["version"]

    def _read_log(self) -> list[dict]:
        return self._fold()["records"]

    def _read_commits(self) -> list[dict]:
        return self._fold()["commits"]

    def _repair_log(self) -> None:
        """Crash-recovery before appending: if the log does not end in
        a newline (torn tail from a crash mid-append), truncate back to
        the last complete newline-terminated record.  Without this, the
        next append would concatenate onto the fragment and every
        record from that point on would be unparseable — replayed
        micro-batches would re-commit and version numbers would be
        reused.  O(1) in the common case (single trailing-byte check)."""
        try:
            f = open(self._commits_path, "rb+")
        except FileNotFoundError:
            return
        with f:
            size = f.seek(0, os.SEEK_END)
            if size == 0:
                return
            f.seek(size - 1)
            if f.read(1) == b"\n":
                return
            # scan backwards for the last complete record boundary
            last_nl, pos, chunk = -1, size, 1 << 16
            while pos > 0 and last_nl < 0:
                start = max(0, pos - chunk)
                f.seek(start)
                idx = f.read(pos - start).rfind(b"\n")
                if idx >= 0:
                    last_nl = start + idx
                pos = start
            f.truncate(last_nl + 1 if last_nl >= 0 else 0)
        self._fold_cache = None

    def _append_record(self, record: dict) -> None:
        self._repair_log()
        cache = self._fold()
        line = json.dumps(record, separators=(",", ":")) + "\n"
        with open(self._commits_path, "a") as f:
            f.write(line)
        cache["size"] += len(line)
        self._fold_one(cache, record)

    def _append_commit(
        self,
        version: int,
        batch_id: int | str | None,
        kind: str = "base",
        info: dict | None = None,
    ) -> None:
        entry = {"version": version, "batch_id": batch_id, "kind": kind}
        if info:
            entry["info"] = info
        self._append_record(entry)

    def committed_batch_ids(self) -> set:
        return self._fold()["batch_ids"]

    def mark_batch(self, batch_id: int | str) -> None:
        """Latch a batch id as committed WITHOUT writing any data — one
        appended ledger line, zero Spark jobs.  Used when a batch's
        outcome is provably empty (e.g. the sink's DLQ split produced
        no failures) but the two-ledger protocol still needs the batch
        closed for replay detection."""
        if batch_id in self.committed_batch_ids():
            return
        self._append_record({"kind": "noop", "batch_id": batch_id})

    def current_version(self) -> int | None:
        commits = self._read_commits()
        return commits[-1]["version"] if commits else None

    def _live_commits(self) -> tuple[dict | None, list[dict]]:
        """(latest base commit, deltas after it, in commit order).  A
        ``deltafold`` commit is the per-key fold of the commits listed
        in its ``info.over`` — those drop out of the live list and the
        fold takes their place (commit order keeps per-key precedence
        correct: a fold sits where its newest folded delta sat).
        Folds may themselves be folded later (leveled compaction)."""
        commits = self._read_commits()
        base = None
        deltas: list[dict] = []
        for c in commits:
            kind = c.get("kind", "base")
            if kind == "base":
                base, deltas = c, []
            elif kind == "deltafold":
                over = set((c.get("info") or {}).get("over") or ())
                if over:
                    deltas = [d for d in deltas if d["version"] not in over]
                else:
                    deltas = []  # legacy fold: superseded all prior deltas
                deltas.append(c)
            else:
                deltas.append(c)
        return base, deltas

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, "versions", f"v{v:08d}")

    def _snapshot_scan(
        self, version: int, schema: T.StructType | None = None
    ) -> DataFrame:
        """Scan one snapshot dir — ALWAYS with an explicit schema,
        never inferred from footers.  This is what makes a snapshot
        dir without data files readable: schema inference over a dir
        holding only _SUCCESS raises UNABLE_TO_INFER_SCHEMA, bricking
        every subsequent read (an all-stale micro-batch is a normal
        event under re-delivery).  Schema-on-read also conforms old
        snapshots for free: columns missing from the files
        (pre-evolution snapshots) come back NULL, and columns dropped
        from the schema are ignored.  Snapshots written as hive
        ``_bucket=N/`` dirs (the join-mode layout before the target
        dropped its bucket column) read too: partition discovery
        appends ``_bucket``, and every caller selects the schema's
        columns.  The ONE place the scan discipline lives — base,
        delta, and fold reads all come through here."""
        return self.spark.read.schema(schema or self.schema).parquet(
            self._version_dir(version)
        )

    def _delta_scan(self, d: dict) -> tuple[DataFrame, str | None]:
        """Scan one delta/deltafold commit with its recorded
        out-of-schema op channel widened into the read schema — the
        ONE place that knows how a delta's liveness channel is stored
        (shared by ``read()`` and ``compact_deltas()``, so fold
        results can never silently diverge from read results)."""
        extra_op = (d.get("info") or {}).get("op_col")
        dschema = None
        if extra_op and extra_op not in {f.name for f in self.schema.fields}:
            dschema = T.StructType(
                list(self.schema.fields)
                + [T.StructField(extra_op, T.StringType(), True)]
            )
        return self._snapshot_scan(d["version"], dschema), extra_op

    def _sidecar_dir(self, v: int) -> str:
        return os.path.join(self.path, "versions", f"v{v:08d}-sidecar")

    def version_of_batch(self, batch_id: int | str) -> int | None:
        return self._fold()["version_by_batch"].get(batch_id)

    def commit_info_of_batch(self, batch_id: int | str) -> dict | None:
        """The ``commit_info`` recorded ATOMICALLY with a batch's
        commit line (same ledger append as the data), or None if the
        batch never committed.  The sink's inline-split marker rides
        here: unlike ``annotate_commit`` (a separate later append), a
        crash cannot separate this from the commit itself."""
        v = self.version_of_batch(batch_id)
        if v is None:
            return None
        c = self._fold()["by_version"].get(v)
        return dict((c or {}).get("info") or {})

    def read_sidecar(self, version: int) -> DataFrame | None:
        """The sidecar persisted with a commit, or None if the commit
        carried none.  Schema comes from the ledger (explicit — an
        empty sidecar reads back fine).  A sidecar expired by
        ``vacuum(keep_sidecars=N)`` / ``purge_columns`` also returns
        None: the ledger still records the schema, but the data is
        gone by design (a replay older than the retention window has
        nothing to re-enqueue) — without the dir check this raised
        PATH_NOT_FOUND at action time."""
        c = self._fold()["by_version"].get(version)
        sj = (c or {}).get("info", {}).get("sidecar_schema") if c else None
        if sj is None:
            return None
        if not os.path.isdir(self._sidecar_dir(version)):
            return None  # vacuumed by retention
        schema = T.StructType.fromJson(json.loads(sj))
        return self.spark.read.schema(schema).parquet(self._sidecar_dir(version))

    def read_sidecar_of_batch(self, batch_id: int | str) -> DataFrame | None:
        """Batch-keyed sidecar lookup — the sink's replay path (the
        cluster twin resolves this WITHOUT a snapshot id, since an
        empty Iceberg MERGE creates none)."""
        v = self.version_of_batch(batch_id)
        return self.read_sidecar(v) if v is not None else None

    def _write_snapshot(self, df: DataFrame, cols: Sequence[str], out: str) -> None:
        df.select(list(cols)).write.mode("overwrite").parquet(out)

    # -- read ----------------------------------------------------------

    def read(
        self,
        op_col: str | None = "op",
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Current state: base ⊎ deltas, latest-per-key wins; op delete
        drops the key unless tombstone_mode='retain' (the merge-on-read
        reconstruction).

        ``columns``: prune the fold to these columns (must include the
        key) — the per-key max_by struct then carries only them, so the
        parquet scans never decode the wide payload (join-mode CDC
        reads state as (key, op, ts, cks64) without touching text)."""
        if self.tombstone_mode == "retain":
            op_col = None  # tombstone rows are kept as state memory
        base, deltas = self._live_commits()
        fields = [f.name for f in self.schema.fields]
        if columns is not None:
            missing = [k for k in self.key if k not in columns]
            if missing:
                raise ValueError(f"columns must include the key; missing {missing}")
            keep = set(columns)
            if op_col is not None and op_col in fields:
                keep.add(op_col)  # delete detection must survive pruning
            fields = [c for c in fields if c in keep]
        if base is None and not deltas:
            return self.spark.createDataFrame([], self.schema)

        parts = []
        if base is not None:
            parts.append(
                self._snapshot_scan(base["version"])
                .select(*fields)
                .withColumn("_seq", F.lit(0))
                .withColumn("_del", F.lit(False))
            )
        for i, d in enumerate(deltas):
            raw, extra_op = self._delta_scan(d)
            if extra_op and op_col is not None and op_col not in fields:
                dele = F.col(extra_op) == "delete"
            elif op_col in fields:
                dele = F.col(op_col) == "delete"
            else:
                dele = F.lit(False)
            parts.append(
                raw.withColumn("_seq", F.lit(i + 1))
                .withColumn("_del", dele)
                .select(*fields, "_seq", "_del")
            )
        allrows = parts[0]
        for p in parts[1:]:
            allrows = allrows.unionByName(p)
        payload = [c for c in allrows.columns if c not in self.key]
        latest = (
            allrows.groupBy(*self.key)
            .agg(F.max_by(F.struct(*payload), F.col("_seq")).alias("_r"))
            .select(*self.key, "_r.*")
        )
        return latest.where(~F.col("_del")).drop("_seq", "_del")

    # -- write / merge ---------------------------------------------------

    def overwrite(self, df: DataFrame, batch_id: int | str | None = None) -> None:
        v = (self.current_version() or 0) + 1
        self._write_snapshot(
            df, [f.name for f in self.schema.fields], self._version_dir(v)
        )
        self._append_commit(v, batch_id, kind="base")

    def merge(
        self,
        changes: DataFrame,
        batch_id: int | str | None = None,
        op_col: str = "op",
        commit_info: dict | None = None,
        sidecar: DataFrame | None = None,
    ) -> int | None:
        """MERGE INTO this table USING changes ON pkey.

        ``changes``: key cols + op (insert|update|delete) + payload
        cols matching the table schema, at most one row per key.  Rows
        with op delete remove the key; insert/update upsert.  Returns
        the committed delta version, or None when the batch_id was
        already committed (idempotent replay no-op).  O(batch): writes
        one delta snapshot; when ``compact_every`` is set, deltas fold
        into a new base every that many commits (pass None to keep
        compaction fully out-of-band — the streaming hot path does).

        ``sidecar``: an auxiliary DataFrame persisted atomically WITH
        this commit (same ledger append) but outside the table's data
        fold — readable back via ``read_sidecar(version)``.  The
        exactly-once sink stores its DLQ-split decision here so a
        replay after a crash between target-commit and queue-commit
        re-enqueues the ORIGINAL split instead of recomputing it
        against a queue that may have changed in between."""
        if batch_id is not None and batch_id in self.committed_batch_ids():
            return None
        v = (self.current_version() or 0) + 1
        fields = [f.name for f in self.schema.fields]
        write_cols = list(fields)
        info = dict(commit_info or {})
        # the op column must reach the delta even when the target schema
        # doesn't carry it — otherwise deletes silently degrade to
        # upserts of the tombstone payload at read time
        if op_col in changes.columns and op_col not in fields:
            write_cols.append(op_col)
            info["op_col"] = op_col
        if sidecar is not None:
            # written BEFORE the ledger append: the commit line is the
            # atomic publication point for data + sidecar together
            sidecar.write.mode("overwrite").parquet(self._sidecar_dir(v))
            info["sidecar_schema"] = sidecar.schema.json()
        self._write_snapshot(changes, write_cols, self._version_dir(v))
        self._append_commit(v, batch_id, kind="delta", info=info or None)
        if self.compact_every is not None:
            _, deltas = self._live_commits()
            if len(deltas) >= self.compact_every:
                self.compact()
        return v

    # -- schema evolution (dataschema events) ---------------------------

    def _apply_dataschema(self, info: dict) -> None:
        names = {f.name for f in self.schema.fields}
        fields = list(self.schema.fields)
        for spec in info.get("added", []):
            if spec["name"] not in names:
                fields.append(
                    T.StructField(
                        spec["name"], T._parse_datatype_string(spec["type"]), True
                    )
                )
        self.schema = T.StructType(fields)

    def evolve(self, new_schema: T.StructType) -> dict | None:
        """Publish a ``dataschema`` event and evolve this table's schema
        (the reference's schema-update path: the server diffs its schema
        registry each cycle and publishes a dataschema event BEFORE the
        data events that use it, /root/reference/server/hermesserver.py:
        340-443; clients apply it mid-stream, clients/__init__.py:
        876-887).

        Non-breaking evolution: new columns append as nullable; removed
        source columns stay (they go NULL) — Iceberg-style.  The event
        is one appended log record, ordered before every subsequent data
        commit; snapshots written pre-evolution read back with NULLs for
        the new columns, and a reader constructed with the old schema
        replays the event on open.  Returns the published event info,
        or None when the schemas already agree."""
        from hermes_spark.operators.events import diff_schemas

        diff = diff_schemas(self.schema, new_schema)
        if diff.empty:
            return None
        by_name = {f.name: f for f in new_schema.fields}
        info = {
            "added": [
                {"name": c, "type": by_name[c].dataType.simpleString()}
                for c in diff.added
            ],
            "removed": diff.removed,
            "retyped": [list(t) for t in diff.retyped],
        }
        self._append_record({"kind": "dataschema", "info": info})
        self._apply_dataschema(info)
        return info

    def dataschema_events(self) -> list[dict]:
        """Published schema events, in log order (the consumer view)."""
        return [r for r in self._read_log() if r.get("kind") == "dataschema"]

    def logged_key(self) -> list[str] | None:
        """The key the DISK currently holds, folded from the log
        (create record, updated by each migrate) — ``None`` for tables
        created before key logging existed.  The declarative layer
        compares this against a newly-declared key to decide whether a
        live pkey migration is needed."""
        key = None
        for r in self._read_log():
            kind = r.get("kind")
            if kind == "create":
                key = (r.get("info") or {}).get("key") or key
            elif kind == "migrate":
                key = (r.get("info") or {}).get("new_key") or key
        return key

    def logged_schema(self) -> T.StructType | None:
        """The column set the DISK currently holds, folded from the
        log: create schema + dataschema adds − purge drops, replaced
        wholesale by each migrate's recorded schema.  ``None`` when
        the table predates create-record logging.  This is what lets a
        reopen with a DIFFERENT declared schema publish an auditable
        dataschema diff instead of silently swapping the view."""
        fields: list[tuple[str, str]] | None = None
        for r in self._read_log():
            kind = r.get("kind")
            info = r.get("info") or {}
            if kind == "create" and info.get("schema"):
                fields = [tuple(x) for x in info["schema"]]
            elif kind == "migrate" and info.get("schema"):
                fields = [tuple(x) for x in info["schema"]]
            elif kind == "dataschema" and fields is not None:
                names = {n for n, _ in fields}
                fields += [
                    (s["name"], s["type"])
                    for s in info.get("added", [])
                    if s["name"] not in names
                ]
            elif kind == "purge" and fields is not None:
                dropped = set(info.get("columns", []))
                fields = [f for f in fields if f[0] not in dropped]
        if fields is None:
            return None
        return T.StructType(
            [
                T.StructField(n, T._parse_datatype_string(t), True)
                for n, t in fields
            ]
        )

    def annotate_commit(self, version: int, info: dict) -> None:
        """Attach metrics/lineage info to a specific commit (one
        appended annotate record — no Spark job, no log rewrite)."""
        self._append_record({"kind": "annotate", "version": version, "info": info})

    def annotate_last_commit(self, info: dict) -> None:
        commits = self._read_commits()
        if commits:
            self.annotate_commit(commits[-1]["version"], info)

    def compact(self, tombstone_retention: Column | None = None) -> None:
        """Fold base + deltas into a fresh base snapshot (Iceberg
        rewrite-data-files maintenance analog).

        ``tombstone_retention``: in retain mode, a timestamp Column
        cutoff — tombstone rows (op='delete') whose ts predates it are
        physically purged here (the trashbin retention expiry, W4:
        reference clients/__init__.py:757-813), bounding state-table
        growth from ghost/expired deletes."""
        current = self.read()
        if (
            self.tombstone_mode == "retain"
            and tombstone_retention is None
            and self.tombstone_retention is not None
            and "ts" in [f.name for f in self.schema.fields]
        ):
            horizon = current.agg(F.max("ts")).collect()[0][0]
            if horizon is not None:
                tombstone_retention = F.lit(horizon) - F.expr(
                    f"INTERVAL {self.tombstone_retention}"
                )
        if (
            self.tombstone_mode == "retain"
            and tombstone_retention is not None
            and "op" in [f.name for f in self.schema.fields]
        ):
            current = current.where(
                (F.col("op") != "delete") | (F.col("ts") >= tombstone_retention)
            )
        v = (self.current_version() or 0) + 1
        self._write_snapshot(
            current, [f.name for f in self.schema.fields], self._version_dir(v)
        )
        self._append_commit(v, None, kind="base")

    def _superseded_generations(self) -> list[set[int]]:
        """Replay the ledger into the list of superseded GENERATIONS,
        oldest first: each superseding commit (``base`` or
        ``deltafold``) contributes the set of versions that were live
        immediately before it and are not live after — the unit a
        concurrently-planned reader's file listing references."""
        gens: list[set[int]] = []
        base: dict | None = None
        deltas: list[dict] = []
        for c in self._read_commits():
            kind = c.get("kind", "base")
            if kind == "base":
                prev = ([base] if base else []) + deltas
                if prev:
                    gens.append({x["version"] for x in prev})
                base, deltas = c, []
            elif kind == "deltafold":
                over = set((c.get("info") or {}).get("over") or ())
                if over:
                    folded = [d for d in deltas if d["version"] in over]
                    deltas = [d for d in deltas if d["version"] not in over]
                else:
                    folded, deltas = deltas, []
                if folded:
                    gens.append({x["version"] for x in folded})
                deltas.append(c)
            else:
                deltas.append(c)
        return gens

    def compact_deltas(self, max_folds: int = 8) -> int | None:
        """Incremental (leveled) compaction: fold the UNFOLDED suffix
        of the live delta list — the deltas committed since the last
        fold — into one ``deltafold`` snapshot.  Each cycle therefore
        costs O(keys churned since the previous cycle), and the live
        list becomes ``base + fold chain + fresh deltas``.  When the
        fold chain itself reaches ``max_folds``, one consolidating
        fold merges the whole chain (O(churn since the last base),
        amortized over max_folds cycles) — classic LSM leveling, so
        neither per-cycle cost nor read amplification grows without
        bound.  Full O(table) rebasing remains ``compact()``'s job,
        out-of-band.

        Per-key semantics mirror ``read()``'s fold exactly (the scan
        goes through the same ``_delta_scan`` helper): the newest row
        wins and its LIVENESS CHANNEL (the commit's recorded
        ``op_col``, or the in-schema ``op``) survives into the fold —
        a key deleted by a delta stays a delete-marked row here, so
        the base's copy is still dropped at read time.  In
        ``tombstone_mode='retain'`` rows are state memory and carry
        their in-schema op verbatim.  Returns the fold's version, or
        None when there is nothing to fold."""
        base, deltas = self._live_commits()
        last_fold = max(
            (
                i for i, d in enumerate(deltas)
                if d.get("kind") == "deltafold"
            ),
            default=-1,
        )
        n_folds = sum(1 for d in deltas if d.get("kind") == "deltafold")
        if n_folds >= max_folds:
            to_fold = deltas  # consolidate the whole chain
        else:
            to_fold = deltas[last_fold + 1:]  # fresh deltas only
        if len(to_fold) < 2:
            return None
        fields = [f.name for f in self.schema.fields]
        schema_names = set(fields)
        retain = self.tombstone_mode == "retain"
        need_channel = False
        parts = []
        for i, d in enumerate(to_fold):
            raw, extra_op = self._delta_scan(d)
            if retain or (extra_op is None and "op" not in schema_names):
                chan = F.lit(None).cast("string")
            elif extra_op and extra_op not in schema_names:
                chan = F.col(extra_op)
                need_channel = True
            else:
                # liveness rides the in-schema op column — it is part
                # of the payload and survives the fold by itself
                chan = F.lit(None).cast("string")
            parts.append(
                raw.withColumn("_seq", F.lit(i))
                .withColumn("_fold_op", chan)
                .select(*fields, "_seq", "_fold_op")
            )
        allrows = parts[0]
        for p in parts[1:]:
            allrows = allrows.unionByName(p)
        payload = [c for c in allrows.columns if c not in self.key]
        folded = (
            allrows.groupBy(*self.key)
            .agg(F.max_by(F.struct(*payload), F.col("_seq")).alias("_r"))
            .select(*self.key, "_r.*")
            .drop("_seq")
        )
        write_cols = list(fields)
        info: dict = {"over": [d["version"] for d in to_fold]}
        if need_channel:
            write_cols.append("_fold_op")
            info["op_col"] = "_fold_op"
        else:
            folded = folded.drop("_fold_op")
        v = (self.current_version() or 0) + 1
        self._write_snapshot(folded, write_cols, self._version_dir(v))
        self._append_commit(v, None, kind="deltafold", info=info)
        return v

    def vacuum(
        self, keep_sidecars: int = 2, retain_superseded: int = 0
    ) -> list[int]:
        """Snapshot GC (Iceberg ``expire_snapshots`` analog): physically
        delete version dirs not referenced by the live view — the latest
        base and the deltas after it.  Without this a long-running
        stream grows disk O(total data ever written), and
        ``purge_columns`` would leave the purged values readable in
        superseded snapshots forever (the reference rotates and prunes
        its cache backups, /root/reference/lib/datamodel/
        serialization.py:399-510; its secrets purge removes the values
        from disk, server/hermesserver.py:411-429).

        ``keep_sidecars``: the newest N commit sidecars survive even
        when their data version is superseded — a crashed sink replays
        only its most recent uncommitted batch, and its persisted
        DLQ-split must still be readable after a mid-downtime
        compaction.

        ``retain_superseded``: additionally keep the newest N
        superseded GENERATIONS on disk (Iceberg's ``older_than``
        retention analog; the reference keeps N rotated backup copies,
        serialization.py:399-510).  A generation is the set of
        versions one superseding commit (a ``base`` from
        compact/overwrite/migrate, or a ``deltafold``) replaced —
        retention by generation, not by dir count, because one
        maintenance cycle supersedes MANY dirs at once (a full compact
        supersedes the old base plus every delta) and a reader's plan
        references the whole set.  With the default 0 every superseded
        dir is destroyed immediately — the behavior ``purge_columns``
        requires.  With N ≥ 1 a sibling reader whose DataFrame plan
        was built just before the latest maintenance cycle still
        resolves — ``CdcPipeline.maintain()`` runs with
        ``retain_superseded=1`` for this reason.  A read planned MORE
        than N maintenance cycles ago can still fail at action time
        (documented trade-off: retention bounds disk, not reader
        age)."""
        base, deltas = self._live_commits()
        live = {c["version"] for c in ([base] if base else []) + deltas}
        vdir = os.path.join(self.path, "versions")
        sidecar_versions = sorted(
            int(n[1:9]) for n in os.listdir(vdir) if n.endswith("-sidecar")
        )
        keep_sc = set(sidecar_versions[-keep_sidecars:] if keep_sidecars else [])
        keep_data: set[int] = set()
        if retain_superseded:
            gens = self._superseded_generations()
            for g in gens[-retain_superseded:]:
                keep_data |= g
        removed: set[int] = set()
        for name in os.listdir(vdir):
            if not (name.startswith("v") and name[1:9].isdigit()):
                continue
            v = int(name[1:9])
            if v in live:
                continue
            if name.endswith("-sidecar"):
                if v in keep_sc:
                    continue
            elif v in keep_data:
                continue
            shutil.rmtree(os.path.join(vdir, name), ignore_errors=True)
            if not name.endswith("-sidecar"):
                removed.add(v)
        if removed:
            self._append_record(
                {"kind": "vacuum", "info": {"removed": sorted(removed)}}
            )
        return sorted(removed)

    def migrate_key(
        self,
        new_key: Sequence[str],
        transform,
        new_schema: T.StructType,
    ) -> None:
        """Live primary-key migration (the reference's dataschema
        update path: pkey changes incl. int↔tuple are applied to the
        cache and trashbin without a resync —
        /root/reference/server/hermesserver.py:340-443 and
        tests/functional/test_scenario_01_single_datasource.py:863-1229).

        ``transform``: DataFrame → DataFrame computing the new key
        columns from the old row (row identity is preserved — every
        live row and retained tombstone is re-keyed, never dropped).
        Commits one new base snapshot plus a ``migrate`` audit record;
        the batch-id ledger survives, so replays of pre-migration
        micro-batches stay no-ops (exactly-once across the migration)."""
        current = self.read(op_col=None)  # keep tombstones: state memory migrates too
        migrated = transform(current)
        old_key = list(self.key)
        new_names = {f.name for f in new_schema.fields}
        removed = sorted(
            f.name for f in self.schema.fields if f.name not in new_names
        )
        self.key = list(new_key)
        self.schema = new_schema
        v = (self.current_version() or 0) + 1
        self._write_snapshot(
            migrated, [f.name for f in new_schema.fields], self._version_dir(v)
        )
        self._append_commit(v, None, kind="base")
        self._append_record(
            {"kind": "migrate", "version": v,
             "info": {"old_key": old_key, "new_key": list(new_key),
                      # full post-migration column set: logged_schema()
                      # folds take this wholesale (the migration may
                      # add AND remove key columns in one step);
                      # "removed" lets the reopen replay drop exactly
                      # these columns without touching reader-declared
                      # columns the log has never seen
                      "removed": removed,
                      "schema": [
                          [f.name, f.dataType.simpleString()]
                          for f in new_schema.fields
                      ]}}
        )

    def purge_columns(self, cols: Sequence[str]) -> None:
        """Purge columns from the cached snapshot (the reference's
        "attribute became SECRET ⇒ remove its values from the cache"
        schema-change path, /root/reference/server/hermesserver.py:
        411-429): rewrites one new base without the columns, narrows
        the table schema, and **vacuums the superseded snapshots** so
        the purged values are physically gone from disk — not merely
        unreferenced (secrets that survive in old version dirs are not
        purged at all)."""
        cols = set(cols)
        bad = cols & set(self.key)
        if bad:
            raise ValueError(f"cannot purge key columns {sorted(bad)}")
        current = self.read(op_col=None)
        self.schema = T.StructType(
            [f for f in self.schema.fields if f.name not in cols]
        )
        v = (self.current_version() or 0) + 1
        self._write_snapshot(
            current, [f.name for f in self.schema.fields], self._version_dir(v)
        )
        self._append_commit(v, None, kind="base")
        self._append_record(
            {"kind": "purge", "version": v, "info": {"columns": sorted(cols)}}
        )
        # secret destruction must not wait for the next maintenance
        # window — and must not preserve the values in crash-replay
        # sidecars either
        self.vacuum(keep_sidecars=0)

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def make_target(
    spark: SparkSession,
    base_dir: str,
    name: str,
    key: Sequence[str],
    schema: T.StructType,
) -> ParquetMergeTable:
    return ParquetMergeTable(
        spark, os.path.join(base_dir, name), key, schema
    )


def scratch_dir(prefix: str = "hermes_spark") -> str:
    d = os.path.join(tempfile.gettempdir(), f"{prefix}-{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    return d

"""IcebergTable — the cluster-side twin of ``ParquetMergeTable``.

Same call surface — ``read(op_col, columns)`` /
``merge(changes, batch_id, op_col, commit_info, sidecar)`` /
``overwrite`` / ``compact`` / ``vacuum`` / ``evolve`` /
``dataschema_events`` / ``annotate_commit`` / ``migrate_key`` /
``purge_columns`` / ``committed_batch_ids`` / ``version_of_batch`` /
``read_sidecar`` — backed by a real Iceberg catalog, so the engine's
pipelines (``JoinCdcPipeline``'s narrow state read,
``ExactlyOnceSink``'s two-ledger DLQ protocol) run unchanged against
either class.  The mapping:

* MERGE is a single ``MERGE INTO`` statement (row-level merge-on-read,
  the protocol ``ParquetMergeTable`` emulates over plain parquet); in
  ``tombstone_mode='retain'`` the DELETE clause is omitted so op=delete
  rows persist as state memory, exactly like the local twin.
* Idempotency rides Iceberg snapshot summary properties (one
  ``hermes.batch-id`` string entry per commit, read back from the
  ``.snapshots`` metadata table).  Batch ids are compared as STRINGS on
  both write and read — the sink uses ids like ``"sink-3"``.
* ``partition_by`` accepts identity columns (``"region"``) or Iceberg
  transform specs verbatim (``"bucket(32, conv_id)"``); writes
  hash-distribute on the partition spec.  It is Iceberg DDL only: the
  local twin writes flat snapshots, because no engine read selects by
  partition.
* ``compact`` → ``rewrite_data_files``; ``vacuum`` →
  ``expire_snapshots``; ``evolve`` → ``ALTER TABLE ADD COLUMNS`` plus a
  ``hermes.dataschema.N`` table property (the published event);
  ``annotate_commit`` → ``hermes.lineage.<version>`` property.
* The commit ``sidecar`` (the sink's persisted DLQ split) lands in a
  companion table ``<identifier>_sidecar`` keyed by batch id, written
  BEFORE the main MERGE so the split is never newer than the data it
  gates.

The sandbox image has no ``iceberg-spark-runtime`` jar, so the
constructor gates on the catalog actually being configured and raises
with setup guidance otherwise — engine code selects the table class by
probing this (never by branching mid-operator).  Every SQL statement
the class runs is produced by a pure string generator below, and those
generators are unit-tested jar-free; only the ``spark.sql`` execution
is cluster-only.

Reference anchors: the sync-ack producer + write-if-changed cache
(/root/reference/server/hermesserver.py:697-724,
lib/datamodel/serialization.py:373-510) — the same exactly-once
contract ParquetMergeTable implements locally.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

# -- pure statement generators (unit-tested jar-free) --------------------


def merge_sql(
    identifier: str,
    view: str,
    key: Sequence[str],
    columns: Sequence[str],
    op_col: str = "op",
    retain_tombstones: bool = False,
) -> str:
    """The one-statement MERGE that applies a classified change batch.

    Default: deletes drop the key, updates/inserts upsert the payload.
    ``retain_tombstones``: op=delete rows UPSERT like any other row —
    the target doubles as the CDC state store and remembers tombstones
    (``ParquetMergeTable(tombstone_mode='retain')``)."""
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in key)
    sets = ", ".join(f"t.{c} = s.{c}" for c in columns)
    ins_cols = ", ".join(columns)
    ins_vals = ", ".join(f"s.{c}" for c in columns)
    if retain_tombstones:
        return (
            f"MERGE INTO {identifier} t USING {view} s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
        )
    return (
        f"MERGE INTO {identifier} t USING {view} s ON {on} "
        f"WHEN MATCHED AND s.{op_col} = 'delete' THEN DELETE "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED AND s.{op_col} != 'delete' "
        f"THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def create_table_sql(
    identifier: str,
    schema: T.StructType,
    partition_by: Sequence[str] | None = None,
) -> str:
    """CREATE TABLE IF NOT EXISTS with an optional partition spec.
    ``partition_by`` entries are identity columns (``"region"``) or
    Iceberg transforms verbatim (``"bucket(32, conv_id)"``,
    ``"days(ts)"``) — the spec language of the Iceberg DDL itself."""
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
    )
    part = (
        f" PARTITIONED BY ({', '.join(partition_by)})" if partition_by else ""
    )
    return (
        f"CREATE TABLE IF NOT EXISTS {identifier} ({cols}) USING iceberg{part}"
    )


def add_columns_sql(identifier: str, added: Sequence[tuple[str, str]]) -> str:
    """ALTER TABLE ADD COLUMNS — Iceberg's non-breaking evolution (new
    columns read back NULL from pre-evolution snapshots, exactly the
    local twin's conform-with-NULLs read)."""
    cols = ", ".join(f"{n} {t}" for n, t in added)
    return f"ALTER TABLE {identifier} ADD COLUMNS ({cols})"


def drop_columns_sql(identifier: str, cols: Sequence[str]) -> str:
    return f"ALTER TABLE {identifier} DROP COLUMN " + ", ".join(cols)


def alter_column_type_sql(identifier: str, col: str, new_type: str) -> str:
    return f"ALTER TABLE {identifier} ALTER COLUMN {col} TYPE {new_type}"


def _is_missing_table_error(e: Exception) -> bool:
    """True when the exception means the target table/view does not
    exist (the only condition under which a create() fallback is
    correct).  Checks the Spark 4 error condition first, then the
    legacy message shapes."""
    cond = None
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(e, attr, None)
        if fn is not None:
            try:
                cond = fn()
            except Exception:
                cond = None
            if cond:
                break
    hay = f"{cond or ''} {e}".upper()
    return (
        "TABLE_OR_VIEW_NOT_FOUND" in hay
        or "TABLE_NOT_FOUND" in hay
        or "NOSUCHTABLE" in hay
        or "TABLE OR VIEW NOT FOUND" in hay
    )


def _q(v) -> str:
    """Single-quote escape for SQL string literals (batch ids embed
    caller-supplied retry tags — an unescaped quote breaks the
    statement mid-commit)."""
    return str(v).replace("'", "''")


def set_properties_sql(identifier: str, props: dict[str, str]) -> str:
    """ALTER TABLE SET TBLPROPERTIES with single-quote escaping."""
    kv = ", ".join(
        "'{}'='{}'".format(k.replace("'", "''"), str(v).replace("'", "''"))
        for k, v in sorted(props.items())
    )
    return f"ALTER TABLE {identifier} SET TBLPROPERTIES ({kv})"


def purge_merge_sql(identifier: str, view: str, key: Sequence[str]) -> str:
    """Physically remove the rows of ``view`` (matched by key) — used
    for tombstone-retention expiry in retain mode, where the regular
    MERGE never deletes."""
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in key)
    return (
        f"MERGE INTO {identifier} t USING {view} s ON {on} "
        f"WHEN MATCHED THEN DELETE"
    )


def expire_snapshots_sql(identifier: str, retain_last: int = 1) -> str:
    """``older_than`` is set far-future: the procedure only expires
    snapshots OLDER than that cutoff (default now-5d), so without it
    recent snapshots — including the ones ``purge_columns`` must
    destroy — would survive readable for days.  ``retain_last`` keeps
    the live snapshot(s), matching the local twin's vacuum (only the
    live view survives)."""
    catalog, table = identifier.split(".", 1)
    return (
        f"CALL {catalog}.system.expire_snapshots(table => '{table}', "
        f"older_than => TIMESTAMP '9999-12-31 00:00:00', "
        f"retain_last => {int(retain_last)})"
    )


def rewrite_data_files_sql(identifier: str) -> str:
    catalog, table = identifier.split(".", 1)
    return f"CALL {catalog}.system.rewrite_data_files(table => '{table}')"


class IcebergTable:
    """Keyed Iceberg target with batch-id-idempotent MERGE (the
    ``ParquetMergeTable`` contract on a real catalog)."""

    BATCH_PROP = "hermes.batch-id"

    def __init__(
        self,
        spark: SparkSession,
        identifier: str,          # catalog.db.table
        key: Sequence[str],
        schema: T.StructType,
        compact_every: int | None = None,   # parity arg; Iceberg compaction
        tombstone_mode: str = "drop",       # is always out-of-band here
        tombstone_retention: str | None = None,
        partition_by: Sequence[str] | None = None,
    ) -> None:
        self.spark = spark
        self.identifier = identifier
        self.key = list(key)
        self.schema = schema
        self.tombstone_mode = tombstone_mode
        self.tombstone_retention = tombstone_retention
        self.partition_by = list(partition_by) if partition_by else None
        catalog = identifier.split(".", 1)[0]
        if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
            raise RuntimeError(
                f"Iceberg catalog {catalog!r} is not configured "
                f"(spark.sql.catalog.{catalog} unset — add the "
                "iceberg-spark-runtime jar and catalog conf, or use "
                "ParquetMergeTable locally)"
            )
        self.spark.sql(
            create_table_sql(self.identifier, self.schema, self.partition_by)
        )
        # latch the declared key for logged_key() — only when the table
        # is FRESH (no snapshots, property absent): a pre-existing
        # table's recorded history wins, exactly like the local twin's
        # create record, which is written only at first creation
        # (tables.py logged_key semantics)
        if (
            "hermes.key" not in self._properties()
            and self.current_version() is None
        ):
            self.spark.sql(
                set_properties_sql(
                    self.identifier, {"hermes.key": json.dumps(self.key)}
                )
            )

    @property
    def _sidecar_identifier(self) -> str:
        return f"{self.identifier}_sidecar"

    # -- reads ---------------------------------------------------------

    def read(
        self,
        op_col: str | None = "op",
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Current state.  ``columns`` prunes the scan (must include
        the key, same contract as the local twin).  In
        ``tombstone_mode='drop'`` the MERGE already deleted the rows; in
        'retain' they are present with op='delete' and the caller
        filters, exactly like the local twin's retain mode."""
        df = self.spark.read.table(self.identifier)
        if columns is not None:
            missing = [k for k in self.key if k not in columns]
            if missing:
                raise ValueError(f"columns must include the key; missing {missing}")
            keep = list(columns)
            if (
                op_col is not None
                and op_col in df.columns
                and op_col not in keep
            ):
                keep.append(op_col)
            df = df.select(*keep)
        return df

    def committed_batch_ids(self) -> set:
        """Batch ids as STRINGS, verbatim from the snapshot summaries —
        the sink writes ids like ``'sink-3'``; int-coercing them raised
        ValueError and made replays undetectable.  Unions the
        property-latched ids of EMPTY batches: a MERGE that changes no
        rows creates no Iceberg snapshot, so those commits are recorded
        as ``hermes.batch.<id>`` table properties instead (otherwise an
        all-stale batch would replay forever and its persisted DLQ
        split would never enqueue)."""
        rows = self.spark.sql(
            f"SELECT summary['{self.BATCH_PROP}'] AS b "
            f"FROM {self.identifier}.snapshots"
        ).collect()
        ids = {r.b for r in rows if r.b is not None}
        ids.update(self._latched_batch_ids())
        return ids

    def current_version(self) -> int | None:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.identifier}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return rows[0].snapshot_id if rows else None

    def version_of_batch(self, batch_id: int | str) -> int | None:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.identifier}.snapshots "
            f"WHERE summary['{self.BATCH_PROP}'] = '{_q(batch_id)}' "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return rows[0].snapshot_id if rows else None

    def _properties(self) -> dict:
        return {
            r.key: r.value
            for r in self.spark.sql(
                f"SHOW TBLPROPERTIES {self.identifier}"
            ).collect()
        }

    def commit_info_of_batch(self, batch_id: int | str) -> dict | None:
        """The lineage info recorded for a batch's commit, or None if
        the batch never committed (``ParquetMergeTable`` parity,
        tables.py commit_info_of_batch).  Caveat vs the local twin:
        there the info rides the SAME ledger append as the data; here
        ``annotate_commit`` writes the ``hermes.lineage.<snapshot>``
        property AFTER the MERGE, so a crash between the two leaves a
        committed batch with ``{}`` — callers (the sink's replay path)
        already treat the inline info as best-effort and fall back to
        the sidecar."""
        v = self.version_of_batch(batch_id)
        if v is None:
            if str(batch_id) not in self._latched_batch_ids():
                return None
            v = f"batch-{batch_id}"  # empty-MERGE commits have no snapshot
        raw = self._properties().get(f"hermes.lineage.{v}")
        return json.loads(raw) if raw else {}

    def logged_key(self) -> list[str] | None:
        """The key the CATALOG currently records (``hermes.key``
        property, latched at first creation and updated by
        ``migrate_key``) — None for tables that predate key logging.
        The declarative layer compares this against a newly-declared
        key to decide whether a live pkey migration is needed."""
        raw = self._properties().get("hermes.key")
        return list(json.loads(raw)) if raw else None

    def logged_schema(self) -> T.StructType | None:
        """The column set the TABLE currently holds.  Iceberg's catalog
        IS the schema log — ``evolve``'s ADD COLUMNS and
        ``purge_columns``'s DROP apply eagerly — so the live DESCRIBE
        output equals the local twin's create + dataschema adds − purge
        drops fold.  None when the catalog returns no columns."""
        rows = self.spark.sql(
            f"DESCRIBE TABLE {self.identifier}"
        ).collect()
        fields = []
        for r in rows:
            name = (r.col_name or "").strip()
            if not name or name.startswith("#"):
                break  # partition/metadata sections follow the columns
            fields.append(
                T.StructField(
                    name, T._parse_datatype_string(r.data_type), True
                )
            )
        return T.StructType(fields) if fields else None

    def _latched_batch_props(self) -> dict:
        """``hermes.batch.<id>`` table properties, id → value.  Value
        '1' = latched at commit time (empty MERGE / ``mark_batch``:
        the batch has NO snapshot and its sidecar rows are the only
        copy of the DLQ split); value 'expired' = latched by
        ``vacuum`` when the batch's snapshot was about to be expired
        (replay detection must survive snapshot GC, but the sidecar
        retention policy applies normally)."""
        props = self.spark.sql(
            f"SHOW TBLPROPERTIES {self.identifier}"
        ).collect()
        return {
            r.key[len("hermes.batch."):]: r.value
            for r in props
            if r.key.startswith("hermes.batch.")
        }

    def _latched_batch_ids(self) -> set:
        return set(self._latched_batch_props())

    def mark_batch(self, batch_id: int | str) -> None:
        """Latch a batch id as committed without writing data (the
        property analog of the local twin's zero-job ledger line)."""
        if str(batch_id) in self.committed_batch_ids():
            return
        self.spark.sql(
            set_properties_sql(
                self.identifier, {f"hermes.batch.{batch_id}": "1"}
            )
        )

    def read_sidecar(self, version: int) -> DataFrame | None:
        """The persisted DLQ-split of the commit with this snapshot id
        (written to the companion sidecar table before the MERGE)."""
        rows = self.spark.sql(
            f"SELECT summary['{self.BATCH_PROP}'] AS b "
            f"FROM {self.identifier}.snapshots "
            f"WHERE snapshot_id = {int(version)}"
        ).collect()
        if not rows or rows[0].b is None:
            return None
        try:
            side = self.spark.read.table(self._sidecar_identifier)
        except Exception:
            return None
        return side.where(side["_sink_batch_id"] == rows[0].b).drop(
            "_sink_batch_id"
        )

    def read_sidecar_of_batch(self, batch_id: int | str) -> DataFrame | None:
        """Batch-keyed sidecar lookup — works for EMPTY batches too
        (they have no snapshot, only the property latch; the sidecar
        table is keyed by batch id directly)."""
        try:
            side = self.spark.read.table(self._sidecar_identifier)
        except Exception:
            return None
        out = side.where(side["_sink_batch_id"] == str(batch_id)).drop(
            "_sink_batch_id"
        )
        return out

    # -- writes --------------------------------------------------------

    def _with_commit_prop(self, batch_id, fn):
        """Stamp the batch id into the Iceberg snapshot summary so a
        replayed micro-batch is detectable (exactly-once)."""
        jvm = self.spark._jvm
        cm = jvm.org.apache.iceberg.spark.CommitMetadata
        cls = self.spark._sc._gateway.jvm.java.util.concurrent.Callable
        # CommitMetadata.withCommitProperties(map, callable, klass)
        props = jvm.java.util.Collections.singletonMap(
            self.BATCH_PROP, str(batch_id)
        )

        class _Call:
            def call(_self):
                fn()

            class Java:
                implements = ["java.util.concurrent.Callable"]

        cm.withCommitProperties(props, _Call(), cls)

    def merge(
        self,
        changes: DataFrame,
        batch_id: int | str | None = None,
        op_col: str = "op",
        commit_info: dict | None = None,
        sidecar: DataFrame | None = None,
    ) -> int | str | None:
        if batch_id is not None and str(batch_id) in self.committed_batch_ids():
            return None  # replay no-op (string-compared on both sides)
        if sidecar is not None and batch_id is not None:
            # before the MERGE: the sink reads the split back only after
            # the main commit is visible, so sidecar-first ordering means
            # a visible commit always finds its split.  The append is
            # made replay-idempotent by deleting any same-id rows first
            # (a crash between sidecar write and MERGE commit re-runs
            # this path; a plain append would duplicate the split)
            from pyspark.sql import functions as F

            tagged = sidecar.withColumn("_sink_batch_id", F.lit(str(batch_id)))
            try:
                self.spark.sql(
                    f"DELETE FROM {self._sidecar_identifier} "
                    f"WHERE _sink_batch_id = '{_q(batch_id)}'"
                )
                tagged.writeTo(self._sidecar_identifier).append()
            except Exception as e:
                # only "table doesn't exist yet" falls through to
                # create(); any other failure (analysis error, transient
                # executor death) must propagate — a blanket fallback
                # masked the root cause behind TableAlreadyExists
                if not _is_missing_table_error(e):
                    raise
                tagged.writeTo(self._sidecar_identifier).create()
        cols = [f.name for f in self.schema.fields]
        view = f"_hermes_changes_{abs(hash((self.identifier, batch_id)))%10**8}"
        changes.createOrReplaceTempView(view)
        stmt = merge_sql(
            self.identifier, view, self.key, cols, op_col,
            retain_tombstones=self.tombstone_mode == "retain",
        )
        run = lambda: self.spark.sql(stmt)  # noqa: E731
        if batch_id is not None:
            self._with_commit_prop(batch_id, run)
            v = self.version_of_batch(batch_id)
            if v is None:
                # the MERGE changed no rows → Iceberg created NO
                # snapshot and the commit property was never written;
                # latch the batch id as a table property so replay
                # detection and sidecar lookup still work.  The commit
                # marker is batch-scoped — returning current_version()
                # here would hand the PREVIOUS batch's snapshot id to
                # annotate_commit, overwriting its lineage.
                self.spark.sql(
                    set_properties_sql(
                        self.identifier, {f"hermes.batch.{batch_id}": "1"}
                    )
                )
                v = f"batch-{batch_id}"
        else:
            run()
            v = self.current_version()
        if commit_info and v is not None:
            self.annotate_commit(v, commit_info)
        return v

    def overwrite(self, df: DataFrame, batch_id: int | str | None = None) -> None:
        w = df.select([f.name for f in self.schema.fields]).writeTo(
            self.identifier
        )
        if batch_id is not None:
            # replace-everything commits carry the batch id too (the
            # local twin records it in its ledger)
            self._with_commit_prop(batch_id, w.overwritePartitions)
        else:
            w.overwritePartitions()

    # -- schema evolution (dataschema events) --------------------------

    def evolve(self, new_schema: T.StructType) -> dict | None:
        """ALTER TABLE ADD COLUMNS + publish the dataschema event as a
        ``hermes.dataschema.N`` table property (ordered BEFORE any
        subsequent data commit, like the local twin's ledger record —
        reference server/hermesserver.py:340-443)."""
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
        if info["added"]:
            self.spark.sql(
                add_columns_sql(
                    self.identifier,
                    [(a["name"], a["type"]) for a in info["added"]],
                )
            )
        seq = len(self.dataschema_events())
        self.spark.sql(
            set_properties_sql(
                self.identifier,
                {f"hermes.dataschema.{seq:06d}": json.dumps(info)},
            )
        )
        fields = list(self.schema.fields) + [
            T.StructField(
                a["name"], T._parse_datatype_string(a["type"]), True
            )
            for a in info["added"]
        ]
        self.schema = T.StructType(fields)
        return info

    def dataschema_events(self) -> list[dict]:
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {self.identifier}"
        ).collect()
        evs = sorted(
            (r.key, r.value) for r in rows
            if r.key.startswith("hermes.dataschema.")
        )
        return [json.loads(v) for _k, v in evs]

    # -- lineage annotations -------------------------------------------

    def annotate_commit(self, version: int | str, info: dict) -> None:
        """Attach metrics/lineage to a commit as a table property keyed
        by snapshot id (summaries are immutable post-commit)."""
        self.spark.sql(
            set_properties_sql(
                self.identifier,
                {f"hermes.lineage.{version}": json.dumps(info)},
            )
        )

    def annotate_last_commit(self, info: dict) -> None:
        v = self.current_version()
        if v is not None:
            self.annotate_commit(v, info)

    # -- maintenance ---------------------------------------------------

    def compact(self, tombstone_retention: Column | None = None) -> None:
        """``rewrite_data_files``, plus tombstone-retention expiry in
        retain mode (expired delete-rows physically removed via a
        purge MERGE — the regular retain-mode MERGE never deletes).

        The expired keys are MATERIALIZED into a scratch table before
        the purge MERGE: a MERGE whose source is a scan of its own
        target is engine-dependent (Iceberg may reject or misread the
        self-referential plan), so the source must be a separate
        committed table.  The scratch is dropped after the MERGE."""
        self.spark.sql(rewrite_data_files_sql(self.identifier))
        fields = [f.name for f in self.schema.fields]
        if (
            self.tombstone_mode == "retain"
            and tombstone_retention is not None
            and "op" in fields
            and "ts" in fields
        ):
            from pyspark.sql import functions as F

            expired = self.read(op_col=None).where(
                (F.col("op") == "delete") & (F.col("ts") < tombstone_retention)
            )
            scratch = f"{self.identifier}_purge_scratch"
            expired.select(*self.key).writeTo(scratch).createOrReplace()
            try:
                self.spark.sql(
                    purge_merge_sql(self.identifier, scratch, self.key)
                )
            finally:
                self.spark.sql(f"DROP TABLE IF EXISTS {scratch}")

    def compact_deltas(self, max_folds: int = 8) -> int | None:
        """Incremental compaction (the local twin's leveled
        ``deltafold``): Iceberg's ``rewrite_data_files`` is already
        incremental — binpack over the small recent files, with its
        own leveling heuristics, so ``max_folds`` is parity-only —
        and the same procedure serves both cadences; only the local
        parquet emulation needs a distinct O(churn) code path."""
        self.spark.sql(rewrite_data_files_sql(self.identifier))
        return None

    def vacuum(
        self, keep_sidecars: int = 2, retain_superseded: int = 0
    ) -> list[int]:
        """Snapshot GC with the ledger-completeness guarantees of the
        local twin, in three ordered steps:

        1. **Latch the batch ids of every snapshot about to expire**
           as ``hermes.batch.<id> = 'expired'`` table properties.
           Iceberg's ``expire_snapshots`` erases the expired
           snapshots' summaries — without the latch,
           ``committed_batch_ids()`` would forget every batch but the
           retained ones and replay detection would silently weaken
           (``ParquetMergeTable.vacuum`` keeps the full ledger; this
           restores parity).
        2. **Sidecar retention, computed BEFORE the main-table
           expiry** (the .snapshots metadata is still complete here —
           running the DELETE after expiry made ``keep_sidecars``
           effectively 1): rows for all but the newest
           ``keep_sidecars`` snapshot-committed batches are deleted
           from the companion table, except batches latched with
           value '1' (empty MERGEs — their sidecar rows are the only
           copy of the DLQ split; 'expired' latches get no such
           protection, or the sidecar table would grow forever).
        3. ``expire_snapshots`` on main + sidecar tables.

        ``retain_superseded`` maps to ``retain_last = 1 + N`` (keep N
        superseded snapshots for concurrently-planned readers — the
        local twin's contract).  Returns [] (Iceberg reports expired
        files in the procedure output, not versions)."""
        snaps = self.spark.sql(
            f"SELECT snapshot_id, summary['{self.BATCH_PROP}'] AS b "
            f"FROM {self.identifier}.snapshots "
            "ORDER BY committed_at DESC"
        ).collect()
        retain_last = 1 + max(0, int(retain_superseded))
        batch_ids_newest_first = [r.b for r in snaps if r.b is not None]
        expiring = {
            r.b for r in snaps[retain_last:] if r.b is not None
        }
        latched = self._latched_batch_props()
        to_latch = sorted(b for b in expiring if b not in latched)
        if to_latch:
            self.spark.sql(
                set_properties_sql(
                    self.identifier,
                    {f"hermes.batch.{b}": "expired" for b in to_latch},
                )
            )
        try:
            keep = set(batch_ids_newest_first[: max(0, int(keep_sidecars))])
            keep.update(b for b, v in latched.items() if v == "1")
            if keep:
                lits = ", ".join(f"'{_q(b)}'" for b in sorted(keep))
                where = f"_sink_batch_id NOT IN ({lits})"
            else:
                where = "TRUE"
            self.spark.sql(
                f"DELETE FROM {self._sidecar_identifier} WHERE {where}"
            )
            self.spark.sql(expire_snapshots_sql(self._sidecar_identifier))
        except Exception as e:
            # only "no sidecar table yet" is a normal condition; a real
            # failure (analysis error, executor death) must surface, or
            # retention silently skips forever and the sidecar table
            # grows one append per DLQ-splitting batch unbounded
            if not _is_missing_table_error(e):
                raise
        self.spark.sql(
            expire_snapshots_sql(self.identifier, retain_last=retain_last)
        )
        return []

    # -- destructive schema ops ----------------------------------------

    def migrate_key(
        self, new_key: Sequence[str], transform, new_schema: T.StructType
    ) -> None:
        """Live pkey migration: evolve the table's columns to the new
        schema FIRST (Iceberg does not auto-evolve on write — an
        int→tuple migration adds key columns the table was created
        without, and the overwrite would fail on the unknown column),
        then re-key every row (tombstones included) via ``transform``
        and replace the contents.  The batch-id history lives in
        snapshot summaries and survives."""
        from hermes_spark.operators.events import diff_schemas

        current = self.read(op_col=None)
        diff = diff_schemas(self.schema, new_schema)
        by_name = {f.name: f for f in new_schema.fields}
        if diff.added:
            self.spark.sql(
                add_columns_sql(
                    self.identifier,
                    [(c, by_name[c].dataType.simpleString()) for c in diff.added],
                )
            )
        for col, _old_t, new_t in diff.retyped:
            self.spark.sql(alter_column_type_sql(self.identifier, col, new_t))
        migrated = transform(current)
        self.key = list(new_key)
        self.schema = new_schema
        migrated.select([f.name for f in new_schema.fields]).writeTo(
            self.identifier
        ).overwritePartitions()
        if diff.removed:
            # dropped AFTER the rewrite: the transform may still read
            # the old columns to compute the new key
            self.spark.sql(drop_columns_sql(self.identifier, diff.removed))
        # record the new key for logged_key() (the local twin's migrate
        # ledger record)
        self.spark.sql(
            set_properties_sql(
                self.identifier, {"hermes.key": json.dumps(self.key)}
            )
        )

    def purge_columns(self, cols: Sequence[str]) -> None:
        """Drop columns AND destroy their values: Iceberg's DROP COLUMN
        is metadata-only, so the data is first rewritten without the
        columns, then the snapshots that still reference the old files
        are expired — the on-disk guarantee ``ParquetMergeTable.
        purge_columns`` + ``vacuum`` gives locally."""
        cols = set(cols)
        bad = cols & set(self.key)
        if bad:
            raise ValueError(f"cannot purge key columns {sorted(bad)}")
        from pyspark.sql import functions as F

        # REWRITE FIRST, while the table still has the columns: the
        # secret values are overwritten with typed NULLs in every data
        # file, so no later step ever scans the table after a
        # destructive DDL (executing a pre-drop lazy plan after DROP
        # COLUMN is engine-dependent).  Only then does the metadata
        # DROP narrow the schema, and the snapshot expiry destroys the
        # old files that still hold the values.
        nulled = self.read(op_col=None).select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                if f.name in cols else F.col(f.name)
                for f in self.schema.fields
            ]
        )
        nulled.writeTo(self.identifier).overwritePartitions()
        self.spark.sql(drop_columns_sql(self.identifier, sorted(cols)))
        self.schema = T.StructType(
            [f for f in self.schema.fields if f.name not in cols]
        )
        # secret destruction overrides sidecar retention entirely: the
        # DLQ-split rows carry the same columns, so every sidecar row
        # (latched batches included) is wiped — the local twin's
        # vacuum(keep_sidecars=0) makes the same trade.  Only a
        # missing sidecar table may be ignored: a TRANSIENT failure
        # here (catalog hiccup, concurrent commit) must propagate, or
        # secret bytes silently survive in sidecar rows that the
        # following vacuum's keep-set then preserves indefinitely.
        try:
            self.spark.sql(
                f"DELETE FROM {self._sidecar_identifier} WHERE TRUE"
            )
        except Exception as e:
            if not _is_missing_table_error(e):
                raise
        # vacuum latches the expiring batch ids first, so replay
        # detection survives the snapshot expiry that destroys the
        # old files' secret values
        self.vacuum(keep_sidecars=0)

    def drop(self) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self.identifier}")
        self.spark.sql(f"DROP TABLE IF EXISTS {self._sidecar_identifier}")

"""IcebergTable: jar-free tests — every SQL statement the class runs
comes from a pure generator tested here, and the call surface is
checked method-by-method against ParquetMergeTable by signature
inspection (the cluster twin must run JoinCdcPipeline/ExactlyOnceSink
unchanged)."""

import inspect

import pytest
from pyspark.sql import types as T

from hermes_spark.iceberg import (
    IcebergTable,
    add_columns_sql,
    create_table_sql,
    drop_columns_sql,
    expire_snapshots_sql,
    merge_sql,
    purge_merge_sql,
    rewrite_data_files_sql,
    set_properties_sql,
)
from hermes_spark.tables import ParquetMergeTable


def test_merge_sql_shape():
    sql = merge_sql(
        "cat.db.target", "chg", ["conv_id", "turn_idx"],
        ["conv_id", "turn_idx", "op", "text"],
    )
    assert "MERGE INTO cat.db.target t USING chg s" in sql
    assert "t.conv_id <=> s.conv_id AND t.turn_idx <=> s.turn_idx" in sql
    assert "WHEN MATCHED AND s.op = 'delete' THEN DELETE" in sql
    assert "WHEN MATCHED THEN UPDATE SET t.conv_id = s.conv_id" in sql
    assert (
        "WHEN NOT MATCHED AND s.op != 'delete' THEN INSERT "
        "(conv_id, turn_idx, op, text) VALUES "
        "(s.conv_id, s.turn_idx, s.op, s.text)" in sql
    )


def test_merge_sql_retain_tombstones():
    """Retain mode = target-as-state: op='delete' rows UPSERT (state
    memory), nothing is physically deleted by the regular MERGE."""
    sql = merge_sql(
        "cat.db.t", "chg", ["id"], ["id", "op", "v"], retain_tombstones=True
    )
    assert "THEN DELETE" not in sql
    assert "WHEN MATCHED THEN UPDATE SET t.id = s.id, t.op = s.op" in sql
    assert "WHEN NOT MATCHED THEN INSERT (id, op, v)" in sql


def test_create_table_sql_with_bucket_spec():
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    sql = create_table_sql(
        "cat.db.t", schema, partition_by=["bucket(32, conv_id)"]
    )
    assert sql == (
        "CREATE TABLE IF NOT EXISTS cat.db.t "
        "(conv_id string, turn_idx int, ts timestamp) USING iceberg "
        "PARTITIONED BY (bucket(32, conv_id))"
    )
    # identity partition column
    assert create_table_sql("c.d.t", schema, ["_bucket"]).endswith(
        "PARTITIONED BY (_bucket)"
    )
    assert "PARTITIONED" not in create_table_sql("c.d.t", schema)


def test_ddl_generators():
    assert add_columns_sql("c.d.t", [("mood", "string"), ("n", "int")]) == (
        "ALTER TABLE c.d.t ADD COLUMNS (mood string, n int)"
    )
    assert drop_columns_sql("c.d.t", ["secret"]) == (
        "ALTER TABLE c.d.t DROP COLUMN secret"
    )
    assert expire_snapshots_sql("cat.db.t") == (
        "CALL cat.system.expire_snapshots(table => 'db.t', "
        "older_than => TIMESTAMP '9999-12-31 00:00:00', retain_last => 1)"
    )
    assert rewrite_data_files_sql("cat.db.t") == (
        "CALL cat.system.rewrite_data_files(table => 'db.t')"
    )
    assert purge_merge_sql("c.d.t", "pv", ["a", "b"]) == (
        "MERGE INTO c.d.t t USING pv s ON t.a <=> s.a AND t.b <=> s.b "
        "WHEN MATCHED THEN DELETE"
    )


def test_set_properties_sql_escapes_quotes():
    sql = set_properties_sql("c.d.t", {"hermes.lineage.9": '{"err": "it\'s"}'})
    assert sql == (
        "ALTER TABLE c.d.t SET TBLPROPERTIES "
        "('hermes.lineage.9'='{\"err\": \"it''s\"}')"
    )


# -- surface parity vs ParquetMergeTable ---------------------------------

PARITY_METHODS = [
    n
    for n, m in inspect.getmembers(ParquetMergeTable, inspect.isfunction)
    if not n.startswith("_")
]


@pytest.mark.parametrize("name", PARITY_METHODS)
def test_surface_parity_method(name):
    """Every public ParquetMergeTable method exists on IcebergTable and
    accepts (at least) the same parameters under the same names — the
    engine's pipelines call either class without branching, so a
    missing kwarg is a cluster-only TypeError."""
    assert hasattr(IcebergTable, name), f"IcebergTable lacks {name}()"
    p_params = list(inspect.signature(getattr(ParquetMergeTable, name)).parameters)
    i_sig = inspect.signature(getattr(IcebergTable, name))
    i_params = set(i_sig.parameters)
    has_var_kw = any(
        p.kind is inspect.Parameter.VAR_KEYWORD
        for p in i_sig.parameters.values()
    )
    for p in p_params:
        assert p in i_params or has_var_kw, (
            f"IcebergTable.{name} missing parameter {p!r} "
            f"(ParquetMergeTable has it — pipelines pass it by keyword)"
        )


def test_constructor_parity():
    """The keyword surface of the constructor matches (location arg
    aside: path vs identifier)."""
    p = set(inspect.signature(ParquetMergeTable.__init__).parameters) - {"path"}
    i = set(inspect.signature(IcebergTable.__init__).parameters) - {"identifier"}
    missing = p - i
    assert not missing, f"IcebergTable.__init__ missing {sorted(missing)}"


def test_catalog_gate_raises_without_runtime(spark):
    schema = T.StructType([T.StructField("id", T.IntegerType())])
    with pytest.raises(RuntimeError, match="not configured"):
        IcebergTable(spark, "nocat.db.t", key=["id"], schema=schema)


def test_batch_ids_are_strings_in_ledger_contract(spark, tmp_work):
    """The sink stamps ids like 'sink-3'; ParquetMergeTable preserves
    them verbatim, and IcebergTable's committed_batch_ids contract is
    now string-typed (int coercion raised ValueError after the first
    string id and made replays undetectable).  Source-level check: the
    method must not contain an int() coercion."""
    import hermes_spark.iceberg as ice

    src = inspect.getsource(ice.IcebergTable.committed_batch_ids)
    assert "int(" not in src
    src_merge = inspect.getsource(ice.IcebergTable.merge)
    assert "str(batch_id)" in src_merge


# -- statement-sequence tests on a recording fake session ----------------
#
# The only executable-logic gap the signature/parity tests cannot catch
# is ORDERING: sidecar delete→append must precede the MERGE, the empty
# MERGE must latch the batch property and return a batch-scoped marker,
# replay must short-circuit before any write, and vacuum must compute
# its sidecar keep-set (and latch expiring batch ids) BEFORE expiring
# main-table snapshots.  A recording fake session pins all of it
# jar-free.

import re


class _Row:
    def __init__(self, **kw):
        self.__dict__.update(kw)


class _Result:
    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class _JvmChain:
    """Stands in for spark._jvm / the py4j gateway: any attribute path
    resolves to itself; CommitMetadata.withCommitProperties invokes the
    callable synchronously (what the real helper does) and records the
    stamped properties."""

    def __init__(self, session):
        self._s = session

    def __getattr__(self, name):
        return self

    def singletonMap(self, k, v):
        return {k: v}

    def withCommitProperties(self, props, callable_, cls):
        self._s.calls.append(("commit_props", dict(props)))
        callable_.call()


class _Writer:
    def __init__(self, session, ident):
        self._s, self._ident = session, ident

    def append(self):
        self._s.calls.append(("append", self._ident))

    def create(self):
        self._s.calls.append(("create", self._ident))

    def overwritePartitions(self):
        self._s.calls.append(("overwrite", self._ident))

    def createOrReplace(self):
        self._s.calls.append(("create_or_replace", self._ident))


class _FakeDF:
    """Minimal DataFrame stand-in for the merge()/compact() paths."""

    def __init__(self, session):
        self._s = session

    def withColumn(self, name, col):
        return self

    def select(self, *a, **k):
        return self

    def where(self, *a, **k):
        return self

    def createOrReplaceTempView(self, view):
        self._s.calls.append(("view", view))

    def writeTo(self, ident):
        return _Writer(self._s, ident)


class FakeIcebergSession:
    """Records every statement; answers the metadata queries
    IcebergTable issues from a tiny in-memory model of the catalog:
    ``snapshots`` is [(snapshot_id, batch_id)] NEWEST FIRST, ``props``
    is the table-properties dict (ALTER SET TBLPROPERTIES updates it;
    CALL expire_snapshots trims the snapshot list to retain_last)."""

    def __init__(self, snapshots=None, props=None, sidecar_exists=True):
        self.snapshots = list(snapshots or [])
        self.props = dict(props or {})
        self.sidecar_exists = sidecar_exists
        self.calls = []
        self._conf = {"spark.sql.catalog.cat": "fake"}
        self.conf = self
        self._jvm = _JvmChain(self)
        self._sc = self._jvm  # _sc._gateway.jvm... resolves via chain

    def get(self, k, default=None):
        return self._conf.get(k, default)

    # the merge() path creates a temp view from the changes frame; the
    # tests hand in this fake frame
    def df(self):
        return _FakeDF(self)

    def sql(self, stmt):
        self.calls.append(("sql", stmt))
        s = " ".join(stmt.split())
        if "FROM cat.db.t.snapshots" in s or "FROM cat.db.t_sidecar.snapshots" in s:
            if s.startswith("SELECT snapshot_id, summary"):
                return _Result(
                    [_Row(snapshot_id=v, b=b) for v, b in self.snapshots]
                )
            if s.startswith("SELECT snapshot_id FROM") and "WHERE summary" in s:
                m = re.search(r"= '([^']*)'", s)
                hits = [v for v, b in self.snapshots if b == m.group(1)]
                return _Result([_Row(snapshot_id=hits[0])] if hits else [])
            if s.startswith("SELECT snapshot_id FROM"):
                return _Result(
                    [_Row(snapshot_id=self.snapshots[0][0])]
                    if self.snapshots else []
                )
            return _Result([_Row(b=b) for _v, b in self.snapshots])
        if s.startswith("SHOW TBLPROPERTIES"):
            return _Result(
                [_Row(key=k, value=v) for k, v in self.props.items()]
            )
        if "SET TBLPROPERTIES" in s:
            for k, v in re.findall(r"'((?:[^']|'')+)'='((?:[^']|'')*)'", s):
                self.props[k.replace("''", "'")] = v.replace("''", "'")
            return _Result([])
        if "expire_snapshots(table => 'db.t'," in s:
            m = re.search(r"retain_last => (\d+)", s)
            self.snapshots = self.snapshots[: int(m.group(1))]
            return _Result([])
        if s.startswith("DELETE FROM cat.db.t_sidecar") and not self.sidecar_exists:
            raise RuntimeError("[TABLE_OR_VIEW_NOT_FOUND] cat.db.t_sidecar")
        return _Result([])

    # -- assertion helpers ---------------------------------------------

    def sql_calls(self):
        return [c[1] for c in self.calls if c[0] == "sql"]

    def index_of(self, kind, needle=None):
        for i, c in enumerate(self.calls):
            if c[0] != kind:
                continue
            if needle is None or (isinstance(c[1], str) and needle in c[1]):
                return i
        raise AssertionError(f"no call ({kind!r}, {needle!r}) in {self.calls}")


SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("op", T.StringType(), True),
        T.StructField("v", T.StringType(), True),
    ]
)


def _table(fake, **kw):
    return IcebergTable(fake, "cat.db.t", key=["id"], schema=SCHEMA, **kw)


def test_merge_sidecar_delete_append_precede_merge():
    """The persisted DLQ split must be durable before the data commit
    is visible (sidecar-first ordering), and the delete-before-append
    makes a crash-replay idempotent."""
    fake = FakeIcebergSession(snapshots=[])
    t = _table(fake)
    # the MERGE creates a snapshot carrying the batch id
    real_sql = fake.sql

    def sql_with_commit(stmt):
        r = real_sql(stmt)
        if stmt.startswith("MERGE INTO cat.db.t "):
            fake.snapshots.insert(0, (101, "7"))
        return r

    fake.sql = sql_with_commit
    v = t.merge(fake.df(), batch_id=7, sidecar=fake.df())
    assert v == 101
    i_del = fake.index_of("sql", "DELETE FROM cat.db.t_sidecar")
    i_app = fake.index_of("append", None)
    i_props = fake.index_of("commit_props")
    i_merge = fake.index_of("sql", "MERGE INTO cat.db.t ")
    assert i_del < i_app < i_props < i_merge
    assert fake.calls[i_props][1] == {"hermes.batch-id": "7"}
    assert fake.calls[i_app][1] == "cat.db.t_sidecar"


def test_merge_replay_short_circuits_before_any_write():
    fake = FakeIcebergSession(snapshots=[(5, "3")])
    t = _table(fake)
    before = len(fake.calls)
    assert t.merge(fake.df(), batch_id=3, sidecar=fake.df()) is None
    writes = [
        c for c in fake.calls[before:]
        if c[0] in ("append", "create", "overwrite", "commit_props")
        or (c[0] == "sql" and ("MERGE" in c[1] or "DELETE" in c[1]))
    ]
    assert writes == [], writes


def test_empty_merge_latches_property_and_returns_batch_marker():
    """A MERGE that changes no rows creates NO Iceberg snapshot: the
    batch id must latch as a table property (replay detection) and the
    returned marker must be batch-scoped so annotate_commit cannot
    stomp the PREVIOUS batch's lineage."""
    fake = FakeIcebergSession(snapshots=[(9, "old")])
    t = _table(fake)
    v = t.merge(fake.df(), batch_id=12, commit_info={"rows": 0})
    assert v == "batch-12"
    assert fake.props.get("hermes.batch.12") == "1"
    assert "12" in t.committed_batch_ids()
    # lineage landed under the batch marker, not snapshot 9
    assert "hermes.lineage.batch-12" in fake.props
    assert "hermes.lineage.9" not in fake.props


def test_merge_sidecar_create_fallback_only_on_missing_table():
    fake = FakeIcebergSession(snapshots=[], sidecar_exists=False)
    t = _table(fake)
    real_sql = fake.sql

    def sql_with_commit(stmt):
        r = real_sql(stmt)
        if stmt.startswith("MERGE INTO cat.db.t "):
            fake.snapshots.insert(0, (42, "1"))
        return r

    fake.sql = sql_with_commit
    assert t.merge(fake.df(), batch_id=1, sidecar=fake.df()) == 42
    assert fake.index_of("create", None) < fake.index_of("sql", "MERGE INTO")


def test_merge_sidecar_other_errors_propagate():
    """A non-missing-table failure of the sidecar write must surface,
    not be masked by a create() that then fails TableAlreadyExists."""
    fake = FakeIcebergSession(snapshots=[])
    t = _table(fake)
    real_sql = fake.sql

    def sql_fail_delete(stmt):
        if stmt.startswith("DELETE FROM cat.db.t_sidecar"):
            raise RuntimeError("executor lost: shuffle fetch failed")
        return real_sql(stmt)

    fake.sql = sql_fail_delete
    with pytest.raises(RuntimeError, match="executor lost"):
        t.merge(fake.df(), batch_id=1, sidecar=fake.df())
    with pytest.raises(AssertionError):
        fake.index_of("create", None)


def test_vacuum_sidecar_keepset_before_main_expiry():
    """ADVICE (round 4, medium): the sidecar-retention DELETE used to
    run AFTER expire_snapshots — whose retain_last=1 had already
    trimmed .snapshots, so keep_sidecars=2 kept at most ONE batch.
    The keep-set must be computed from the still-complete metadata."""
    fake = FakeIcebergSession(
        snapshots=[(3, "b3"), (2, "b2"), (1, "b1")]
    )
    t = _table(fake)
    t.vacuum(keep_sidecars=2)
    i_del = fake.index_of("sql", "DELETE FROM cat.db.t_sidecar")
    i_expire_main = fake.index_of("sql", "expire_snapshots(table => 'db.t'")
    assert i_del < i_expire_main
    delete_stmt = fake.calls[i_del][1]
    # the two NEWEST batches' sidecars survive
    assert "'b3'" in delete_stmt and "'b2'" in delete_stmt
    assert "'b1'" not in delete_stmt


def test_vacuum_latches_expiring_batch_ids():
    """Expiring a snapshot erases its summary — committed_batch_ids()
    must stay complete via hermes.batch.<id>='expired' latches, or
    replays of old batches become undetectable after maintenance."""
    fake = FakeIcebergSession(
        snapshots=[(3, "b3"), (2, "b2"), (1, "b1")]
    )
    t = _table(fake)
    ids_before = t.committed_batch_ids()
    t.vacuum(keep_sidecars=2)
    # fake expire trimmed snapshots to retain_last=1 → only b3 remains
    assert [b for _v, b in fake.snapshots] == ["b3"]
    assert t.committed_batch_ids() == ids_before == {"b1", "b2", "b3"}
    assert fake.props.get("hermes.batch.b1") == "expired"
    assert fake.props.get("hermes.batch.b2") == "expired"
    # the retained snapshot needs no latch
    assert "hermes.batch.b3" not in fake.props


def test_vacuum_protects_empty_merge_latched_sidecars():
    """Value-'1' latches (empty MERGEs) hold the only copy of their
    DLQ split — retention must keep their sidecar rows; 'expired'
    latches must NOT be protected or the sidecar table grows forever."""
    fake = FakeIcebergSession(
        snapshots=[(2, "b2"), (1, "b1")],
        props={"hermes.batch.e9": "1", "hermes.batch.old": "expired"},
    )
    t = _table(fake)
    t.vacuum(keep_sidecars=1)
    delete_stmt = fake.calls[fake.index_of("sql", "DELETE FROM cat.db.t_sidecar")][1]
    assert "'e9'" in delete_stmt       # protected
    assert "'b2'" in delete_stmt       # newest snapshot batch protected
    assert "'old'" not in delete_stmt  # expired latch NOT protected
    assert "'b1'" not in delete_stmt   # beyond keep_sidecars


def test_vacuum_retain_superseded_maps_to_retain_last():
    fake = FakeIcebergSession(
        snapshots=[(3, "b3"), (2, "b2"), (1, "b1")]
    )
    t = _table(fake)
    t.vacuum(retain_superseded=1)
    expire_stmt = fake.calls[
        fake.index_of("sql", "expire_snapshots(table => 'db.t'")
    ][1]
    assert "retain_last => 2" in expire_stmt
    # only b1 expires → only b1 is latched
    assert fake.props.get("hermes.batch.b1") == "expired"
    assert "hermes.batch.b2" not in fake.props


def test_retain_compact_purge_materializes_scratch_before_merge():
    """ADVICE (round 4, low): the tombstone purge MERGE must not read
    its own target as the source — the expired keys land in a scratch
    table first, then the purge MERGE uses the scratch, then drops it."""
    from pyspark.sql import functions as F

    fake = FakeIcebergSession(snapshots=[(1, "b1")])
    t = _table(fake, tombstone_mode="retain")
    ts_col = T.StructField("ts", T.TimestampType(), True)
    t.schema = T.StructType(list(SCHEMA.fields) + [ts_col])

    class _ReadDF(_FakeDF):
        pass

    real_read = t.read
    t.read = lambda **kw: _ReadDF(fake)  # compact reads current state
    t.compact(tombstone_retention=F.lit("2020-01-01"))
    i_scratch = fake.index_of("create_or_replace", None)
    i_purge = fake.index_of("sql", "WHEN MATCHED THEN DELETE")
    i_drop = fake.index_of("sql", "DROP TABLE IF EXISTS cat.db.t_purge_scratch")
    assert i_scratch < i_purge < i_drop
    purge_stmt = fake.calls[i_purge][1]
    assert "USING cat.db.t_purge_scratch" in purge_stmt
    t.read = real_read


def test_retain_compact_purge_skipped_without_ts_column():
    """The purge filter hardcodes 'ts' — without the column the purge
    must be skipped entirely, not raise at analysis time."""
    from pyspark.sql import functions as F

    fake = FakeIcebergSession(snapshots=[(1, "b1")])
    t = _table(fake, tombstone_mode="retain")  # SCHEMA has op but no ts
    t.compact(tombstone_retention=F.lit("2020-01-01"))
    with pytest.raises(AssertionError):
        fake.index_of("sql", "WHEN MATCHED THEN DELETE")


def test_purge_columns_rewrites_before_destructive_ddl():
    """The value-destroying rewrite must execute BEFORE the DROP COLUMN
    and the snapshot expiry: executing a pre-drop lazy scan after the
    DROP is engine-dependent, and expiring before the rewrite would
    leave the only readable copy holding the secrets."""
    fake = FakeIcebergSession(snapshots=[(1, "b1")])
    t = _table(fake)

    class _ReadDF(_FakeDF):
        pass

    t.read = lambda **kw: _ReadDF(fake)
    t.purge_columns(["v"])
    i_rewrite = fake.index_of("overwrite", None)
    i_drop = fake.index_of("sql", "DROP COLUMN")
    i_expire = fake.index_of("sql", "expire_snapshots(table => 'db.t',")
    assert i_rewrite < i_drop < i_expire
    # schema narrowed after the DDL
    assert [f.name for f in t.schema.fields] == ["id", "op"]
    # sidecar rows wiped unconditionally (the DLQ split carries the
    # same columns)
    fake.index_of("sql", "DELETE FROM cat.db.t_sidecar WHERE TRUE")


def test_purge_columns_transient_sidecar_delete_propagates():
    """A TRANSIENT failure of the sidecar wipe (catalog hiccup,
    concurrent commit — anything but a missing table) must propagate:
    swallowing it leaves secret bytes readable in sidecar rows that
    the following vacuum's keep-set then preserves indefinitely."""
    fake = FakeIcebergSession(snapshots=[(1, "b1")])
    t = _table(fake)

    class _ReadDF(_FakeDF):
        pass

    t.read = lambda **kw: _ReadDF(fake)
    real_sql = fake.sql

    def flaky_sql(stmt):
        if stmt.startswith("DELETE FROM cat.db.t_sidecar"):
            raise RuntimeError("connection reset by peer")
        return real_sql(stmt)

    fake.sql = flaky_sql
    with pytest.raises(RuntimeError, match="connection reset"):
        t.purge_columns(["v"])
    # the failure surfaced BEFORE the snapshot expiry ran — the caller
    # knows destruction did not complete
    with pytest.raises(AssertionError):
        fake.index_of("sql", "expire_snapshots")


def test_purge_columns_missing_sidecar_tolerated():
    """Only a missing sidecar table may be ignored (nothing to wipe);
    the purge then proceeds to the snapshot expiry as before."""
    fake = FakeIcebergSession(snapshots=[(1, "b1")], sidecar_exists=False)
    t = _table(fake)

    class _ReadDF(_FakeDF):
        pass

    t.read = lambda **kw: _ReadDF(fake)
    t.purge_columns(["v"])
    fake.index_of("sql", "expire_snapshots(table => 'db.t',")


def test_migrate_key_drops_removed_columns_after_rewrite():
    """migrate_key may read the old key columns inside the transform —
    the DROP of removed columns must come after the rewrite commit."""
    fake = FakeIcebergSession(snapshots=[(1, "b1")])
    t = _table(fake)

    class _ReadDF(_FakeDF):
        pass

    t.read = lambda **kw: _ReadDF(fake)
    new_schema = T.StructType(
        [
            T.StructField("nid", T.StringType(), False),
            T.StructField("op", T.StringType(), True),
        ]
    )
    t.migrate_key(["nid"], lambda df: df, new_schema)
    i_add = fake.index_of("sql", "ADD COLUMNS")
    i_rewrite = fake.index_of("overwrite", None)
    i_drop = fake.index_of("sql", "DROP COLUMN")
    assert i_add < i_rewrite < i_drop
    assert t.key == ["nid"]


# -- logged key/schema + commit-info parity (round 6) -------------------

def test_fresh_table_latches_declared_key():
    """First creation records hermes.key (the local twin's create
    ledger record); logged_key reads it back."""
    fake = FakeIcebergSession(snapshots=[])
    t = _table(fake)
    assert fake.props["hermes.key"] == '["id"]'
    assert t.logged_key() == ["id"]


def test_preexisting_table_key_history_wins():
    """A table with snapshots but no hermes.key predates key logging —
    init must NOT stamp the newly-declared key over unknown history."""
    fake = FakeIcebergSession(snapshots=[(5, "b1")])
    t = _table(fake)
    assert "hermes.key" not in fake.props
    assert t.logged_key() is None
    # and a recorded key from a previous run is returned, not replaced
    fake2 = FakeIcebergSession(
        snapshots=[(5, "b1")], props={"hermes.key": '["old_id"]'}
    )
    t2 = IcebergTable(fake2, "cat.db.t", key=["id"], schema=SCHEMA)
    assert t2.logged_key() == ["old_id"]


def test_migrate_key_updates_logged_key():
    fake = FakeIcebergSession(snapshots=[(1, "b1")])
    t = _table(fake)
    t.read = lambda **kw: _FakeDF(fake)
    new_schema = T.StructType(
        [
            T.StructField("nid", T.StringType(), False),
            T.StructField("op", T.StringType(), True),
        ]
    )
    t.migrate_key(["nid"], lambda df: df, new_schema)
    assert t.logged_key() == ["nid"]


def test_commit_info_of_batch_reads_lineage_property():
    fake = FakeIcebergSession(
        snapshots=[(7, "b1")],
        props={"hermes.lineage.7": '{"inserts": 3}'},
    )
    t = _table(fake)
    assert t.commit_info_of_batch("b1") == {"inserts": 3}
    # committed batch without lineage (crash between MERGE and
    # annotate): {} not None — the batch DID commit
    fake.snapshots.insert(0, (9, "b2"))
    assert t.commit_info_of_batch("b2") == {}
    # never-committed batch
    assert t.commit_info_of_batch("nope") is None


def test_commit_info_of_batch_empty_merge_latch():
    """An empty MERGE creates no snapshot; its id is property-latched
    and its lineage rides the batch-scoped marker."""
    fake = FakeIcebergSession(
        snapshots=[],
        props={
            "hermes.batch.b9": "1",
            "hermes.lineage.batch-b9": '{"inserts": 0}',
        },
    )
    t = _table(fake)
    assert t.commit_info_of_batch("b9") == {"inserts": 0}

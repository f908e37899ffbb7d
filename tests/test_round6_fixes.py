"""Round-6 ADVICE fixes, unit level.

1. iceberg purge_columns sidecar-wipe exception narrowing is covered
   in test_iceberg.py (fake-session statement tests).
2. sink._delta_is_empty: an int commit (an Iceberg snapshot id, or a
   local delta version) PROVES the delta write ran (an empty Iceberg
   MERGE returns a "batch-<id>" string marker), so an Observation
   failure on such a batch must propagate instead of zero-filling
   lineage counters.
3. jdbc dbtable/query exclusivity + un-encoded-query detection is
   covered in test_events_sources.py.
"""

from hermes_spark.streaming.sink import ExactlyOnceSink


class _IcebergLikeTarget:
    """Has no _version_dir (driver cannot inspect data files)."""

    key = ["id"]


class _LocalLikeTarget:
    def _version_dir(self, v):
        raise FileNotFoundError(v)

    key = ["id"]


def _sink(target):
    s = object.__new__(ExactlyOnceSink)
    s.target = target
    return s


def test_delta_is_empty_iceberg_int_commit_proves_nonempty():
    s = _sink(_IcebergLikeTarget())
    # int snapshot id = the MERGE changed rows -> definitively False
    assert s._delta_is_empty(12345) is False
    # string marker = empty MERGE latched as a table property -> the
    # driver cannot tell more; stays best-effort
    assert s._delta_is_empty("batch-7") is None


def test_delta_is_empty_local_int_commit_proves_nonempty():
    s = _sink(_LocalLikeTarget())
    # a local delta version: the write ran, so a missing Observation is
    # a real failure — the version dir is never inspected
    assert s._delta_is_empty(3) is False
    assert s._delta_is_empty("sink-3") is None

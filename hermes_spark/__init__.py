"""hermes_spark — a from-scratch PySpark-native streaming CDC/CEP engine.

Re-expresses the change-propagation algebra of the reference CDC tool
(DSIN-INSA-Strasbourg/Hermes, studied read-only at /root/reference) as an
idiomatic Spark engine: snapshot diffing into insert/update/delete change
events (reference: lib/datamodel/dataobjectlist.py:294-322), multi-source
merge constraints (dataobjectlist.py:217-292), FK integrity fixpoints
(server/datamodel.py:647-702), per-key ordered delivery + error-queue
semantics (clients/errorqueue.py), event compaction / autoremediation
(clients/errorqueue.py:187-417), trashbin soft-delete with retention
(clients/__init__.py:757-813), and an exactly-once idempotent sink
(server/hermesserver.py:697-724) — all as DataFrame / Structured Streaming
plans, never per-row Python.

Nothing here is a port: the reference is a single-process, in-memory,
dict-based Python service; this package is designed for a multi-executor
Spark cluster at 10^12-turn scale (partitioned state, salted skew handling,
broadcast dims, checkpointed offsets).
"""

from hermes_spark import zipcache
from hermes_spark.config import (
    ConfigError,
    build_pipeline,
    load_config,
    register_validator,
)
from hermes_spark.session import build_session

# Python workers import this package while unpickling their first task;
# from then on each task's importlib.invalidate_caches() skips the
# unchanged pyspark.zip instead of re-reading its directory
zipcache.install()

__all__ = [
    "build_session",
    "build_pipeline",
    "load_config",
    "register_validator",
    "ConfigError",
]
__version__ = "0.1.0"

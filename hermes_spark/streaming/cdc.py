"""Stateful CDC classification (the streaming J3).

Each arriving turn is classified insert / update / delete against a
state store keyed by a hash bucket of its conversation, reproducing
the reference's snapshot-diff semantics
(/root/reference/lib/datamodel/dataobjectlist.py:294-322 and the client
apply path clients/datamodel.py:645-659) incrementally:

* first delivery of a (conv_id, turn_idx)        → insert
* re-delivery with a different content checksum   → update
* re-delivery with the same checksum              → no-op (dropped;
  unchanged rows never re-emit — the reference's dedup-by-content)
* tombstone (text IS NULL)                        → delete if the key
  is live, else no-op (the tombstone is still remembered)

**Last-writer-by-event-time.** The reference consumes a totally
ordered bus, so it can apply deliveries blindly in arrival order.  A
distributed file/object stream has no such guarantee — micro-batch
composition depends on listing order — so state stores
``(event_ts, cks64)`` per key and a delivery older than the stored
entry is *stale* and suppressed (ties broken by the larger cks64,
making the final state a deterministic max over deliveries, completely
independent of batch grouping).  Tombstones are remembered with their
timestamp so a reordered older insert cannot resurrect a deleted turn.
Within one micro-batch at most ONE compacted event per key is emitted
(classified against the batch-start state — the sink MERGE wants one
row per key; compaction is the reference's autoremediation
``_mergeEvents`` collapsed to first/last state, errorqueue.py:187-417).

Design for 10^12 turns — the hot path is *binary + vectorized*:

* The 8-byte content hash ``cks64`` (xxhash64, JVM-side) is the ONLY
  hash that enters the stateful operator; the sha256 event checksum is
  computed JVM-side **after** classification, on emitted (changed)
  rows only — re-delivered no-op rows never pay the 64-byte string
  round trip through Arrow.
* State is keyed by ``xxhash64(conv_id) mod n_buckets`` — one grouped
  state row per bucket, not per conversation — and stored as **binary
  blobs** (packed little-endian numpy buffers: int64 composite keys,
  int64 ts, int64 cks, a tombstone bitmask, and a dict-encoded
  conversation table).  The state round trip is a handful of
  ``bytes`` objects per group — pure memcpy through Arrow — instead
  of millions of boxed Python ints/strings per micro-batch.  At 5M
  live turns the full state is ~120 MB of buffers; boxed, it was
  multiple GB of object churn, which is what flattened the N→4N
  scaling curve in round 1.
* Classification itself is branch-free numpy over the whole group
  (lexsort → per-key in-batch winner → ``searchsorted`` state lookup →
  vectorized truth table); no per-row Python anywhere.
* Buckets whose state did not change skip ``state.update`` entirely —
  idle buckets pay the read, never the write.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hermes_spark.operators.checksum import row_cksum
from hermes_spark.schema import CHANGE_EVENT_SCHEMA, TRANSCRIPTS

# state of one bucket: every conversation in it, dict-encoded
BUCKET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("uconvs", T.BinaryType(), True),  # length-prefixed conv ids
        T.StructField("keys", T.BinaryType(), True),    # int64[] = conv_ix<<32|turn
        T.StructField("ts_us", T.BinaryType(), True),   # int64[]
        T.StructField("cks", T.BinaryType(), True),     # int64[]
        T.StructField("tomb", T.BinaryType(), True),    # packbits bitmask
    ]
)

# classifier core output (sha256 cksum is appended JVM-side afterwards)
CHANGE_CORE_SCHEMA = T.StructType(
    [f for f in CHANGE_EVENT_SCHEMA.fields if f.name != "cksum"]
)

_IN_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "cks64", "_bucket"]

_NEG_INF = -(1 << 62)

_I64 = np.dtype("<i8")

_OPS = np.array(["noop", "insert", "update", "delete"], dtype=object)
_OP_INSERT, _OP_UPDATE, _OP_DELETE = 1, 2, 3


def _unpack(blob: bytes | None, dtype=_I64) -> np.ndarray:
    if not blob:
        return np.empty(0, dtype=dtype)
    return np.frombuffer(blob, dtype=dtype)


def _unpack_mask(blob: bytes | None, n: int) -> np.ndarray:
    if not blob or n == 0:
        return np.zeros(n, dtype=bool)
    return np.unpackbits(np.frombuffer(blob, dtype=np.uint8), count=n).astype(bool)


def _pack_convs(uconvs: list) -> bytes:
    """Length-prefixed conv-id table: u32 count, u32 byte-lengths,
    concatenated utf-8.  Content-safe — a conv id may contain ANY
    character (a separator-joined encoding would silently re-key every
    subsequent conversation if an id contained the separator)."""
    bs = [c.encode("utf-8") for c in uconvs]
    lens = np.array([len(b) for b in bs], dtype="<u4")
    return (
        np.uint32(len(bs)).tobytes() + lens.tobytes() + b"".join(bs)
    )


def _unpack_convs(blob: bytes | None) -> list:
    if not blob:
        return []
    n = int(np.frombuffer(blob[:4], dtype="<u4")[0])
    lens = np.frombuffer(blob[4 : 4 + 4 * n], dtype="<u4")
    data = blob[4 + 4 * n :]
    out, p = [], 0
    for ln in lens:
        out.append(data[p : p + ln].decode("utf-8"))
        p += int(ln)
    return out


def _classify_core(
    k_s: np.ndarray, ts_s: np.ndarray, cks_s: np.ndarray, tomb_s: np.ndarray,
    kb: np.ndarray, ts_us: np.ndarray, cks: np.ndarray, tomb: np.ndarray,
):
    """Vectorized last-writer classification of one group's micro-batch
    against its state (all int64 numpy; no Python per row).

    Returns (w, opc, changed, new_state) where ``w`` indexes the
    per-key in-batch winner rows in the batch arrays, ``opc`` is the
    op code per winner (0 noop / 1 insert / 2 update / 3 delete),
    ``changed`` says whether state must be rewritten, and ``new_state``
    is the updated (k, ts, cks, tomb) tuple (sorted by key).
    """
    # in-batch winner per key: rank = (ts, cks-or--inf) — identical tie
    # rules to the join-mode classifier (streaming/cdc_join.py::_rank)
    ckr = np.where(tomb, _NEG_INF, cks)
    order = np.lexsort((ckr, ts_us, kb))
    kb_o = kb[order]
    last = np.empty(len(kb_o), dtype=bool)
    if len(kb_o):
        last[:-1] = kb_o[1:] != kb_o[:-1]
        last[-1] = True
    w = order[last]                   # winner row indices, key-ascending
    wk = kb_o[last]

    ts_w, ckr_w, tomb_w, cks_w = ts_us[w], ckr[w], tomb[w], cks[w]

    # state lookup (k_s sorted)
    pos = np.searchsorted(k_s, wk)
    safe = np.minimum(pos, max(len(k_s) - 1, 0))
    found = (pos < len(k_s)) & (k_s[safe] == wk) if len(k_s) else np.zeros(len(wk), bool)
    pre_ts = np.where(found, ts_s[safe] if len(k_s) else 0, _NEG_INF)
    pre_cks = np.where(found, cks_s[safe] if len(k_s) else 0, 0)
    pre_tomb = np.where(found, tomb_s[safe] if len(k_s) else False, False)
    pre_ckr = np.where(found & ~pre_tomb, pre_cks, _NEG_INF)
    pre_live = found & ~pre_tomb

    # strict rank comparison: stale / duplicate deliveries are suppressed
    applied = (ts_w > pre_ts) | ((ts_w == pre_ts) & (ckr_w > pre_ckr))

    # truth table (classified against batch-START state)
    opc = np.zeros(len(wk), dtype=np.int8)
    opc[applied & tomb_w & pre_live] = _OP_DELETE
    opc[applied & ~tomb_w & ~pre_live] = _OP_INSERT
    opc[applied & ~tomb_w & pre_live & (cks_w != pre_cks)] = _OP_UPDATE
    # applied & tomb & !pre_live → noop (tombstone remembered);
    # applied & !tomb & pre_live & same cks → noop (ts advances only)

    if not applied.any():
        return w, opc, False, (k_s, ts_s, cks_s, tomb_s)

    upd = applied & found
    ins = applied & ~found
    ts_n, cks_n, tomb_n, k_n = ts_s.copy(), cks_s.copy(), tomb_s.copy(), k_s
    if upd.any():
        idx = pos[upd]
        ts_n[idx] = ts_w[upd]
        cks_n[idx] = cks_w[upd]
        tomb_n[idx] = tomb_w[upd]
    if ins.any():
        k_n = np.concatenate([k_s, wk[ins]])
        ts_n = np.concatenate([ts_n, ts_w[ins]])
        cks_n = np.concatenate([cks_n, cks_w[ins]])
        tomb_n = np.concatenate([tomb_n, tomb_w[ins]])
        o2 = np.argsort(k_n, kind="stable")
        k_n, ts_n, cks_n, tomb_n = k_n[o2], ts_n[o2], cks_n[o2], tomb_n[o2]
    return w, opc, True, (k_n, ts_n, cks_n, tomb_n)


def _drop_null_ts(pdf: pd.DataFrame) -> pd.DataFrame:
    """Rows with a null event time have no last-writer rank — they are
    explicitly dropped here (TRANSCRIPT_SCHEMA declares ts non-null,
    but Spark file sources do not enforce user-schema nullability at
    runtime).  Without this, NaT → int64 min would sort below the
    'key absent' sentinel and the row would be silently swallowed."""
    mask = pdf["ts"].notna()
    if bool(mask.all()):
        return pdf
    return pdf[mask.to_numpy()].reset_index(drop=True)


def _batch_arrays(pdf: pd.DataFrame):
    ti = pdf["turn_idx"].to_numpy(dtype=np.int64)
    ts = pdf["ts"].to_numpy()
    ts_us = ts.astype("datetime64[us]").astype(np.int64)
    cks = pdf["cks64"].to_numpy(dtype=np.int64)
    tomb = pdf["text"].isna().to_numpy()
    return ti, ts, ts_us, cks, tomb


def _emit(pdf: pd.DataFrame, w: np.ndarray, opc: np.ndarray,
          ts: np.ndarray) -> pd.DataFrame | None:
    keep = opc != 0
    if not keep.any():
        return None
    sel = w[keep]
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].to_numpy()[sel],
            "turn_idx": pdf["turn_idx"].to_numpy()[sel],
            "op": _OPS[opc[keep]],
            "role": pdf["role"].to_numpy()[sel],
            "text": pdf["text"].to_numpy()[sel],
            "tool": pdf["tool"].to_numpy()[sel],
            "ts": ts[sel],
        }
    )


def _classify_bucket(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Grouped-state function (state key = hash bucket of conv_id):
    the state holds every conversation of the bucket with the conv
    dimension dict-encoded (conv table + int32 index packed into the
    int64 composite key), so per-turn state is 25 bytes flat.

    All Arrow chunks of the group are concatenated before classifying,
    so exactly one compacted event per key per micro-batch is emitted
    even when the group spans chunks (mega-conversations)."""
    if state.exists:
        uconvs_b, keys_b, ts_b, cks_b, tomb_b = state.get
        uconvs = _unpack_convs(uconvs_b)
        k_s = _unpack(keys_b)
        ts_s, cks_s = _unpack(ts_b), _unpack(cks_b)
        tomb_s = _unpack_mask(tomb_b, len(k_s))
    else:
        uconvs = []
        k_s = np.empty(0, _I64)
        ts_s = cks_s = k_s
        tomb_s = np.zeros(0, bool)
    conv_ix = {c: i for i, c in enumerate(uconvs)}

    chunks = list(pdfs)
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    pdf = _drop_null_ts(pdf)
    ti, ts, ts_us, cks, tomb = _batch_arrays(pdf)
    if len(ti) and (int(ti.min()) < 0 or int(ti.max()) >= 1 << 32):
        raise ValueError(
            "turn_idx out of [0, 2^32) — cannot pack into the int64 "
            "composite state key"
        )

    # dict-encode conv ids: python only over the batch's UNIQUE convs
    codes, uniques = pd.factorize(pdf["conv_id"].to_numpy(dtype=object))
    ux = np.empty(len(uniques), dtype=np.int64)
    for i, c in enumerate(uniques):
        j = conv_ix.get(c)
        if j is None:
            j = len(uconvs)
            uconvs.append(c)
            conv_ix[c] = j
        ux[i] = j
    kb = (ux[codes] << np.int64(32)) | ti

    w, opc, changed, (k_n, ts_n, cks_n, tomb_n) = _classify_core(
        k_s, ts_s, cks_s, tomb_s, kb, ts_us, cks, tomb
    )
    if changed:
        state.update(
            (
                _pack_convs(uconvs),
                k_n.astype(_I64).tobytes(),
                ts_n.astype(_I64).tobytes(),
                cks_n.astype(_I64).tobytes(),
                np.packbits(tomb_n).tobytes(),
            )
        )
    out = _emit(pdf, w, opc, ts)
    if out is not None:
        yield out


def with_content_cksum(turns: DataFrame) -> DataFrame:
    """JVM-side checksums over the event-visible columns (schema
    registry: TRANSCRIPTS.event_visible) — NULL text yields a checksum
    too, but tombstones are classified by text IS NULL, not by cksum.

    Two hashes: ``cksum`` (sha256 hex — event payload, MERGE guard,
    merkle leaves) and ``cks64`` (xxhash64 — the state-store compare
    key; 8 bytes instead of 64, which is most of the state size)."""
    return with_cks64(turns).withColumn(
        "cksum", row_cksum(list(TRANSCRIPTS.event_visible))
    )


def with_cks64(turns: DataFrame) -> DataFrame:
    """Only the 8-byte content hash — the stateful classifier's input
    (the sha256 event checksum is attached to *emitted* rows after
    classification; unchanged rows never pay for it)."""
    cols = list(TRANSCRIPTS.event_visible)
    return turns.withColumn(
        "cks64",
        F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]),
    )


def classify_changes(
    turns: DataFrame,
    watermark: str | None = "10 minutes",
    n_buckets: int = 1024,
) -> DataFrame:
    """Streaming DataFrame of turns → change-event stream.

    ``n_buckets``: state-key coarsening factor — the state is keyed by
    ``xxhash64(conv_id) mod n_buckets`` (semantics do not depend on
    it; ``n_buckets=1`` puts every conversation in one state row).
    The final target state is delivery-order-independent (last-writer
    by event time), so any micro-batch grouping of the same input
    yields the same target — the batch oracle is last-writer per key.
    """
    if n_buckets is None or n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets!r}")
    src = with_cks64(turns)
    if watermark is not None and turns.isStreaming:
        src = src.withWatermark("ts", watermark)
    src = src.withColumn("_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)))
    changed = src.select(*_IN_COLS).groupBy("_bucket").applyInPandasWithState(
        _classify_bucket,
        outputStructType=CHANGE_CORE_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # sha256 event checksum: JVM-side, on emitted rows only
    return changed.withColumn("cksum", row_cksum(list(TRANSCRIPTS.event_visible)))

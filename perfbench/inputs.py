"""Seeded inputs and oracles for the streaming benchmark.

Everything here is plain numpy/pandas/pyarrow.  ``run.py`` calls this
file as a child process before any SparkSession exists, so neither the
measured session nor the measured driver process ever holds the
generated frames:

    python3 perfbench/inputs.py <workload> <seed> <seconds> <work_dir>

writes, under ``work_dir``: ``warm/`` (the warm-up round's files),
``src/`` (the drain backlog, staged before the query starts) and
``stage/paced.parquet`` (the paced files, each row tagged with its file
index, read by the pacer process).
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the engine's TRANSCRIPT_SCHEMA as Arrow: microsecond UTC timestamps
# (a tz-naive or nanosecond column is refused by Spark's TIMESTAMP read)
ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

KEY = ["conv_id", "turn_idx"]

DRAIN_TRIGGERS = 3    # the backlog fills this many full triggers
WARM_TRIGGERS = 2     # and the untimed warm-up round this many


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str                   # stateful | join
    turns_per_file: int
    files_per_s: float          # paced phase: offered files per second
    max_files_per_trigger: int
    maintain_every: int | None = None  # in-stream compact_deltas + vacuum

    @property
    def turns_per_s(self) -> float:
        return self.turns_per_file * self.files_per_s


# offered turns/s = turns_per_file × files_per_s, about half of each
# workload's drain_turns_per_s median on a 4-vCPU host (medians of
# ten-seed sets): cdc_stateful 1562 of 2990-3272, cdc_join 875 of
# 1979-2164.  cdc_join sits lower because its paced triggers are small
# and every second one pays a fold of the deltas: at 1062 turns/s it
# neared saturation whenever the host ran slow, and lag jumped between
# runs.
# At 12.5 files/s a 14-second paced phase lands 175 files over eight
# to ten triggers, so p90 has 17 samples beyond it and no single slow
# trigger decides it; with an 8-second phase (five triggers) the lag
# spread over ten seeds reached 0.3-0.5.
# cdc_join runs maintenance after every micro-batch: with a cadence of
# 3, every third trigger is a slow one, and commit lag depends on which
# files it holds (lag spread over seeds 0.5).
WORKLOADS = {
    w.name: w
    for w in (
        Workload("cdc_stateful", "stateful", 125, 12.5, 70),
        Workload("cdc_join", "join", 70, 12.5, 90, maintain_every=1),
    )
}


def file_name(i: int) -> str:
    return f"part-{i:05d}.parquet"


def write_file(table: pa.Table, directory: str, name: str) -> None:
    """Write under a ``_``-prefixed name (hidden from Spark's file
    listing), then rename: the source never lists a partial file."""
    tmp = os.path.join(directory, "_" + name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))


def _stream(w: Workload, n_files: int, seed: int) -> list[pd.DataFrame]:
    """``n_files`` frames of exactly ``w.turns_per_file`` turns: the
    fixture change stream (zipf lengths, mega conversations,
    re-deliveries of earlier keys), rows shuffled within each change
    batch, then cut into equal files."""
    from hermes_spark.fixtures import (
        TranscriptConfig,
        generate_change_batches,
        generate_transcripts,
    )

    need = n_files * w.turns_per_file
    # ~18 turns per conversation plus 3 mega-conversations; 20% margin
    base = generate_transcripts(TranscriptConfig(
        n_convs=max(60, int(need * 1.2 / 18)), seed=seed, mega_len=max(200, need // 60),
    ))
    rng = np.random.default_rng(seed + 1)
    batches = generate_change_batches(base, n_batches=8, seed=seed + 2)
    rows = pd.concat([b.iloc[rng.permutation(len(b))] for b in batches], ignore_index=True)
    if len(rows) < need:
        raise RuntimeError(f"generated {len(rows)} turns, need {need}")
    return [
        rows.iloc[i : i + w.turns_per_file].reset_index(drop=True)
        for i in range(0, need, w.turns_per_file)
    ]


def to_arrow(df: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(df, schema=ARROW_SCHEMA, preserve_index=False)


def _stage(frames: list[pd.DataFrame], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for i, df in enumerate(frames):
        write_file(to_arrow(df), directory, file_name(i))


def generate(w: Workload, seed: int, seconds: int, work: str) -> None:
    """The backlog fills ``DRAIN_TRIGGERS`` full triggers and the
    warm-up round ``WARM_TRIGGERS``; the paced phase offers
    ``seconds × files_per_s`` files.  The warm-up stream comes from a
    derived seed."""
    n = DRAIN_TRIGGERS * w.max_files_per_trigger
    files = _stream(w, n + max(1, round(seconds * w.files_per_s)), seed)
    _stage(_stream(w, WARM_TRIGGERS * w.max_files_per_trigger, seed + 1_000_003),
           os.path.join(work, "warm"))
    _stage(files[:n], os.path.join(work, "src"))
    os.makedirs(os.path.join(work, "stage"))
    pq.write_table(pa.concat_tables([
        to_arrow(f).append_column("_file", pa.array([n + i] * len(f), pa.int32()))
        for i, f in enumerate(files[n:])
    ]), os.path.join(work, "stage", "paced.parquet"))


# -- oracles ----------------------------------------------------------------


def read_files(directory: str) -> list[tuple[str, pd.DataFrame]]:
    """(name, frame) of every source file, in name (= arrival) order."""
    return [
        (name, pq.read_table(os.path.join(directory, name)).to_pandas())
        for name in sorted(os.listdir(directory))
        if name.endswith(".parquet") and not name.startswith("_")
    ]


def expected_final_state(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """Last writer per key by event time; a tombstone removes the key.
    The same rule as the engine's streaming-CDC batch oracle in the
    test suite."""
    allb = pd.concat(frames, ignore_index=True)
    allb = allb.sort_values(["ts", "turn_idx"], kind="stable")
    final = allb.drop_duplicates(subset=KEY, keep="last")
    return final[final["text"].notna()][[*KEY, "text"]].reset_index(drop=True)


def count_mismatches(got: pd.DataFrame, exp: pd.DataFrame) -> int:
    """Keys missing from ``got``, extra in it, or holding other text."""
    m = got[[*KEY, "text"]].merge(
        exp[[*KEY, "text"]], on=KEY, how="outer",
        suffixes=("_got", "_exp"), indicator=True,
    )
    differs = (m["_merge"] != "both") | (m["text_got"] != m["text_exp"])
    return int(differs.sum())


if __name__ == "__main__":
    name, seed, seconds, work = sys.argv[1:5]
    generate(WORKLOADS[name], int(seed), int(seconds), work)

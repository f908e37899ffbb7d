"""Open-loop load generator: a process of its own, apart from the system
under test.

Reads the staged paced files, prints ``ready``, waits for one line
``start <t0> <files_per_s>`` on stdin, then writes file ``i`` at its
due time ``t0 + i / files_per_s`` (wall clock, epoch seconds) whether
or not the system keeps up.  Each file is written under a ``_`` name
and renamed into the source directory.  On exit it prints one JSON
line: per file, its name, due time, turns and the time its rename
finished.

    python3 perfbench/pacer.py <staged.parquet> <source_dir>
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from inputs import file_name, write_file


def main(staged: str, out_dir: str) -> None:
    # staged rows are grouped by their ``_file`` index, in file order
    table = pq.read_table(staged)
    idx = table.column("_file").to_numpy()
    data = table.drop_columns(["_file"])
    starts = np.flatnonzero(np.r_[True, idx[1:] != idx[:-1]])
    ends = np.r_[starts[1:], len(idx)]
    files = [(int(idx[a]), data.slice(a, b - a)) for a, b in zip(starts, ends)]
    print("ready", flush=True)
    cmd = sys.stdin.readline().split()
    if not cmd or cmd[0] != "start":
        raise SystemExit(f"pacer: expected 'start <t0> <rate>', got {cmd!r}")
    t0, rate = float(cmd[1]), float(cmd[2])
    log = []
    for k, (i, tbl) in enumerate(files):
        due = t0 + k / rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        write_file(tbl, out_dir, file_name(i))
        log.append({"name": file_name(i), "due": due, "written": time.time(),
                    "turns": tbl.num_rows})
    print(json.dumps(log), flush=True)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])

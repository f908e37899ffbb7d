"""Streaming CDC benchmark: drain throughput and open-loop commit lag.

    python3 perfbench/run.py --workload cdc_stateful --seed 1 --seconds 14 --trace 0

One run, one workload, one fresh SparkSession on ``local[<cores>]``
(``SPARK_GRAFT_CPUS``, else the CPUs this process may use):

1. Inputs are generated from ``--seed`` by a child process
   (``inputs.py``) before the session starts.
2. Set-up: session start, then one untimed warm-up round shaped like
   the drain: a fresh pipeline over ``WARM_TRIGGERS`` full triggers of
   a stream of its own.  ``setup_s`` = session start + warm-up round.
3. Drain (closed loop): one long-lived query starts over a staged
   backlog of ``DRAIN_TRIGGERS`` full triggers and pulls it as fast as
   it can.  ``drain_turns_per_s`` = backlog turns ÷ wall from query
   start to the end of the last trigger holding a backlog file.
4. Paced (open loop): a separate generator process (``pacer.py``)
   appends files at a fixed rate for ``--seconds`` seconds, about half
   of the workload's drain capacity on a 4-vCPU host, whether or not
   the query keeps up.  Commit lag of a file = end of the trigger whose
   commit holds it − the file's due time.
5. The target is checked against a last-writer-per-key oracle; a
   mismatch fails the run.

Workloads (``inputs.WORKLOADS``): ``cdc_stateful`` is ``CdcPipeline``,
so its ``applyInPandasWithState`` classifier and the sink MERGE do the
work.  ``cdc_join`` is ``JoinCdcPipeline`` over the same kind of stream,
with in-stream maintenance (``compact_deltas`` + ``vacuum``) every few
micro-batches: no Python runs in its hot path.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
same workload with timing spans around the pipeline's own attributes
and reports per-layer metrics instead: an untraced drain of the same
backlog first (the tracing overhead is the traced drain against it),
then the traced pass, and on ``cdc_stateful`` a drain at ``local[1]``
as the single-core baseline.  Spans and per-layer numbers are written
to ``.perfbench_out/``.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# -- pipelines ---------------------------------------------------------------


class Run:
    """One pipeline instance and the query it started."""

    def __init__(self, spark, w, src: str, work: str) -> None:
        from hermes_spark.streaming.cdc_join import JoinCdcPipeline
        from hermes_spark.streaming.pipeline import CdcPipeline

        cls = JoinCdcPipeline if w.kind == "join" else CdcPipeline
        self.pipe = cls(spark, src, work, max_files_per_trigger=w.max_files_per_trigger,
                        maintain_every=w.maintain_every)
        self.query = None

    def start(self) -> None:
        self.query = self.pipe.start()

    def stop(self) -> None:
        self.query.stop()
        self.query.awaitTermination(60)


def _drain_pass(spark, w, src: str, work: str):
    """Drain the files already in ``src`` with a fresh pipeline;
    returns (run, t_start)."""
    run = Run(spark, w, src, work)
    t0 = time.time()
    run.start()
    run.query.processAllAvailable()
    return run, t0


def _copy_backlog(names, src: str, dest: str) -> str:
    """A copy of the backlog files in a fresh source dir, for a drain
    pass of its own."""
    os.makedirs(dest)
    for n in names:
        shutil.copyfile(os.path.join(src, n), os.path.join(dest, n))
    return dest


# -- tracing -------------------------------------------------------------------


def _instrument(pipe, tracer) -> None:
    """Timing wrappers on the instance attributes both pipelines
    dispatch through; no source file changes."""
    tracer.wrap(pipe, "_on_batch", "pipeline.on_batch", trace_arg=1)
    tracer.wrap(pipe, "maintain", "pipeline.maintain")
    for m in ("merge", "read", "compact_deltas", "vacuum"):
        tracer.wrap(pipe.target, m, f"tables.{m}")
    pipe.sink = tracer.proxy(pipe.sink, "sink", trace_arg=1)


# -- measurements --------------------------------------------------------------


def _phase_numbers(run, drain_names, drain_turns, t_start, paced_log):
    """Drain throughput, per-file commit lag and the triggers, from the
    query's own progress and its file-source log."""
    from telemetry import file_batches, triggers

    trig = triggers(run.query)
    batch_of = file_batches(run.pipe.checkpoint)
    end_of = {t["batchId"]: t["end"] for t in trig}

    def committed_at(name):
        return end_of.get(batch_of.get(name))

    drain_end = [committed_at(n) for n in drain_names]
    missing = [n for n, e in zip(drain_names, drain_end) if e is None]
    lags, late = [], []
    for f in paced_log:
        e = committed_at(f["name"])
        late.append(f["written"] - f["due"])
        if e is None:
            missing.append(f["name"])
        else:
            lags.append(e - f["due"])
    last = max((e for e in drain_end if e is not None), default=None)
    return {
        "triggers": trig,
        "batch_of": batch_of,
        "drain_wall_s": (last - t_start) if last is not None else float("nan"),
        "drain_turns_per_s": drain_turns / (last - t_start) if last is not None else 0.0,
        "lags": lags,
        "late": late,
        "missing": missing,
    }


def _check(run, files) -> int:
    """Keys whose final target state disagrees with the oracle."""
    from inputs import KEY, count_mismatches, expected_final_state

    exp = expected_final_state([f for _, f in files])
    got = run.pipe.target_live().select(*KEY, "text").toPandas()
    return count_mismatches(got, exp)


def _layer_metrics(run, phase, tracer, paced_log, extra) -> dict:
    """Per-layer numbers of the traced pass."""
    from telemetry import pct

    trig = phase["triggers"]
    walls = [t["durationMs"]["triggerExecution"] / 1000 for t in trig]
    adds = [t["durationMs"]["addBatch"] / 1000 for t in trig]
    rows_in = [t["numInputRows"] for t in trig]

    # files due but not yet consumed, at each paced-phase trigger start
    backlog = 0
    for t in trig:
        due = [f for f in paced_log if f["due"] <= t["start"]]
        waiting = sum(1 for f in due if phase["batch_of"].get(f["name"], 1 << 60) >= t["batchId"])
        backlog = max(backlog, waiting)

    # the streaming.cdc classifier's state operator, per batch
    ops = [(t["batchId"], op) for t in trig for op in t.get("stateOperators") or []
           if op.get("operatorName") == "applyInPandasWithState"]
    last_op = max(ops, key=lambda bo: bo[0])[1] if ops else {}

    spans = tracer.summary()

    def busy(name):
        return spans.get(name, {}).get("busy_s", 0.0)

    def calls(name):
        return spans.get(name, {}).get("calls", 0)

    merged = sum(  # rows the stream's own micro-batches committed
        int((c.get("info") or {}).get("rows", 0) or 0)
        for c in run.pipe.target._read_commits() if isinstance(c.get("batch_id"), int)
    )
    files = size = 0
    for dirpath, _, names in os.walk(run.pipe.target.path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    overhead = sum(walls) - sum(adds)
    self_sum = sum(r["self_s"] for r in spans.values())
    wall_sum = sum(walls)
    late = phase["late"]
    out = {
        "trigger.count": (len(trig), "count"),
        "trigger.rows_p50": (pct(rows_in, 50), "rows"),
        "trigger.wall_s_p50": (pct(walls, 50), "s"),
        "trigger.addbatch_s_sum": (sum(adds), "s"),
        "trigger.overhead_s_sum": (overhead, "s"),
        "backlog.files_max": (backlog, "files"),
        "state.rows_total": (float(last_op.get("numRowsTotal", 0)), "rows"),
        "state.memory_bytes": (float(last_op.get("memoryUsedBytes", 0)), "bytes"),
        "state.update_ms_sum": (float(sum(op.get("allUpdatesTimeMs", 0) for _, op in ops)), "ms"),
        "state.commit_ms_sum": (float(sum(op.get("commitTimeMs", 0) for _, op in ops)), "ms"),
        "cdc.emit_ratio": (merged / sum(rows_in) if ops and sum(rows_in) else 0.0, "ratio"),
        "sink.calls": (calls("sink"), "count"),
        "sink.busy_s": (busy("sink"), "s"),
        "tables.merge.calls": (calls("tables.merge"), "count"),
        "tables.merge.busy_s": (busy("tables.merge"), "s"),
        "tables.read.busy_s": (busy("tables.read"), "s"),
        "tables.compact_deltas.busy_s": (busy("tables.compact_deltas"), "s"),
        "tables.vacuum.busy_s": (busy("tables.vacuum"), "s"),
        "tables.files_end": (files, "count"),
        "tables.disk_bytes_end": (size, "bytes"),
        "gen.files": (len(paced_log), "count"),
        "gen.late_p99_s": (pct(late, 99), "s"),
        "gen.late_max_s": (max(late, default=0.0), "s"),
        "trace.trigger_wall_s_sum": (wall_sum, "s"),
        "trace.self_s_sum": (self_sum, "s"),
        "trace.unexplained_frac": ((wall_sum - overhead - self_sum) / wall_sum if wall_sum else 0.0, "ratio"),
    }
    out.update(extra)
    return out


# -- the run -------------------------------------------------------------------


def _session(cores: int, work: str):
    from hermes_spark import build_session

    return build_session(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "local"),
            # no hsperfdata under /tmp: the run writes only inside its checkout
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM (and with it the Python
    workers it forked), and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(w, seed: int, seconds: int, trace: bool, cores: int, work: str) -> dict:
    import pyarrow.parquet as pq

    from inputs import read_files
    from telemetry import Tracer, pct, peak_rss_mb

    clock = {"start": time.perf_counter()}

    def mark(name):
        clock[name] = time.perf_counter() - clock["start"]

    subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"), w.name, str(seed),
                    str(seconds), work], check=True)
    src = os.path.join(work, "src")
    drain_names = sorted(os.listdir(src))
    drain_turns = sum(pq.read_metadata(os.path.join(src, n)).num_rows for n in drain_names)
    mark("inputs")
    pacer = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "pacer.py"),
         os.path.join(work, "stage", "paced.parquet"), src],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(cores, work)
        session_s = time.perf_counter() - t0
        t = time.perf_counter()
        warm, _ = _drain_pass(spark, w, os.path.join(work, "warm"), os.path.join(work, "warm_run"))
        warm.stop()
        warm_s = time.perf_counter() - t
        setup_s = session_s + warm_s
        mark("setup")

        tracer = None
        if trace:
            # untraced drain of a copy of the backlog, as warm as the
            # traced pass after it: the tracing overhead's baseline
            bsrc = _copy_backlog(drain_names, src, os.path.join(work, "base", "src"))
            base, tb = _drain_pass(spark, w, bsrc, os.path.join(work, "base", "run"))
            base_phase = _phase_numbers(base, drain_names, drain_turns, tb, [])
            base.stop()
            tracer = Tracer()
            mark("base")

        main = Run(spark, w, src, os.path.join(work, "run"))
        if tracer is not None:
            _instrument(main.pipe, tracer)
        t_start = time.time()
        main.start()
        main.query.processAllAvailable()
        mark("drain")
        if pacer.stdout.readline().strip() != "ready":
            raise RuntimeError("pacer did not start")
        t_go = time.time() + 0.2
        out, _ = pacer.communicate(f"start {t_go} {w.files_per_s}\n", timeout=seconds * 3 + 60)
        if pacer.returncode != 0:
            raise RuntimeError(f"pacer failed with code {pacer.returncode}")
        paced_log = json.loads(out.strip().splitlines()[-1])
        mark("paced")
        main.query.processAllAvailable()
        mark("tail")
        phase = _phase_numbers(main, drain_names, drain_turns, t_start, paced_log)
        main.stop()
        # the high-water mark of the session's processes, read before
        # the oracle pulls the target into this process
        rss_mb = peak_rss_mb({pacer.pid})
        if tracer is not None:
            tracer.enabled = False

        files = read_files(src)
        turns_of = {name: len(f) for name, f in files}
        offered = sum(turns_of.values())
        failed_by = {
            "target": _check(main, files),
            "never_committed": sum(turns_of.get(n, 0) for n in phase["missing"]),
        }
        failed = min(offered, sum(failed_by.values()))
        mark("check")

        lags = phase["lags"]
        info = {"lag_samples": len(lags), "drain_wall_s": phase["drain_wall_s"],
                "session_s": session_s, "warmup_s": warm_s}
        if not trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "drain_turns_per_s": (phase["drain_turns_per_s"], "turns/s"),
                "commit_lag_p50_s": (pct(lags, 50), "s"),
                "commit_lag_p90_s": (pct(lags, 90), "s"),
                "peak_rss_mb": (rss_mb, "MB"),
            }
        else:
            extra = {"trace.overhead_frac": (phase["drain_wall_s"] / base_phase["drain_wall_s"] - 1,
                                             "ratio")}
            info["base_drain_wall_s"] = base_phase["drain_wall_s"]
            speedup = 0.0
            if w.kind == "stateful":
                spark.stop()
                spark = _session(1, work)
                osrc = _copy_backlog(drain_names, src, os.path.join(work, "one", "src"))
                one, t1 = _drain_pass(spark, w, osrc, os.path.join(work, "one", "run"))
                p1 = _phase_numbers(one, drain_names, drain_turns, t1, [])
                one.stop()
                speedup = base_phase["drain_turns_per_s"] / p1["drain_turns_per_s"]
            extra["trace.drain_speedup_vs_1core"] = (speedup, "ratio")
            extra["failed_frac"] = (failed / offered, "ratio")
            metrics = _layer_metrics(main, phase, tracer, paced_log, extra)
            info["self_s"] = tracer.summary()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{w.name}-seed{seed}.json")
            with open(path, "w", encoding="utf-8") as fh:
                json.dump({"workload": w.name, "seed": seed, "cores": cores,
                           "metrics": {k: v for k, (v, _) in metrics.items()},
                           "self_s": info["self_s"], "spans": tracer.spans}, fh)
            info["trace_file"] = os.path.relpath(path, ROOT)
        clock.pop("start")
        info.update(
            trigger_rows_wall_ms=[(t["numInputRows"], t["durationMs"]["triggerExecution"])
                                  for t in phase["triggers"]],
            failed_by=failed_by, clock={k: round(v, 2) for k, v in clock.items()},
            cores=cores, workload=w.name, seed=seed, offered_turns_per_s=w.turns_per_s,
            paced_files=len(paced_log), drain_turns=drain_turns,
            failed_frac=failed / offered,
        )
        return {"metrics": metrics, "info": info, "attempted": offered, "failed": failed}
    finally:
        if pacer.poll() is None:
            pacer.kill()
        pacer.wait()
        if spark is not None:
            _stop(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hermes_spark", "__init__.py")):
        print(f"perfbench: no hermes_spark package under {ROOT}", file=sys.stderr)
        return 2
    # Python workers, the input generator and the pacer find the
    # package through the inherited PYTHONPATH, whatever the working
    # directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    from inputs import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        res = run(WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace), cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, v in res["info"].items():
        print(f"# {k}: {json.dumps(v) if not isinstance(v, str) else v}")
    for k, (v, unit) in res["metrics"].items():
        print(f"{k} = {v:.6g} {unit}")
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

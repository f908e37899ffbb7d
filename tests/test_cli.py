"""The operational CLI (`python -m hermes_spark`) — the reference's
verb set (hermes.py:33-118 config-driven startup; unix-socket verbs
server/hermesserver.py:158-216) collapsed onto subcommands over one
YAML config.  ``validate`` must work without Spark; ``run --once`` is
the reference 'update' verb; ``status``/``drain``/``maintain`` operate
on the same work_dir between runs."""

import datetime as dt
import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F  # noqa: F401 (parity with suite style)

from hermes_spark.__main__ import main
from hermes_spark.schema import TRANSCRIPT_SCHEMA

CFG = """
hermes-spark:
  pipeline:
    source: {src}
    work_dir: {work}
    watermark: "10 minutes"
    max_files_per_trigger: 1
    validator: {{expr: "coalesce(NOT text LIKE '%POISON%', true)"}}
    retry_every: 2
  status:
    path: {work}/status.jsonl
"""


def _write_cfg(tmp_work, name="job.yml", body=CFG):
    path = os.path.join(tmp_work, name)
    with open(path, "w") as f:
        f.write(body.format(
            src=os.path.join(tmp_work, "src"),
            work=os.path.join(tmp_work, "run"),
        ))
    return path


def _feed(spark, tmp_work, n=3):
    src = os.path.join(tmp_work, "src")
    t0 = dt.datetime(2026, 1, 1)
    for b in range(n):
        rows = [
            (f"c{b}", 0, "user", f"hello {b}", None,
             t0 + dt.timedelta(hours=b)),
            ("poison", 0, "user", f"POISON {b}", None,
             t0 + dt.timedelta(hours=b, minutes=1)),
        ]
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    return src


def test_validate_ok(tmp_work, capsys):
    cfg = _write_cfg(tmp_work)
    assert main(["validate", cfg]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["ok"] is True and out["mode"] == "stateful"


EXAMPLES = os.path.join(os.path.dirname(__file__), "..", "examples")


@pytest.mark.parametrize(
    "name", sorted(n for n in os.listdir(EXAMPLES) if n.endswith(".yml"))
)
def test_validate_shipped_configs(name, capsys):
    """Every config shipped in examples/ passes ``validate`` (JVM-free)."""
    assert main(["validate", os.path.join(EXAMPLES, name)]) == 0
    assert json.loads(capsys.readouterr().out)["ok"] is True


def test_validate_names_config_path(tmp_work, capsys):
    path = os.path.join(tmp_work, "bad.yml")
    with open(path, "w") as f:
        f.write("hermes-spark:\n  pipeline:\n    source: /x\n"
                "    work_dir: /y\n    mode: sideways\n")
    assert main(["validate", path]) == 2
    err = capsys.readouterr().err
    assert "hermes-spark.pipeline.mode" in err


def test_validate_subprocess_entrypoint(tmp_work):
    """The real `python -m hermes_spark` wiring, JVM-free."""
    cfg = _write_cfg(tmp_work)
    r = subprocess.run(
        [sys.executable, "-m", "hermes_spark", "validate", cfg],
        capture_output=True, text=True, timeout=120,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr
    assert json.loads(r.stdout)["ok"] is True


def test_run_once_status_drain_maintain(spark, tmp_work, capsys):
    """One operational lifecycle, all through the CLI: run --once
    applies the clean rows and queues the poisoned key; status reports
    the durable counters + queue depth between runs; drain retries
    (still failing → still queued); maintain compacts; a second
    run --once resumes from the checkpoint and is a no-op."""
    cfg = _write_cfg(tmp_work)
    _feed(spark, tmp_work, n=3)

    assert main(["run", cfg, "--once"], spark=spark) == 0
    run_out = json.loads(capsys.readouterr().out)
    assert run_out["applied"]["inserts"] == 3  # c0..c2 (poison queued)

    assert main(["status", cfg], spark=spark) == 0
    st = json.loads(capsys.readouterr().out)
    assert st["applied"]["inserts"] == 3
    assert st["error_queue_depth"] == 1
    # the listener's trigger rows persisted to the status JSONL are
    # surfaced even though THIS process never ran the stream
    assert st["target_version"] is not None

    assert main(["drain", cfg], spark=spark) == 0
    assert json.loads(capsys.readouterr().out)["remaining"] == 1

    assert main(["maintain", cfg, "--mode", "full"], spark=spark) == 0
    assert json.loads(capsys.readouterr().out)["ok"] is True

    # resume semantics: a second run over the same work_dir re-applies
    # nothing (checkpointed offsets + exactly-once sink)
    assert main(["run", cfg, "--once"], spark=spark) == 0
    again = json.loads(capsys.readouterr().out)
    assert again["applied"] == run_out["applied"]


def test_drain_without_validator_reports_no_queue(spark, tmp_work, capsys):
    body = CFG.replace("    validator: {{expr: \"coalesce(NOT text LIKE "
                       "'%POISON%', true)\"}}\n", "").replace(
                       "    retry_every: 2\n", "")
    cfg = _write_cfg(tmp_work, body=body)
    _feed(spark, tmp_work, n=1)
    assert main(["drain", cfg], spark=spark) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["remaining"] == 0 and "no error queue" in out["note"]

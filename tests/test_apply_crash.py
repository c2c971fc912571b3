"""Hard exits and task retries in the Spark mode of ``apply_batch``.

A child process applies a small event log in the Spark mode with one seam
patched from outside the engine (as perfbench's tracer wraps methods): it
either ``os._exit``\\ s there, or makes every task's first attempt fail after
its work is done. This process then reopens the table and replays the log
in the same mode, and checks the exactly-once contract: audit 0, live rows
equal to ``expected_state``, exactly the rejected events in the dead-letter
store, no hidden dead-letter directory left, and a vacuum that removes the
crashed attempt's data files."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from cosmwasm_etl_spark.functions.extraction import check_quarantine_bytes
from cosmwasm_etl_spark.lakehouse import LakeTable
from cosmwasm_etl_spark.plans import pipeline as pipeline_mod
from cosmwasm_etl_spark.plans.pipeline import CdcPipeline
from cosmwasm_etl_spark.sources.eventlog import read_event_log, synthetic_events, write_event_log

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import os, sys

from pyspark import TaskContext
from pyspark.sql import functions as F

from cosmwasm_etl_spark.lakehouse import LakeTable
from cosmwasm_etl_spark.plans import pipeline as pipeline_mod
from cosmwasm_etl_spark.plans.pipeline import CdcPipeline, create_pages_table
from cosmwasm_etl_spark.session import build_session
from cosmwasm_etl_spark.sources.eventlog import read_event_log

events_dir, table_dir, work_dir, seam = sys.argv[1:]
spark = build_session("apply-crash", shuffle_partitions=4)
pipeline_mod._SMALL_BATCH_BYTES = 0
pipe = CdcPipeline(spark, create_pages_table(spark, table_dir, num_buckets=4), work_dir)
events = read_event_log(spark, events_dir)


def die(*a, **kw):
    os._exit(17)


if seam == "task_retry":
    in_task = pipeline_mod._in_task

    def flaky(stage):
        def first_attempt_fails(tbl, part):
            out = stage(tbl, part)
            if TaskContext.get().attemptNumber() == 0:
                raise RuntimeError("first attempt fails after its writes")
            return out

        return in_task(first_attempt_fails)

    pipeline_mod._in_task = flaky
    pipe.run_replay(events, epochs_per_batch=1)
    spark.stop()
    sys.exit(0)

pipe.apply_batch(events.filter(F.col("epoch") == 0), 0)
if seam == "before_rename":
    CdcPipeline._publish_dead_letters = die
else:
    LakeTable.append_delta = die
pipe.apply_batch(events.filter(F.col("epoch") == 1), 1)
sys.exit(1)
"""


def _run_child(tmp_path, seam: str, master: str) -> subprocess.CompletedProcess:
    script = tmp_path / "child.py"
    script.write_text(CHILD)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=REPO, SPARK_GRAFT_MASTER=master, SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    args = [str(tmp_path / d) for d in ("ev", "pages", "work")]
    return subprocess.run(
        [sys.executable, str(script), *args, seam],
        env=env, capture_output=True, text=True, timeout=600,
    )


def _data_files(table_path: str) -> set[str]:
    pattern = os.path.join(table_path, "data", "**", "*.parquet")
    return {os.path.relpath(p, table_path) for p in glob.glob(pattern, recursive=True)}


def _log(spark, tmp_path):
    events = synthetic_events(
        spark, 1_200, n_urls=300, events_per_epoch=400, quarantine_per_mille=20
    )
    write_event_log(events, str(tmp_path / "ev"), range_partitions=2)
    return read_event_log(spark, str(tmp_path / "ev"))


def _check_contract(spark, pipe, events):
    assert pipe.audit(events).count() == 0
    want = pipe.expected_state(events)
    got = pipe.pages().select(*want.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    bad = {r.seq for r in events.select("seq", "html").collect() if check_quarantine_bytes(r.html)}
    assert bad
    stored = spark.read.parquet(os.path.join(pipe.quarantine_dir, "batch=*"))
    assert sorted(r.seq for r in stored.select("seq").collect()) == sorted(bad)
    assert {r.seq for r in pipe.read_quarantine().select("seq").collect()} == bad
    assert [n for n in os.listdir(pipe.quarantine_dir) if n.startswith(".tmp-")] == []


@pytest.mark.parametrize("seam", ["before_rename", "before_commit"])
def test_spark_apply_survives_a_hard_exit(spark, tmp_path, monkeypatch, seam):
    """A hard exit after the tasks' job but before the dead-letter rename,
    or after the rename but before the commit, loses nothing: the restart
    re-applies the batch and the crashed attempt's files are orphans."""
    events = _log(spark, tmp_path)
    proc = _run_child(tmp_path, seam, "local[2]")
    assert proc.returncode == 17, proc.stderr[-3000:]
    table = LakeTable.load(spark, str(tmp_path / "pages"))
    assert table.committed_epochs() == {0}
    orphans = _data_files(table.path) - set(table.state().files)
    assert orphans  # the crashed batch's tasks had written its files
    hidden = os.path.join(str(tmp_path / "work"), "quarantine", ".tmp-batch=1")
    assert os.path.isdir(hidden) == (seam == "before_rename")

    monkeypatch.setattr(pipeline_mod, "_SMALL_BATCH_BYTES", 0)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    stats = pipe.run_replay(events, epochs_per_batch=1)
    assert [s.get("exec") for s in stats] == [None, "spark", "spark"]
    _check_contract(spark, pipe, events)
    res = table.vacuum(retain_versions=1)
    assert res["deleted_files"] >= len(orphans)
    assert not orphans & _data_files(table.path)
    assert pipe.audit(events).count() == 0


def test_spark_apply_counts_are_exact_under_task_retries(spark, tmp_path):
    """Every task of both stages fails its first attempt after writing its
    files: the retries leave the counts, the dead-letter store and the
    pages exact."""
    events = _log(spark, tmp_path)
    proc = _run_child(tmp_path, "task_retry", "local[2,2]")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "first attempt fails" in proc.stderr
    table = LakeTable.load(spark, str(tmp_path / "pages"))
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    summaries = [h["summary"] for h in pipe.table.history() if h["operation"] == "delta"]
    assert [s["exec"] for s in summaries] == ["spark"] * 3
    rows = events.groupBy("epoch").agg(F.count("*"), F.min("seq"), F.max("seq")).collect()
    want = {r[0]: (r[1], r[2], r[3]) for r in rows}
    got = {s["epoch"]: (s["n_events"], s["min_seq"], s["watermark"]) for s in summaries}
    assert got == want
    bad = [r.seq for r in events.select("seq", "html").collect() if check_quarantine_bytes(r.html)]
    assert sum(s["n_quarantined"] for s in summaries) == len(bad)
    _check_contract(spark, pipe, events)

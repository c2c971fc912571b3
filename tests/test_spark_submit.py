"""The north rule's deployment contract, end-to-end: build the --py-files
zip, launch the job via REAL ``spark-submit`` from a neutral working
directory (job script copied out of the repo, so every
``cosmwasm_etl_spark`` import must resolve from the zip on the executors'
and driver's PYTHONPATH), replay a small log, and verify the committed
table state from a separate session.

Reference analog: the collector/parser binaries are deployed as
self-contained artifacts (`Dockerfile`, `cmd/parser/dex/main.go`); here
the artifact is the deterministic zip from scripts/make_pyfiles.py.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _build_zip(out: str) -> str:
    spec = importlib.util.spec_from_file_location(
        "make_pyfiles", os.path.join(REPO, "scripts", "make_pyfiles.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m.build(out)


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on this host"
)
def test_spark_submit_pyfiles_replay(spark, tmp_path):
    from cosmwasm_etl_spark.sources.eventlog import synthetic_events, write_event_log

    events_dir = str(tmp_path / "events")
    n_events, epb = 3_000, 300
    # pages of ~500 words make the log larger than the apply's size gate,
    # so replay slices run in Spark tasks: engine code from the zip runs
    # inside the executors' Python workers
    events = synthetic_events(
        spark, n_events, n_urls=200, events_per_epoch=epb, body_words=500
    )
    write_event_log(events, events_dir, range_partitions=4)

    zip_path = _build_zip(str(tmp_path / "dist" / "cosmwasm_etl_spark.zip"))
    # byte-determinism of the artifact (content-addressed caching contract)
    zip2 = _build_zip(str(tmp_path / "dist" / "again.zip"))
    assert open(zip_path, "rb").read() == open(zip2, "rb").read()

    # neutral cwd: the job script is copied OUT of the repo so the package
    # can only come from --py-files
    launch_dir = tmp_path / "launch"
    launch_dir.mkdir()
    job = launch_dir / "cdc_ingest.py"
    shutil.copy(os.path.join(REPO, "jobs", "cdc_ingest.py"), job)

    table_dir, work_dir = str(tmp_path / "pages"), str(tmp_path / "work")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_SHUFFLE"] = "8"
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--driver-memory", "2g",
            "--py-files", zip_path,
            str(job),
            "--events", events_dir,
            "--table", table_dir,
            "--work", work_dir,
            "--mode", "replay",
            "--epochs-per-batch", "4",
            "--num-buckets", "8",
        ],
        cwd=str(launch_dir),
        env=env,
        capture_output=True,
        text=True,
        timeout=480,
    )
    assert proc.returncode == 0, f"stderr tail:\n{proc.stderr[-3000:]}"
    summary = json.loads(
        [ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")][-1]
    )
    assert summary["mode"] == "replay"
    assert summary["applied"] >= 2
    assert summary["n_events"] == n_events
    assert summary["watermark"] == n_events - 1  # seq high-watermark

    # verify the committed table from THIS session (cross-process read):
    # replay-equivalence audit against the raw log — THE correctness gate
    from cosmwasm_etl_spark.lakehouse import LakeTable
    from cosmwasm_etl_spark.plans.pipeline import CdcPipeline

    table = LakeTable.load(spark, table_dir)
    assert table.read().count() > 0
    deltas = [h["summary"] for h in table.history() if h["operation"] == "delta"]
    assert deltas and {s["exec"] for s in deltas} == {"spark"}
    pipe = CdcPipeline(spark, table, work_dir)
    log = spark.read.parquet(events_dir)
    assert pipe.audit(log).count() == 0
    # every event the quarantine rule rejects is in the dead-letter store
    from cosmwasm_etl_spark.functions.extraction import check_quarantine_bytes

    want = {r.seq for r in log.select("seq", "html").collect() if check_quarantine_bytes(r.html)}
    assert want
    assert sorted(r.seq for r in pipe.read_quarantine().select("seq").collect()) == sorted(want)

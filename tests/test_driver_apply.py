"""The two execution modes of ``CdcPipeline.apply_batch``: the driver-side
Arrow apply for small batches and the Spark plan for large ones.

The gate is the optimizer's size estimate of the batch's plan, compared with
``plans.pipeline._SMALL_BATCH_BYTES``. The differential tests force it each
way on the same batches and require identical results."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cosmwasm_etl_spark.functions.extraction import check_quarantine_bytes
from cosmwasm_etl_spark.lakehouse import LakeTable
from cosmwasm_etl_spark.lakehouse.arrow_apply import bucket_of, latest_wins
from cosmwasm_etl_spark.plans import pipeline as pipeline_mod
from cosmwasm_etl_spark.plans.pipeline import CdcPipeline, create_pages_table
from cosmwasm_etl_spark.sources.eventlog import read_event_log, synthetic_events, write_event_log

EVENT_SCHEMA = (
    "seq long, epoch long, op string, url string, warc_ts timestamp, html binary, lang string"
)
T0 = dt.datetime(2026, 1, 1)
BAD_UTF8 = b"\xff\xfe\xfa" * 20  # undecodable: quarantined
UFFFD_PAGE = ("�" * 40).encode()  # valid UTF-8, but mostly U+FFFD: quarantined
MIXED_OK = ("x�y " * 20).encode()  # a literal U+FFFD below the ratio: kept

# forces the gate: every estimate is below 2**63, none is below 0
FORCE = {"spark": 0, "driver": 1 << 63}


def ev(seq, epoch, op, url, minute, html=None, lang="en", **extra):
    if html is None:
        html = b"" if op == "delete" else f"<p>{url} rev {seq}</p>".encode()
    return (seq, epoch, op, url, T0 + dt.timedelta(minutes=minute), html, lang, *extra.values())


def base_events(spark):
    rows = [
        # epoch 0: a warc_ts tie (seq decides), both quarantine kinds, a
        # page with a literal U+FFFD that stays
        ev(0, 0, "insert", "u/tie", 0, b"<p>first</p>"),
        ev(1, 0, "insert", "u/tie", 0, b"<p>second</p>"),
        ev(2, 0, "insert", "u/a", 0),
        ev(3, 0, "insert", "u/b", 0),
        ev(4, 0, "insert", "u/bad", 0, BAD_UTF8),
        ev(5, 0, "insert", "u/ufffd", 0, UFFFD_PAGE),
        ev(6, 0, "insert", "u/mixed", 0, MIXED_OK),
        # epoch 1: a delete, an older update that must lose, a newer
        # update, and a newer but undecodable update that must not win
        ev(7, 1, "delete", "u/a", 5),
        ev(8, 1, "update", "u/b", -5),
        ev(9, 1, "update", "u/tie", 3),
        ev(10, 1, "update", "u/mixed", 9, BAD_UTF8),
        # epoch 2 is a gap: an all-empty batch
        # epoch 3: re-insert after delete, a delete of an unseen url
        ev(11, 3, "insert", "u/a", 10),
        ev(12, 3, "delete", "u/never", 10),
        ev(13, 3, "update", "u/tie", 3, b"<p>tie again</p>"),
    ]
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def replay_both(spark, tmp_path, monkeypatch, events, evolutions=None, **kw):
    """Replay ``events`` (one batch per epoch) once per execution mode, each
    into its own table; returns {mode: pipeline}."""
    pipes = {}
    for mode, limit in FORCE.items():
        monkeypatch.setattr(pipeline_mod, "_SMALL_BATCH_BYTES", limit)
        table = create_pages_table(spark, str(tmp_path / mode / "pages"), num_buckets=4)
        pipe = CdcPipeline(spark, table, str(tmp_path / mode / "work"), **kw)
        stats = pipe.run_replay(events, epochs_per_batch=1, schema_evolutions=evolutions)
        assert {s["exec"] for s in stats} == {mode}
        pipes[mode] = pipe
    return pipes


def _rows(df, key):
    return sorted((r.asDict() for r in df.collect()), key=lambda d: d[key])


def assert_same(pipes, events=None):
    """Same pages, dead-letter rows and delta summaries (apart from ``ts``,
    ``apply_ms`` and ``exec``); and, given the events, both audit clean."""
    spark_p, driver_p = pipes["spark"], pipes["driver"]
    assert _rows(driver_p.pages(), "url") == _rows(spark_p.pages(), "url")
    if events is not None:
        assert spark_p.audit(events).count() == 0
        assert driver_p.audit(events).count() == 0
    assert _rows(driver_p.read_quarantine(), "seq") == _rows(spark_p.read_quarantine(), "seq")

    def deltas(pipe):
        out = []
        for h in pipe.table.history():
            if h["operation"] == "delta":
                summ = dict(h["summary"])
                summ.pop("ts")
                summ.pop("apply_ms")
                out.append((summ.pop("exec"), summ))
        return out

    d_spark, d_driver = deltas(spark_p), deltas(driver_p)
    assert [m for m, _ in d_spark] == ["spark"] * len(d_spark)
    assert [m for m, _ in d_driver] == ["driver"] * len(d_driver)
    assert [s for _, s in d_driver] == [s for _, s in d_spark]


def test_driver_and_spark_apply_agree(spark, tmp_path, monkeypatch):
    """Deletes, warc_ts ties, both quarantine kinds, an all-empty batch."""
    events = base_events(spark)
    pipes = replay_both(spark, tmp_path, monkeypatch, events)
    assert_same(pipes, events)
    summaries = [h["summary"] for h in pipes["driver"].table.history() if h["operation"] == "delta"]
    assert [s["n_events"] for s in summaries] == [7, 4, 0, 3]
    assert {r.url for r in pipes["driver"].pages().collect()} == {"u/tie", "u/a", "u/b", "u/mixed"}
    assert {r.seq for r in pipes["driver"].read_quarantine().collect()} == {4, 5, 10}


def test_driver_and_spark_apply_agree_canonical_keys(spark, tmp_path, monkeypatch):
    rows = [
        ev(0, 0, "insert", "HTTP://Host.Example.com:80/p/1?utm_source=feed", 0),
        ev(1, 0, "insert", "http://host.example.com/p/1", 1),
        ev(2, 0, "insert", "https://host.example.com:443/p/2/", 0),
        ev(3, 1, "update", "https://HOST.example.com/p/2?utm_source=x", 2),
        ev(4, 1, "delete", "http://host.example.com:80/p/1", 3),
    ]
    events = spark.createDataFrame(rows, EVENT_SCHEMA)
    pipes = replay_both(spark, tmp_path, monkeypatch, events, canonicalize_keys=True)
    assert_same(pipes, events)
    got = [(r.url, r.seq) for r in pipes["driver"].pages().collect()]
    assert got == [("https://host.example.com/p/2", 3)]


def test_driver_and_spark_apply_agree_extract_versions(spark, tmp_path, monkeypatch):
    page = b"<p>pre</p><noscript>hidden</noscript>"
    rows = [ev(i, i % 4, "insert", f"u/{i % 5}", i, page + str(i).encode()) for i in range(16)]
    events = spark.createDataFrame(rows, EVENT_SCHEMA)
    pipes = replay_both(spark, tmp_path, monkeypatch, events, extract_versions=[(0, 1), (2, 2)])
    assert_same(pipes, events)
    # epochs 2 and 3 extract with v2, which strips <noscript> blocks
    texts = {r.seq: r.text for r in pipes["driver"].pages().collect()}
    assert texts == {
        11: "pre 11", 12: "pre hidden 12", 13: "pre hidden 13", 14: "pre 14", 15: "pre 15"
    }


def test_driver_and_spark_apply_agree_evolved_schema(spark, tmp_path, monkeypatch):
    """An added column, a rename whose payload still carries the old name,
    and an int→long widening, each at an epoch boundary."""
    evolutions = [
        (1, "add_column", {"name": "fetch_status", "type": "int"}),
        (2, "rename_column", {"old": "lang", "new": "language"}),
        (2, "widen_type", {"name": "fetch_status", "to": "long"}),
    ]
    rows = []
    for i in range(12):
        epoch = i // 4
        status = None if epoch < 1 else 200 + i
        rows.append(ev(i, epoch, "insert", f"u/{i % 6}", i, lang=f"l{i}", fetch_status=status))
    events = spark.createDataFrame(rows, EVENT_SCHEMA + ", fetch_status int")
    pipes = replay_both(spark, tmp_path, monkeypatch, events, evolutions=evolutions)
    assert_same(pipes, events)
    got = {r.url: (r.language, r.fetch_status) for r in pipes["driver"].pages().collect()}
    # urls last written at epoch 2 keep the payload's old-name column
    assert got["u/2"] == ("l8", 208)
    assert dict(pipes["driver"].table.read().dtypes)["fetch_status"] == "bigint"


def test_latest_wins_and_bucket_routing_match_spark(spark):
    """The Arrow latest-wins and the Python bucket function agree with the
    Spark operators they stand in for."""
    from cosmwasm_etl_spark.operators.dedup_window import latest_wins_agg

    events = synthetic_events(spark, 3_000, n_urls=300, events_per_epoch=500)
    want = {
        r.url: r.seq for r in latest_wins_agg(events, "url", ["warc_ts", "seq"]).collect()
    }
    got = latest_wins(events.toArrow(), "url", ["warc_ts", "seq"])
    assert dict(zip(got.column("url").to_pylist(), got.column("seq").to_pylist())) == want
    spark_b = {
        r.url: r.b
        for r in events.select("url", F.pmod(F.xxhash64("url"), F.lit(13)).alias("b"))
        .distinct()
        .collect()
    }
    assert {u: bucket_of(u, 13) for u in spark_b} == spark_b


def test_driver_dead_letters_survive_a_crash_after_commit(spark, tmp_path, monkeypatch):
    """On the driver path dead-letter rows are written before the commit:
    a process that dies right after ``append_delta`` returns, then replays
    (and skips) the committed batch, still has every quarantined event."""
    events = synthetic_events(spark, 1_000, n_urls=300, events_per_epoch=1_000, quarantine_per_mille=20)
    write_event_log(events, str(tmp_path / "ev"), range_partitions=1)
    batch = read_event_log(spark, str(tmp_path / "ev"))
    want = {r.seq for r in batch.select("seq", "html").collect() if check_quarantine_bytes(r.html)}
    assert want
    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=4)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    append_delta = LakeTable.append_delta

    def append_then_die(self, *a, **kw):
        append_delta(self, *a, **kw)
        raise RuntimeError("process died after the commit")

    monkeypatch.setattr(LakeTable, "append_delta", append_then_die)
    with pytest.raises(RuntimeError, match="died"):
        pipe.apply_batch(batch, 0)
    monkeypatch.setattr(LakeTable, "append_delta", append_delta)
    assert [h["summary"]["exec"] for h in table.history() if h["operation"] == "delta"] == ["driver"]

    pipe2 = CdcPipeline(spark, LakeTable.load(spark, table.path), str(tmp_path / "work"))
    assert pipe2.apply_batch(batch, 0)["skipped"]
    assert {r.seq for r in pipe2.read_quarantine().collect()} == want


def test_exec_mode_gate_runs_no_job(spark, tmp_path, monkeypatch):
    """The gate reads the optimizer's size estimate and runs no Spark job:
    a 1,000-event streaming file goes to the driver; a filtered slice of a
    log larger than the limit, and a createDataFrame batch, go to Spark."""
    from cosmwasm_etl_spark.streaming.runner import run_stream_available_now

    sc = spark.sparkContext
    decisions = []
    exec_mode = CdcPipeline._exec_mode

    def watched(self, events, st):
        group = f"exec-mode-gate-{len(decisions)}"
        sc.setJobGroup(group, "exec mode gate")
        try:
            mode = exec_mode(self, events, st)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        decisions.append((mode, list(sc.statusTracker().getJobIdsForGroup(group))))
        return mode

    monkeypatch.setattr(CdcPipeline, "_exec_mode", watched)
    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=4)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))

    # one 1,000-event file, drained by the streaming runner
    small = synthetic_events(spark, 1_000, n_urls=300, events_per_epoch=1_000)
    small.coalesce(1).write.parquet(str(tmp_path / "tail"))
    stats = run_stream_available_now(spark, pipe, str(tmp_path / "tail"), str(tmp_path / "ckpt"))
    assert [s["exec"] for s in stats] == ["driver"]
    assert decisions == [("driver", [])]

    # a filtered slice of a log of 8 KB pages larger than the limit
    big = synthetic_events(spark, 1_200, n_urls=300, events_per_epoch=600, body_words=1000)
    write_event_log(big, str(tmp_path / "big"), range_partitions=2)
    log = read_event_log(spark, str(tmp_path / "big"))
    size = int(str(log._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert size > pipeline_mod._SMALL_BATCH_BYTES
    assert pipe._exec_mode(log.filter(F.col("epoch") < 1), table.state()) == "spark"

    # Python rows have no size estimate
    rows = spark.createDataFrame([ev(0, 0, "insert", "u/x", 0)], EVENT_SCHEMA)
    assert pipe._exec_mode(rows, table.state()) == "spark"
    assert decisions[1:] == [("spark", []), ("spark", [])]

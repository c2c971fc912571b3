"""Structured Streaming front-end: AvailableNow replay through foreachBatch,
checkpointed restart (T1/T2/T11 analogs)."""

from __future__ import annotations

import pytest

from cosmwasm_etl_spark.plans.pipeline import CdcPipeline, create_pages_table
from cosmwasm_etl_spark.sources.eventlog import synthetic_events, write_event_log
from cosmwasm_etl_spark.streaming.runner import run_stream_available_now


def test_stream_available_now_matches_oracle(spark, tmp_path):
    from pyspark.sql import functions as F

    all_events = synthetic_events(spark, 10_000, n_urls=600, events_per_epoch=1_000)
    log_dir = str(tmp_path / "events")
    write_event_log(all_events.filter(F.col("seq") < 8_000), log_dir, range_partitions=8)

    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=8)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    stats = run_stream_available_now(
        spark, pipe, log_dir, str(tmp_path / "ckpt"), max_files_per_trigger=3
    )
    assert len(stats) >= 2  # several micro-batches
    assert pipe.audit(spark.read.parquet(log_dir)).count() == 0

    # restart with same checkpoint: no new data -> no new batches applied
    stats2 = run_stream_available_now(spark, pipe, log_dir, str(tmp_path / "ckpt"))
    applied = [s for s in stats2 if not s.get("skipped")]
    assert applied == []

    # append the next slice of the ordered log; only new files are consumed
    more = all_events.filter(F.col("seq") >= 8_000)
    more.repartition(2).write.mode("append").parquet(log_dir)
    stats3 = run_stream_available_now(spark, pipe, log_dir, str(tmp_path / "ckpt"))
    assert [s for s in stats3 if not s.get("skipped")]
    assert pipe.audit(spark.read.parquet(log_dir)).count() == 0


@pytest.mark.parametrize("timeout_sec", [0, 1])
def test_stream_available_now_timeout_stops_and_raises(spark, tmp_path, timeout_sec):
    """A catch-up that cannot drain the log within its timeout must raise
    and stop its query — not return partial stats as if it had finished
    and leave the query running. A restart then drains the rest. The log
    is 40 files, one per trigger: small batches apply on the driver in
    about 0.1 s, so the catch-up must span more triggers than fit in 1 s."""
    events = synthetic_events(spark, 2_000, n_urls=200, events_per_epoch=500)
    log_dir = str(tmp_path / "events")
    write_event_log(events, log_dir, range_partitions=40)
    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=4)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    ckpt = str(tmp_path / "ckpt")
    try:
        with pytest.raises(TimeoutError):
            run_stream_available_now(
                spark, pipe, log_dir, ckpt, max_files_per_trigger=1, timeout_sec=timeout_sec
            )
        assert spark.streams.active == []
    finally:
        for q in spark.streams.active:
            q.stop()
    run_stream_available_now(spark, pipe, log_dir, ckpt)
    assert pipe.audit(spark.read.parquet(log_dir)).count() == 0


def test_processing_time_trigger_and_stall_detection(spark, tmp_path):
    """T7: steady-state tailing applies live batches; a drained source trips
    the no-new-data stall detector (ErrNoNewHeight analog,
    `parser/dex/dex.go:367-377`)."""
    import threading
    import time

    import pytest
    from pyspark.sql import functions as F

    from cosmwasm_etl_spark.streaming.runner import (
        StallError,
        run_stream_processing_time,
    )

    all_events = synthetic_events(spark, 4_000, n_urls=400, events_per_epoch=1_000)
    log_dir = str(tmp_path / "events")
    write_event_log(all_events.filter(F.col("seq") < 2_000), log_dir, range_partitions=2)

    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=8)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))

    # feed the tail of the log concurrently: the poll loop must pick it up
    def _feed():
        time.sleep(3)
        all_events.filter(F.col("seq") >= 2_000).repartition(2).write.mode(
            "append"
        ).parquet(log_dir)

    feeder = threading.Thread(target=_feed)
    feeder.start()
    try:
        with pytest.raises(StallError):
            # short trigger: consumes both slices, then the drained source
            # trips the stall detector
            run_stream_processing_time(
                spark,
                pipe,
                log_dir,
                str(tmp_path / "ckpt"),
                trigger_seconds=1.0,
                stall_after=3,
                timeout_sec=120,
            )
    finally:
        feeder.join()
    # everything delivered before the stall was applied exactly once
    assert pipe.audit(spark.read.parquet(log_dir)).count() == 0


def test_stateful_latest_wins_change_feed(spark, tmp_path):
    """applyInPandasWithState: per-url winner state across micro-batches —
    a url re-emits only when a batch advances its (warc_ts, seq)."""
    from pyspark.sql import functions as F

    from cosmwasm_etl_spark.streaming.stateful import latest_wins_change_feed

    all_events = synthetic_events(spark, 6_000, n_urls=500, events_per_epoch=1_000)
    log_dir = str(tmp_path / "events")
    write_event_log(all_events, log_dir, range_partitions=6)

    stream = spark.readStream.schema(all_events.schema).option(
        "maxFilesPerTrigger", "2"
    ).parquet(log_dir)
    feed = latest_wins_change_feed(stream)

    out: dict[str, tuple] = {}
    batches = []

    def sink(df, bid):
        rows = df.collect()
        batches.append(len(rows))
        for r in rows:
            out[r.url] = (r.warc_ts, r.seq)

    q = (
        feed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    assert len(batches) >= 2  # several micro-batches flowed through state
    # final state per url == batch latest-wins over the whole log
    from cosmwasm_etl_spark.operators.dedup_window import latest_wins_agg

    expect = {
        r.url: (r.warc_ts, r.seq)
        for r in latest_wins_agg(
            all_events.select("url", "warc_ts", "seq"),
            key="url", order_cols=["warc_ts", "seq"],
        ).collect()
    }
    assert out == expect


def test_stream_schema_evolution_mid_stream(spark, tmp_path):
    """r3 missing #3: the streaming path honors the same evolution list as
    replay — applied at epoch boundaries, splitting a spanning micro-batch —
    and reaches the SAME final schema and state as a batch replay."""
    from pyspark.sql import functions as F

    from tests.test_schema_evolution_replay import EVOLUTIONS, events_with_payload_evolution

    ev = events_with_payload_evolution(spark, n=12_000)
    log_dir = str(tmp_path / "events")
    write_event_log(ev, log_dir, range_partitions=12)

    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=8)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    run_stream_available_now(
        spark, pipe, log_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=3, schema_evolutions=EVOLUTIONS,
    )
    cols = dict(table.read().dtypes)
    assert cols.get("fetch_status") == "bigint"  # added then widened
    assert "language" in cols and "lang" not in cols  # renamed
    evolve_commits = [h for h in table.history() if h["operation"] == "evolve_schema"]
    assert len(evolve_commits) == 3  # each step exactly once

    # state equivalence vs an epoch-aligned batch replay of the same log
    table2 = create_pages_table(spark, str(tmp_path / "pages2"), num_buckets=8)
    pipe2 = CdcPipeline(spark, table2, str(tmp_path / "work2"))
    pipe2.run_replay(ev, epochs_per_batch=2, schema_evolutions=EVOLUTIONS)
    a = pipe.pages().select("url", "warc_ts", "text", "language", "fetch_status")
    b = pipe2.pages().select("url", "warc_ts", "text", "language", "fetch_status")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # restart with the same checkpoint + evolutions: nothing re-applies
    stats = run_stream_available_now(
        spark, pipe, log_dir, str(tmp_path / "ckpt"), schema_evolutions=EVOLUTIONS
    )
    assert [s for s in stats if "batch_id" in s and not s.get("skipped")] == []


def test_stream_periodic_audit_flags_corruption(spark, tmp_path):
    """r3 missing #4 (T9 cadence): the audit hook runs every K applied
    batches; after a table row is corrupted out-of-band, the next audit
    reports non-zero divergence."""
    from pyspark.sql import functions as F

    ev = synthetic_events(spark, 8_000, n_urls=500, events_per_epoch=1_000)
    log_dir = str(tmp_path / "events")
    write_event_log(ev.filter(F.col("seq") < 4_000), log_dir, range_partitions=4)

    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=8)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    stats = run_stream_available_now(
        spark, pipe, log_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, audit_every=1,
    )
    audits = [s for s in stats if s.get("audit")]
    # catch-up file order may leave seq holes early on — those audits are
    # reported as skipped, never as fake divergence; once coverage is
    # contiguous the audit must be clean
    checked = [a for a in audits if not a.get("skipped_gaps")]
    assert audits and checked
    assert all(a["divergent_rows"] == 0 for a in checked)

    # corrupt one row out-of-band (simulated bit-rot / manual edit): flip a
    # page's text via a raw merge that bypasses extraction invariants
    victim = table.read().limit(1).collect()[0]
    # future warc_ts: tail events must NOT be able to repair the corruption
    # (latest-wins would silently heal it before the audit looks)
    bad = (
        table.read().filter(F.col("url") == victim.url)
        .withColumn("text", F.lit("CORRUPTED"))
        .withColumn("warc_ts", F.lit("2030-01-01 00:00:00").cast("timestamp"))
        .withColumn("op", F.lit("update"))
    )
    table.merge_upserts(bad, epoch=90_000)

    more = ev.filter(F.col("seq") >= 4_000)
    more.repartition(2).write.mode("append").parquet(log_dir)
    stats2 = run_stream_available_now(
        spark, pipe, log_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, audit_every=1,
    )
    audits2 = [s for s in stats2 if s.get("audit") and not s.get("skipped_gaps")]
    assert audits2
    # the victim may be re-written by a newer event in the tail; divergence
    # must be flagged in at least one post-corruption audit
    assert any(a["divergent_rows"] >= 1 for a in audits2)


def test_stream_maintenance_cadence_bounds_disk(spark, tmp_path):
    """r3 'what's wrong' #3: a long-running stream is self-maintaining —
    the maintenance cadence runs tombstone retention AND physical vacuum
    from inside foreachBatch."""
    import glob

    from pyspark.sql import functions as F

    ev = synthetic_events(spark, 10_000, n_urls=400, events_per_epoch=1_000, delete_pct=20)
    log_dir = str(tmp_path / "events")
    write_event_log(ev, log_dir, range_partitions=10)

    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=8)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    stats = run_stream_available_now(
        spark, pipe, log_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        maintain_every=2, tombstone_horizon_sec=0, vacuum_retain_versions=2,
    )
    maint = [s for s in stats if s.get("maintenance")]
    assert maint
    assert any(m.get("vacuum", {}).get("deleted_files", 0) > 0 for m in maint)
    # tombstone retention never brings a deleted url back
    assert pipe.audit(ev).count() == 0
    # horizon=0: every tombstone older than max warc_ts is droppable;
    # the final table must hold no deleted rows older than the horizon
    # and time travel within the retained horizon still works
    v = table.log.latest_version()
    assert table.state(max(table.log.min_version(), v - 1)) is not None
    # on-disk file count equals the live state's (vacuum keeps it bounded)
    on_disk = {p for p in glob.glob(str(tmp_path / "pages" / "data" / "**" / "*.parquet"), recursive=True)}
    live = set()
    for vv in range(table.log.min_version(), v + 1):
        live |= {str(tmp_path / "pages" / e) for e in table.state(vv).files}
    assert on_disk == live


def test_stream_flag_toggle_keeps_exactly_once(spark, tmp_path):
    """Restarting an existing checkpoint with --schema-evolutions toggled
    must NOT remap commit epoch ids (r4 advice): the strided id scheme is
    uniform, so a stream started plain and resumed with an evolution list
    (whose cuts lie in the not-yet-consumed range) still applies every event
    exactly once and passes the replay audit."""
    from pyspark.sql import functions as F

    from tests.test_schema_evolution_replay import EVOLUTIONS, events_with_payload_evolution

    ev = events_with_payload_evolution(spark, n=12_000)
    first_epochs = 3  # all EVOLUTIONS cuts are at epoch >= 4
    assert min(e for e, _, _ in EVOLUTIONS) > first_epochs
    log_dir = str(tmp_path / "events")
    write_event_log(ev.filter(F.col("epoch") <= first_epochs), log_dir, range_partitions=4)

    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=8)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    ckpt = str(tmp_path / "ckpt")
    run_stream_available_now(spark, pipe, log_dir, ckpt, max_files_per_trigger=2)
    assert pipe.audit(spark.read.parquet(log_dir)).count() == 0

    # toggle the flag ON for the rest of the log — same checkpoint
    rest = ev.filter(F.col("epoch") > first_epochs)
    rest.repartition(4).write.mode("append").parquet(log_dir)
    stats = run_stream_available_now(
        spark, pipe, log_dir, ckpt, max_files_per_trigger=2,
        schema_evolutions=EVOLUTIONS,
    )
    assert [s for s in stats if "batch_id" in s and not s.get("skipped")]

    # equivalence vs a one-shot replay with the same evolutions
    table2 = create_pages_table(spark, str(tmp_path / "pages2"), num_buckets=8)
    pipe2 = CdcPipeline(spark, table2, str(tmp_path / "work2"))
    pipe2.run_replay(ev, epochs_per_batch=2, schema_evolutions=EVOLUTIONS)
    a = pipe.pages().select("url", "warc_ts", "text", "language", "fetch_status")
    b = pipe2.pages().select("url", "warc_ts", "text", "language", "fetch_status")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stream_refuses_mismatched_id_scheme(spark, tmp_path):
    """A checkpoint recorded under a different commit-id stride must refuse
    to start instead of silently dropping/duplicating batches."""
    import json

    import pytest

    ev = synthetic_events(spark, 1_000, n_urls=100, events_per_epoch=500)
    log_dir = str(tmp_path / "events")
    write_event_log(ev, log_dir, range_partitions=2)
    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=4)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "commit_id_scheme.json").write_text(json.dumps({"stride": 1}))
    with pytest.raises(ValueError, match="commit-id"):
        run_stream_available_now(spark, pipe, log_dir, str(ckpt))


def test_stream_canonical_keys_end_to_end(spark, tmp_path):
    """Canonical-key pipelines work unchanged through the streaming
    front-end: messy URL spellings arriving across micro-batches collapse
    to one key, the audit holds on the raw log, and a restart under the
    other normalization is refused."""
    import pytest
    from pyspark.sql import functions as F

    events = synthetic_events(spark, 6_000, n_urls=500, events_per_epoch=1_000)
    messy = events.withColumn(
        "url",
        F.when(F.pmod("seq", F.lit(3)) == 1, F.concat(F.col("url"), F.lit("?utm_source=x#f")))
        .otherwise(F.col("url")),
    )
    log_dir = str(tmp_path / "events")
    write_event_log(messy, log_dir, range_partitions=4)

    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=8)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"), canonicalize_keys=True)
    run_stream_available_now(spark, pipe, log_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    assert pipe.audit(spark.read.parquet(log_dir)).count() == 0
    # the ?utm_source variants collapsed: one row per CLEAN url key
    urls = [r.url for r in pipe.pages().select("url").collect()]
    assert len(urls) == len(set(urls))
    assert not any("utm_source" in u for u in urls)

    with pytest.raises(ValueError, match="key_norm"):
        CdcPipeline(spark, table, str(tmp_path / "work2"))

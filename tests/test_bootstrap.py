"""G5 bootstrap-from-snapshot: bootstrap-then-tail == full replay
(`parser/checkpoint/builder.go:123-190` analog)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cosmwasm_etl_spark.bootstrap import bootstrap_from_snapshot, classify_snapshot_diff
from cosmwasm_etl_spark.plans.pipeline import CdcPipeline, create_pages_table
from cosmwasm_etl_spark.sources.eventlog import synthetic_events


def _pages_sorted(pipe):
    return {
        r.url: (r.warc_ts, r.text, r.lang)
        for r in pipe.pages().select("url", "warc_ts", "text", "lang").collect()
    }


def test_bootstrap_then_tail_equals_full_replay(spark, tmp_path):
    ev = synthetic_events(spark, 6_000, n_urls=800, events_per_epoch=500)
    head = ev.filter(F.col("epoch") < 6)
    tail = ev.filter(F.col("epoch") >= 6)

    # reference run: full replay
    t_full = create_pages_table(spark, str(tmp_path / "full"), num_buckets=8)
    p_full = CdcPipeline(spark, t_full, str(tmp_path / "wf"))
    p_full.run_replay(ev, epochs_per_batch=2)

    # stale run: only the first half applied, then DIVERGED by a vacuum of
    # tombstones (physically different file state)
    t_boot = create_pages_table(spark, str(tmp_path / "boot"), num_buckets=8)
    p_boot = CdcPipeline(spark, t_boot, str(tmp_path / "wb"))
    p_boot.run_replay(head.filter(F.col("epoch") < 4), epochs_per_batch=2)

    # snapshot = source of truth at the head boundary
    snapshot = p_full.expected_state(head).select("url", "warc_ts", "html", "lang")
    diff = classify_snapshot_diff(snapshot, p_boot.pages())
    kinds = {r.op for r in diff.select("op").distinct().collect()}
    assert "insert" in kinds and "update" in kinds  # stale table missed epochs 4-5

    res = bootstrap_from_snapshot(p_boot, snapshot, bootstrap_id=1)
    assert not res.get("skipped")

    # after bootstrap the table matches the snapshot boundary; now tail
    p_boot.run_replay(tail, epochs_per_batch=2)
    assert _pages_sorted(p_boot) == _pages_sorted(p_full)

    # idempotency: re-running the same bootstrap is an epoch-checked no-op
    res2 = bootstrap_from_snapshot(p_boot, snapshot, bootstrap_id=1)
    assert res2.get("skipped")


def test_bootstrap_classifies_deletes(spark, tmp_path):
    """A url alive in the stale table but absent from the snapshot must be
    tombstoned by the bootstrap (the reference's diff covers disappeared
    pools via the DB-side walk)."""
    ev = synthetic_events(spark, 2_000, n_urls=300, events_per_epoch=500)
    table = create_pages_table(spark, str(tmp_path / "t"), num_buckets=8)
    pipe = CdcPipeline(spark, table, str(tmp_path / "w"))
    pipe.run_replay(ev, epochs_per_batch=2)

    # snapshot drops 10 urls -> bootstrap must delete them
    pages = pipe.pages()
    victims = [r.url for r in pages.select("url").orderBy("url").limit(10).collect()]
    snapshot = pages.filter(~F.col("url").isin(victims)).select(
        "url", "warc_ts", "html", "lang"
    )
    diff = classify_snapshot_diff(snapshot, pipe.pages())
    ops = {r.url: r.op for r in diff.collect()}
    assert set(ops.values()) == {"delete"} and set(ops) == set(victims)

    bootstrap_from_snapshot(pipe, snapshot, bootstrap_id=7)
    left = {r.url for r in pipe.pages().select("url").collect()}
    assert left.isdisjoint(victims)
    # unchanged urls were untouched (no spurious update events)
    assert len(left) == pages.count() - len(victims)


def test_bootstrap_on_mor_table_with_uncompacted_deltas(spark, tmp_path):
    """merge_upserts on a MOR table resolves per stored row (several rows
    per key across deltas); the read-side latest-wins must make
    bootstrap-then-tail converge to the full-replay state exactly as on a
    compacted table — with NO intervening compaction."""
    ev = synthetic_events(spark, 6_000, n_urls=800, events_per_epoch=500)
    head = ev.filter(F.col("epoch") < 6)
    tail = ev.filter(F.col("epoch") >= 6)

    t_full = create_pages_table(spark, str(tmp_path / "full"), num_buckets=8)
    p_full = CdcPipeline(spark, t_full, str(tmp_path / "wf"))
    p_full.run_replay(ev, epochs_per_batch=2)

    t_boot = create_pages_table(spark, str(tmp_path / "boot"), num_buckets=8)
    p_boot = CdcPipeline(spark, t_boot, str(tmp_path / "wb"), compact_every=10_000)
    p_boot.run_replay(head.filter(F.col("epoch") < 4), epochs_per_batch=2)
    raw = t_boot.read()
    assert raw.count() > raw.select("url").distinct().count(), "deltas uncompacted"

    snapshot = p_full.expected_state(head).select("url", "warc_ts", "html", "lang")
    bootstrap_from_snapshot(p_boot, snapshot, bootstrap_id=1)
    p_boot.run_replay(tail, epochs_per_batch=2)
    assert _pages_sorted(p_boot) == _pages_sorted(p_full)


def test_bootstrap_repair_overrides_future_timestamp(spark, tmp_path):
    """A stored row whose warc_ts is AHEAD of the snapshot's (corrupt/future
    timestamp) wins every latest-wins merge and cannot be fixed by
    mode='merge'; mode='repair' force-applies the snapshot (the reference
    checkpoint builder's unconditional reconcile), and later tail events
    still win over the repaired row."""
    ev = synthetic_events(spark, 2_000, n_urls=300, events_per_epoch=500)
    table = create_pages_table(spark, str(tmp_path / "t"), num_buckets=8)
    pipe = CdcPipeline(spark, table, str(tmp_path / "w"))
    pipe.run_replay(ev, epochs_per_batch=2)

    snapshot = pipe.pages().select("url", "warc_ts", "html", "lang")

    # corrupt one row: push its warc_ts 10 years into the future via a
    # regular CDC event (seq beyond the current watermark)
    victim = pipe.pages().select("url").orderBy("url").limit(1).collect()[0].url
    wm = table.watermark()
    corrupt = ev.filter(F.col("url") == victim).limit(1).select(
        (F.lit(wm) + 1).alias("seq"),
        F.lit(9_999).alias("epoch"),
        F.lit("update").alias("op"),
        "url",
        (F.col("warc_ts") + F.expr("INTERVAL 3650 DAYS")).alias("warc_ts"),
        "html",
        "lang",
    )
    pipe.apply_batch(corrupt, batch_id=9_999)
    future_ts = pipe.pages().filter(F.col("url") == victim).collect()[0].warc_ts
    snap_ts = snapshot.filter(F.col("url") == victim).collect()[0].warc_ts
    assert future_ts > snap_ts

    # merge mode cannot repair — the corrupt row's order tuple is ahead
    bootstrap_from_snapshot(pipe, snapshot, bootstrap_id=1, mode="merge")
    assert pipe.pages().filter(F.col("url") == victim).collect()[0].warc_ts == future_ts

    # repair mode reconciles unconditionally
    bootstrap_from_snapshot(pipe, snapshot, bootstrap_id=2, mode="repair")
    assert pipe.pages().filter(F.col("url") == victim).collect()[0].warc_ts == snap_ts

    # tail traffic after the repair still wins (repair seq = watermark;
    # tail seqs are beyond it)
    tail_ts = snap_ts.replace(year=snap_ts.year + 1)
    tail = ev.filter(F.col("url") == victim).limit(1).select(
        (F.lit(table.watermark()) + 10).alias("seq"),
        F.lit(10_000).alias("epoch"),
        F.lit("update").alias("op"),
        "url",
        F.lit(tail_ts).alias("warc_ts"),
        "html",
        "lang",
    )
    pipe.apply_batch(tail, batch_id=10_000)
    assert pipe.pages().filter(F.col("url") == victim).collect()[0].warc_ts == tail_ts

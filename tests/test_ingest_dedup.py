"""Ingest-time near-dup index: replay-equivalence + exactly-once tests.

The two invariants that make the incremental index trustworthy:

1. **Index replay-equivalence** — after any replay, the live index rows
   equal ``minhash_bands(final pages state)`` exactly (same family as the
   pipeline's own audit: derived state must be a pure function of table
   state).
2. **Detection completeness** — the cumulative pair log is a superset of
   the batch LSH pass (`minhash_lsh_pairs`) over the final live state;
   pairs involving later-superseded rows legitimately remain in the log.

Hook-shape parity anchor: the reference's post-commit aggregate task loop
(`/root/reference/aggregator/aggregator.go`).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cosmwasm_etl_spark.functions.dedup import minhash_bands, minhash_lsh_pairs
from cosmwasm_etl_spark.operators.ingest_dedup import IngestNearDupIndex
from cosmwasm_etl_spark.plans.pipeline import CdcPipeline, create_pages_table
from cosmwasm_etl_spark.sources.eventlog import EVENT_SCHEMA

_BASE = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " \
        "kilo lima mike november oscar papa quebec romeo sierra tango " \
        "uniform victor whiskey xray yankee zulu one two three four"
_NEAR = _BASE + " five"          # one appended word: jaccard ≈ 28/29
_OTHER = "red orange yellow green blue indigo violet cyan magenta teal " \
         "maroon olive navy coral amber jade ruby pearl onyx quartz " \
         "slate ivory bronze copper silver golden crimson azure umber sage"
_FAM2A = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " \
         "eiusmod tempor incididunt ut labore et dolore magna aliqua ut " \
         "enim ad minim veniam quis nostrud exercitation ullamco laboris"
_FAM2B = _FAM2A + " nisi"


def _ts(i: int) -> dt.datetime:
    return dt.datetime(2026, 1, 1, 0, 0, 0) + dt.timedelta(minutes=i)


# (seq, epoch, op, url, ts-minute, text)
_EVENTS = [
    (1, 0, "insert", "https://a.example/1", 1, _BASE),
    (2, 0, "insert", "https://a.example/2", 2, _NEAR),    # near-dup of /1, same epoch
    (3, 0, "insert", "https://b.example/1", 3, _OTHER),
    (4, 1, "insert", "https://c.example/1", 11, _FAM2A),
    (5, 1, "insert", "https://d.example/empty", 12, ""),  # shingle-less
    (6, 2, "insert", "https://c.example/2", 21, _FAM2B),  # near-dup of c/1, LATER epoch
    (7, 2, "update", "https://b.example/1", 22, _BASE + " six"),  # update turns b/1 into a near-dup of a/1
    (8, 3, "delete", "https://a.example/2", 31, None),    # delete a live near-dup
]


@pytest.fixture(scope="module")
def events_df(spark):
    rows = [
        (seq, epoch, op, url, _ts(m), text.encode() if text is not None else b"", "en")
        for (seq, epoch, op, url, m, text) in _EVENTS
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA).persist()
    df.count()
    yield df
    df.unpersist()


def _mk(spark, tmp_path, keyed_read: bool = True):
    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=4)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    idx = IngestNearDupIndex(
        spark, str(tmp_path / "idx"), pipe.pages,
        pages_for_fn=pipe.pages_for if keyed_read else None, num_buckets=4,
    )
    pipe.post_commit = idx.advance
    return pipe, idx


def _pairs(df, a: str = "url_a", b: str = "url_b") -> set[tuple[str, str]]:
    return {(r[a], r[b]) for r in df.select(a, b).collect()}


@pytest.mark.parametrize("keyed_read", [True, False], ids=["bucket-pruned", "full-scan"])
def test_replay_equivalence_and_detection(spark, tmp_path, events_df, keyed_read):
    pipe, idx = _mk(spark, tmp_path, keyed_read=keyed_read)
    pipe.run_replay(events_df, epochs_per_batch=1)

    # invariant 1: live index == minhash_bands(final live pages), exactly
    band_cols = [f"band_{b}" for b in range(idx.bands)]
    expected = {
        tuple(r)
        for r in minhash_bands(pipe.pages(), text_col="text", id_col="url")
        .withColumnRenamed("id", "url")
        .select("url", *band_cols)
        .collect()
    }
    got = {tuple(r) for r in idx.index().select("url", *band_cols).collect()}
    assert got == expected
    # the deleted url and the shingle-less url are tombstoned, not live
    live_urls = {r["url"] for r in idx.index().select("url").collect()}
    assert "https://a.example/2" not in live_urls
    assert "https://d.example/empty" not in live_urls

    # invariant 2: cumulative log ⊇ batch LSH pass over the final state
    batch_pairs = _pairs(
        minhash_lsh_pairs(pipe.pages(), text_col="text", id_col="url"), "id_a", "id_b"
    )
    log_pairs = _pairs(idx.near_dups())
    assert batch_pairs <= log_pairs

    # planted detections, including their timing:
    log = {
        (r["url_a"], r["url_b"]): r["epoch"]
        for r in idx.near_dups().select("url_a", "url_b", "epoch").collect()
    }
    # same-epoch pair (new-vs-new)
    assert log[("https://a.example/1", "https://a.example/2")] == 0
    # cross-epoch pair (new-vs-corpus)
    assert log[("https://c.example/1", "https://c.example/2")] == 2
    # an UPDATE creating a near-dup is detected at the update's epoch
    assert log[("https://a.example/1", "https://b.example/1")] == 2
    # the deleted pair stays in the log (it WAS a near-dup when detected)
    # but is absent from the final-state batch pass
    assert ("https://a.example/1", "https://a.example/2") not in batch_pairs


def test_advance_is_idempotent(spark, tmp_path, events_df):
    pipe, idx = _mk(spark, tmp_path)
    pipe.run_replay(events_df, epochs_per_batch=1)
    n_pairs = idx.near_dups().count()
    n_idx = idx.sig.read().count()
    out = idx.advance(events_df.filter(F.col("epoch") == 0), 0)
    assert out["skipped"]
    assert idx.near_dups().count() == n_pairs
    assert idx.sig.read().count() == n_idx


def test_crash_between_pair_and_index_commit_heals(spark, tmp_path, events_df):
    pipe, idx = _mk(spark, tmp_path)
    # crash the index merge of epoch 2 AFTER the pair append committed
    real_merge = idx.sig.merge_upserts
    calls = {"n": 0}

    def crashing_merge(*a, **kw):
        if kw.get("epoch") == 2 and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("injected crash between pair append and index merge")
        return real_merge(*a, **kw)

    idx.sig.merge_upserts = crashing_merge
    with pytest.raises(Exception, match="injected crash"):
        pipe.run_replay(events_df, epochs_per_batch=1)
    pairs_after_crash = _pairs(idx.near_dups())
    assert 2 in idx.pairs.committed_epochs()
    assert 2 not in idx.sig.committed_epochs()

    # redelivery heals: pairs not double-emitted, index merge completes,
    # and the replay-equivalence invariant holds at the end
    pipe.run_replay(events_df, epochs_per_batch=1)
    assert _pairs(idx.near_dups()) == pairs_after_crash
    assert idx.near_dups().groupBy("url_a", "url_b", "epoch").count().filter(
        F.col("count") > 1
    ).count() == 0
    band_cols = [f"band_{b}" for b in range(idx.bands)]
    expected = {
        tuple(r)
        for r in minhash_bands(pipe.pages(), text_col="text", id_col="url")
        .withColumnRenamed("id", "url")
        .select("url", *band_cols)
        .collect()
    }
    got = {tuple(r) for r in idx.index().select("url", *band_cols).collect()}
    assert got == expected


def test_empty_batch_advances_epochs_without_jobs(spark, tmp_path, events_df):
    """A batch window with zero events must still advance BOTH index
    epochs (idempotent replay bookkeeping) via the r6 metadata shortcut —
    log-only commits, no Spark job — and leave the invariants intact.
    (The pipeline's empty delta commit is what the shortcut reads.)"""
    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=4)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    idx = IngestNearDupIndex(
        spark, str(tmp_path / "idx"), pipe.pages,
        pages_for_fn=pipe.pages_for, num_buckets=4,
    )
    pipe.post_commit = idx.advance
    # epochs 0..3 exist; epochs_per_batch=1 over a log missing epoch 1
    gap = events_df.filter(F.col("epoch") != 1)
    pipe.run_replay(gap, epochs_per_batch=1)
    # epoch-1 batch was empty: both tables must have recorded it, so a
    # redelivered batch 1 is skipped idempotently
    assert 1 in idx.pairs.committed_epochs()
    assert 1 in idx.sig.committed_epochs()
    out = idx.advance(gap.filter(F.col("epoch") == 1), 1)
    assert out["skipped"]
    # and the index still equals minhash_bands(final live pages)
    band_cols = [f"band_{b}" for b in range(idx.bands)]
    expected = {
        tuple(r)
        for r in minhash_bands(pipe.pages(), text_col="text", id_col="url")
        .withColumnRenamed("id", "url")
        .select("url", *band_cols)
        .collect()
    }
    got = {tuple(r) for r in idx.index().select("url", *band_cols).collect()}
    assert got == expected

"""ACID lakehouse table: create/append/merge/delete/evolve/time-travel.

Parity anchors: atomic data+watermark commit
(`/root/reference/parser/dex/repo/repository.go:98-122`), idempotent upsert
(`/root/reference/collector/repo/repository.go:102-150`), migrations
(`/root/reference/db/migrations/parser/*`).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cosmwasm_etl_spark.lakehouse import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def ts(i: int) -> dt.datetime:
    return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=i)


def page(url, i, text="t", lang="en"):
    return Row(url=url, warc_ts=ts(i), html=text.encode(), text=text, lang=lang)


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(spark, str(tmp_path / "pages"), SCHEMA, "url", "warc_ts", num_buckets=8)


def _batch(spark, rows_with_op):
    data = [
        Row(**{**r.asDict(), "op": op}) for r, op in rows_with_op
    ]
    schema = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType(), False)])
    return spark.createDataFrame(data, schema)


def test_create_and_append(spark, table):
    df = spark.createDataFrame([page("a", 1), page("b", 2)], SCHEMA)
    res = table.append(df, epoch=0, watermark=2)
    assert res["added_rows"] == 2
    got = table.read().orderBy("url").collect()
    assert [r.url for r in got] == ["a", "b"]
    assert table.watermark() == 2


def test_merge_insert_update_delete(spark, table):
    table.append(spark.createDataFrame([page("a", 1, "old-a"), page("b", 1, "old-b")], SCHEMA))
    batch = _batch(
        spark,
        [
            (page("a", 5, "new-a"), "update"),   # newer -> wins
            (page("b", 0, "stale-b"), "update"), # older -> loses
            (page("c", 3, "new-c"), "insert"),   # new key
            (page("d", 3), "delete"),            # delete absent key -> no-op
        ],
    )
    res = table.merge_upserts(batch, epoch=1, watermark=10)
    assert not res["skipped"]
    got = {r.url: r.text for r in table.read().collect()}
    assert got == {"a": "new-a", "b": "old-b", "c": "new-c"}


def test_merge_delete_existing(spark, table):
    table.append(spark.createDataFrame([page("a", 1), page("b", 1)], SCHEMA))
    batch = _batch(spark, [(page("a", 2), "delete")])
    table.merge_upserts(batch, epoch=1)
    assert [r.url for r in table.read().collect()] == ["b"]


def test_epoch_idempotency(spark, table):
    batch = _batch(spark, [(page("a", 1, "v1"), "insert")])
    r1 = table.merge_upserts(batch, epoch=7, watermark=1)
    assert not r1["skipped"]
    batch2 = _batch(spark, [(page("a", 9, "v2"), "update")])
    r2 = table.merge_upserts(batch2, epoch=7, watermark=1)  # same epoch replayed
    assert r2["skipped"]
    assert {r.text for r in table.read().collect()} == {"v1"}
    assert table.committed_epochs() == {7}


def test_time_travel(spark, table):
    table.append(spark.createDataFrame([page("a", 1, "v1")], SCHEMA), epoch=0)
    v_after_append = table.state().version
    table.merge_upserts(_batch(spark, [(page("a", 2, "v2"), "update")]), epoch=1)
    assert table.read().collect()[0].text == "v2"
    assert table.read(version=v_after_append).collect()[0].text == "v1"


def test_schema_evolution_add_rename_widen(spark, table):
    table.append(spark.createDataFrame([page("a", 1)], SCHEMA), epoch=0)
    table.evolve_schema("add_column", {"name": "fetch_status", "type": "int"})
    st1 = table.read()
    assert "fetch_status" in st1.columns
    assert st1.collect()[0].fetch_status is None

    table.evolve_schema("rename_column", {"old": "lang", "new": "language"})
    assert "language" in table.read().columns and "lang" not in table.read().columns
    # old files readable: value preserved under new name
    assert table.read().collect()[0].language == "en"

    table.evolve_schema("widen_type", {"name": "fetch_status", "to": "long"})
    assert dict(table.read().dtypes)["fetch_status"] == "bigint"

    # write through the evolved schema; old+new files coexist
    new_schema = table.state().schema.to_spark()
    row = Row(url="b", warc_ts=ts(2), html=b"x", text="x", language="de", fetch_status=200)
    batch = spark.createDataFrame([Row(**{**row.asDict(), "op": "insert"})]).select(
        *[F.col(c).cast(dict(zip(new_schema.names, [f.dataType for f in new_schema.fields]))[c])
          if c != "op" else F.col(c) for c in [*new_schema.names, "op"]]
    )
    table.merge_upserts(batch, epoch=1)
    got = {r.url: (r.language, r.fetch_status) for r in table.read().collect()}
    assert got == {"a": ("en", None), "b": ("de", 200)}


def test_delete_where_retention(spark, table):
    table.append(
        spark.createDataFrame([page("a", 1), page("b", 100), page("c", 200)], SCHEMA), epoch=0
    )
    cutoff = ts(50).strftime("%Y-%m-%d %H:%M:%S")
    table.delete_where(f"warc_ts < timestamp'{cutoff}'", epoch=1)
    assert sorted(r.url for r in table.read().collect()) == ["b", "c"]


def test_delete_where_prunes_files_by_ts_stats(spark, table):
    """Retention must be metadata-pruned, not scan-bound: with a ts window
    bound, only files whose footer min/max warc_ts stats overlap the window
    are scanned (the reference's indexed-timestamp delete,
    `aggregator/repo/repository.go:175-205`)."""
    # three appends with disjoint ts ranges -> per bucket, one file per range
    for ep, lo in enumerate([0, 1000, 2000]):
        rows = [page(f"https://h{i}.example/p", lo + i) for i in range(40)]
        table.append(spark.createDataFrame(rows, SCHEMA), epoch=ep)
    st = table.state()
    entries = list(st.files.values())
    assert all(e.get("min_ts") is not None for e in entries), "ts stats recorded"
    cutoff = ts(1000).strftime("%Y-%m-%d %H:%M:%S")
    overlap = [e for e in entries if e["min_ts"] < _ts_micros(ts(1000))]
    res = table.delete_where(
        f"warc_ts < timestamp'{cutoff}'", epoch=10, ts_upper=cutoff
    )
    # only the first append's files were candidates; the rest were pruned
    assert res["candidate_files"] == len(overlap)
    assert res["pruned_files"] == len(entries) - len(overlap)
    assert res["candidate_files"] < len(entries)
    kept = table.read().select("warc_ts").collect()
    assert len(kept) == 80 and all(r.warc_ts >= ts(1000) for r in kept)

    # a window overlapping nothing: zero candidates, zero scans, no-op
    res2 = table.delete_where("warc_ts < timestamp'2020-01-01 00:00:00'",
                              epoch=11, ts_upper="2020-01-01 00:00:00")
    assert res2["candidate_files"] == 0 and res2["removed_rows"] == 0
    assert table.read().count() == 80


def _ts_micros(d):
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def test_commit_log_cas_exactly_one_winner(tmp_path):
    """The optimistic put-if-absent protocol at the log level: N writers
    racing the same version — exactly one wins, every loser gets
    CommitConflict, and the winning payload is intact
    (`parser/dex/repo/repository.go:117` CAS analog)."""
    import threading

    from cosmwasm_etl_spark.lakehouse.log import CommitConflict, TableLog

    log = TableLog(str(tmp_path / "t"))
    n = 8
    barrier = threading.Barrier(n)
    outcomes = [None] * n

    def race(i):
        barrier.wait()
        try:
            log.write_commit(1, {"operation": "merge", "summary": {"writer": i},
                                 "schema": None, "add": [], "remove": []})
            outcomes[i] = "won"
        except CommitConflict:
            outcomes[i] = "lost"

    threads = [threading.Thread(target=race, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert outcomes.count("won") == 1 and outcomes.count("lost") == n - 1
    winner = outcomes.index("won")
    assert log.read_commit(1)["summary"]["writer"] == winner
    assert log.latest_version() == 1


def test_concurrent_writers_race_retry_no_lost_commit(spark, table):
    """Two writers racing a MERGE into the same table: the CAS loser
    retries on top of the winner's snapshot; afterwards BOTH writers'
    rows and epochs are present — no lost update."""
    import threading

    from cosmwasm_etl_spark.lakehouse import LakeTable
    from cosmwasm_etl_spark.lakehouse.log import CommitConflict

    table.append(
        spark.createDataFrame([page("seed-a", 1), page("seed-b", 1)], SCHEMA), epoch=0
    )
    path = table.path
    barrier = threading.Barrier(2)
    results: dict[str, dict] = {}
    errors: list[BaseException] = []

    def writer(name: str, urls: list[str], epoch: int):
        try:
            t = LakeTable(spark, path)  # independent handle, shared log
            batch = _batch(spark, [(page(u, 5, f"w-{name}"), "update") for u in urls])
            barrier.wait()
            conflicts = 0
            while True:
                try:
                    res = t.merge_upserts(batch, epoch=epoch, order_cols=["warc_ts"])
                    break
                except CommitConflict:
                    conflicts += 1
                    assert conflicts < 10, "livelock"
            results[name] = {**res, "conflicts": conflicts}
        except BaseException as e:  # surface thread failures to pytest
            errors.append(e)

    t1 = threading.Thread(target=writer, args=("w1", [f"u{i}" for i in range(8)], 101))
    t2 = threading.Thread(target=writer, args=("w2", [f"v{i}" for i in range(8)], 102))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    assert not results["w1"].get("skipped") and not results["w2"].get("skipped")
    # both epochs committed, all 18 rows present — nothing lost either way
    fresh = LakeTable(spark, path)
    assert {101, 102} <= fresh.committed_epochs()
    rows = {r.url: r.text for r in fresh.read().collect()}
    assert len(rows) == 18
    assert all(rows[f"u{i}"] == "w-w1" for i in range(8))
    assert all(rows[f"v{i}"] == "w-w2" for i in range(8))


def test_merge_only_rewrites_affected_buckets(spark, table):
    import pyspark.sql.functions as FF

    urls = [f"https://h{i}.example/p" for i in range(64)]
    df = spark.createDataFrame([page(u, 1) for u in urls], SCHEMA)
    table.append(df, epoch=0)
    files_before = set(table.state().files)
    batch = _batch(spark, [(page(urls[0], 2, "upd"), "update")])
    table.merge_upserts(batch, epoch=1)
    st = table.state()
    hist = table.history()
    merge_commit = [h for h in hist if h["operation"] == "merge"][-1]
    assert len(merge_commit["summary"]["affected_buckets"]) == 1
    # untouched buckets keep their original files
    assert len(files_before & set(st.files)) > 0
    got = table.read().filter(FF.col("url") == urls[0]).collect()
    assert got[0].text == "upd"


def test_ts_cmp_rounds_float_bounds_conservatively():
    """Float bounds must floor (lower/min) or ceil (upper/max) — truncation
    toward zero could prune a file still holding matching rows (r3 advice)."""
    from cosmwasm_etl_spark.lakehouse.table import _ts_cmp

    assert _ts_cmp(5.7, True) == 5 and _ts_cmp(5.7, False) == 6
    assert _ts_cmp(-2.3, True) == -3 and _ts_cmp(-2.3, False) == -2
    assert _ts_cmp(4.0, True) == 4 and _ts_cmp(4.0, False) == 4
    assert _ts_cmp(7, True) == 7 and _ts_cmp(None, False) is None


def _on_disk_parquet(root):
    import os

    out = set()
    for dirpath, _d, names in os.walk(os.path.join(root, "data")):
        for n in names:
            if n.endswith(".parquet"):
                out.add(os.path.relpath(os.path.join(dirpath, n), root))
    return out


def test_vacuum_frees_rewritten_files_and_keeps_time_travel(spark, table):
    """After K COW merges + vacuum(retain_versions=3): the on-disk parquet
    set equals exactly the union of the retained versions' file entries
    (de-referenced rewrites are PHYSICALLY gone), time travel within the
    horizon still reads correct rows, below it raises, and the final state
    is byte-identical to pre-vacuum (r3 missing #1)."""
    import os

    for e in range(10):  # repeated updates of the same keys -> rewrites
        rows = [(page(f"u{k}", 10 * e + k, text=f"v{e}"), "update") for k in range(6)]
        table.merge_upserts(_batch(spark, rows), epoch=e, watermark=10 * e)
    before = table.read().orderBy("url").collect()
    latest = table.log.latest_version()
    disk_before = _on_disk_parquet(table.path)

    dry = table.vacuum(retain_versions=3, dry_run=True)
    assert dry["dry_run"] and dry["garbage_files"] > 0

    res = table.vacuum(retain_versions=3)
    horizon = res["horizon"]
    assert horizon == latest - 2 and res["deleted_files"] == dry["garbage_files"]
    assert res["freed_bytes"] > 0 and res["dropped_commits"] > 0

    # on-disk set == union of retained versions' entries, nothing more
    want = set()
    for v in range(horizon, latest + 1):
        want |= set(table.state(v).files.keys())
    assert _on_disk_parquet(table.path) == want
    assert _on_disk_parquet(table.path) < disk_before

    # current read unchanged; time travel to horizon works; below raises
    after = table.read().orderBy("url").collect()
    assert after == before
    assert {r.url for r in table.read(version=horizon).collect()} == {f"u{k}" for k in range(6)}
    with pytest.raises(ValueError, match="vacuum"):
        table.state(horizon - 1)

    # reload from disk (fresh process analog) — state replays from the
    # horizon checkpoint, never from the dropped prefix
    t2 = LakeTable.load(spark, table.path)
    assert t2.read().orderBy("url").collect() == before
    assert t2.watermark() == table.watermark()
    assert t2.committed_epochs() == set(range(10))

    # vacuum is idempotent; a subsequent merge + vacuum keeps working
    res2 = table.vacuum(retain_versions=3)
    assert res2["deleted_files"] == 0
    table.merge_upserts(_batch(spark, [(page("u0", 999, "zz"), "update")]), epoch=99)
    table.vacuum(retain_versions=2)
    assert [r.text for r in table.read().filter(F.col("url") == "u0").collect()] == ["zz"]


def test_vacuum_bounds_disk_across_long_replay(spark, table):
    """Disk usage stays bounded when vacuum runs on a cadence during a long
    merge stream — the design-point guarantee."""
    sizes = []
    for e in range(12):
        rows = [(page(f"u{k}", 100 * e + k, text=f"e{e}"), "update") for k in range(8)]
        table.merge_upserts(_batch(spark, rows), epoch=e)
        if e % 3 == 2:
            table.vacuum(retain_versions=2)
            sizes.append(len(_on_disk_parquet(table.path)))
    # file count after each vacuum is flat (bounded), not growing
    assert max(sizes) <= min(sizes) + 8
    assert len({r.url for r in table.read().collect()}) == 8


@pytest.mark.parametrize("backend_name", ["hardlink", "sqlite"])
def test_commit_backend_cas_race_both_backends(tmp_path, backend_name):
    """The CAS race holds for BOTH put-if-absent backends: the default
    hardlink protocol and the sqlite conditional-put coordinator (the S3/
    DynamoDB-profile stand-in, r3 stretch #9): exactly one winner per
    version, losers get CommitConflict, payload intact."""
    import threading

    from cosmwasm_etl_spark.lakehouse.log import (
        CommitConflict,
        HardlinkCommitBackend,
        SqliteCommitBackend,
        TableLog,
    )

    root = str(tmp_path / f"t-{backend_name}")
    log_dir = f"{root}/_log"
    import os as _os

    _os.makedirs(log_dir, exist_ok=True)
    backend = (
        HardlinkCommitBackend(log_dir) if backend_name == "hardlink"
        else SqliteCommitBackend(log_dir)
    )
    log = TableLog(root, backend=backend)
    n = 8
    barrier = threading.Barrier(n)
    outcomes = [None] * n

    def race(i):
        barrier.wait()
        try:
            log.write_commit(1, {"operation": "merge", "summary": {"writer": i},
                                 "schema": None, "add": [], "remove": []})
            outcomes[i] = "won"
        except CommitConflict:
            outcomes[i] = "lost"

    threads = [threading.Thread(target=race, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert outcomes.count("won") == 1 and outcomes.count("lost") == n - 1
    assert log.read_commit(1)["summary"]["writer"] == outcomes.index("won")
    assert log.latest_version() == 1


def test_sqlite_backend_heals_half_published_commit(tmp_path):
    """Crash between coordinator claim and file materialization: the claimed
    version still owns its slot (latest_version sees it; a racing writer
    loses) and the commit file is healed from the claim row on read."""
    import os as _os

    from cosmwasm_etl_spark.lakehouse.log import (
        CommitConflict,
        SqliteCommitBackend,
        TableLog,
    )

    root = str(tmp_path / "t")
    log_dir = f"{root}/_log"
    _os.makedirs(log_dir, exist_ok=True)
    log = TableLog(root, backend=SqliteCommitBackend(log_dir))
    log.write_commit(1, {"operation": "create", "summary": {}, "schema": None,
                         "add": [], "remove": []})
    log.write_commit(2, {"operation": "merge", "summary": {"w": 9}, "schema": None,
                         "add": [], "remove": []})
    # simulate the crash: claim row exists, file does not
    _os.unlink(log._commit_path(2))
    assert log.latest_version() == 2  # coordinator still owns v2
    with pytest.raises(CommitConflict):
        log.write_commit(2, {"operation": "merge", "summary": {"w": 0},
                             "schema": None, "add": [], "remove": []})
    assert log.read_commit(2)["summary"]["w"] == 9  # healed from the claim
    assert _os.path.exists(log._commit_path(2))  # file re-materialized
    # vacuum's drop_before clears coordinator rows too
    log.drop_before(2)
    assert log.backend.max_version() == 2


# ---------------------------------------------------------------- point lookup


def test_lookup_matches_full_scan_filter(spark, table):
    rows = [page(f"u{i:03d}", i, text=f"t{i}") for i in range(40)]
    table.append(spark.createDataFrame(rows[:20], SCHEMA), epoch=0)
    table.append(spark.createDataFrame(rows[20:], SCHEMA), epoch=1)
    keys = ["u003", "u027", "u031", "missing", None]
    got = sorted(r.url for r in table.lookup(keys).collect())
    want = sorted(
        r.url for r in table.read().filter(F.col("url").isin("u003", "u027", "u031")).collect()
    )
    assert got == want == ["u003", "u027", "u031"]


def test_lookup_prunes_files_by_bucket_and_key_range(spark, table):
    """The metadata pruner must touch strictly fewer files than the table
    holds: only the keys' buckets survive, and within a bucket the per-file
    [min_key, max_key] footer stats drop non-overlapping files."""
    from cosmwasm_etl_spark.functions.pyoracle import xxh64_str

    # two appends with disjoint key ranges -> every bucket has files whose
    # key ranges don't overlap the other append's keys
    table.append(spark.createDataFrame([page(f"a{i:03d}", i) for i in range(64)], SCHEMA), epoch=0)
    table.append(spark.createDataFrame([page(f"z{i:03d}", i) for i in range(64)], SCHEMA), epoch=1)
    st = table.state()
    key = "a001"
    b = xxh64_str(key) % st.num_buckets
    entries = table._lookup_entries(st, {b: [key]})
    assert entries, "lookup must keep at least the file holding the key"
    assert all(e["bucket"] == b for e in entries)
    # key-range layer: no surviving file may exclude 'a001' from its stats
    assert all(
        e["min_key"] is None or (e["min_key"] <= key <= e["max_key"]) for e in entries
    )
    # it pruned: the table has files in other buckets and 'z...' files in
    # this bucket that a full scan would read
    assert len(entries) < len(st.files)
    assert table.lookup([key]).count() == 1


def test_lookup_keeps_files_without_key_stats(spark, table):
    """Conservative fallback: an entry with no footer key stats must stay a
    candidate (correctness over pruning)."""
    table.append(spark.createDataFrame([page("k1", 1)], SCHEMA), epoch=0)
    st = table.state()
    for e in st.files.values():
        e["min_key"] = e["max_key"] = None
    from cosmwasm_etl_spark.functions.pyoracle import xxh64_str

    b = xxh64_str("k1") % st.num_buckets
    assert table._lookup_entries(st, {b: ["k1"]}) != []


def test_lookup_with_parquet_bloom_filters(spark, tmp_path, monkeypatch):
    """Opt-in parquet bloom on the key column: lookups stay correct and the
    option demonstrably reaches the writer (pyarrow 16 doesn't surface bloom
    offsets, so the observable is the per-file byte growth the bloom adds —
    identical data written with the env set must be strictly larger)."""
    rows = [page(f"u{i:03d}", i) for i in range(32)]

    def _write(name):
        t = LakeTable.create(
            spark, str(tmp_path / name), SCHEMA, "url", "warc_ts", num_buckets=1
        )
        t.append(spark.createDataFrame(rows, SCHEMA), epoch=0)
        return t, sum(e["bytes"] for e in t.state().files.values())

    monkeypatch.delenv("SPARK_GRAFT_PARQUET_BLOOM_NDV", raising=False)
    _, plain_bytes = _write("plain")
    monkeypatch.setenv("SPARK_GRAFT_PARQUET_BLOOM_NDV", "1000")
    bloomed, bloom_bytes = _write("bloomed")
    assert bloom_bytes > plain_bytes, "bloom option did not reach the parquet writer"
    assert sorted(r.url for r in bloomed.lookup(["u005", "u017"]).collect()) == ["u005", "u017"]


def test_compact_clusters_rows_by_key(spark, tmp_path, monkeypatch):
    """Compaction key-sorts within each bucket file so row-group key stats
    are tight: with a small parquet block size forcing several row groups,
    consecutive groups' [min,max] url ranges must be non-overlapping —
    the property in-file lookup pruning relies on."""
    monkeypatch.setenv("SPARK_GRAFT_PARQUET_BLOCK_SIZE", "65536")
    t = LakeTable.create(spark, str(tmp_path / "c"), SCHEMA, "url", "warc_ts", num_buckets=1)
    rows = [page(f"u{i:05d}", i, text="x" * 200) for i in range(4000)]
    import random

    random.Random(7).shuffle(rows)
    t.append(spark.createDataFrame(rows, SCHEMA), epoch=0)
    t.compact(lambda df: df, epoch=1)

    import os as _os

    import pyarrow.parquet as _pq

    st = t.state()
    multi_rg = False
    for e in st.files.values():
        md = _pq.ParquetFile(_os.path.join(t.path, e["path"])).metadata
        idx = {
            md.row_group(0).column(i).path_in_schema: i for i in range(md.num_columns)
        }
        ranges = []
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(idx["url"]).statistics
            ranges.append((s.min, s.max))
        if len(ranges) > 1:
            multi_rg = True
            for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
                assert hi1 <= lo2, f"row groups overlap: {hi1} > {lo2}"
    assert multi_rg, "block-size knob did not produce multiple row groups"
    assert t.lookup(["u00042"]).count() == 1


def test_describe_metadata_only(spark, table):
    """describe() summarizes the table from commit metadata alone: rows/
    bytes/files, per-bucket layout + skew, MOR delta debt, provenance."""
    table.append(spark.createDataFrame([page(f"u{i}", i) for i in range(20)], SCHEMA), epoch=0)
    d = table.describe()
    assert d["rows"] == 20 and d["files"] == len(table.state().files)
    assert d["key_col"] == "url" and d["num_buckets"] == 8
    assert sum(b["rows"] for b in d["buckets"].values()) == 20
    assert d["skew"] >= 1.0 and d["delta"] == {"files": 0, "rows": 0, "commits": 0}
    assert d["epochs"] == 1
    assert (d["applied_events"], d["min_seq"]) == (0, None)
    # MOR deltas show up as compaction debt; a pipeline's commit counts as
    # the applied prefix of the change log
    table.append_delta(
        spark.createDataFrame([page("u0", 99, "v2")], SCHEMA), epoch=1,
        summary_fn=lambda: {"n_events": 3, "min_seq": 7, "watermark": 9},
    )
    d2 = table.describe()
    assert d2["delta"]["files"] >= 1 and d2["delta"]["rows"] == 1
    assert d2["delta"]["commits"] == 1
    assert (d2["applied_events"], d2["min_seq"], d2["watermark"]) == (3, 7, 9)
    assert d2["rows"] == 21  # MOR rows upper-bound the resolved count
    # compaction pays the debt off; the applied prefix stays
    table.compact(lambda df: df)
    d3 = table.describe()
    assert d3["delta"] == {"files": 0, "rows": 0, "commits": 0}
    assert (d3["applied_events"], d3["min_seq"]) == (3, 7)


def test_folded_facts_ride_checkpoints(table):
    """applied_events, min_seq and delta_commits survive a checkpoint; one
    written before they were folded loads them as unknown (None), and only
    a compaction makes the delta count known again."""
    import pyarrow as pa

    def commit(epoch, n, lo):
        rows = pa.table({
            "url": [f"u{epoch}"], "warc_ts": [ts(epoch)], "html": [b"t"],
            "text": ["t"], "lang": ["en"],
        })
        table.append_delta(
            rows, epoch=epoch,
            summary_fn=lambda: {"n_events": n, "min_seq": lo, "watermark": lo + n - 1},
        )

    def facts():
        st = table.state()
        return st.applied_events, st.min_seq, st.delta_commits

    commit(0, 3, 7)
    commit(1, 2, 5)
    st = table.state()
    table.log.write_checkpoint(st.version, st.to_dict())
    assert facts() == (5, 5, 2)
    folded = ("applied_events", "min_seq", "delta_commits")
    legacy = {k: v for k, v in st.to_dict().items() if k not in folded}
    table.log.write_checkpoint(st.version, legacy)
    assert facts() == (None, None, None)
    commit(2, 4, 0)
    assert facts() == (None, None, None)
    table.compact(lambda df: df)
    assert facts() == (None, None, 0)

"""Ingest-time near-duplicate detection over the CDC stream.

Batch near-dup passes (``functions/dedup.py``) answer "which documents in
this corpus are near-duplicates?" — a full-corpus job. At the 10^10-event
design point the question the ingest loop actually asks is incremental:
*"is the page that just changed a near-duplicate of anything already in
the table?"* — the shape every large training-corpus pipeline runs at
crawl-ingest time (the alternative, re-running corpus-wide LSH per crawl
snapshot, re-pays the whole corpus every batch).

This operator maintains a **MinHash band index** as a lakehouse table
beside the pages table and advances it per micro-batch through the
pipeline's ``post_commit`` hook (the same contract as the incremental
aggregates, ``aggregates.py``):

1. the batch's affected urls are *resynced* from the post-merge pages
   state (not from the batch payload — so out-of-order replay, losing
   batches, deletes and quarantined/empty texts all converge: the index
   row is a pure function of the current table row). The url set itself
   comes from the batch's just-committed delta FILE METADATA when the
   index rides a CdcPipeline (zero Spark jobs; falls back to an
   events-side distinct otherwise) — metadata names the urls, the table
   read stays authoritative for their content;
2. new-vs-corpus and new-vs-new LSH candidates are generated by joining
   the batch's band values (small — broadcast) against the index;
3. candidates are exact-Jaccard verified against the live page texts and
   appended to an append-only ``near_dups`` pair log;
4. the index rows are merged (repair semantics — authoritative resync).

Every step is epoch-idempotent on the batch id (pair append first, index
merge second, each skipped independently on replay), so a crash between
the two commits heals on the next delivery exactly like the pipeline's
own downstream tasks (`plans/pipeline.py` post_commit contract).

Physical shape at scale — the part that matters at 10^10 pages:

- the corpus is NEVER shuffled: the batch side (urls, bands, texts) is
  broadcast; the index/pages scans stream map-side through the joins,
  column-pruned to (url, band_*) / (url, text);
- candidate volume, not corpus volume, sizes every exchange after the
  scan: the only aggregations run over band-collision hits;
- signatures are the zero-shuffle projection of
  :func:`cosmwasm_etl_spark.functions.dedup.minhash_bands` — band-for-band
  identical to the batch LSH pass, which is what makes the index
  *replay-equivalent*: after any replay, the live index rows equal
  ``minhash_bands(final pages state)`` exactly, and the cumulative pair
  log is a superset of the batch pass over the final state (pairs whose
  rows were later superseded legitimately remain in the log — they WERE
  near-dups when detected). Both invariants are pinned in
  tests/test_ingest_dedup.py.

Reference parity: the reference has no dedup surface; the *hook* shape
mirrors its post-commit aggregate tasks (`aggregator/aggregator.go` task
loop), applied to a training-corpus concern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cosmwasm_etl_spark.functions.text import shingles
from cosmwasm_etl_spark.lakehouse.table import LakeTable


def _sig_schema(bands: int) -> T.StructType:
    return T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("seq", T.LongType(), True),
            # tombstone: url deleted OR its live text has no shingles (an
            # index row would otherwise go stale / collide on NULL bands)
            T.StructField("deleted", T.BooleanType(), False),
            *[T.StructField(f"band_{b}", T.LongType(), True) for b in range(bands)],
        ]
    )


_PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("pair_key", T.StringType(), False),
        T.StructField("url_a", T.StringType(), False),
        T.StructField("url_b", T.StringType(), False),
        T.StructField("jaccard", T.DoubleType(), False),
        T.StructField("epoch", T.LongType(), False),
        T.StructField("detected_ts", T.TimestampType(), False),
    ]
)


class IngestNearDupIndex:
    """Incremental MinHash/LSH near-dup index over a CDC pages table.

    ``pages_fn`` returns the CURRENT resolved live pages DataFrame (url,
    warc_ts, seq, text, ...) — pass ``pipeline.pages`` to ride a
    :class:`~cosmwasm_etl_spark.plans.pipeline.CdcPipeline`; wire
    ``index.advance`` as (or into) the pipeline's ``post_commit``.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        pages_fn,
        *,
        pages_for_fn=None,
        k: int = 32,
        bands: int = 8,
        n: int = 3,
        threshold: float = 0.8,
        seed: int = 42,
        num_buckets: int = 16,
    ) -> None:
        if k % bands != 0:
            raise ValueError(f"bands ({bands}) must divide k ({k})")
        self.spark = spark
        self.pages_fn = pages_fn
        # keyed-subset read (urls_df -> live rows): pass pipeline.pages_for
        # so per-batch lookups read only the buckets containing the batch's
        # urls and resolve latest-wins AFTER the key filter — without it,
        # each advance falls back to two corpus-wide resolved scans
        self.pages_for_fn = pages_for_fn
        self.k, self.bands, self.n = k, bands, n
        self.threshold, self.seed = threshold, seed
        import os

        sig_path = os.path.join(root, "sig_index")
        pairs_path = os.path.join(root, "near_dups")
        try:
            self.sig = LakeTable.load(spark, sig_path)
        except Exception:
            self.sig = LakeTable.create(
                spark, sig_path, _sig_schema(bands),
                key_col="url", ts_col="warc_ts", num_buckets=num_buckets,
            )
        try:
            self.pairs = LakeTable.load(spark, pairs_path)
        except Exception:
            self.pairs = LakeTable.create(
                spark, pairs_path, _PAIRS_SCHEMA,
                key_col="pair_key", ts_col="detected_ts", num_buckets=num_buckets,
            )

    # ---------------------------------------------------------------- reads

    def index(self) -> DataFrame:
        """Live index rows (url, warc_ts, seq, band_0..)."""
        return self.sig.read().filter(~F.col("deleted"))

    def near_dups(self) -> DataFrame:
        """The cumulative verified pair log."""
        return self.pairs.read()

    # -------------------------------------------------------------- advance

    def _band_names(self) -> list[str]:
        return [f"band_{b}" for b in range(self.bands)]

    def _pages_for(
        self, urls: DataFrame, buckets=None, include_deleted: bool = False
    ) -> DataFrame:
        """Live rows for a bounded url set — the bucket-pruned keyed read
        when wired (pages_for_fn), else a filtered full scan. ``buckets`` /
        ``include_deleted`` are forwarded when the wired reader supports
        them (CdcPipeline.pages_for does); a simpler callable falls back to
        the plain keyed read."""
        if self.pages_for_fn is not None:
            if buckets is not None or include_deleted:
                try:
                    return self.pages_for_fn(
                        urls, buckets=buckets, include_deleted=include_deleted
                    )
                except TypeError:
                    if include_deleted:
                        raise  # a reader without tombstones cannot serve this path
            return self.pages_for_fn(urls)
        return self.pages_fn().join(F.broadcast(urls.select("url")), "url")

    def _batch_delta_meta(self, batch_id: int):
        """(paths, buckets) of the pages table's delta commit for this
        batch — COMMIT-LOG METADATA ONLY, no Spark job. The delta files
        are the batch's latest-wins winners (exactly one row per affected
        url, tombstones included), so they ARE the affected-url set: using
        them replaces the events-side distinct AND the driver bucket
        collect with a metadata walk. Returns None (→ fallback to the
        events-derived path) when the wired reader is not a CdcPipeline,
        the batch has no delta commit (a foreign epoch), or a
        compaction+vacuum already dropped the files."""
        import os

        pipe = getattr(self.pages_for_fn, "__self__", None)
        table = getattr(pipe, "table", None)
        log = getattr(table, "log", None)
        if log is None:
            return None
        try:
            latest, floor = log.latest_version(), log.min_version()
        except Exception:
            return None
        # walk BACKWARD from the tail: post_commit runs right after the
        # batch's commit, so its delta is normally the latest entry; the
        # bound keeps a miss (deep replay healing on a long log) at O(1)
        # metadata reads instead of O(log length) per advance
        for v in range(latest, max(floor - 1, latest - 64), -1):
            try:
                c = log.read_commit(v)
            except Exception:
                return None
            if c.get("operation") != "delta":
                continue
            if (c.get("summary") or {}).get("epoch") != batch_id:
                continue
            adds = c.get("add") or []
            paths = [os.path.join(table.path, e["path"]) for e in adds]
            if not all(os.path.exists(p) for p in paths):
                return None
            return paths, sorted({int(e["bucket"]) for e in adds})
        return None

    def _base_state(self, affected_urls: DataFrame, buckets, delta_derived: bool) -> DataFrame:
        """ONE checkpointed frame carrying everything every consumer needs
        — (url, warc_ts, seq, deleted, sh, band_0..): the candidate stacks,
        the exact-verify shingle sides, and the index-merge staging are all
        projections of it, so the keyed pages read, the tokenize/shingle
        pass and the k-hash band expressions each execute exactly once per
        advance (they previously re-ran per consumer: bands ~4x).

        ``delta_derived=True`` (url set from the batch's own delta files):
        every affected url has a resolved table row — possibly a tombstone
        — so ONE read with ``include_deleted=True`` covers the gone case
        and the anti-join union branch disappears. The fallback keeps the
        anti-join: an events-derived url may be absent from the table
        entirely (quarantined-only)."""
        if delta_derived:
            st = self._pages_for(affected_urls, buckets=buckets, include_deleted=True)
            base = st.select(
                "url", "warc_ts", "seq",
                F.when(
                    ~F.col("deleted"),
                    F.array_distinct(shingles(F.col("text"), self.n)),
                ).alias("sh"),
            )
        else:
            cur = self._pages_for(affected_urls).select(
                "url", "warc_ts", "seq",
                F.array_distinct(shingles(F.col("text"), self.n)).alias("sh"),
            )
            gone = (
                affected_urls.join(cur.select("url"), "url", "left_anti")
                .select(
                    "url",
                    F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("warc_ts"),
                    F.lit(None).cast("long").alias("seq"),
                    F.lit(None).cast("array<string>").alias("sh"),
                )
            )
            base = cur.unionByName(gone)
        # deleted ⇔ url deleted / absent / shingle-less (NULL sh folds in:
        # size(NULL) is NULL, coalesce → False → deleted)
        alive = F.coalesce(F.size("sh") > 0, F.lit(False))
        return base.select(
            "url", "warc_ts", "seq", (~alive).alias("deleted"), "sh",
            *self._band_exprs(),
        ).localCheckpoint(eager=True)

    def _band_exprs(self) -> list:
        """Band columns over the checkpointed ``sh`` column — expression-
        identical to :func:`minhash_bands` (the replay-equivalence basis):
        mh_i = array_min(xxhash64(seed+i, shingle)), band_b = xxhash64 of
        its r minhash rows; shingle-less docs get NULL bands (the banding
        exclusion minhash_bands expresses by dropping those rows)."""
        r = self.k // self.bands
        # SQL-string construction: the Column-object form (k transform
        # lambdas + band hashes) costs hundreds of py4j round trips of
        # driver-side build time PER ADVANCE (see functions/dedup.py
        # _minhash_cols) — the generated expressions are identical.
        mh = [
            f"array_min(transform(sh, h -> xxhash64({self.seed + i}, h)))"
            for i in range(self.k)
        ]
        return [
            F.expr(
                f"IF(size(sh) > 0, xxhash64({', '.join(mh[b * r: (b + 1) * r])}),"
                " CAST(NULL AS BIGINT))"
            ).alias(f"band_{b}")
            for b in range(self.bands)
        ]

    def _stack(self, df: DataFrame) -> DataFrame:
        """(url, band, h) rows from band columns; NULL bands excluded."""
        bands = self._band_names()
        return (
            df.select(
                "url",
                F.explode(
                    F.array(*[
                        F.struct(F.lit(b).alias("band"), F.col(bands[b]).alias("h"))
                        for b in range(self.bands)
                    ])
                ).alias("bh"),
            )
            .select("url", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
            .filter(F.col("h").isNotNull())
        )

    def _candidates(self, new_live: DataFrame) -> DataFrame:
        """LSH candidates as (url_n batch-side, url_c other-side, __src),
        provenance-flagged — ``__src='c'`` vs-corpus, ``'n'`` vs-new — so
        verification can source each side's shingles without re-scanning:
        the batch side always comes from the checkpoint; only vs-corpus's
        url_c needs the pages table.

        ONE join against ONE broadcast of the batch's stacked bands: the
        stream side is the (corpus ∪ batch) stack, so both candidate
        classes fall out of the same probe (two joins + two broadcast
        builds per advance collapsed into one of each). The index scan
        streams through column-pruned to (url, band_*) — the corpus side
        never shuffles; the two classes stay disjoint because the corpus
        side anti-joins the batch's urls away."""
        new_stacked = self._stack(new_live)
        corpus = (
            self.index()
            .join(F.broadcast(new_live.select("url")), "url", "left_anti")
            .select("url", *self._band_names())
        )
        stream = self._stack(corpus).withColumn("__src", F.lit("c")).unionByName(
            new_stacked.withColumn("__src", F.lit("n"))
        )
        probe = F.broadcast(new_stacked.withColumnRenamed("url", "url_p"))
        return (
            stream.join(probe, ["band", "h"])
            # vs-new pairs dedup by ordering (a < b); vs-corpus keeps every
            # (batch url_p, corpus url) hit
            .filter((F.col("__src") == "c") | (F.col("url") < F.col("url_p")))
            .select(
                F.when(F.col("__src") == "c", F.col("url_p"))
                .otherwise(F.col("url")).alias("url_n"),
                F.when(F.col("__src") == "c", F.col("url"))
                .otherwise(F.col("url_p")).alias("url_c"),
                "__src",
            )
            .distinct()
        )

    def _verify(self, cur: DataFrame, vs_corpus: DataFrame, vs_new: DataFrame, epoch: int) -> DataFrame:
        """Exact-Jaccard verification. Batch-side shingles come from the
        shared base-state checkpoint (zero extra scans); corpus-side
        shingles from ONE pages scan streamed against the broadcast
        candidate set."""
        a = cur.select(
            F.col("url").alias("url_n"),
            F.col("sh").alias("sh_a"),
            F.col("warc_ts").alias("ts_a"),
        )
        b_new = cur.select(
            F.col("url").alias("url_c"),
            F.col("sh").alias("sh_b"),
            F.col("warc_ts").alias("ts_b"),
        )
        nn = b_new.join(F.broadcast(a.join(F.broadcast(vs_new), "url_n")), "url_c")
        # vs_corpus is consumed twice (the keyed read's url set + the join
        # probe) — the caller materialized it, so both reads are free
        b_corpus = self._pages_for(
            vs_corpus.select(F.col("url_c").alias("url")).distinct()
        ).select(
            F.col("url").alias("url_c"),
            F.array_distinct(shingles(F.col("text"), self.n)).alias("sh_b"),
            F.col("warc_ts").alias("ts_b"),
        )
        nc = b_corpus.join(F.broadcast(a.join(F.broadcast(vs_corpus), "url_n")), "url_c")
        both = nn.unionByName(nc)
        return (
            both.withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn("uni", F.size("sh_a") + F.size("sh_b") - F.col("inter"))
            .withColumn(
                "jaccard",
                F.when(F.col("uni") > 0, F.col("inter") / F.col("uni")).otherwise(F.lit(0.0)),
            )
            .filter(F.col("jaccard") >= F.lit(self.threshold))
            .select(
                F.least("url_n", "url_c").alias("url_a"),
                F.greatest("url_n", "url_c").alias("url_b"),
                F.round("jaccard", 6).alias("jaccard"),
                F.lit(epoch).cast("long").alias("epoch"),
                F.greatest("ts_a", "ts_b").alias("detected_ts"),
            )
            .withColumn("pair_key", F.concat_ws("|", "url_a", "url_b"))
        )

    def advance(self, events: DataFrame, batch_id: int, stats: dict | None = None) -> dict:
        """Advance the index past one applied micro-batch. Idempotent on
        ``batch_id`` per table: pair append and index merge each commit
        under their own epoch check, so a crash leaving either (or
        neither) committed heals on redelivery without double-emitting
        pairs (`plans/pipeline.py` post_commit contract; both crash orders
        are pinned in tests/test_ingest_dedup.py).

        Physical shape per advance (after the r6 overhead work): ONE
        metadata walk resolves the affected urls + buckets from the
        batch's own delta commit (zero Spark jobs), ONE keyed pages read
        materializes the shared base frame, and the index merge runs on a
        driver thread CONCURRENT with candidate generation / verification
        (guide §2.6 — the two writes touch different tables and both read
        only the checkpointed base, so their jobs back-fill each other's
        scheduling tails)."""
        pairs_done = batch_id in self.pairs.committed_epochs()
        sig_done = batch_id in self.sig.committed_epochs()
        if pairs_done and sig_done:
            return {"batch_id": batch_id, "skipped": True}
        buckets = None
        affected = None
        meta = self._batch_delta_meta(batch_id)
        if meta is not None:
            paths, buckets = meta
            if not paths:
                # empty batch: epoch bookkeeping only — no Spark job at all
                if not pairs_done:
                    self.pairs.commit_empty(epoch=batch_id, note="empty batch")
                if not sig_done:
                    self.sig.commit_empty(epoch=batch_id, note="empty batch")
                return {"batch_id": batch_id, "skipped": False, "pairs_appended": 0}
            # winners are pre-deduplicated (one row per url per batch), so
            # the delta's url column needs no distinct pass
            affected = self.spark.read.parquet(*paths).select("url")
        if affected is None:
            affected = events.select("url").distinct()
        base = self._base_state(affected, buckets, delta_derived=meta is not None)
        rows = base.select("url", "warc_ts", "seq", "deleted", *self._band_names())
        out = {"batch_id": batch_id, "skipped": False}
        sig_thread = None
        sig_err: list[BaseException] = []
        if not sig_done:
            import threading

            def _merge() -> None:
                try:
                    self.sig.merge_upserts(
                        rows, epoch=batch_id, op_col=None, force=True, prestaged=True
                    )
                except BaseException as e:  # noqa: BLE001 — re-raised on join
                    sig_err.append(e)

            sig_thread = threading.Thread(target=_merge, daemon=True)
            sig_thread.start()
        try:
            if not pairs_done:
                new_live = base.filter(~F.col("deleted")).select("url", *self._band_names())
                cand_plan = self._candidates(new_live)
                # observed-count gate: at a typical ingest mix most batches
                # have ZERO band collisions — skipping the exact-verify plan
                # and the (empty) pair-file write replaces two Spark jobs with
                # a file-free epoch commit (r5 verdict: the A/B logged 0 pairs
                # while paying the full verify machinery every batch). The
                # count runs on the RAW plan — one action — and only a
                # non-empty candidate set (rare) pays the checkpoint that
                # shares the collision rows across both verify sides.
                if cand_plan.count() == 0:
                    self.pairs.commit_empty(epoch=batch_id, note="no band collisions")
                    out["pairs_appended"] = 0
                else:
                    cand = cand_plan.localCheckpoint(eager=True)
                    vs_corpus = cand.filter(F.col("__src") == "c").drop("__src")
                    vs_new = cand.filter(F.col("__src") == "n").drop("__src")
                    verified = self._verify(base, vs_corpus, vs_new, batch_id)
                    res = self.pairs.append(verified, epoch=batch_id)
                    out["pairs_appended"] = res.get("added_rows", 0)
        finally:
            # the pair path may raise with the merge still in flight — the
            # merge must complete (or fail) before control leaves, so the
            # caller never observes a half-advanced epoch still mutating
            if sig_thread is not None:
                sig_thread.join()
        if sig_err:
            raise sig_err[0]
        return out

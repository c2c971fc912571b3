"""The CDC apply pipeline — the Spark re-expression of the reference's
parser replay loop (`/root/reference/parser/dex/dex.go:87-267`).

Per micro-batch (= a contiguous range of event epochs; the reference's
per-height loop, batched):

1. **quarantine check** every event (Arrow decode-validity pass) — the
   AmbiguousEventError path (`pkg/eventlog/util.go:58-114`); flagged events
   land in the dead-letter store WITH raw payload ("raw events are never
   lost", `parser/dex/dex.go:186`) and their effects are deferred;
2. **latest-wins dedup** per url over valid events (W5) — map-side-combining
   ``max_by`` aggregate (hot-domain-skew-proof, see operators.dedup_window);
3. **extraction** (html→text pandas UDF) on dedup *winners only* —
   winners ≪ events, so the Python-side work is minimized;
4. **delta append** to the lakehouse pages table in ONE atomic commit
   carrying the batch id + high-watermark — the analog of the reference's
   single-Postgres-transaction insert + synced-height CAS
   (`parser/dex/repo/repository.go:98-122`); reads resolve latest-wins
   across base and delta rows, and once ``compact_every`` delta commits
   have accumulated a compaction folds the deltas into base;
5. **lineage** is that commit's summary (batch id, seq range, counts, apply
   time) — T12 observability; the commit log is the pipeline's only record.

Execution is chosen per batch by its size (*Evolution of a Compiling Query
Engine*, VLDB 2021: pick the execution mode by the size of the work). A
batch whose optimizer size estimate is below ``_SMALL_BATCH_BYTES`` runs
steps 1–4 on the driver in one Arrow pass (``toArrow()`` → the same pure
quarantine, latest-wins and extraction rules → one pyarrow file per touched
bucket → the same delta commit), with no Spark job past the read of the
batch; larger batches run the Spark plan. The fixed cost of a Spark apply
(exchanges, one task per bucket, the bucketed write) is seconds, so a small
micro-batch of a tailing stream spends almost all of its time there. Each
commit records which mode ran as ``exec``. Dead-letter rows land in
``quarantine/batch=N``: before the commit on the driver, after it on Spark.

Exactly-once: batch boundaries are a pure function of configuration
(``epochs_per_batch``), the commit is atomic, and the batch id is recorded in
the commit summary — replaying after any crash skips already-committed
batches and reconverges to the identical table state (tested in
tests/test_replay.py).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cosmwasm_etl_spark.functions.extraction import (
    check_quarantine_bytes,
    check_quarantine_udf,
    extract_text_bytes,
    extractor_for_epoch,
    with_extracted_text,
    with_extracted_text_versioned,
)
from cosmwasm_etl_spark.lakehouse import LakeTable
from cosmwasm_etl_spark.lakehouse.arrow_apply import (
    arrow_schema,
    latest_wins,
    project,
    resolve_sources,
)
from cosmwasm_etl_spark.lakehouse.schema import _parse_type as _parse_lake_type
from cosmwasm_etl_spark.operators.dedup_window import latest_wins_agg
from cosmwasm_etl_spark.operators.validation import full_outer_diff

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        # engine-internal columns:
        # seq — the event-sequence tiebreaker (SURVEY §7.4.2); with warc_ts it
        # forms the latest-wins order, making MERGE order-insensitive across
        # micro-batches (batches may be delivered out of order by a file
        # source or replayed concurrently);
        # deleted — tombstone flag: deletes are upserts of a tombstone row,
        # never physical removals, so a late-arriving older update can never
        # resurrect a deleted url. Tombstones are vacuumed by retention
        # (S12 analog) once the watermark passes them.
        T.StructField("seq", T.LongType(), True),
        T.StructField("deleted", T.BooleanType(), False),
    ]
)

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

# reserved ids outside the replay/streaming batch-id space (which is >= 0):
# the deferred dead-letter capture directory, and the namespace offset for
# quarantine-retry commit epochs (so a retry can never collide with — and
# silently skip on — a regular batch epoch).
_DEFERRED_BATCH_ID = -1
_RETRY_EPOCH_BASE = -1000

# A batch whose optimizer size estimate is below this many bytes applies on
# the driver in one Arrow pass; larger ones run the Spark plan (see
# CdcPipeline.apply_batch). It sits below the measured crossover, where a
# batch of 8 KB pages applies equally fast either way (see CHANGES.md).
_SMALL_BATCH_BYTES = 4 << 20

# UTF-8 encoding of U+FFFD. The literal-replacement-char fast-path check is
# done at the BYTE level (contains on the binary column): for valid UTF-8 it
# is exactly equivalent to searching the decoded string, and it never
# evaluates F.decode on a column that can hold invalid bytes — decode raises
# MALFORMED_CHARACTER_CODING there, and guard&decode conjunctions are only
# safe under an evaluation order Catalyst does not guarantee.
_UFFFD_BYTES = b"\xef\xbf\xbd"


def _is_ok_fast_expr():
    """JVM fast-path validity: empty, or valid UTF-8 without a literal
    U+FFFD. Rows failing this are the masked residue the python byte-level
    arbiter (check_quarantine_udf) re-examines."""
    return (F.length("html") == F.lit(0)) | (
        F.is_valid_utf8(F.col("html")) & ~F.contains(F.col("html"), F.lit(_UFFFD_BYTES))
    )


def _commit_counts(got: dict, t0: float) -> dict:
    """A batch's counts and apply time since ``t0``, as its commit records them."""
    return {
        "watermark": got["max_seq"],
        "n_events": got["n"],
        "n_quarantined": got["nq"],
        "min_seq": got["min_seq"],
        "apply_ms": int((time.time() - t0) * 1000),
    }


def _page_names(st) -> dict[str, str]:
    """The current name of each ``PAGE_COLUMNS`` field, keyed by its name in
    the schema the table was created with (renames keep the field id)."""
    current = {f.id: f.name for f in st.schema.fields}
    first = st.schemas[min(st.schemas)]
    return {f.name: current[f.id] for f in first.fields if f.name in PAGE_COLUMNS}


def create_pages_table(spark: SparkSession, path: str, num_buckets: int = 16) -> LakeTable:
    return LakeTable.create(spark, path, PAGES_SCHEMA, key_col="url", ts_col="warc_ts", num_buckets=num_buckets)


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        work_dir: str,
        sink_mode: str = "mor",
        compact_every: int = 8,
        extract_versions: list[tuple[int, int]] | None = None,
        quarantine_mode: str = "batch",
        post_commit=None,
        winner_mode: str = "full",
        canonicalize_keys: bool = False,
    ):
        """The pages table has one sink: every batch appends delta files
        (O(batch) ingest cost), reads resolve latest-wins across base and
        delta rows, and every ``compact_every`` delta commits (counted in the
        log) a compaction folds them into base; ``work_dir`` holds dead letters."""
        self.spark = spark
        self.table = table
        self.work_dir = os.path.abspath(work_dir)
        self.quarantine_dir = os.path.join(self.work_dir, "quarantine")
        os.makedirs(self.quarantine_dir, exist_ok=True)
        # The keyword survives only for callers that still pass "mor".
        if sink_mode != "mor":
            raise ValueError(f"unknown sink_mode: {sink_mode} (only 'mor' is supported)")
        self.compact_every = compact_every
        # M5 version dispatch: [(from_epoch, extractor_version), ...]
        self.extract_versions = sorted(extract_versions) if extract_versions else None
        if quarantine_mode not in ("batch", "deferred"):
            raise ValueError(f"unknown quarantine_mode: {quarantine_mode}")
        # "batch": dead-letter rows are spilled within each micro-batch (the
        # reference's per-height behavior). "deferred": run_replay captures
        # them in ONE pass at the end — halves the per-batch scan count; the
        # reference itself only *retries* quarantine on startup/periodically
        # (`parser/dex/dex.go:93-100`), so capture lag is semantically safe:
        # raw events remain in the immutable log either way.
        self.quarantine_mode = quarantine_mode
        # The apply has one winner plan: a single-phase latest-wins
        # aggregate, then a bucket-placement exchange (see apply_batch).
        # The keyword survives only for callers that still pass "full".
        if winner_mode != "full":
            raise ValueError(f"unknown winner_mode: {winner_mode} (only 'full' is supported)")
        # T6 downstream-task barrier (the aggregator scheduler-DAG analog,
        # `aggregator/aggregator.go:69-84`): called AFTER each batch's
        # atomic commit as post_commit(events_df, batch_id, stats). The
        # callee owns its own epoch idempotency (IncrementalAggregates
        # keys every advance on the same batch_id), so a crash between the
        # upstream commit and downstream tasks is healed on replay: the
        # upstream skip still invokes post_commit, the downstream skips
        # what it already applied.
        self.post_commit = post_commit
        # Canonical-key ingestion (webtext): re-crawls of the same page
        # arrive under many spellings (case, default ports, tracking
        # params, fragments, param order); with canonicalize_keys=True the
        # CDC key is the canonical URL, so variants collapse into ONE
        # latest-wins key instead of fragmenting a hot page across several.
        # Normalization is a zero-shuffle projection applied at EVERY raw-
        # event entry point (apply, expected-state/audit, quarantine
        # capture all see the same keys — replay-equivalence still holds);
        # the raw spelling stays recoverable from the immutable event log.
        # Off by default: exact-key mode is the reference's behavior.
        # The scheme is PROVENANCE: stamped into every data commit's
        # summary and folded into TableState.key_norm — reopening a table
        # with the OTHER normalization would silently re-key committed
        # rows (the EVOLUTION_ID_STRIDE hazard class), so it is refused.
        self.canonicalize_keys = bool(canonicalize_keys)
        self._key_norm = "canonical" if self.canonicalize_keys else "exact"
        st = table.state()
        recorded = st.key_norm or ("exact" if st.epochs else "")
        if recorded and recorded != self._key_norm:
            raise ValueError(
                f"table was ingested with key_norm={recorded!r} but this "
                f"pipeline is configured {self._key_norm!r}; flipping "
                f"canonicalize_keys on an existing table would re-key "
                f"committed rows — open it with the recorded mode"
            )

    def _normalize(self, events: DataFrame) -> DataFrame:
        if not self.canonicalize_keys:
            return events
        from cosmwasm_etl_spark.functions.urls import canonicalize_url

        return events.withColumn("url", canonicalize_url(F.col("url")))

    # ------------------------------------------------------------ single batch

    def apply_batch(self, events: DataFrame, batch_id: int) -> dict:
        """Apply one micro-batch of change events. Idempotent on batch_id.

        Two execution modes, chosen by the size of the batch (a property of
        the input, never an option): the optimizer's size estimate of the
        batch's plan — computed from file metadata while planning, so the
        choice runs no Spark job — below ``_SMALL_BATCH_BYTES`` means
        ``"driver"``, anything else (or no estimate) means ``"spark"``.
        Both give the same table rows, dead-letter rows and commit summary;
        the summary and the returned stats record which one ran as
        ``exec``.

        - **spark**: the whole batch streams through ONE job — validity
          check (Arrow decode pass) → latest-wins aggregate → extraction of
          winners → bucketed file write — with batch statistics (event
          count, seq range, quarantine count) collected *during* that job
          via ``Observation`` metrics. No ``persist()`` of raw html, no
          second stats pass. In ``batch`` quarantine mode the dead-letter
          rows are captured by a second job AFTER the commit, and only when
          the observed quarantine count is non-zero.
        - **driver**: one Arrow pass — ``toArrow()``, the quarantine rule,
          latest-wins, extraction of winners, projection to the current
          schema and one pyarrow file per touched bucket — with no Spark
          job past the read of the batch. In ``batch`` quarantine mode the
          dead-letter rows are written BEFORE the commit, so a crash after
          the commit cannot lose them.

        In ``deferred`` quarantine mode both modes leave the dead-letter
        rows to :meth:`run_replay`'s single pass.
        """
        events = self._normalize(events)
        st = self.table.state()
        if batch_id in st.epochs:
            stats = {"batch_id": batch_id, "skipped": True}
            if self.post_commit is not None:
                # replay healing: downstream tasks may have crashed after
                # this batch's upstream commit — give them their (idempotent)
                # chance again
                self.post_commit(events, batch_id, stats)
            return stats
        t0 = time.time()
        exec_mode = self._exec_mode(events, st)
        if exec_mode == "driver":
            res, got = self._apply_on_driver(events, batch_id, st, t0)
        else:
            res, got = self._apply_with_spark(events, batch_id, st, t0)

        # an unknown count (a checkpoint older than the count) compacts now
        if st.delta_commits is None or st.delta_commits + 1 >= self.compact_every:
            self.table.compact(self._resolve_latest)

        stats = {
            "batch_id": batch_id,
            "skipped": bool(res.get("skipped")),
            "exec": exec_mode,
            "n_events": int(got["n"] or 0),
            "n_quarantined": int(got["nq"] or 0),
            "min_seq": int(got["min_seq"]) if got["min_seq"] is not None else None,
            "max_seq": int(got["max_seq"]) if got["max_seq"] is not None else None,
            "table_version": res.get("version"),
            "duration_ms": int((time.time() - t0) * 1000),
        }
        if self.post_commit is not None:
            self.post_commit(events, batch_id, stats)
        return stats

    def _exec_mode(self, events: DataFrame, st) -> str:
        """``"driver"`` when the batch's optimizer size estimate is below
        ``_SMALL_BATCH_BYTES`` and every table column has an Arrow type;
        otherwise ``"spark"``. Reading the estimate plans the query but runs
        no job (file sources size themselves from file metadata). A plan
        without an estimate reports ``Long.MaxValue`` — e.g. a
        ``createDataFrame`` of Python rows — and a filter without CBO
        reports its whole input, so both take the Spark path."""
        try:
            size = int(str(events._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
            arrow_schema(st.schema)
        except Exception:  # noqa: BLE001 — no estimate means the Spark path
            return "spark"
        return "driver" if size < _SMALL_BATCH_BYTES else "spark"

    def _apply_on_driver(self, events: DataFrame, batch_id: int, st, t0: float) -> tuple[dict, dict]:
        """The small-batch apply: one Arrow pass on the driver with the
        engine's own pure rules — ``check_quarantine_bytes`` on every event,
        latest-wins on (warc_ts, seq) over the valid ones, the extractor
        (version-dispatched by epoch) on winners only, projection to the
        current schema by field id, then a delta commit of one pyarrow file
        per touched bucket. Returns (append result, batch counts)."""
        tbl = events.toArrow()
        errs = pa.array(
            [check_quarantine_bytes(h) for h in tbl.column("html").to_pylist()], pa.string()
        )
        bad = pc.is_valid(errs)
        got = {
            "n": tbl.num_rows,
            "max_seq": pc.max(tbl.column("seq")).as_py(),
            "min_seq": pc.min(tbl.column("seq")).as_py(),
            "nq": int(pc.sum(bad).as_py() or 0),
        }
        if got["nq"] and self.quarantine_mode == "batch":
            self._write_quarantine_arrow(tbl.filter(bad), errs.filter(bad), batch_id)
        winners = latest_wins(tbl.filter(pc.invert(bad)), "url", ["warc_ts", "seq"])
        htmls = winners.column("html").to_pylist()
        if self.extract_versions:
            bounds = tuple(self.extract_versions)
            epochs = winners.column("epoch").to_pylist()
            extracted = [extractor_for_epoch(bounds, int(e))(h) for h, e in zip(htmls, epochs)]
        else:
            extracted = [extract_text_bytes(h) for h in htmls]
        # the quarantine pre-check and extraction share one validity rule,
        # so this filter is defensive, as on the Spark path
        ok = winners.filter(pa.array([err is None for _t, err in extracted], pa.bool_()))
        texts = pa.array([t for t, err in extracted if err is None], pa.string())
        if "text" in ok.column_names:
            ok = ok.drop_columns(["text"])
        ok = ok.append_column("text", texts)
        ok = ok.append_column("deleted", pc.equal(ok.column("op"), "delete"))
        res = self.table.append_delta(
            project(ok, st), epoch=batch_id, summary_fn=lambda: _commit_counts(got, t0),
            extra_summary={"key_norm": self._key_norm, "exec": "driver"},
        )
        return res, got

    def _apply_with_spark(self, events: DataFrame, batch_id: int, st, t0: float) -> tuple[dict, dict]:
        """The Spark plan (see :meth:`apply_batch`). Returns (append result,
        batch counts)."""
        from pyspark.sql import Observation

        # Validity check, JVM-first with a masked python residue: the ratio
        # rule counts U+FFFD in the DECODED string, so it can fire on
        # invalid-UTF-8 payloads (~0.2% of events) AND on valid UTF-8 whose
        # text literally contains '�' — the fast path must exclude both or a
        # literal-U+FFFD page is silently dropped instead of quarantined
        # (round-3 "What's wrong" #2). A byte-level JVM `contains` catches
        # the literal case at column speed (see _UFFFD_BYTES). The UDF input
        # is MASKED to NULL for fast rows, so only the residue's bytes ever
        # cross the Arrow channel (the channel, not python CPU, is the
        # scaling bottleneck), in ONE scan — no two-branch union, no double
        # read. Semantics are identical to running check_quarantine_udf on
        # every row (python rule stays the byte-level arbiter; tested).
        is_ok_fast = _is_ok_fast_expr()
        masked = F.when(~is_ok_fast, F.col("html"))  # NULL for fast rows

        obs = Observation(f"cdc-batch-{batch_id}")
        # r6 A/B note: a residue-branch form (python arbiter on a second
        # events.filter(~is_ok_fast) scan, joined back as a broadcast
        # bad-list) was measured SLOWER (3.3 s vs 2.6 s per 250k-event
        # plan): the duplicated utf8-validity scan over the full batch costs
        # more than this masked column's mostly-NULL Arrow channel. The
        # masked single-scan form stands.
        q_err = check_quarantine_udf()(masked)
        ev = events.withColumn("__q_err", q_err).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.max("seq").alias("max_seq"),
            F.min("seq").alias("min_seq"),
            F.count("__q_err").alias("nq"),
        )
        valid = ev.filter(F.col("__q_err").isNull()).drop("__q_err")
        n_buckets = st.num_buckets
        # Winner selection + bucket placement: a dedup exchange on url
        # (map-side combined, so a hot url ships at most one row per map
        # task), then a second exchange placing winners by bucket.
        # Extraction runs AFTER placement, so shuffled bytes are raw html,
        # never html+text.
        winners = self._resolve_latest(valid)
        placed = winners.withColumn(
            "__b", self.table._bucket_expr("url", n_buckets)
        ).repartition(max(n_buckets, 1), F.col("__b")).drop("__b")
        if self.extract_versions:
            extracted = with_extracted_text_versioned(
                placed, self.extract_versions, epoch_col="epoch", html_col="html", out_text="text"
            )
        else:
            extracted = with_extracted_text(placed, html_col="html", out_text="text")
        # the cheap pre-check and the full extraction share one validity
        # rule (tested byte-identical) — extraction runs exactly once, on
        # dedup winners only; the filter below is defensive.
        ok = extracted.filter(F.col("__extract_err").isNull()).withColumn(
            "deleted", F.col("op") == "delete"
        )
        # dynamic projection to the CURRENT table schema by field id (see
        # arrow_apply.resolve_sources): a column missing from the payload
        # under every name of its field id is NULL
        batch = ok.select(
            *[
                (F.col(src) if src is not None else F.lit(None))
                .cast(_parse_lake_type(f.type))
                .alias(f.name)
                for f, src in resolve_sources(st, ok.columns)
            ]
        )

        def _merged_obs() -> dict:
            try:
                got = obs.get
            except Exception:
                # An ALL-EMPTY micro-batch (a gap in the epoch sequence) can
                # collapse to a plan whose CollectMetrics node never runs
                # (AQE empty-relation propagation), leaving the observation
                # unfilled — Observation.get then raises a JVM assertion.
                # Confirm the batch really was empty before degrading to
                # zero counts; anything else must surface.
                if not ev.isEmpty():
                    raise
                return {"n": 0, "max_seq": None, "min_seq": None, "nq": 0}
            return {
                "n": int(got["n"] or 0),
                "max_seq": got["max_seq"],
                "min_seq": got["min_seq"],
                "nq": int(got["nq"] or 0),
            }

        # the summary runs after the sink's write job (metrics available),
        # before the atomic commit — watermark + counts land IN the commit,
        # exactly like the reference's single-transaction CAS.
        res = self.table.append_delta(
            batch, epoch=batch_id, summary_fn=lambda: _commit_counts(_merged_obs(), t0),
            pre_partitioned=True,
            extra_summary={"key_norm": self._key_norm, "exec": "spark"},
        )
        got = _merged_obs()
        if got["nq"] and self.quarantine_mode == "batch":
            self._capture_quarantine(events, batch_id)
        return res, got

    def _capture_quarantine(self, events: DataFrame, batch_id: int) -> int:
        """Recompute only the dead-letter slice: a JVM-side prefilter (strict
        superset of the python ratio rule — invalid UTF-8 OR a literal '�' in
        the decoded text, since the ratio rule counts U+FFFD in the DECODED
        string) prunes ~99.8% of rows before any byte crosses to Python."""
        candidates = events.filter((F.length("html") > 0) & ~_is_ok_fast_expr())
        q = candidates.withColumn(
            "__q_err", check_quarantine_udf()(F.col("html"))
        ).filter(F.col("__q_err").isNotNull())
        return self._write_quarantine(q, batch_id)

    def _write_quarantine(self, df: DataFrame, batch_id: int, suffix: str = "") -> int:
        """Dead-letter store (T8): raw payload preserved; per-batch directory
        overwrite makes replays idempotent (analog of the atomic quarantine
        upsert, `parser/dex/repo/repository.go:302-330`)."""
        out = df.select(
            "seq", "epoch", "op", "url", "warc_ts", "html", "lang",
            F.col("__q_err").alias("err"), F.lit(batch_id).alias("batch_id"),
        )
        path = os.path.join(self.quarantine_dir, f"batch={batch_id}{suffix}")
        out.write.mode("overwrite").parquet(path)
        import pyarrow.parquet as pq
        import glob

        return sum(
            pq.ParquetFile(p).metadata.num_rows for p in glob.glob(os.path.join(path, "*.parquet"))
        )

    def _write_quarantine_arrow(self, bad: pa.Table, errs: pa.Array, batch_id: int) -> None:
        """Driver-side twin of :meth:`_write_quarantine`: the same columns
        (``batch_id`` typed as Spark types the literal), the same directory,
        replaced whole — written to a hidden sibling, then renamed in."""
        id_type = pa.int32() if -(2**31) <= batch_id < 2**31 else pa.int64()
        out = (
            bad.select(["seq", "epoch", "op", "url", "warc_ts", "html", "lang"])
            .append_column("err", errs)
            .append_column("batch_id", pa.array([batch_id] * bad.num_rows, id_type))
        )
        path = os.path.join(self.quarantine_dir, f"batch={batch_id}")
        tmp = os.path.join(self.quarantine_dir, f".tmp-{uuid.uuid4().hex}")
        os.makedirs(tmp)
        pq.write_table(out, os.path.join(tmp, f"part-{uuid.uuid4().hex}.parquet"))
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)

    def lineage(self) -> list[dict]:
        """T12 lineage: one row per retained ``delta`` commit that carries
        ``n_events`` (an applied batch); ``max_seq`` is its watermark."""
        keep = ("min_seq", "n_events", "n_quarantined", "affected_buckets", "exec", "ts", "apply_ms")
        out = [
            {"batch_id": s["epoch"], "table_version": h["version"], "max_seq": s.get("watermark"),
             **{k: s.get(k) for k in keep}}
            for h in self.table.history()
            if h["operation"] == "delta" and (s := h["summary"]).get("n_events") is not None
        ]
        return sorted(out, key=lambda d: d["batch_id"])

    # ------------------------------------------------------------ batch replay

    def _ensure_evolutions(self, upto_epoch: int, evolutions: list[tuple[int, str, dict]]) -> None:
        """Apply pending schema evolutions whose boundary epoch ≤ upto_epoch.

        Idempotent by inspection (a restarted replay re-walks the list but
        skips already-applied steps), so evolution lands at the SAME epoch
        boundary on every replay — SURVEY §7.4.5 / the reference's
        migration-at-version semantics."""
        st = self.table.state()
        names = st.schema.names()
        types = {f.name: f.type for f in st.schema.fields}
        for at_epoch, change, spec in sorted(evolutions):
            if at_epoch > upto_epoch:
                break
            applied = (
                (change == "add_column" and spec["name"] in names)
                or (change == "rename_column" and spec["new"] in names)
                or (change == "widen_type" and types.get(spec["name"]) == spec["to"])
            )
            if not applied:
                self.table.evolve_schema(change, spec)
                st = self.table.state()
                names = st.schema.names()
                types = {f.name: f.type for f in st.schema.fields}

    def run_replay(
        self,
        events: DataFrame,
        epochs_per_batch: int = 10,
        schema_evolutions: list[tuple[int, str, dict]] | None = None,
    ) -> list[dict]:
        """Replay the whole event log in deterministic micro-batches.

        Batch boundaries: ``batch_id = epoch // epochs_per_batch`` — a pure
        function of config, so a restarted replay forms the SAME batches and
        the epoch-idempotency check skips completed ones (T2 exactly-once).

        ``schema_evolutions``: [(at_epoch, change, spec), ...] applied at the
        same epoch boundary on every (re)play (FIXTURES.md §4).
        """
        bounds = events.agg(F.min("epoch"), F.max("epoch")).collect()[0]
        if bounds[0] is None:
            return []
        first_b, last_b = int(bounds[0]) // epochs_per_batch, int(bounds[1]) // epochs_per_batch
        done = self.table.committed_epochs()
        # Deferred dead-letter capture overlaps the batch applies (guide
        # §2.6: independent jobs back-fill each other's idle tails): the
        # pass re-scans the whole log — measured 9 s of a 46 s 1M-event
        # replay when run serially after the last batch — and reads/writes
        # nothing the applies touch, so its wall time hides behind the
        # batches' AQE barriers and write tails. Joined (and its errors
        # re-raised) before this method returns, so callers still observe
        # completed capture.
        q_thread = None
        q_err: list[BaseException] = []
        if self.quarantine_mode == "deferred":
            import threading

            def _capture() -> None:
                try:
                    self._capture_quarantine(events, _DEFERRED_BATCH_ID)
                except BaseException as e:  # noqa: BLE001 — re-raised on join
                    q_err.append(e)

            q_thread = threading.Thread(target=_capture, daemon=True)
            q_thread.start()
        all_stats = []
        for b in range(first_b, last_b + 1):
            lo, hi = b * epochs_per_batch, (b + 1) * epochs_per_batch
            if schema_evolutions:
                self._ensure_evolutions(lo, schema_evolutions)
            chunk = events.filter((F.col("epoch") >= lo) & (F.col("epoch") < hi))
            if b in done:
                # already committed upstream — but a crash may have hit
                # BETWEEN that commit and the downstream post_commit tasks,
                # so the healing chance must fire here too (the downstream
                # advances are idempotent on the batch id and skip cheaply)
                stats = {"batch_id": b, "skipped": True}
                if self.post_commit is not None:
                    self.post_commit(chunk, b, stats)
                all_stats.append(stats)
                continue
            all_stats.append(self.apply_batch(chunk, b))
        if q_thread is not None:
            # single amortized dead-letter pass over the WHOLE log, written
            # to one fixed directory — unconditional (a crash-restarted
            # replay reports skipped batches with no n_quarantined, so
            # gating on stats would silently drop the capture) and
            # idempotent across re-replays over a grown log (same dir is
            # overwritten; no per-last-batch duplicate directories).
            # Started before the first batch; completed here.
            q_thread.join()
            if q_err:
                raise q_err[0]
        return all_stats

    # ------------------------------------------------------------ reads

    def _resolve_latest(self, df: DataFrame) -> DataFrame:
        """Latest-wins per url on (warc_ts, seq): the batch dedup, the audit
        oracle's dedup and the MOR read resolution over base+delta rows."""
        return latest_wins_agg(df, key="url", order_cols=["warc_ts", "seq"])

    def pages(self) -> DataFrame:
        """Active (non-tombstoned) pages: canonical input_hint columns plus
        ``seq`` and any schema-evolved columns. The read resolves
        latest-wins across base and un-compacted delta rows first."""
        df = self._resolve_latest(self.table.read())
        out_cols = [c for c in df.columns if c != "deleted"]
        return df.filter(~F.col("deleted")).select(*out_cols)

    def pages_for(
        self,
        urls: DataFrame,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Live pages for a bounded url set — the keyed-subset read.

        Two scale properties :meth:`pages` cannot give a point lookup:
        only the buckets containing the requested urls are read
        (file-level skipping via the commit log's bucket metadata), and
        the MOR latest-wins resolution runs AFTER the key filter, over the
        matched rows only — never over the corpus. The bucket set is one
        tiny driver-side collect (≤ num_buckets ints), the same bookkeeping
        MERGE derives from its staged batch — or zero jobs when the caller
        already knows it (``buckets=``, e.g. from a batch commit's file
        metadata). ``include_deleted=True`` keeps resolved tombstone rows
        (with their ``deleted`` flag) instead of filtering to live pages —
        the shape derived-state resyncs need to distinguish "deleted" from
        "never existed" without a second anti-join pass."""
        st = self.table.state()
        if buckets is None:
            buckets = [
                r["b"]
                for r in urls.select(
                    self.table._bucket_expr("url", st.num_buckets).alias("b")
                ).distinct().collect()
            ]
        df = self.table.read_buckets(buckets).join(F.broadcast(urls.select("url")), "url")
        df = self._resolve_latest(df)
        if include_deleted:
            return df
        out_cols = [c for c in df.columns if c != "deleted"]
        return df.filter(~F.col("deleted")).select(*out_cols)

    def vacuum_tombstones(self, older_than_ts: str, epoch: int | None = None) -> dict:
        """Retention pass (S12 analog): physically drop tombstones older than
        the given timestamp — safe once no replay can deliver events older
        than it. ``ts_upper`` lets the table prune non-overlapping files
        from footer stats before any scan.

        Live deltas are compacted first: while a key still has several
        rows, dropping its tombstone would let an older live row (a base
        row, or a late older update in another file) win the read-time
        resolution again and bring the deleted url back. After compaction
        each key has one row, so dropping its tombstone removes the key."""
        if self.table.state().delta_files:
            self.table.compact(self._resolve_latest)
        return self.table.delete_where(
            f"deleted AND warc_ts < timestamp'{older_than_ts}'",
            epoch=epoch,
            ts_upper=older_than_ts,
        )

    # ------------------------------------------------------------ audit (T9)

    def expected_state(self, events: DataFrame) -> DataFrame:
        """The replay oracle: latest non-deleted version per url, extracted.
        (A6/T9 analog — `parser/dex/repo/repository.go:136-168`.)

        Same logical shape as apply: masked single-scan validity check
        (valid-utf8 rows never cross the Arrow channel), then the
        single-phase latest-wins dedup — ONE scan of the log, map-side
        combine before the exchange."""
        events = self._normalize(events)
        is_ok_fast = _is_ok_fast_expr()
        masked = F.when(~is_ok_fast, F.col("html"))
        valid = events.withColumn("__q_err", check_quarantine_udf()(masked)).filter(
            F.col("__q_err").isNull()
        ).drop("__q_err")
        winners = self._resolve_latest(valid)
        alive = winners.filter(F.col("op") != "delete")
        if self.extract_versions:
            extracted = with_extracted_text_versioned(alive, self.extract_versions)
        else:
            extracted = with_extracted_text(alive)
        # the page columns under their current names, by field id, as the
        # apply projects them
        st = self.table.state()
        src = {f.name: s for f, s in resolve_sources(st, extracted.columns)}
        return extracted.filter(F.col("__extract_err").isNull()).select(
            *[n if src[n] == n else F.col(src[n]).alias(n) for n in _page_names(st).values()]
        )

    def audit(self, events: DataFrame) -> DataFrame:
        """Replay-equivalence audit: full recompute vs current table state;
        empty result ⇔ equivalent (the T9 validation-worker analog). Compares
        ``warc_ts``, ``text`` and ``lang`` under their current names."""
        names = _page_names(self.table.state())
        return full_outer_diff(
            self.expected_state(events),
            self.pages(),
            keys=["url"],
            compare_cols=[names[c] for c in ("warc_ts", "text", "lang")],
        )

    def audit_log_prefix(self, events: DataFrame) -> DataFrame | None:
        """Audit against only the APPLIED slice of the log — the
        steady-state T9 cadence check: the log directory may already hold
        events the stream has not delivered yet, and those must not read as
        divergence (`parser/dex/dex.go:381-518` runs its validation off a
        cursor the same way).

        The applied prefix is the table state's [min_seq, watermark], folded
        from the commit log. The file source can deliver files out of seq
        order during catch-up, so the applied set may have HOLES that range
        cannot see; gap detection is therefore exact-by-counting: the audit
        only runs when the log's event count over that range equals the
        state's ``applied_events`` — one pushdown-friendly count. Returns
        None when holes exist or the state cannot tell (a skipped audit)."""
        st = self.table.state()
        if st.applied_events is None or st.min_seq is None:
            return None
        span = events.filter(F.col("seq").between(st.min_seq, st.watermark))
        if span.count() != st.applied_events:
            return None
        return self.audit(span)

    def maintenance(
        self,
        tombstone_horizon_sec: int | None = None,
        vacuum_retain_versions: int | None = None,
    ) -> dict:
        """Self-maintenance pass for long-running streams: physically drop
        tombstones older than (table max warc_ts − horizon) — the cutoff
        comes from file-footer ts stats, zero data read — then vacuum
        de-referenced parquet. Both steps are idempotent and bounded, so a
        cadence can call this after any batch. The tombstone pass compacts
        live deltas before it drops anything (see :meth:`vacuum_tombstones`),
        so a deleted url cannot come back."""
        import datetime as _dt

        out: dict = {}
        if tombstone_horizon_sec is not None:
            st = self.table.state()
            max_ts = max(
                (e["max_ts"] for e in st.files.values() if e.get("max_ts") is not None),
                default=None,
            )
            if max_ts is not None:
                cutoff = _dt.datetime.fromtimestamp(
                    max_ts / 1e6, _dt.timezone.utc
                ) - _dt.timedelta(seconds=tombstone_horizon_sec)
                out["tombstones"] = self.vacuum_tombstones(
                    cutoff.strftime("%Y-%m-%d %H:%M:%S")
                )
        if vacuum_retain_versions is not None:
            out["vacuum"] = self.table.vacuum(retain_versions=vacuum_retain_versions)
        return out

    # ------------------------------------------------------------ dead letter

    def read_quarantine(self) -> DataFrame:
        from pyspark.errors import AnalysisException

        try:
            df = self.spark.read.parquet(os.path.join(self.quarantine_dir, "batch=*"))
            # one row per quarantined event: a crash between a retry pass's
            # compaction write and its old-dir cleanup briefly leaves two
            # copies of each still-failing row (identical except possibly a
            # refreshed err from the newer pass); collapse on the unique
            # event id so duplicates never survive into reads, counts, or
            # the next compaction
            return df.dropDuplicates(["seq"])
        except AnalysisException as e:
            cond = (e.getCondition() or "") if hasattr(e, "getCondition") else ""
            if cond not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                raise  # corrupt store must surface, not read as empty
            return self.spark.createDataFrame(
                [], "seq long, epoch long, op string, url string, warc_ts timestamp, "
                "html binary, lang string, err string, batch_id long"
            )

    def retry_quarantine(self, batch_id: int, extractor=None) -> dict:
        """Re-attempt quarantined events (T8 retry,
        `parser/dex/dex.go:282-320`): rows whose extraction now succeeds are
        appended as a delta, the same way a batch is applied (the read-time
        latest-wins resolution on (warc_ts, seq) keeps newer table rows
        winning), AND leave the quarantine store; still-failing rows stay,
        with their error refreshed. Pass a custom ``extractor`` (df→df with
        text/__extract_err) to model a fixed parser version.

        Resolution lifecycle (r4 "What's wrong" #1): after the append the
        store is compacted to exactly the still-failing rows, so repeated
        retry passes never re-extract resolved rows and the store cannot
        grow without bound. The extractor runs exactly ONCE per pass — its
        output is staged to parquet, and both the append and the compaction
        read the staging, not the extractor plan. Crash-safety: the append
        commit is the atomic point; a crash before compaction leaves
        resolved rows in the store, and the NEXT retry pass converges —
        its append (a later retry epoch) re-adds rows whose seqs are
        already in the table, which the read-time resolution collapses,
        and its compaction clears them.
        (Reference analog: the atomic quarantine upsert+delete,
        `parser/dex/repo/repository.go:302-330`.)"""
        import glob as _glob
        import shutil as _shutil

        q = self.read_quarantine()
        if q.isEmpty():
            return {"retried": 0, "resolved": 0}
        from pyspark.sql import Observation

        extractor = extractor or (lambda df: with_extracted_text(df))
        # retried/resolved counts ride the staging write job as Observation
        # metrics — extraction executes exactly ONCE per pass
        obs = Observation(f"retry-{batch_id}")
        ex = extractor(q).observe(
            obs,
            F.count(F.lit(1)).alias("retried"),
            F.count(F.when(F.col("__extract_err").isNull(), 1)).alias("resolved"),
        )
        staging = os.path.join(self.work_dir, "quarantine_retry_staging")
        ex.write.mode("overwrite").parquet(staging)
        staged = self.spark.read.parquet(staging)

        ok = staged.filter(F.col("__extract_err").isNull())
        winners = latest_wins_agg(ok, key="url", order_cols=["warc_ts", "seq"])
        batch = winners.select(
            "url", "warc_ts", "html", "text", "lang", "seq",
            (F.col("op") == "delete").alias("deleted"),
        )
        # retry epochs live in their own id namespace (below _RETRY_EPOCH_BASE)
        # so they can never collide with a replay/streaming batch epoch; a
        # genuinely replayed retry is still skipped idempotently, but that is
        # surfaced to the caller instead of silently reporting success.
        retry_epoch = _RETRY_EPOCH_BASE - int(batch_id)
        res = self.table.append_delta(
            batch, epoch=retry_epoch, extra_summary={"key_norm": self._key_norm},
        )
        # compaction runs on the skipped (already-committed) path too — that
        # is exactly the crash-heal case where the previous pass committed
        # its append but died before clearing resolved rows
        still = staged.filter(F.col("__extract_err").isNotNull()).select(
            "seq", "epoch", "op", "url", "warc_ts", "html", "lang",
            F.col("__extract_err").alias("err"), "batch_id",
        )
        keep_dir = os.path.join(self.quarantine_dir, f"batch=retry_{int(batch_id)}")
        old_dirs = [
            d for d in _glob.glob(os.path.join(self.quarantine_dir, "batch=*"))
            if os.path.abspath(d) != os.path.abspath(keep_dir)
        ]
        # write-new-then-delete-old: re-runnable at any crash point
        still.write.mode("overwrite").parquet(keep_dir)
        for d in old_dirs:
            _shutil.rmtree(d, ignore_errors=True)
        _shutil.rmtree(staging, ignore_errors=True)
        got = obs.get
        out = {
            "retried": int(got["retried"] or 0),
            "resolved": int(got["resolved"] or 0),
            "append": res,
        }
        if res.get("skipped"):
            out["skipped"] = True
        return out

"""The CDC apply pipeline — the Spark re-expression of the reference's
parser replay loop (`/root/reference/parser/dex/dex.go:87-267`).

Per micro-batch (= a contiguous range of event epochs; the reference's
per-height loop, batched):

1. **quarantine check** every event (``check_quarantine_bytes``) — the
   AmbiguousEventError path (`pkg/eventlog/util.go:58-114`); flagged events
   land in the dead-letter store WITH raw payload ("raw events are never
   lost", `parser/dex/dex.go:186`) before the batch commits, and their
   effects are held back until a retry extracts them;
2. **latest-wins dedup** per url over valid events (W5) on (warc_ts, seq),
   first within each slice of the input (a map-side combine: a hot url
   leaves a slice as one row), then over whole buckets;
3. **extraction** (html→text) on dedup *winners only* — winners ≪ events,
   so the Python-side work is minimized;
4. **delta append** to the lakehouse pages table in ONE atomic commit
   carrying the batch id + high-watermark — the analog of the reference's
   single-Postgres-transaction insert + synced-height CAS
   (`parser/dex/repo/repository.go:98-122`); reads resolve latest-wins
   across base and delta rows, and once ``compact_every`` delta commits
   have accumulated a compaction folds the deltas into base;
5. **lineage** is that commit's summary (batch id, seq range, counts, apply
   time) — T12 observability; the commit log is the pipeline's only record.

Steps 1–3 and the data-file write are one Arrow core (``_Apply``) in two
stages, run over whole Arrow tables (*Accelerating Python UDFs in
Vectorized Query Execution*, CIDR 2022). Where it runs is chosen per batch
by its size (*Evolution of a Compiling Query Engine*, VLDB 2021: pick the
execution mode by the size of the work): a batch whose optimizer size
estimate is below ``_SMALL_BATCH_BYTES`` runs both stages on the driver
over one ``toArrow()`` table, with no Spark job past the read of the batch;
a larger one runs them in ``mapInArrow`` tasks with one exchange by bucket
between. Each commit records which mode ran as ``exec``. Either way the
batch's dead-letter rows are renamed into ``quarantine/batch=N`` before its
commit, so a crash after the commit cannot lose them.

Exactly-once: batch boundaries are a pure function of configuration
(``epochs_per_batch``), the commit is atomic, and the batch id is recorded in
the commit summary — replaying after any crash skips already-committed
batches and reconverges to the identical table state (tested in
tests/test_replay.py).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, from_arrow_type

from cosmwasm_etl_spark.functions.extraction import (
    check_quarantine_bytes,
    check_quarantine_udf,
    extract_text_bytes,
    extractor_for_epoch,
    with_extracted_text,
    with_extracted_text_versioned,
)
from cosmwasm_etl_spark.lakehouse import LakeTable
from cosmwasm_etl_spark.lakehouse.arrow_apply import latest_wins, project, resolve_sources
from cosmwasm_etl_spark.lakehouse.schema import TableSchema
from cosmwasm_etl_spark.lakehouse.schema import _parse_type as _parse_lake_type
from cosmwasm_etl_spark.lakehouse.table import write_bucket_files
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

# the namespace offset for quarantine-retry commit epochs, outside the
# replay/streaming batch-id space (which is >= 0), so a retry can never
# collide with — and silently skip on — a regular batch epoch
_RETRY_EPOCH_BASE = -1000

# A batch whose optimizer size estimate is below this many bytes applies on
# the driver; larger ones run in Spark tasks (see CdcPipeline.apply_batch).
# It sits below the measured crossover, where a batch of 8 KB pages applies
# equally fast either way (see CHANGES.md).
_SMALL_BATCH_BYTES = 4 << 20

# the event columns a dead-letter row keeps, raw payload included
_QUARANTINE_COLUMNS = ["seq", "epoch", "op", "url", "warc_ts", "html", "lang"]

# UTF-8 encoding of U+FFFD. The literal-replacement-char fast-path check is
# done at the BYTE level (contains on the binary column): for valid UTF-8 it
# is exactly equivalent to searching the decoded string, and it never
# evaluates F.decode on a column that can hold invalid bytes — decode raises
# MALFORMED_CHARACTER_CODING there, and guard&decode conjunctions are only
# safe under an evaluation order Catalyst does not guarantee.
_UFFFD_BYTES = b"\xef\xbf\xbd"

_ORDER = ["warc_ts", "seq"]
# a slice's event count and seq range, carried from the first apply stage to
# the driver on one extra row (see _Apply)
_COUNTS = pa.struct([("n", pa.int64()), ("min_seq", pa.int64()), ("max_seq", pa.int64())])
# the add-entry of a data file written by the second apply stage
_ADD = pa.struct(
    [
        ("path", pa.string()), ("bucket", pa.int32()), ("rows", pa.int64()),
        ("bytes", pa.int64()), ("schema_version", pa.int32()), ("min_key", pa.string()),
        ("max_key", pa.string()), ("min_ts", pa.int64()), ("max_ts", pa.int64()),
    ]
)


def _is_ok_fast_expr():
    """JVM fast-path validity: empty, or valid UTF-8 without a literal
    U+FFFD. Rows failing this are the masked residue the python byte-level
    arbiter (check_quarantine_udf) re-examines."""
    return (F.length("html") == F.lit(0)) | (
        F.is_valid_utf8(F.col("html")) & ~F.contains(F.col("html"), F.lit(_UFFFD_BYTES))
    )


def _quarantine_errs(tbl: pa.Table) -> pa.Array:
    """``check_quarantine_bytes`` of each row's html (null = valid)."""
    return pa.array([check_quarantine_bytes(h) for h in tbl.column("html").to_pylist()], pa.string())


def _sum_counts(counts: pa.ChunkedArray) -> dict:
    """The non-null slice counts of a ``_COUNTS`` column as one; no slices
    count zero events."""
    c = counts.drop_null().combine_chunks()
    n, lo, hi = (c.field(k) for k in ("n", "min_seq", "max_seq"))
    return {"n": pc.sum(n).as_py() or 0, "min_seq": pc.min(lo).as_py(), "max_seq": pc.max(hi).as_py()}


def _write_dead_letters(
    bad: pa.Table, errs: pa.Array, out_dir: str, part: int, batch_id: int
) -> None:
    """Dead-letter store (T8): one slice's quarantined events, raw payload
    included, plus ``err`` and ``batch_id`` (typed as Spark types the
    literal), as part ``part`` of ``out_dir``. A rerun of the slice (a
    task retry) replaces its part; the part is written under a hidden name
    and renamed, so it is never half written."""
    id_type = pa.int32() if -(2**31) <= batch_id < 2**31 else pa.int64()
    out = (
        bad.select(_QUARANTINE_COLUMNS)
        .append_column("err", errs)
        .append_column("batch_id", pa.array([batch_id] * bad.num_rows, id_type))
    )
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, f".part-{part:05d}-{uuid.uuid4().hex}")
    pq.write_table(out, tmp)
    os.replace(tmp, os.path.join(out_dir, f"part-{part:05d}.parquet"))


@dataclass(frozen=True)
class _Apply:
    """One batch's apply rules as two stages over Arrow tables. The driver
    mode runs both in-process over the whole batch; the Spark mode runs
    :meth:`reduce` in one task per input partition and :meth:`write` in one
    task per partition of a single exchange by bucket. It carries the
    table's schemas, key, ts and bucket count — it stands in for the table
    state in ``project`` and ``write_bucket_files`` — but never the file
    list, so it is small to ship to every task."""

    batch_id: int
    dead_dir: str  # the batch's hidden dead-letter directory
    table_path: str
    stage_rel: str  # the batch's data directory, relative to table_path
    schema: TableSchema
    schemas: dict
    key_col: str
    ts_col: str
    num_buckets: int
    extract_versions: tuple | None

    def reduce(self, tbl: pa.Table, part: int) -> pa.Table:
        """Stage 1 over one slice of the batch's events:
        ``check_quarantine_bytes`` on every event, the rejected ones written
        as dead-letter part ``part``, and latest-wins on (warc_ts, seq) over
        the rest — a map-side combine, so a hot url leaves the slice as one
        row. The slice's counts ride on one extra row whose ``__counts`` is
        set and whose other columns are null."""
        errs = _quarantine_errs(tbl)
        bad = pc.is_valid(errs)
        if pc.any(bad).as_py():
            _write_dead_letters(
                tbl.filter(bad), errs.filter(bad), self.dead_dir, part, self.batch_id
            )
        seq = tbl.column("seq")
        counts = {"n": tbl.num_rows, "min_seq": pc.min(seq).as_py(), "max_seq": pc.max(seq).as_py()}
        winners = latest_wins(tbl.filter(pc.invert(bad)), "url", _ORDER)
        row = pa.table({"__counts": pa.array([counts], _COUNTS)})
        return pa.concat_tables([winners, row], promote_options="default")

    def write(self, tbl: pa.Table) -> pa.Table:
        """Stage 2 over the reduced rows of whole buckets: the final
        latest-wins, the extractor (version-dispatched by epoch) on winners
        only, projection to the current schema by field id and one pyarrow
        file per bucket. Returns one ``add`` row per file and one ``counts``
        row for the slices it received."""
        has = pc.is_valid(tbl.column("__counts"))
        winners = latest_wins(tbl.filter(pc.invert(has)).drop_columns(["__counts"]), "url", _ORDER)
        htmls = winners.column("html").to_pylist()
        if self.extract_versions:
            epochs = winners.column("epoch").to_pylist()
            extracted = [
                extractor_for_epoch(self.extract_versions, int(e))(h) for h, e in zip(htmls, epochs)
            ]
        else:
            extracted = [extract_text_bytes(h) for h in htmls]
        # the quarantine rule and extraction share one validity rule, so
        # this filter is defensive
        ok = winners.filter(pa.array([err is None for _t, err in extracted], pa.bool_()))
        texts = pa.array([t for t, err in extracted if err is None], pa.string())
        if "text" in ok.column_names:
            ok = ok.drop_columns(["text"])
        ok = ok.append_column("text", texts)
        ok = ok.append_column("deleted", pc.equal(ok.column("op"), "delete"))
        adds = write_bucket_files(project(ok, self), self.table_path, self.stage_rel, self)
        counts = _sum_counts(tbl.column("__counts"))
        return pa.table(
            {
                "add": pa.array(adds + [None], _ADD),
                "counts": pa.array([None] * len(adds) + [counts], _COUNTS),
            }
        )


def _in_task(stage):
    """A ``mapInArrow`` function running ``stage(table, partition id)`` over
    its task's whole partition; an empty partition yields nothing."""

    def run(batches):
        batches = list(batches)
        if batches:
            out = stage(pa.Table.from_batches(batches), TaskContext.get().partitionId())
            yield from out.to_batches()

    return run


def project_df(df: DataFrame, st) -> DataFrame:
    """``df`` projected to the current table schema by field id, the Spark
    twin of ``arrow_apply.project``: each column from its resolved source
    (cast to the field's type), or NULL."""
    return df.select(
        *[
            (F.col(src) if src is not None else F.lit(None))
            .cast(_parse_lake_type(f.type))
            .alias(f.name)
            for f, src in resolve_sources(st, df.columns)
        ]
    )


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
        # Every batch writes its dead-letter rows before its commit, as the
        # reference writes a height's quarantined events in the same
        # transaction as its data (`parser/dex/dex.go:186`). The keyword
        # survives only for callers that still pass it; both values mean
        # this.
        if quarantine_mode not in ("batch", "deferred"):
            raise ValueError(f"unknown quarantine_mode: {quarantine_mode}")
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
        # event entry point (apply, expected-state/audit and dead-letter
        # rows all see the same keys — replay-equivalence still holds);
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

        The two stages of the apply core (:class:`_Apply`) run on the driver
        over one ``toArrow()`` table when the batch is small, and in
        ``mapInArrow`` tasks with one exchange by bucket between them when
        it is large (see :meth:`_exec_mode`: a property of the input, never
        an option). Then the driver renames the batch's dead-letter
        directory to ``quarantine/batch=N`` and commits the written files in
        one delta commit, so a crash after the commit cannot lose a dead
        letter. The counts come from the stages' own output and the
        dead-letter files, so a retried task cannot count twice. Both modes
        give the same rows, dead letters and commit summary; the summary
        and the returned stats record the mode as ``exec``."""
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
        exec_mode = self._exec_mode(events)
        core = _Apply(
            batch_id=batch_id,
            dead_dir=os.path.join(self.quarantine_dir, f".tmp-batch={batch_id}"),
            table_path=self.table.path,
            stage_rel=os.path.join("data", uuid.uuid4().hex),
            schema=st.schema,
            schemas=st.schemas,
            key_col=st.key_col,
            ts_col=st.ts_col,
            num_buckets=st.num_buckets,
            extract_versions=tuple(self.extract_versions) if self.extract_versions else None,
        )
        # a crash before an earlier attempt's rename left this directory
        shutil.rmtree(core.dead_dir, ignore_errors=True)
        try:
            if exec_mode == "driver":
                result = core.write(core.reduce(events.toArrow(), 0))
            else:
                result = self._task_plan(events, core).toArrow()
        except BaseException:
            shutil.rmtree(core.dead_dir, ignore_errors=True)
            raise
        got = _sum_counts(result.column("counts"))
        got["nq"] = self._publish_dead_letters(core.dead_dir, batch_id)
        res = self.table.append_delta(
            result.column("add").drop_null().to_pylist(),
            epoch=batch_id,
            summary_fn=lambda: {
                "watermark": got["max_seq"],
                "n_events": got["n"],
                "n_quarantined": got["nq"],
                "min_seq": got["min_seq"],
                "apply_ms": int((time.time() - t0) * 1000),
            },
            extra_summary={"key_norm": self._key_norm, "exec": exec_mode},
        )

        # an unknown count (a checkpoint older than the count) compacts now
        if st.delta_commits is None or st.delta_commits + 1 >= self.compact_every:
            self.table.compact(self._resolve_latest)

        stats = {
            "batch_id": batch_id,
            "skipped": bool(res.get("skipped")),
            "exec": exec_mode,
            "n_events": got["n"],
            "n_quarantined": got["nq"],
            "min_seq": got["min_seq"],
            "max_seq": got["max_seq"],
            "table_version": res.get("version"),
            "duration_ms": int((time.time() - t0) * 1000),
        }
        if self.post_commit is not None:
            self.post_commit(events, batch_id, stats)
        return stats

    def _exec_mode(self, events: DataFrame) -> str:
        """``"driver"`` when the batch's optimizer size estimate is below
        ``_SMALL_BATCH_BYTES``, otherwise ``"spark"``. Reading the estimate
        plans the query but runs no job (file sources size themselves from
        file metadata). A plan without an estimate reports
        ``Long.MaxValue`` — e.g. a ``createDataFrame`` of Python rows — and
        a filter without CBO reports its whole input, so both run in
        Spark."""
        try:
            size = int(str(events._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        except Exception:  # noqa: BLE001 — no estimate means the Spark mode
            return "spark"
        return "driver" if size < _SMALL_BATCH_BYTES else "spark"

    def _task_plan(self, events: DataFrame, core: _Apply) -> DataFrame:
        """The Spark mode's plan: ``core.reduce`` per input partition, one
        exchange on the table's bucket expression into
        ``spark.sql.shuffle.partitions`` partitions, ``core.write`` per
        partition. Its rows are the tasks' add-entries and counts."""
        reduced = events.mapInArrow(
            _in_task(core.reduce),
            T.StructType(
                [T.StructField(f.name, f.dataType, True) for f in events.schema.fields]
                + [T.StructField("__counts", from_arrow_type(_COUNTS))]
            ),
        )
        placed = reduced.repartition(self.table._bucket_expr("url", core.num_buckets))
        result = pa.schema([("add", _ADD), ("counts", _COUNTS)])
        return placed.mapInArrow(
            _in_task(lambda tbl, _part: core.write(tbl)), from_arrow_schema(result)
        )

    def _publish_dead_letters(self, dead_dir: str, batch_id: int) -> int:
        """Rename the batch's hidden dead-letter directory to
        ``quarantine/batch=N``, replacing that directory whole, so a replay
        rewrites it idempotently (analog of the atomic quarantine upsert,
        `parser/dex/repo/repository.go:302-330`). Returns its row count,
        read from the part footers."""
        parts = glob.glob(os.path.join(dead_dir, "part-*.parquet"))
        if not parts:
            shutil.rmtree(dead_dir, ignore_errors=True)
            return 0
        n = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        path = os.path.join(self.quarantine_dir, f"batch={batch_id}")
        shutil.rmtree(path, ignore_errors=True)
        os.rename(dead_dir, path)
        return n

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
        for at_epoch, change, spec in sorted(evolutions, key=lambda e: e[:2]):
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
        all_stats = []
        for b in range(first_b, last_b + 1):
            lo, hi = b * epochs_per_batch, (b + 1) * epochs_per_batch
            if schema_evolutions:
                self._ensure_evolutions(lo, schema_evolutions)
            chunk = events.filter((F.col("epoch") >= lo) & (F.col("epoch") < hi))
            # apply_batch skips a committed batch and still runs post_commit
            all_stats.append(self.apply_batch(chunk, b))
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
        winners = latest_wins_agg(ok, key="url", order_cols=_ORDER)
        batch = project_df(
            winners.withColumn("deleted", F.col("op") == "delete"), self.table.state()
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
            *_QUARANTINE_COLUMNS, F.col("__extract_err").alias("err"), "batch_id"
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

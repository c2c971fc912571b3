"""Structured Streaming runner: tail the event-log directory and apply each
micro-batch through the CDC pipeline.

The reference's collector/parser poll loops
(`/root/reference/collector/collector.go:48-95`,
`/root/reference/parser/dex/dex.go:141`) become ``readStream`` +
``foreachBatch``:

- ``Trigger.AvailableNow`` = bounded replay (the parser's catch-up mode);
  continuous triggers = steady-state tailing (the 5s poll loop,
  `cmd/parser/dex/main.go:54`);
- ``maxFilesPerTrigger`` = backpressure (T11 pacing analog);
- the streaming checkpoint tracks *source* offsets (files consumed), while
  the lakehouse commit's epoch id + watermark make the *sink* idempotent —
  together they give end-to-end exactly-once even if a batch is re-delivered
  after a crash (the streaming batch id is deterministic per checkpoint,
  exactly like the reference's synced-height CAS).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cosmwasm_etl_spark.plans.pipeline import CdcPipeline
from cosmwasm_etl_spark.sources.eventlog import read_event_log, read_event_log_stream

# Streaming commit-id stride: every micro-batch commits its slices under
# ids batch_id*stride+i — deterministic per checkpoint, so a crash-
# redelivered batch skips already-committed slices and re-applies the rest
# (same exactly-once contract as the unsliced path). The stride is applied
# UNCONDITIONALLY, with or without schema evolutions configured: if the id
# scheme depended on a start-time flag, restarting an existing checkpoint
# with the flag toggled would remap epoch ids onto ones already committed
# under the other mapping, and apply_batch's "epoch already committed"
# idempotency check would silently drop (or fail to skip) a batch. The
# scheme is additionally recorded in the checkpoint dir and verified on
# every start (see _ensure_id_scheme).
EVOLUTION_ID_STRIDE = 16


def _ensure_id_scheme(checkpoint_dir: str) -> None:
    """Record the commit-id scheme next to the streaming checkpoint and
    refuse to start when it differs from what the checkpoint was created
    with — a mismatched mapping is silent data loss, not a recoverable
    condition."""
    import json

    marker = os.path.join(checkpoint_dir, "commit_id_scheme.json")
    scheme = {"stride": EVOLUTION_ID_STRIDE}
    if os.path.exists(marker):
        with open(marker) as f:
            found = json.load(f)
        if found != scheme:
            raise ValueError(
                f"checkpoint {checkpoint_dir} was created with commit-id "
                f"scheme {found}, current engine uses {scheme}; refusing to "
                "start — epoch ids would collide with already-committed ones"
            )
        return
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump(scheme, f)
    os.replace(tmp, marker)


def _make_handler(
    spark: SparkSession,
    pipeline: CdcPipeline,
    stats: list[dict],
    events_path: str,
    schema_evolutions: list[tuple[int, str, dict]] | None = None,
    audit_every: int | None = None,
    maintain_every: int | None = None,
    tombstone_horizon_sec: int | None = None,
    vacuum_retain_versions: int | None = None,
):
    """The shared ``foreachBatch`` handler: evolution-aware apply plus the
    T9 periodic-validation and self-maintenance cadences.

    - ``schema_evolutions``: the replay path's [(at_epoch, change, spec)]
      list, honored MID-STREAM — evolutions due at or before the batch's
      min epoch are applied first (idempotent-by-inspection walk), and a
      batch that spans a boundary is split so pre-boundary events commit
      under the old schema and post-boundary ones under the new, exactly
      like an epoch-aligned replay.
    - ``audit_every``: every K applied batches, recompute expected state
      over the log prefix up to the committed watermark and count divergent
      rows (the reference's async validation worker,
      `parser/dex/dex.go:381-518`) — surfaced as an ``audit`` stats entry.
    - ``maintain_every``: every K applied batches run tombstone retention +
      physical vacuum so a long-running stream is self-maintaining.
    """
    n_applied = [0]

    def handle(batch_df, batch_id: int) -> None:
        bid = int(batch_id)
        if schema_evolutions:
            # epochs actually present (bounded by epochs-per-trigger — one
            # tiny job): slices are built only over NON-EMPTY epoch ranges,
            # both because an empty apply is wasted work and because an
            # all-empty slice breaks Observation-metric collection
            present = sorted(
                int(r[0]) for r in batch_df.select("epoch").distinct().collect()
            )
            if not present:
                sub_stats = [pipeline.apply_batch(batch_df, bid * EVOLUTION_ID_STRIDE)]
            else:
                lo, hi = present[0], present[-1]
                cuts = sorted({e for e, _, _ in schema_evolutions if lo < e <= hi})
                edges = [lo, *cuts, hi + 1]
                slices = [
                    (s, t) for s, t in zip(edges, edges[1:])
                    if any(s <= p < t for p in present)
                ]
                if len(slices) > EVOLUTION_ID_STRIDE:
                    raise ValueError(
                        f"batch {bid} spans {len(slices)} evolution slices "
                        f"(max {EVOLUTION_ID_STRIDE}); lower the trigger size"
                    )
                sub_stats = []
                for i, (s, t) in enumerate(slices):
                    pipeline._ensure_evolutions(s, schema_evolutions)
                    sl = batch_df.filter((F.col("epoch") >= s) & (F.col("epoch") < t))
                    sub_stats.append(pipeline.apply_batch(sl, bid * EVOLUTION_ID_STRIDE + i))
        else:
            # same strided namespace as the evolution path — see
            # EVOLUTION_ID_STRIDE for why this must not depend on the flag
            sub_stats = [pipeline.apply_batch(batch_df, bid * EVOLUTION_ID_STRIDE)]
        stats.extend(sub_stats)
        if not any(not s.get("skipped") for s in sub_stats):
            return
        n_applied[0] += 1
        if audit_every and n_applied[0] % audit_every == 0:
            diff = pipeline.audit_log_prefix(read_event_log(spark, events_path))
            if diff is None:  # applied coverage has holes (out-of-order
                # catch-up delivery): no contiguous prefix to audit against
                stats.append({"audit": True, "at_batch": bid, "skipped_gaps": True})
            else:
                stats.append(
                    {"audit": True, "at_batch": bid, "divergent_rows": diff.count()}
                )
        if maintain_every and n_applied[0] % maintain_every == 0:
            res = pipeline.maintenance(
                tombstone_horizon_sec=tombstone_horizon_sec,
                vacuum_retain_versions=vacuum_retain_versions,
            )
            stats.append({"maintenance": True, "at_batch": bid, **res})

    return handle


def run_stream_available_now(
    spark: SparkSession,
    pipeline: CdcPipeline,
    events_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
    schema_evolutions: list[tuple[int, str, dict]] | None = None,
    audit_every: int | None = None,
    maintain_every: int | None = None,
    tombstone_horizon_sec: int | None = None,
    vacuum_retain_versions: int | None = None,
) -> list[dict]:
    """Consume everything currently in the event log via Structured
    Streaming micro-batches, applying each through the pipeline. Returns
    per-batch stats. Restart-safe: source offsets come from the checkpoint,
    sink idempotency from the lakehouse epoch commits. Supports mid-stream
    schema evolution and the audit/maintenance cadences (see
    :func:`_make_handler`). Raises ``TimeoutError``, after stopping the
    query, when the log is not drained within ``timeout_sec``; batches
    applied before the stop stay committed and a restart skips them."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    _ensure_id_scheme(checkpoint_dir)
    stats: list[dict] = []
    handle = _make_handler(
        spark, pipeline, stats, events_path,
        schema_evolutions=schema_evolutions,
        audit_every=audit_every,
        maintain_every=maintain_every,
        tombstone_horizon_sec=tombstone_horizon_sec,
        vacuum_retain_versions=vacuum_retain_versions,
    )

    stream = read_event_log_stream(
        spark, events_path, max_files_per_trigger,
        include_evolved_columns=bool(schema_evolutions),
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination refuses a non-positive timeout: that budget is spent
    finished = q.awaitTermination(timeout_sec) if timeout_sec > 0 else not q.isActive
    if not finished:
        # a timed-out catch-up must not read as complete, nor leave the
        # query running behind the caller
        q.stop()
        q.awaitTermination(30)
        raise TimeoutError(f"available-now stream did not drain the log within {timeout_sec}s")
    return stats


class StallError(RuntimeError):
    """No-new-data stall (T7): the analog of the reference's ErrNoNewHeight
    (`parser/dex/dex.go:367-377`) — raised when ``stall_after`` consecutive
    triggers deliver zero events, so an operator/alert layer can distinguish
    'source is idle or broken' from 'pipeline is slow'. Carries the
    per-batch ``stats`` applied before the stall (work done up to the
    stall is committed and must not be lost to the caller)."""

    def __init__(self, msg: str, stats: list[dict] | None = None):
        super().__init__(msg)
        self.stats = stats or []


def run_stream_processing_time(
    spark: SparkSession,
    pipeline: CdcPipeline,
    events_path: str,
    checkpoint_dir: str,
    trigger_seconds: float = 5.0,
    max_files_per_trigger: int | None = None,
    stall_after: int = 3,
    stop_after_batches: int | None = None,
    timeout_sec: int = 600,
    schema_evolutions: list[tuple[int, str, dict]] | None = None,
    audit_every: int | None = None,
    maintain_every: int | None = None,
    tombstone_horizon_sec: int | None = None,
    vacuum_retain_versions: int | None = None,
) -> list[dict]:
    """Steady-state tailing (T7): processing-time trigger — the reference's
    5 s poll loop (`cmd/parser/dex/main.go:54`) — with no-new-data stall
    detection. Each non-empty micro-batch goes through the full exactly-once
    apply; ``stall_after`` consecutive empty triggers raise :class:`StallError`
    after stopping the query (the reference returns ErrNoNewHeight and lets
    the runner decide). ``stop_after_batches`` bounds the run for tests.
    Supports mid-stream schema evolution and the audit/maintenance cadences
    (see :func:`_make_handler`)."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    _ensure_id_scheme(checkpoint_dir)
    stats: list[dict] = []
    handle = _make_handler(
        spark, pipeline, stats, events_path,
        schema_evolutions=schema_evolutions,
        audit_every=audit_every,
        maintain_every=maintain_every,
        tombstone_horizon_sec=tombstone_horizon_sec,
        vacuum_retain_versions=vacuum_retain_versions,
    )

    stream = read_event_log_stream(
        spark, events_path, max_files_per_trigger,
        include_evolved_columns=bool(schema_evolutions),
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
    import time

    # Stall detection watches StreamingQueryProgress, NOT foreachBatch:
    # an idle file source emits progress events with numInputRows == 0 but
    # never invokes foreachBatch, so batch-side counting cannot see a stall.
    deadline = time.time() + timeout_sec
    empty_streak = 0
    seen_ts: set[str] = set()
    try:
        while time.time() < deadline:
            lp = q.lastProgress
            if lp and lp.get("timestamp") not in seen_ts:
                seen_ts.add(lp["timestamp"])
                if int(lp.get("numInputRows", 0) or 0) == 0:
                    empty_streak += 1
                else:
                    empty_streak = 0
            if empty_streak >= stall_after:
                raise StallError(
                    f"no new events for {stall_after} consecutive triggers "
                    f"({stall_after * trigger_seconds:.0f}s)",
                    stats,
                )
            n_batches = sum(1 for s in stats if "batch_id" in s)
            if stop_after_batches is not None and n_batches >= stop_after_batches:
                break
            if not q.isActive:
                break
            time.sleep(min(trigger_seconds / 4, 1.0))
    finally:
        q.stop()
        q.awaitTermination(30)
    return stats

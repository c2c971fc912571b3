#!/usr/bin/env python
"""spark-submit entry point for the CDC ingest engine.

Cluster submit (the north rule's deployment shape)::

    python scripts/make_pyfiles.py
    spark-submit --master <cluster> \
        --py-files dist/cosmwasm_etl_spark.zip \
        jobs/cdc_ingest.py \
        --events /data/change_events \
        --table  /lake/pages \
        --work   /lake/pages_work \
        --mode   stream           # or: replay | available-now

Modes:

- ``replay``        bounded batch replay of the whole log (deterministic
                    epoch-derived batch ids; exactly-once on restart);
- ``available-now`` Structured Streaming catch-up over everything
                    currently in the log, then exit (checkpointed);
- ``stream``        steady-state tailing with a processing-time trigger
                    and no-new-data stall detection (exit code 3 on stall
                    so the scheduler can distinguish idle-source from
                    failure — the reference's ErrNoNewHeight contract).

Every knob maps to a documented pipeline/table parameter; the job prints
one JSON line of summary stats at the end (per-batch lineage is each batch's
commit summary in the table's log; ``LakeTable.history``).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--events", required=True, help="event-log directory")
    ap.add_argument("--events-format", choices=["parquet", "jsonl", "warc"], default="parquet",
                    help="jsonl: interchange dumps (replay mode only; bad lines "
                         "are dead-lettered to <work>/jsonl_dead_letter); "
                         "warc: Common-Crawl-style web archives (replay mode "
                         "only; every response record becomes an insert; see "
                         "--warc-on-error for malformed-record handling)")
    ap.add_argument("--warc-on-error", choices=["skip", "fail"], default="skip",
                    help="skip: drop malformed WARC records and write a count "
                         "to <work>/warc_skip_summary.json; fail: abort on the "
                         "first malformed record")
    ap.add_argument("--table", required=True, help="lakehouse pages table path")
    ap.add_argument("--work", required=True, help="work dir (dead-letter quarantine)")
    ap.add_argument("--mode", choices=["replay", "available-now", "stream"], default="replay")
    ap.add_argument("--epochs-per-batch", type=int, default=10)
    ap.add_argument("--num-buckets", type=int, default=4096,
                    help="table buckets; size so one bucket fits an executor")
    ap.add_argument("--compact-every", type=int, default=8)
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--trigger-seconds", type=float, default=5.0)
    ap.add_argument("--stall-after", type=int, default=3)
    ap.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint dir (default: <work>/checkpoint)")
    ap.add_argument("--timeout-sec", type=int, default=24 * 3600)
    ap.add_argument("--schema-evolutions", default=None,
                    help="JSON file: [[at_epoch, change, spec], ...] applied at the "
                         "same epoch boundary in EVERY mode (replay batches align on "
                         "epochs; streaming splits a boundary-spanning micro-batch); "
                         "change in {add_column, rename_column, widen_type}")
    ap.add_argument("--audit-every", type=int, default=None,
                    help="streaming T9 cadence: every K applied batches recompute "
                         "expected state over the applied log prefix and report "
                         "divergent rows")
    ap.add_argument("--maintain-every", type=int, default=None,
                    help="streaming self-maintenance cadence: every K applied "
                         "batches run tombstone retention + physical vacuum")
    ap.add_argument("--tombstone-horizon-sec", type=int, default=48 * 3600,
                    help="drop tombstones older than (max warc_ts - horizon) "
                         "during maintenance")
    ap.add_argument("--vacuum-retain-versions", type=int, default=8,
                    help="table versions kept replayable by maintenance vacuum")
    ap.add_argument("--canonicalize-keys", action="store_true",
                    help="key the CDC stream by the CANONICAL url (case/port/"
                         "tracking-param/fragment-normalized); recorded in the "
                         "commit log — reopening with the other mode is refused")
    args = ap.parse_args()
    if args.events_format in ("jsonl", "warc") and args.mode != "replay":
        ap.error(
            f"--events-format {args.events_format} supports --mode replay only "
            "(streaming tails parquet logs)"
        )

    evolutions = None
    if args.schema_evolutions:
        with open(args.schema_evolutions) as f:
            evolutions = [(int(e[0]), str(e[1]), dict(e[2])) for e in json.load(f)]

    from cosmwasm_etl_spark.lakehouse import LakeTable
    from cosmwasm_etl_spark.plans.pipeline import CdcPipeline, create_pages_table
    from cosmwasm_etl_spark.session import build_session
    from cosmwasm_etl_spark.streaming.runner import (
        StallError,
        run_stream_available_now,
        run_stream_processing_time,
    )

    spark = build_session(app_name=f"cdc-ingest-{args.mode}")
    if LakeTable(spark, args.table).log.exists():
        table = LakeTable.load(spark, args.table)
    else:
        table = create_pages_table(spark, args.table, num_buckets=args.num_buckets)
    pipe = CdcPipeline(
        spark,
        table,
        args.work,
        compact_every=args.compact_every,
        canonicalize_keys=args.canonicalize_keys,
    )
    ckpt = args.checkpoint or f"{args.work}/checkpoint"

    stalled = False
    if args.mode == "replay":
        if args.events_format == "jsonl":
            from cosmwasm_etl_spark.sources.eventlog import read_event_log_jsonl

            events, bad = read_event_log_jsonl(spark, args.events, on_malformed="quarantine")
            # dead-letter the unparsable lines beside the pipeline's own
            # quarantine store so operators find both in one place
            bad.write.mode("overwrite").parquet(f"{args.work}/jsonl_dead_letter")
        elif args.events_format == "warc":
            from cosmwasm_etl_spark.sources.warc import read_warc

            warc_skips = spark.sparkContext.accumulator(0)
            events = read_warc(
                spark, args.events, on_error=args.warc_on_error,
                skip_counter=warc_skips,
            )
        else:
            events = spark.read.parquet(args.events)
        stats = pipe.run_replay(
            events, epochs_per_batch=args.epochs_per_batch,
            schema_evolutions=evolutions,
        )
        if args.events_format == "warc" and args.warc_on_error == "skip":
            # surface dropped malformed records beside the quarantine store
            # (r5 ADVICE #3) — silent loss is not an operator experience
            import json as _json

            with open(f"{args.work}/warc_skip_summary.json", "w") as fh:
                _json.dump({"skipped_records": warc_skips.value}, fh)
            if warc_skips.value:
                print(f"WARC: skipped {warc_skips.value} malformed records "
                      f"(see {args.work}/warc_skip_summary.json)")
    elif args.mode == "available-now":
        stats = run_stream_available_now(
            spark, pipe, args.events, ckpt,
            max_files_per_trigger=args.max_files_per_trigger,
            timeout_sec=args.timeout_sec,
            schema_evolutions=evolutions,
            audit_every=args.audit_every,
            maintain_every=args.maintain_every,
            tombstone_horizon_sec=args.tombstone_horizon_sec,
            vacuum_retain_versions=args.vacuum_retain_versions,
        )
    else:
        try:
            stats = run_stream_processing_time(
                spark, pipe, args.events, ckpt,
                trigger_seconds=args.trigger_seconds,
                max_files_per_trigger=args.max_files_per_trigger,
                stall_after=args.stall_after,
                timeout_sec=args.timeout_sec,
                schema_evolutions=evolutions,
                audit_every=args.audit_every,
                maintain_every=args.maintain_every,
                tombstone_horizon_sec=args.tombstone_horizon_sec,
                vacuum_retain_versions=args.vacuum_retain_versions,
            )
        except StallError as e:
            print(json.dumps({"stalled": str(e)}), file=sys.stderr)
            stats = e.stats  # work applied before the stall is committed
            stalled = True

    applied = [s for s in stats if "batch_id" in s and not s.get("skipped")]
    audits = [s for s in stats if s.get("audit")]
    print(json.dumps({
        "mode": args.mode,
        "batches": sum(1 for s in stats if "batch_id" in s),
        "audits": len(audits),
        "audit_divergent_rows": sum(s.get("divergent_rows") or 0 for s in audits),
        "maintenance_passes": sum(1 for s in stats if s.get("maintenance")),
        "applied": len(applied),
        "skipped": sum(1 for s in stats if "batch_id" in s) - len(applied),
        "n_events": sum(s.get("n_events") or 0 for s in applied),
        "n_quarantined": sum(s.get("n_quarantined") or 0 for s in applied),
        "watermark": table.watermark(),
        "table_version": table.state().version,
    }))
    spark.stop()
    return 3 if stalled else 0


if __name__ == "__main__":
    sys.exit(main())

"""Print a lakehouse table's health summary as JSON.

Metadata-only (commit log + checkpoint; no parquet opened, no Spark job
runs — the session is needed only for schema plumbing), so it is safe to
point at a live table during ingest:

    python scripts/table_health.py /lake/pages [--version N] [--buckets]

``--buckets`` includes the full per-bucket map (files/rows/bytes each);
without it only the aggregate counters and the skew ratio print. Among
them: the applied prefix of the change log that the pipeline's prefix
audit covers (``min_seq``, ``watermark``, ``applied_events``) and the
compaction debt (``delta``: files, rows and commits since compaction).
Reference analog: the aggregator's health/count queries
(`aggregator/repo/repository.go`).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("table", help="lakehouse table path")
    ap.add_argument("--version", type=int, default=None, help="time-travel version")
    ap.add_argument("--buckets", action="store_true", help="include the per-bucket map")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from cosmwasm_etl_spark.lakehouse import LakeTable
    from cosmwasm_etl_spark.session import build_session

    spark = build_session("table_health", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        d = LakeTable.load(spark, args.table).describe(version=args.version)
        if not args.buckets:
            d.pop("buckets")
        print(json.dumps(d, indent=1))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

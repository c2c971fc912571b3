#!/usr/bin/env python3
"""Turn a span file written by ``run.py --trace 1`` into the per-layer table.

    python3 perfbench/report.py .perfbench_out/trace-replay_bulk-seed1.json

Prints each layer's self time and counts, every ratio with its base, and
the per-batch breakdown of the ``pipeline.apply_batch`` span, whose parts
must add up to the span.
"""

from __future__ import annotations

import json
import os
import sys

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import (  # noqa: E402
    LAYER_UNITS,
    batch_rows,
    layer_metrics,
    lookup_rows,
    runner_gaps,
)

# parts of one apply_batch span, in the order the per-batch table prints them
PARTS = ("scan", "validity", "dedup", "extract", "write", "compact", "state", "other", "apply_self")

# residual (seconds) under which the parts are taken to add up to the span
TOLERANCE_S = 1e-6


def bases(spans: list[dict], meta: dict) -> dict[str, str]:
    """The numerator and base of every ratio metric, as text."""
    rows = batch_rows(spans)
    looks = lookup_rows(spans)
    events = sum(r["n_events"] for r in rows)
    valid = sum(r["n_events"] - r["n_quarantined"] for r in rows)
    _, n_batches = runner_gaps(spans)
    return {
        "extraction.rows_in": f"{events} events / {len(rows)} batches",
        "extraction.quarantined": f"{sum(r['n_quarantined'] for r in rows)} events / {len(rows)} batches",
        "dedup_window.winners_per_event": f"{sum(r['rows_written'] for r in rows)} rows written / {valid} valid events",
        "table.bytes_written_per_event": f"{sum(r['bytes_written'] for r in rows)} B / {events} events",
        "table.files_per_batch": f"{sum(r['files_written'] for r in rows)} files / {len(rows)} batches",
        "table.lookup_files": f"{sum(x['files_scanned'] for x in looks)} files / {len(looks)} lookups",
        "table.lookup_file_share": f"{sum(x['files_scanned'] for x in looks)} files scanned / "
        f"{sum(x['table_files'] for x in looks)} table files",
        "table.delta_files": f"mean over {len(looks)} lookups",
        "log.state_calls_per_batch": f"{sum(r['state_calls'] for r in rows)} calls / {len(rows)} batches",
        "runner.trigger_gap_ms": f"median over runner calls, per batch ({n_batches} batches)",
        "proc.cpu_util": f"{meta.get('cpu_s', 0):.1f} cpu-s / ({meta.get('cores', 0)} cores x "
        f"{meta.get('wall_s', 0):.1f} s)",
    }


def render(spans: list[dict], meta: dict) -> str:
    rows = batch_rows(spans)
    metrics = layer_metrics(spans, meta)
    base = bases(spans, meta)
    out = [f"per-layer metrics ({meta.get('workload')}, seed {meta.get('seed')}, "
           f"{len(rows)} batches, {len(lookup_rows(spans))} lookups)"]
    for k, unit in LAYER_UNITS.items():
        out.append(f"  {k:<32} {metrics[k]:>12.4f} {unit:<13} {base.get(k, '')}")
    compacts = sum(r["compactions"] for r in rows)
    out.append(f"  {'table.compactions':<32} {compacts:>12d} count         "
               f"{sum(r['compact'] for r in rows):.3f} s compacting inside apply_batch")
    out.append("per batch, ms (apply = " + " + ".join(PARTS) + ")")
    out.append("  " + " ".join(f"{h:>9}" for h in ("batch", "events", *PARTS, "apply", "residual")))
    worst = 0.0
    for r in rows:
        worst = max(worst, abs(r["residual"]))
        cells = [f"{r['apply_no']:>9}", f"{r['n_events']:>9}"]
        cells += [f"{1000 * r[k]:>9.1f}" for k in (*PARTS, "apply")]
        cells.append(f"{1000 * r['residual']:>9.4f}")
        out.append("  " + " ".join(cells))
    verdict = "add up" if worst <= TOLERANCE_S else "DO NOT add up"
    out.append(f"  parts {verdict} to the apply_batch span (largest residual {worst:.2e} s)")
    negative = sum(1 for r in rows for k in PARTS if r[k] < 0)
    if negative:
        out.append(f"  note: {negative} negative part(s) — a prefix run took longer than the "
                   "same work inside apply_batch; read those layers as noise")
    return "\n".join(out)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        doc = json.load(f)
    print(render(doc["spans"], doc["meta"]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

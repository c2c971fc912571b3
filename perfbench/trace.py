"""Spans recorded around calls into the engine, and the per-layer metrics
derived from them.

A span is a dict ``{id, name, start, end, parent, run, attrs}`` with times
in seconds from ``time.perf_counter``. Spans stay in memory and are written
to one JSON file when the run ends.

The engine's driver side is sequential: a streaming ``foreachBatch``
callback runs on a py4j thread while the main thread waits for it, and the
replay's dead-letter thread calls no wrapped method. So one stack shared by
all threads gives each span its caller as parent.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

from perfbench.stats import median


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._paused = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span around the block; yields its mutable attrs."""
        if self._paused:
            yield attrs
            return
        with self._lock:
            sid = next(self._ids)
            parent = self._stack[-1] if self._stack else None
            self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            with self._lock:
                self._stack.remove(sid)
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "run": self.run_id, "attrs": attrs}
                )

    @contextlib.contextmanager
    def paused(self):
        """Calls made inside the block record no spans (bookkeeping reads)."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (a method or module function) by a wrapper
        recording a span named ``name``. ``on_result(attrs, args, result)``
        may attach counts to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as attrs:
                result = orig(*args, **kwargs)
                if on_result is not None and not tracer._paused:
                    with tracer.paused():
                        on_result(attrs, args, result)
                return result

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until :meth:`restore`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


# --------------------------------------------------------------- analysis


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def children_of(spans: list[dict]) -> dict[int | None, list[dict]]:
    out: dict[int | None, list[dict]] = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def self_time(span: dict, children: list[dict]) -> float:
    """The span's duration minus the part of it its children cover (the
    union of their intervals, clipped to the span)."""
    ivs = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return duration(span) - covered


def descendants(span: dict, kids: dict) -> list[dict]:
    out, todo = [], list(kids.get(span["id"], []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


# prefix spans, in plan order: each adds one stage to the previous prefix
PREFIXES = ("prefix.scan", "prefix.validity", "prefix.dedup", "prefix.extract")


def batch_rows(spans: list[dict]) -> list[dict]:
    """Per applied batch: the layer self times that make up its
    ``pipeline.apply_batch`` span (seconds).

    scan/validity/dedup/extract come from the cumulative plan prefixes run
    right after the batch: each layer's time is the difference between
    consecutive prefixes. ``write`` is the ``append_delta`` span minus the
    full prefix. ``state`` and ``other`` are the remaining direct children
    of the apply span and ``apply_self`` is what no child covers, so the
    parts add up to the apply span by construction; ``residual`` shows the
    rounding left over."""
    kids = children_of(spans)
    prefix: dict[int, dict[str, float]] = {}
    for s in spans:
        if s["name"] in PREFIXES:
            prefix.setdefault(s["attrs"]["apply_no"], {})[s["name"]] = duration(s)
    rows = []
    for a in spans:
        if a["name"] != "pipeline.apply_batch" or a["attrs"].get("skipped"):
            continue
        p = prefix.get(a["attrs"].get("apply_no"))
        direct = kids.get(a["id"], [])
        deltas = [c for c in direct if c["name"] == "table.append_delta"]
        compacts = [c for c in direct if c["name"] == "table.compact"]
        states = [c for c in direct if c["name"] == "table.state"]
        others = [c for c in direct if c not in deltas and c not in compacts and c not in states]
        d_total = sum(duration(c) for c in deltas)
        nested = descendants(a, kids)
        row = {
            "apply_no": a["attrs"].get("apply_no"),
            "apply": duration(a),
            "apply_self": self_time(a, direct),
            "compact": sum(duration(c) for c in compacts),
            "state": sum(duration(c) for c in states),
            "other": sum(duration(c) for c in others),
            "state_calls": sum(1 for c in nested if c["name"] == "table.state"),
            "state_all": sum(duration(c) for c in nested if c["name"] == "table.state"),
            "commits": [duration(c) for c in nested if c["name"] == "log.write_commit"],
            "n_events": a["attrs"].get("n_events", 0),
            "n_quarantined": a["attrs"].get("n_quarantined", 0),
            "rows_written": sum(c["attrs"].get("rows", 0) for c in deltas),
            "bytes_written": sum(c["attrs"].get("bytes", 0) for c in deltas),
            "files_written": sum(c["attrs"].get("files", 0) for c in deltas),
            "compactions": len(compacts),
        }
        if p is not None and len(p) == len(PREFIXES):
            cum = [p[n] for n in PREFIXES]
            row["scan"] = cum[0]
            row["validity"] = cum[1] - cum[0]
            row["dedup"] = cum[2] - cum[1]
            row["extract"] = cum[3] - cum[2]
            row["write"] = d_total - cum[3]
        else:
            row["scan"] = row["validity"] = row["dedup"] = row["extract"] = 0.0
            row["write"] = d_total
        parts = ("scan", "validity", "dedup", "extract", "write", "compact", "state", "other", "apply_self")
        row["residual"] = row["apply"] - sum(row[k] for k in parts)
        rows.append(row)
    return rows


def runner_gaps(spans: list[dict]) -> tuple[list[float], int]:
    """Per batch: time the driving loop (replay loop or streaming trigger)
    spent outside its children, i.e. outside apply, prefix and log spans.
    Returns (gap seconds per batch for each runner span, batches)."""
    kids = children_of(spans)
    gaps, batches = [], 0
    for r in spans:
        if not r["name"].startswith("runner."):
            continue
        direct = kids.get(r["id"], [])
        n = sum(1 for c in direct if c["name"] == "pipeline.apply_batch")
        if n:
            gaps.append(self_time(r, direct) / n)
            batches += n
    return gaps, batches


def lookup_rows(spans: list[dict]) -> list[dict]:
    kids = children_of(spans)
    rows = []
    for c in spans:
        if c["name"] != "client.lookup":
            continue
        plan = [k for k in kids.get(c["id"], []) if k["name"] == "table.lookup"]
        rows.append({
            "total": duration(c),
            "plan": sum(duration(k) for k in plan),
            "exec": self_time(c, plan),
            **{k: c["attrs"].get(k, 0) for k in ("files_scanned", "table_files", "delta_files")},
        })
    return rows


def _safe_median(xs: list[float]) -> float:
    return median(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


# name -> unit, for every per-layer metric the traced run prints
LAYER_UNITS = {
    "eventlog.scan_s": "s",
    "extraction.validity_s": "s",
    "extraction.extract_s": "s",
    "extraction.rows_in": "events/batch",
    "extraction.quarantined": "events/batch",
    "dedup_window.dedup_s": "s",
    "dedup_window.winners_per_event": "ratio",
    "table.write_s": "s",
    "table.bytes_written_per_event": "B/event",
    "table.files_per_batch": "count",
    "table.lookup_files": "count",
    "table.lookup_file_share": "ratio",
    "table.delta_files": "count",
    "table.lookup_plan_ms": "ms",
    "table.lookup_exec_ms": "ms",
    "log.state_calls_per_batch": "count",
    "log.state_ms_per_batch": "ms",
    "log.commit_ms": "ms",
    "pipeline.apply_ms": "ms",
    "pipeline.apply_self_ms": "ms",
    "runner.trigger_gap_ms": "ms",
    "runner.batches": "count",
    "proc.cpu_util": "ratio",
}


def layer_metrics(spans: list[dict], meta: dict) -> dict[str, float]:
    """Every per-layer metric of one traced run. Times are medians over
    batches (or lookups); counts are means per batch unless named as
    totals."""
    rows = batch_rows(spans)
    looks = lookup_rows(spans)
    gaps, n_batches = runner_gaps(spans)
    commits = [c for r in rows for c in r["commits"]]
    events = sum(r["n_events"] for r in rows)
    valid = sum(r["n_events"] - r["n_quarantined"] for r in rows)
    nb = len(rows)
    return {
        "eventlog.scan_s": _safe_median([r["scan"] for r in rows]),
        "extraction.validity_s": _safe_median([r["validity"] for r in rows]),
        "extraction.extract_s": _safe_median([r["extract"] for r in rows]),
        "extraction.rows_in": _ratio(events, nb),
        "extraction.quarantined": _ratio(sum(r["n_quarantined"] for r in rows), nb),
        "dedup_window.dedup_s": _safe_median([r["dedup"] for r in rows]),
        "dedup_window.winners_per_event": _ratio(sum(r["rows_written"] for r in rows), valid),
        "table.write_s": _safe_median([r["write"] for r in rows]),
        "table.bytes_written_per_event": _ratio(sum(r["bytes_written"] for r in rows), events),
        "table.files_per_batch": _ratio(sum(r["files_written"] for r in rows), nb),
        "table.lookup_files": _ratio(sum(x["files_scanned"] for x in looks), len(looks)),
        "table.lookup_file_share": _ratio(
            sum(x["files_scanned"] for x in looks), sum(x["table_files"] for x in looks)
        ),
        "table.delta_files": _ratio(sum(x["delta_files"] for x in looks), len(looks)),
        "table.lookup_plan_ms": 1000 * _safe_median([x["plan"] for x in looks]),
        "table.lookup_exec_ms": 1000 * _safe_median([x["exec"] for x in looks]),
        "log.state_calls_per_batch": _ratio(sum(r["state_calls"] for r in rows), nb),
        "log.state_ms_per_batch": 1000 * _ratio(sum(r["state_all"] for r in rows), nb),
        "log.commit_ms": 1000 * _safe_median(commits),
        "pipeline.apply_ms": 1000 * _safe_median([r["apply"] for r in rows]),
        "pipeline.apply_self_ms": 1000 * _safe_median([r["apply_self"] for r in rows]),
        "runner.trigger_gap_ms": 1000 * _safe_median(gaps),
        "runner.batches": float(n_batches),
        "proc.cpu_util": _ratio(meta.get("cpu_s", 0.0), meta.get("cores", 0) * meta.get("wall_s", 0.0)),
    }

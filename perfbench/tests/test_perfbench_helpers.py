"""Tests of the benchmark's own helpers; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pytest

from perfbench import procstat
from perfbench.stats import Ops, percentile, samples_beyond, supported_percentile
from perfbench.trace import PREFIXES, Tracer, batch_rows, runner_gaps, self_time

# ------------------------------------------------------------ percentile rule


@pytest.mark.parametrize(
    "n,expected",
    [(5, None), (19, None), (20, 50), (37, 50), (38, 75), (40, 75), (50, 80), (91, 80), (92, 90), (200, 95)],
)
def test_supported_percentile_needs_ten_samples_beyond(n, expected):
    assert supported_percentile(n) == expected


def test_supported_percentile_counts_distinct_samples_beyond_the_value():
    rng = random.Random(7)
    for n in range(1, 260):
        xs = rng.sample(range(10_000), n)
        p = supported_percentile(n)
        if p is None:
            assert sum(x > percentile(xs, 50) for x in xs) < 10
            continue
        value = percentile(xs, p)
        assert sum(x > value for x in xs) == samples_beyond(n, p) >= 10


def test_percentile_matches_inclusive_quantiles():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q[0])
    assert percentile(xs, 50) == pytest.approx(statistics.median(xs))
    assert percentile(xs, 75) == pytest.approx(q[2])
    assert percentile([2.0], 90) == 2.0
    with pytest.raises(ValueError):
        percentile([], 50)


# ------------------------------------------------------------ error accounting


def test_ops_error_rate_counts_failures_against_attempts():
    ops = Ops()
    assert ops.error_rate == 0.0 and not ops.correct  # nothing attempted is not a pass
    for ok in (True, True, False, True):
        ops.record(ok, "lookup")
    assert (ops.attempted, ops.failed) == (4, 1)
    assert ops.error_rate == 0.25
    assert not ops.correct
    assert ops.failures == ["lookup"]
    clean = Ops()
    clean.record(True)
    assert clean.correct and clean.error_rate == 0.0


# ------------------------------------------------------------ span self time


def _span(sid, name, start, end, parent=None, **attrs):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent,
            "run": "t", "attrs": attrs}


def test_self_time_subtracts_the_union_of_children():
    parent = _span(1, "p", 0.0, 10.0)
    kids = [
        _span(2, "a", 1.0, 3.0, 1),
        _span(3, "b", 2.0, 4.0, 1),   # overlaps a: counted once
        _span(4, "c", 9.0, 12.0, 1),  # runs past the parent: clipped
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)
    assert self_time(parent, []) == 10.0


def _apply_tree(base, sid, no, prefix, apply_len, delta_len, state_len):
    """A runner span holding the prefix runs and one apply_batch span with
    a state call and an append_delta (itself holding a commit)."""
    t = base
    spans = [_span(sid, "prefix", t, t + prefix[-1], None, apply_no=no)]
    for i, (name, d) in enumerate(zip(PREFIXES, prefix)):
        spans.append(_span(sid + 1 + i, name, t, t + d, sid, apply_no=no))
    t += prefix[-1]
    a = sid + 10
    spans.append(_span(a, "pipeline.apply_batch", t, t + apply_len, None,
                       apply_no=no, n_events=100, n_quarantined=2))
    spans.append(_span(a + 1, "table.state", t + 0.1, t + 0.1 + state_len, a))
    spans.append(_span(a + 2, "table.append_delta", t + 0.5, t + 0.5 + delta_len, a,
                       rows=40, bytes=4000, files=4))
    spans.append(_span(a + 3, "log.write_commit", t + 0.5 + delta_len - 0.2,
                       t + 0.5 + delta_len - 0.1, a + 2))
    return spans


def test_batch_rows_parts_add_up_to_the_apply_span():
    spans = _apply_tree(0.0, 1, 0, prefix=(0.2, 0.5, 0.6, 1.0), apply_len=4.0,
                        delta_len=3.0, state_len=0.05)
    (row,) = batch_rows(spans)
    assert row["scan"] == pytest.approx(0.2)
    assert row["validity"] == pytest.approx(0.3)
    assert row["dedup"] == pytest.approx(0.1)
    assert row["extract"] == pytest.approx(0.4)
    assert row["write"] == pytest.approx(3.0 - 1.0)
    assert row["state"] == pytest.approx(0.05)
    assert row["apply_self"] == pytest.approx(4.0 - 3.0 - 0.05)
    assert abs(row["residual"]) < 1e-9
    assert row["state_calls"] == 1 and len(row["commits"]) == 1
    assert (row["rows_written"], row["bytes_written"], row["files_written"]) == (40, 4000, 4)


def test_runner_gap_excludes_apply_and_prefix_spans():
    inner = _apply_tree(1.0, 10, 0, prefix=(0.1, 0.2, 0.3, 0.4), apply_len=2.0,
                        delta_len=1.0, state_len=0.01)
    runner = _span(1, "runner.available_now", 0.0, 4.0)
    for s in inner:
        if s["parent"] is None:
            s["parent"] = 1
    gaps, batches = runner_gaps([runner, *inner])
    assert batches == 1
    assert gaps == [pytest.approx(4.0 - 0.4 - 2.0)]


def test_tracer_wraps_restores_and_links_parents():
    class Engine:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    tracer = Tracer("t")
    tracer.wrap(Engine, "outer", "outer", on_result=lambda attrs, args, res: attrs.update(res=res))
    tracer.wrap(Engine, "inner", "inner")
    assert Engine().outer() == 2
    with tracer.paused():
        Engine().inner()
    tracer.restore()
    Engine().outer()
    by_name = {s["name"]: s for s in tracer.spans}
    assert set(by_name) == {"outer", "inner"} and len(tracer.spans) == 2
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]
    assert by_name["outer"]["parent"] is None
    assert by_name["outer"]["attrs"] == {"res": 2}
    assert by_name["outer"]["start"] <= by_name["inner"]["start"] <= by_name["inner"]["end"]


# ------------------------------------------------------------ /proc sampler


def _fake_proc(root, procs):
    """procs: pid -> (ppid, utime ticks, stime ticks, resident pages, pss kB
    or None for a kernel without smaps_rollup)."""
    for pid, (ppid, ut, st, rss, pss) in procs.items():
        d = root / str(pid)
        d.mkdir()
        rest = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st)] + ["0"] * 10
        (d / "stat").write_text(f"{pid} (odd) name) " + " ".join(rest) + "\n")
        (d / "statm").write_text(f"1000 {rss} 10 0 0 0 0\n")
        if pss is not None:
            _set_pss(root, pid, pss)
    (root / "self").mkdir()  # non-numeric entries are skipped


def _set_pss(root, pid, kb):
    (root / str(pid) / "smaps_rollup").write_text(
        f"00400000-7fff0000 ---p 00000000 00:00 0 [rollup]\nRss: {2 * kb} kB\nPss: {kb} kB\n"
    )


def test_tree_sums_only_descendants_of_the_root(tmp_path):
    _fake_proc(tmp_path, {
        10: (1, 100, 50, 100, 300),    # root
        11: (10, 10, 0, 200, 40),      # child
        12: (11, 0, 5, 300, None),     # grandchild, RSS only
        20: (1, 999, 999, 5000, 9000),  # unrelated
    })
    assert sorted(procstat.tree_pids(10, str(tmp_path))) == [10, 11, 12]
    page = os.sysconf("SC_PAGE_SIZE")
    assert procstat.tree_mem_by_command(10, str(tmp_path)) == {"odd) name": 340 * 1024 + 300 * page}
    tick = os.sysconf("SC_CLK_TCK")
    assert procstat.tree_cpu_seconds(10, str(tmp_path)) == pytest.approx(165 / tick)


def test_mem_sampler_keeps_the_peak(tmp_path):
    _fake_proc(tmp_path, {10: (1, 0, 0, 1, 100), 11: (10, 0, 0, 1, 100)})
    with procstat.MemSampler(root=10, interval=0.01, proc=str(tmp_path)) as s:
        time.sleep(0.05)
        _set_pss(tmp_path, 11, 900)
        time.sleep(0.05)
        _set_pss(tmp_path, 11, 1)
        time.sleep(0.05)
    assert s.peak_bytes == 1000 * 1024
    assert s.peak_parts == {"odd) name": 1000 * 1024}
    assert s.samples >= 3


def test_sampler_reads_this_process():
    pid = os.getpid()
    assert pid in procstat.tree_pids(pid)
    assert sum(procstat.tree_mem_by_command(pid).values()) > 0
    assert procstat.tree_cpu_seconds(pid) > 0


def test_host_steal_share_from_two_readings(tmp_path):
    (tmp_path / "stat").write_text("cpu  100 0 50 800 10 0 5 35 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n")
    before = procstat.host_cpu_ticks(str(tmp_path))
    (tmp_path / "stat").write_text("cpu  160 0 60 900 10 0 5 65 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n")
    after = procstat.host_cpu_ticks(str(tmp_path))
    assert before == (35, 1000)
    stolen, total = (b - a for a, b in zip(before, after))
    assert stolen / total == pytest.approx(30 / 200)

"""The benchmark's workloads, driven through the engine's public functions.

Each workload runs in its own process and JVM: it sets the engine up,
measures for the given number of seconds, then checks its outputs outside
the timed interval. The engine receives only the generated event log.

Engine configuration follows the shipped ``jobs/cdc_ingest.py`` defaults
(``mor`` sink, ``full`` winner mode, compaction every 8 applied batches,
``deferred`` quarantine for replay and ``batch`` quarantine for streaming);
parallelism and the table's bucket count are sized from the cores this
process may run on.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import os
import random
import shutil
import tempfile
import time

from perfbench.procstat import MemSampler, host_cpu_ticks, tree_cpu_seconds
from perfbench.stats import Ops, median, percentile, supported_percentile
from perfbench.trace import PREFIXES, Tracer, layer_metrics

# Every setting of the benchmark. The command line picks only the workload,
# the seed, the run length and tracing.
ENGINE = {
    "sink_mode": "mor",
    "winner_mode": "full",
    "compact_every": 8,
    "driver_memory": "2g",
    "lookup_keys": 8,
}

WORKLOADS = {
    "replay_bulk": {
        "n_events": 3600,
        "n_urls": 900,
        "body_words": 1000,
        "events_per_epoch": 600,
        "epochs_per_batch": 3,
        "warmup_events": 400,
        "min_replays": 2,
        "probe_lookups": 10,
    },
    "lookup_mixed": {
        "n_prefix": 8000,
        "tail_files": 6,
        "tail_file_events": 1000,
        "n_urls": 2000,
        "body_words": 12,
        "events_per_epoch": 1000,
        "lookups_per_write": 4,
        "min_writes": 3,
    },
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "batch_ms_p50": "ms",
    "lookup_ms_p50": "ms",
    "audit_s": "s",
    "peak_pss_mb": "MB",
}

_ORDER = ["warc_ts", "seq"]
_UFFFD = b"\xef\xbf\xbd"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """State of one workload run: session, tracer, samples and failures."""

    def __init__(self, name: str, seed: int, seconds: int, trace: bool, root: str):
        self.name = name
        self.cfg = WORKLOADS[name]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.cores = cores()
        self.work = os.path.join(root, ".perfbench_work", f"{name}-{os.getpid()}")
        self.tracer = Tracer(f"{name}-seed{seed}")
        self.ops = Ops()
        self.parts: dict[str, float] = {}
        self.spark = None
        self.window: tuple[float, float] | None = None
        self.cpu_s = 0.0
        self.steal = 0.0
        self._ticks = (0, 0)
        self.wall: dict[str, list[float]] = {}

    # ------------------------------------------------------------ session

    def start_session(self) -> None:
        from cosmwasm_etl_spark.session import build_session, warm_python_workers

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # the JVM and the Python workers inherit this environment: workers
        # must import the engine, and every scratch file stays in the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ.pop("SPARK_LOCAL_DIRS", None)
        with self.timed("session_s"):
            self.spark = build_session(
                app_name=f"perfbench-{self.name}",
                master=f"local[{self.cores}]",
                shuffle_partitions=max(self.cores, 8),
                extra_conf={
                    "spark.driver.memory": ENGINE["driver_memory"],
                    # no hsperfdata file under /tmp
                    "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        with self.timed("warm_s"):
            warm_python_workers(self.spark, self.cores)

    @contextlib.contextmanager
    def timed(self, part: str):
        """Add the block's wall time to the set-up part ``part``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.parts[part] = self.parts.get(part, 0.0) + time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def pipeline(self, table_dir: str, quarantine_mode: str):
        from cosmwasm_etl_spark.plans.pipeline import CdcPipeline, create_pages_table

        table = create_pages_table(self.spark, table_dir, num_buckets=max(self.cores, 16))
        pipe = CdcPipeline(
            self.spark,
            table,
            table_dir + "_work",
            sink_mode=ENGINE["sink_mode"],
            compact_every=ENGINE["compact_every"],
            winner_mode=ENGINE["winner_mode"],
            quarantine_mode=quarantine_mode,
        )
        return table, pipe

    def synthetic(self, n_events: int):
        """The seeded event stream; the generator is a pure function of
        (seed, seq), so every evaluation yields the same events."""
        from cosmwasm_etl_spark.sources.eventlog import synthetic_events

        return synthetic_events(
            self.spark,
            n_events,
            n_urls=self.cfg["n_urls"],
            events_per_epoch=self.cfg["events_per_epoch"],
            seed=self.seed,
            body_words=self.cfg["body_words"],
        )

    def generate_log(self, n_events: int):
        """Write the seeded event log into the work dir and open it."""
        from cosmwasm_etl_spark.sources.eventlog import read_event_log, write_event_log

        path = os.path.join(self.work, "events")
        write_event_log(self.synthetic(n_events), path, range_partitions=max(self.cores, 8))
        return read_event_log(self.spark, path)

    # ------------------------------------------------------------ tracing

    def install_hooks(self) -> None:
        """Time every ``apply_batch`` call (both modes); in a traced run also
        record spans around the listed public methods and run the plan
        prefixes after each batch."""
        from cosmwasm_etl_spark.lakehouse.log import TableLog
        from cosmwasm_etl_spark.lakehouse.table import LakeTable
        from cosmwasm_etl_spark.plans.pipeline import CdcPipeline

        tracer, trace, run_prefixes = self.tracer, self.trace, self.run_prefixes
        orig = CdcPipeline.apply_batch
        counter = itertools.count()

        def apply_batch(pipe, events, batch_id):
            no = next(counter)
            with tracer.span("pipeline.apply_batch", apply_no=no, batch_id=batch_id) as attrs:
                stats = orig(pipe, events, batch_id)
            attrs.update(
                n_events=int(stats.get("n_events") or 0),
                n_quarantined=int(stats.get("n_quarantined") or 0),
                skipped=bool(stats.get("skipped")),
            )
            if trace:
                # after the apply, not before: a replay's dead-letter pass
                # overlaps its first batch and would inflate the prefixes.
                # While paused (set-up work) the prefixes still run,
                # unrecorded, so the recorded ones pay no first-use costs.
                run_prefixes(events, no)
            return stats

        tracer.patch(CdcPipeline, "apply_batch", apply_batch)
        if not trace:
            return

        def delta_counts(attrs, args, result):
            table = args[0]
            if result.get("skipped"):
                return
            adds = table.log.read_commit(result["version"]).get("add", [])
            attrs.update(
                rows=sum(e["rows"] for e in adds),
                bytes=sum(e["bytes"] for e in adds),
                files=len(adds),
            )

        tracer.wrap(LakeTable, "append_delta", "table.append_delta", on_result=delta_counts)
        tracer.wrap(LakeTable, "compact", "table.compact")
        tracer.wrap(LakeTable, "state", "table.state")
        tracer.wrap(LakeTable, "lookup", "table.lookup")
        tracer.wrap(TableLog, "write_commit", "log.write_commit")

    def run_prefixes(self, events, apply_no: int) -> None:
        """Force each cumulative prefix of the apply plan with a ``noop``
        write: the event-log slice, + the validity check, + latest-wins,
        + extraction. The validity check is masked to the rows the JVM fast
        path cannot clear, as the apply plan does."""
        from pyspark.sql import functions as F

        from cosmwasm_etl_spark.functions.extraction import (
            check_quarantine_udf,
            with_extracted_text,
        )
        from cosmwasm_etl_spark.operators.dedup_window import latest_wins_agg

        ok_fast = (F.length("html") == F.lit(0)) | (
            F.is_valid_utf8(F.col("html")) & ~F.contains(F.col("html"), F.lit(_UFFFD))
        )
        valid = (
            events.withColumn("__q", check_quarantine_udf()(F.when(~ok_fast, F.col("html"))))
            .filter(F.col("__q").isNull())
            .drop("__q")
        )
        winners = latest_wins_agg(valid, key="url", order_cols=_ORDER)
        plans = (events, valid, winners, with_extracted_text(winners))
        with self.tracer.span("prefix", apply_no=apply_no):
            for name, df in zip(PREFIXES, plans):
                with self.tracer.span(name, apply_no=apply_no):
                    df.write.format("noop").mode("overwrite").save()

    # ------------------------------------------------------------ client ops

    def lookup(self, table, keys: list[str]) -> dict[str, tuple[int, str]]:
        """One point read: lookup → latest-wins → tombstones dropped →
        collect. Returns url -> (seq, text)."""
        from pyspark.sql import functions as F

        from cosmwasm_etl_spark.operators.dedup_window import latest_wins_agg

        with self.tracer.span("client.lookup", keys=len(keys)) as attrs:
            df = table.lookup(keys)
            rows = (
                latest_wins_agg(df, key="url", order_cols=_ORDER)
                .filter(~F.col("deleted"))
                .select("url", "seq", "text")
                .collect()
            )
        if self.trace:
            with self.tracer.paused():
                st = table.state()
                attrs.update(
                    files_scanned=len(df.inputFiles()),
                    table_files=len(st.files),
                    delta_files=len(st.delta_files),
                )
        return {r["url"]: (int(r["seq"]), r["text"]) for r in rows}

    def timed_audit(self, pipe, events) -> float:
        """``audit(events).count()``, which must be 0; returns its seconds.
        Call it after :meth:`check_live_rows`, which pays the first-use
        costs of the same plans."""
        with self.measure("audit"), self.tracer.span("pipeline.audit"):
            n = pipe.audit(events).count()
        self.ops.record(n == 0, f"audit found {n} divergent rows")
        return self.wall["audit"][-1]

    def check_live_rows(self, pipe, events) -> None:
        got, want = pipe.pages().count(), pipe.expected_state(events).count()
        self.ops.record(got == want, f"live rows {got} != expected {want}")

    def check_lookups(self, events, answers: list[tuple[list[str], int, dict]]) -> None:
        """Check each answer against the latest-wins state of the log prefix
        applied when it was read, computed here in plain Python."""
        from pyspark.sql import functions as F

        from cosmwasm_etl_spark.functions.extraction import (
            check_quarantine_bytes,
            extract_text_bytes,
        )

        keys = sorted({k for ks, _, _ in answers for k in ks})
        by_url: dict[str, list] = {}
        for r in (
            events.filter(F.col("url").isin(keys))
            .select("url", "seq", "warc_ts", "op", "html")
            .collect()
        ):
            by_url.setdefault(r["url"], []).append(r)
        for ks, bound, got in answers:
            want = {}
            for k in set(ks):
                valid = [
                    r for r in by_url.get(k, [])
                    if r["seq"] < bound and check_quarantine_bytes(r["html"]) is None
                ]
                if valid:
                    w = max(valid, key=lambda r: (r["warc_ts"], r["seq"]))
                    if w["op"] != "delete":
                        want[k] = (int(w["seq"]), extract_text_bytes(w["html"])[0])
            self.ops.record(got == want, f"lookup {sorted(set(ks))} at seq<{bound}")

    def key_sampler(self, events):
        """Lookup keys drawn in proportion to each url's share of the log's
        events, so hot urls are read most."""
        counts = events.groupBy("url").count().collect()
        urls = [r["url"] for r in counts]
        weights = [r["count"] for r in counts]
        rng = random.Random(self.seed)
        n = ENGINE["lookup_keys"]
        return lambda: rng.choices(urls, weights=weights, k=n)

    # ------------------------------------------------------------ window

    @contextlib.contextmanager
    def measure(self, op: str):
        """Add the wall seconds of one client operation to ``wall[op]``."""
        t0 = time.perf_counter()
        yield
        self.wall.setdefault(op, []).append(time.perf_counter() - t0)

    def open_window(self) -> float:
        self.cpu_s = tree_cpu_seconds(os.getpid())
        self._ticks = host_cpu_ticks()
        start = time.perf_counter()
        self.window = (start, start)
        return start + self.seconds

    def close_window(self) -> None:
        self.cpu_s = tree_cpu_seconds(os.getpid()) - self.cpu_s
        stolen, total = (b - a for a, b in zip(self._ticks, host_cpu_ticks()))
        self.steal = stolen / total if total else 0.0
        self.window = (self.window[0], time.perf_counter())

    def in_window(self, name: str) -> list[dict]:
        lo, hi = self.window
        return [s for s in self.tracer.spans if s["name"] == name and lo <= s["start"] <= hi]


# ---------------------------------------------------------------- workloads


def replay_bulk(run: Run) -> dict:
    cfg = run.cfg
    n = cfg["n_events"]
    from pyspark.sql import functions as F

    with run.timed("log_s"):
        events = run.generate_log(n)
        sample = run.key_sampler(events)
    # a small batch and lookups on a scratch table first, so the timed work
    # does not pay first-use costs of its plans
    with run.timed("prebuild_s"), run.tracer.paused():
        warm_table, warm = run.pipeline(os.path.join(run.work, "warmup"), "deferred")
        warm.apply_batch(events.filter(F.col("seq") < cfg["warmup_events"]), 0)
        for _ in range(2):
            run.lookup(warm_table, sample())

    deadline = run.open_window()
    unit = 0
    while True:
        table, pipe = run.pipeline(os.path.join(run.work, f"pages{unit}"), "deferred")
        with run.measure("replay"), run.tracer.span("runner.replay"):
            stats = pipe.run_replay(events, epochs_per_batch=cfg["epochs_per_batch"])
        for s in stats:
            run.ops.record(not s.get("skipped"), f"batch {s['batch_id']} skipped")
        applied = sum(int(s.get("n_events") or 0) for s in stats)
        run.ops.record(applied == n, f"replay applied {applied} of {n} events")
        unit += 1
        if unit >= cfg["min_replays"] and time.perf_counter() >= deadline:
            break
    run.close_window()

    # read-back: point reads on the caught-up table, then the audit
    answers = []
    for _ in range(cfg["probe_lookups"]):
        keys = sample()
        with run.measure("lookup"):
            got = run.lookup(table, keys)
        answers.append((keys, n, got))
    run.check_lookups(events, answers)
    run.check_live_rows(pipe, events)
    audit_s = run.timed_audit(pipe, events)
    return {"events_per_s": n * len(run.wall["replay"]) / sum(run.wall["replay"]), "audit_s": audit_s}


def lookup_mixed(run: Run) -> dict:
    cfg = run.cfg
    from pyspark.sql import functions as F

    from cosmwasm_etl_spark.operators.dedup_window import latest_wins_agg
    from cosmwasm_etl_spark.streaming.runner import run_stream_available_now

    n_prefix, n_tail = cfg["n_prefix"], cfg["tail_files"]
    with run.timed("log_s"):
        # the log as 1 + n_tail files in one write: the prefix, then the
        # tail files of tail_file_events each, in seq order
        events = run.synthetic(n_prefix + n_tail * cfg["tail_file_events"])
        file_no = F.when(F.col("seq") < n_prefix, 0).otherwise(
            1 + F.floor((F.col("seq") - n_prefix) / cfg["tail_file_events"])
        )
        stage = os.path.join(run.work, "stage")
        events.withColumn("__file", file_no).repartition(1 + n_tail, "__file").write.partitionBy(
            "__file"
        ).parquet(stage)
        log_files = [glob.glob(os.path.join(stage, f"__file={i}", "*.parquet")) for i in range(1 + n_tail)]
        sample = run.key_sampler(events)
    tail_dir = os.path.join(run.work, "tail")
    os.makedirs(tail_dir)
    ckpt = os.path.join(run.work, "checkpoint")

    def land_next() -> list[dict]:
        """Land the next log file and drain it through the streaming runner;
        returns the applied batches' stats."""
        no = 1 + n_tail - len(log_files)
        for i, src in enumerate(log_files.pop(0)):
            os.rename(src, os.path.join(tail_dir, f"{no:04d}-{i}.parquet"))
        with run.tracer.span("runner.available_now"):
            stats = run_stream_available_now(
                run.spark, pipe, tail_dir, ckpt, max_files_per_trigger=1
            )
        applied = [s for s in stats if "batch_id" in s and not s.get("skipped")]
        run.ops.record(len(applied) == 1, f"log file {no} applied as {len(applied)} batches")
        return applied

    # pre-build: the log prefix drained as the stream's first file (which
    # also pays the streaming plans' first-use costs), compacted into
    # key-sorted base files; then two lookups pay the read plans' ones
    with run.timed("prebuild_s"), run.tracer.paused():
        table, pipe = run.pipeline(os.path.join(run.work, "pages"), "batch")
        applied_upto = max((int(s["max_seq"]) + 1 for s in land_next()), default=0)
        table.compact(lambda df: latest_wins_agg(df, key="url", order_cols=_ORDER))
    with run.timed("warmup_s"), run.tracer.paused():
        for _ in range(2):
            run.lookup(table, sample())

    deadline = run.open_window()
    answers, write_events = [], 0
    min_writes = cfg["min_writes"]
    write_s = run.wall.setdefault("write", [])
    while time.perf_counter() < deadline or (len(write_s) < min_writes and log_files):
        for _ in range(cfg["lookups_per_write"]):
            keys = sample()
            with run.measure("lookup"):
                got = run.lookup(table, keys)
            answers.append((keys, applied_upto, got))
        if not log_files or (len(write_s) >= min_writes and time.perf_counter() >= deadline):
            continue  # every run applies at least min_writes batches
        with run.measure("write"):
            applied = land_next()
        for s in applied:
            write_events += int(s.get("n_events") or 0)
            applied_upto = max(applied_upto, int(s["max_seq"]) + 1)
    run.close_window()

    run.check_lookups(events, answers)
    prefix = events.filter(F.col("seq") < applied_upto)
    run.check_live_rows(pipe, prefix)
    audit_s = run.timed_audit(pipe, prefix)
    return {"events_per_s": write_events / sum(write_s), "audit_s": audit_s}


RUNNERS = {"replay_bulk": replay_bulk, "lookup_mixed": lookup_mixed}


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    p = supported_percentile(len(values))
    if p is None or p == 50:
        return {"p": p, "value": None, "n": len(values)}
    return {"p": p, "value": percentile(values, p), "n": len(values)}


def execute(name: str, seed: int, seconds: int, trace: bool, root: str, out_dir: str) -> dict:
    """Run one workload; returns the result dict printed by run.py."""
    run = Run(name, seed, seconds, trace, root)
    os.makedirs(run.work, exist_ok=True)
    t0 = time.perf_counter()
    try:
        with MemSampler() as mem:
            run.start_session()
            run.install_hooks()
            try:
                got = RUNNERS[name](run)
                checks_s = time.perf_counter() - run.window[1]
            finally:
                run.tracer.restore()
                run.stop_session()
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run.work))  # only when no other run uses it
    setup_s = sum(run.parts.values())
    wall = run.window[1] - run.window[0]
    batch_ms = [1000 * (s["end"] - s["start"]) for s in run.in_window("pipeline.apply_batch")]
    lookup_ms = [1000 * x for x in run.wall["lookup"]]
    meta = {
        "workload": name, "seed": seed, "seconds": seconds,
        "cores": run.cores, "cpu_s": run.cpu_s, "wall_s": wall, "steal": run.steal,
        "config": {**ENGINE, **run.cfg},
    }
    result = {
        "correct": run.ops.correct,
        "attempted": run.ops.attempted,
        "failed": run.ops.failed,
        "failures": run.ops.failures[:10],
        "error_rate": run.ops.error_rate,
        "peak_pss_parts_mb": {k: v / 2**20 for k, v in mem.peak_parts.items()},
        "setup_parts": dict(run.parts),
        "samples": {"batches": len(batch_ms), **{op: len(v) for op, v in run.wall.items()}},
        "tails": {"batch_ms": tail(batch_ms), "lookup_ms": tail(lookup_ms)},
        "checks_s": checks_s,
        "run_s": time.perf_counter() - t0,
        "meta": meta,
    }
    if trace:
        path = os.path.join(out_dir, f"trace-{name}-seed{seed}.json")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.dump(path, meta)
        result["trace_file"] = os.path.relpath(path, root)
        result["spans"] = run.tracer.spans
        result["metrics"] = layer_metrics(run.tracer.spans, meta)
    else:
        result["metrics"] = {
            "setup_s": setup_s,
            "events_per_s": got["events_per_s"],
            "batch_ms_p50": median(batch_ms),
            "lookup_ms_p50": median(lookup_ms),
            "audit_s": got["audit_s"],
            "peak_pss_mb": mem.peak_mb,
        }
    return result

"""LakeTable — bucketed copy-on-write ACID table with MERGE.

The table plays the role Iceberg plays in the design (SURVEY §7.1): the keyed
mutable state the CDC stream maintains — the analog of the reference's
Postgres tables written in one transaction per height
(``/root/reference/parser/dex/repo/repository.go:98-122``).

Physical layout (chosen for the 100 TB design point):

- data files are hash-bucketed on the merge key (``bucket(N, url)``): a MERGE
  touches only the buckets its batch keys hash into, so commit cost is
  O(batch ∪ affected-buckets), never a full-table rewrite;
- per-file min/max key stats enable file skipping for point/range lookups;
- the JSON commit log gives snapshot isolation, time travel and an
  epoch-idempotency check (exactly-once; the synced-height CAS analog,
  ``parser/dex/repo/repository.go:117``);
- old files are never rewritten for schema changes — reads align by field id.

On a real cluster ``num_buckets`` is sized so a bucket's working set fits an
executor (e.g. 4096 buckets for 10^10 rows); locally tests use 8-32.
"""

from __future__ import annotations

import concurrent.futures as _fut
import os
import time
import uuid

import pyarrow as _pa
import pyarrow.parquet as _pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cosmwasm_etl_spark.lakehouse.arrow_apply import arrow_schema, bucket_of, split_by_bucket
from cosmwasm_etl_spark.lakehouse.log import CHECKPOINT_INTERVAL, TableLog
from cosmwasm_etl_spark.lakehouse.schema import TableSchema, align_to, evolve

_BUCKET = "__bucket"
# TableState facts folded from commit summaries (None = unknown, from an older
# checkpoint): sum of n_events, lowest min_seq, delta commits since compaction
_FOLDED = ("applied_events", "min_seq", "delta_commits")


class TableState:
    def __init__(self) -> None:
        self.version: int = 0
        self.schema: TableSchema | None = None
        self.schemas: dict[int, TableSchema] = {}
        self.files: dict[str, dict] = {}  # rel path -> entry
        self.epochs: set[int] = set()
        self.watermark: int = -1
        self.key_col: str = ""
        self.ts_col: str = ""
        self.num_buckets: int = 0
        self.delta_files: set[str] = set()
        # key-normalization provenance ("exact" | "canonical"): stamped by
        # the first data commit and sticky thereafter — a pipeline opened
        # with the other normalization would silently re-key already-
        # committed rows, so mismatches are refused at pipeline init.
        self.key_norm: str = ""
        self.applied_events: int | None = 0
        self.min_seq: int | None = None
        self.delta_commits: int | None = 0

    def to_dict(self) -> dict:
        return {
            "version": self.version,
            "schema_version": self.schema.schema_version if self.schema else 0,
            "schemas": {str(v): s.to_dict() for v, s in self.schemas.items()},
            "files": list(self.files.values()),
            "epochs": sorted(self.epochs),
            "watermark": self.watermark,
            "key_col": self.key_col,
            "ts_col": self.ts_col,
            "num_buckets": self.num_buckets,
            "delta_files": sorted(self.delta_files),
            "key_norm": self.key_norm,
            **{k: getattr(self, k) for k in _FOLDED},
        }

    @classmethod
    def from_dict(cls, d: dict) -> "TableState":
        st = cls()
        st.version = d["version"]
        st.schemas = {int(v): TableSchema.from_dict(s) for v, s in d["schemas"].items()}
        st.schema = st.schemas.get(d["schema_version"])
        st.files = {e["path"]: e for e in d["files"]}
        st.epochs = set(d["epochs"])
        st.watermark = d["watermark"]
        st.key_col = d["key_col"]
        st.ts_col = d["ts_col"]
        st.num_buckets = d["num_buckets"]
        st.delta_files = set(d.get("delta_files", []))
        st.key_norm = d.get("key_norm", "")
        for k in _FOLDED:
            setattr(st, k, d.get(k))
        return st


def _ts_cmp(v, round_down: bool = True):
    """Normalize a ts-domain value to a comparable int (epoch micros for
    datetimes — naive treated as UTC; raw int for integer ts columns).
    Returns None for un-normalizable values (disables pruning for them).

    Fractional values are rounded in the CONSERVATIVE direction for the
    caller's use — ``round_down=True`` floors (lower bounds / file min
    stats), ``round_down=False`` ceils (upper bounds / file max stats) — so
    float bounds can only widen a pruning window, never shrink it (a
    truncate-toward-zero here could prune a file still holding matching
    rows)."""
    import datetime as _dt
    import math

    if v is None:
        return None
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return math.floor(v) if round_down else math.ceil(v)
    if isinstance(v, str):
        try:
            v = _dt.datetime.fromisoformat(v)
        except ValueError:
            return None
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    return None


def _file_stats(
    abs_path: str, key_col: str, ts_col: str | None = None
) -> tuple[int, int, str | None, str | None, int | None, int | None]:
    """(rows, bytes, min_key, max_key, min_ts, max_ts) from the parquet
    footer — no data read. Key stats are kept as strings (point/range key
    skipping); ts stats are normalized ints (retention-window pruning)."""
    md = _pq.ParquetFile(abs_path).metadata
    rows = md.num_rows
    size = os.path.getsize(abs_path)
    idx: dict[str, int] = {}
    if md.num_row_groups:
        for i in range(md.num_columns):
            idx[md.row_group(0).column(i).path_in_schema] = i

    def _col_minmax(col: str | None):
        if col is None or col not in idx:
            return None, None
        mn = mx = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                return None, None
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        return mn, mx

    k_mn, k_mx = _col_minmax(key_col)
    if not (isinstance(k_mn, str) and isinstance(k_mx, str)):
        k_mn = k_mx = None
    t_mn, t_mx = _col_minmax(ts_col)
    return rows, size, k_mn, k_mx, _ts_cmp(t_mn, True), _ts_cmp(t_mx, False)


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.log = TableLog(self.path)

    # ------------------------------------------------------------------ DDL

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema,
        key_col: str,
        ts_col: str,
        num_buckets: int = 16,
    ) -> "LakeTable":
        t = cls(spark, path)
        if t.log.exists():
            raise FileExistsError(f"table exists at {path}")
        ts = TableSchema.from_spark(schema) if not isinstance(schema, TableSchema) else schema
        if key_col not in ts.names() or ts_col not in ts.names():
            raise ValueError("key_col/ts_col must be schema columns")
        t.log.write_commit(
            1,
            {
                "operation": "create",
                "summary": {"key_col": key_col, "ts_col": ts_col, "num_buckets": num_buckets},
                "schema": ts.to_dict(),
                "add": [],
                "remove": [],
            },
        )
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        if not t.log.exists():
            raise FileNotFoundError(f"no lakehouse table at {path}")
        # restart hygiene: stage/ holds per-merge scratch that is deleted
        # after each commit; anything still present belongs to a merge that
        # crashed mid-flight (its commit never landed, so the data is
        # garbage by definition — single-writer design, SURVEY §7.4)
        import shutil as _sh

        _sh.rmtree(os.path.join(t.path, "stage"), ignore_errors=True)
        return t

    def evolve_schema(self, change: str, spec: dict) -> int:
        """add_column / rename_column / widen_type — metadata-only commit."""
        st = self.state()
        new_schema = evolve(st.schema, change, spec)
        v = st.version + 1
        self.log.write_commit(
            v,
            {
                "operation": "evolve_schema",
                "summary": {"change": change, "spec": spec},
                "schema": new_schema.to_dict(),
                "add": [],
                "remove": [],
            },
        )
        self._maybe_checkpoint(v)
        return v

    # ------------------------------------------------------------------ state

    def state(self, version: int | None = None) -> TableState:
        min_v = self.log.min_version()
        if version is not None and version < min_v:
            raise ValueError(
                f"version {version} was vacuumed (oldest retained: {min_v})"
            )
        # newest checkpoint <= target: the pointer names the newest overall,
        # but time travel below it must fall back to an older on-disk
        # checkpoint — after vacuum, replay-from-zero no longer exists
        ckpt_v = self.log.last_checkpoint_version()
        if version is not None and ckpt_v > version:
            ckpt_v = max((c for c in self.log.available_checkpoints() if c <= version), default=0)
        st = TableState()
        start = 0
        if ckpt_v:
            d = self.log.read_checkpoint(ckpt_v)
            if d is not None:
                st = TableState.from_dict(d)
                start = ckpt_v
        for v, c in self.log.commits_since(start, version):
            st.version = v
            if c.get("schema"):
                sch = TableSchema.from_dict(c["schema"])
                st.schemas[sch.schema_version] = sch
                st.schema = sch
            if c["operation"] == "create":
                s = c["summary"]
                st.key_col, st.ts_col = s["key_col"], s["ts_col"]
                st.num_buckets = s["num_buckets"]
            for p in c.get("remove", []):
                st.files.pop(p, None)
                st.delta_files.discard(p)
            for e in c.get("add", []):
                st.files[e["path"]] = e
            if c["operation"] == "delta":
                st.delta_files.update(e["path"] for e in c.get("add", []))
                if st.delta_commits is not None:
                    st.delta_commits += 1
            elif c["operation"] == "compact":
                st.delta_commits = 0
            summ = c.get("summary", {})
            if summ.get("epoch") is not None:
                st.epochs.add(int(summ["epoch"]))
            if summ.get("watermark") is not None:
                st.watermark = max(st.watermark, int(summ["watermark"]))
            if summ.get("key_norm"):
                st.key_norm = summ["key_norm"]
            if summ.get("n_events") is not None and st.applied_events is not None:
                st.applied_events += int(summ["n_events"])
                seqs = [s for s in (st.min_seq, summ.get("min_seq")) if s is not None]
                st.min_seq = min(seqs, default=None)
        return st

    def committed_epochs(self) -> set[int]:
        return self.state().epochs

    def watermark(self) -> int:
        return self.state().watermark

    def history(self) -> list[dict]:
        out = []
        for v, c in self.log.commits_since(self.log.min_version() - 1):
            out.append({"version": v, "operation": c["operation"], "summary": c.get("summary", {})})
        return out

    def describe(self, version: int | None = None) -> dict:
        """Metadata-only table summary from the commit log — no file is
        opened, no job runs (the observability analog of the reference's
        row-count/health queries, `aggregator/repo/repository.go` counts).

        ``buckets`` maps bucket -> {files, rows, bytes}; ``skew`` is
        max-bucket-rows / mean-bucket-rows over non-empty buckets (1.0 =
        perfectly even) — the first thing to check when one task lags a
        100×-scale MERGE. ``delta`` counts un-compacted MOR files, rows and
        commits (compaction debt); rows in MOR mode count every live
        base+delta row, so they upper-bound (not equal) the resolved key
        count. ``min_seq``, ``watermark`` and ``applied_events`` describe the
        applied prefix of the change log that the pipeline's prefix audit
        covers (None when unknown)."""
        st = self.state(version)
        buckets: dict[int, dict] = {}
        total_rows = total_bytes = 0
        delta_files = delta_rows = 0
        for e in st.files.values():
            b = buckets.setdefault(e["bucket"], {"files": 0, "rows": 0, "bytes": 0})
            b["files"] += 1
            b["rows"] += e["rows"]
            b["bytes"] += e["bytes"]
            total_rows += e["rows"]
            total_bytes += e["bytes"]
            if e["path"] in st.delta_files:
                delta_files += 1
                delta_rows += e["rows"]
        per_rows = [b["rows"] for b in buckets.values()]
        skew = (max(per_rows) / (sum(per_rows) / len(per_rows))) if per_rows else 0.0
        return {
            "version": st.version,
            "schema_version": st.schema.schema_version if st.schema else 0,
            "key_col": st.key_col,
            "ts_col": st.ts_col,
            "num_buckets": st.num_buckets,
            "key_norm": st.key_norm,
            "watermark": st.watermark,
            "applied_events": st.applied_events,
            "min_seq": st.min_seq,
            "epochs": len(st.epochs),
            "files": len(st.files),
            "rows": total_rows,
            "bytes": total_bytes,
            "delta": {"files": delta_files, "rows": delta_rows, "commits": st.delta_commits},
            "buckets": buckets,
            "skew": round(skew, 3),
        }

    def _maybe_checkpoint(self, version: int) -> None:
        if version % CHECKPOINT_INTERVAL == 0:
            self.log.write_checkpoint(version, self.state(version).to_dict())

    # ------------------------------------------------------------------ read

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read (optionally time travel to ``version``).

        Files are grouped by schema version; each group is one parquet scan
        (predicate pushdown + column pruning intact), aligned to the current
        schema by field id, then unioned.
        """
        st = self.state(version)
        if not st.files:
            return self.spark.createDataFrame([], st.schema.to_spark())
        return self._read_entries(list(st.files.values()), st)

    def read_buckets(self, buckets, version: int | None = None) -> DataFrame:
        """Snapshot read restricted to a bucket subset — the point-lookup /
        keyed-subset path: a reader that knows its keys' buckets skips every
        other bucket's files entirely (the same file-skipping MERGE uses on
        the write side). At the 10^10 design point this is the difference
        between a per-batch corpus scan and a read bounded by the batch's
        key spread."""
        st = self.state(version)
        wanted = set(buckets)
        entries = [e for e in st.files.values() if e["bucket"] in wanted]
        if not entries:
            return self.spark.createDataFrame([], st.schema.to_spark())
        return self._read_entries(entries, st)

    @staticmethod
    def _lookup_entries(st: TableState, keys_by_bucket: dict[int, list[str]]) -> list[dict]:
        """File-skipping for a point lookup: keep an entry only when its
        bucket holds one of the keys AND (when footer key stats exist) at
        least one of that bucket's keys falls inside [min_key, max_key].
        Entries without key stats are conservatively kept. Pure metadata —
        no file is opened."""
        out: list[dict] = []
        for e in st.files.values():
            ks = keys_by_bucket.get(e["bucket"])
            if not ks:
                continue
            mn, mx = e.get("min_key"), e.get("max_key")
            if mn is not None and mx is not None and not any(mn <= k <= mx for k in ks):
                continue
            out.append(e)
        return out

    def lookup(self, keys, version: int | None = None) -> DataFrame:
        """Point-lookup read: O(files-containing-the-keys), never a table scan.

        Three pruning layers, outermost first:

        1. **bucket** — each key's bucket is computed driver-side with the
           same ``pmod(xxhash64(key), num_buckets)`` the writer used
           (pure-Python xxhash64, :mod:`lakehouse.arrow_apply`); every other
           bucket's files are skipped from commit metadata alone.
        2. **per-file key range** — the ``min_key``/``max_key`` footer stats
           recorded in each add-entry drop files whose range can't contain
           any looked-up key (parquet writers truncate string stats only to
           a lower/upper BOUND, so the range test stays safe).
        3. **in-file** — the residual ``IN`` predicate is pushed into the
           parquet scan, so row-group stats (and bloom filters when written,
           see ``SPARK_GRAFT_PARQUET_BLOOM_NDV``) prune inside survivors.

        MOR note: like :meth:`read`, this returns every live row for the
        keys (base + un-compacted delta rows); the caller's latest-wins
        resolve owns the ordering semantics. Reference analog: the indexed
        primary-key SELECTs in parser/dex/repo/repository.go.

        Sized for POINT lookups (tens to thousands of keys — driver-side
        hashing plus an ``IN`` literal list). For batch-scale key sets use
        :meth:`read_buckets` on the keys' buckets plus a broadcast semi-join,
        the shape the ingest-dedup candidate fetch uses.
        """
        st = self.state(version)
        uniq = sorted({k for k in keys if k is not None})
        if not st.files or not uniq:
            return self.spark.createDataFrame([], st.schema.to_spark())
        by_bucket: dict[int, list[str]] = {}
        for k in uniq:
            by_bucket.setdefault(bucket_of(k, st.num_buckets), []).append(k)
        entries = self._lookup_entries(st, by_bucket)
        if not entries:
            return self.spark.createDataFrame([], st.schema.to_spark())
        return self._read_entries(entries, st).filter(F.col(st.key_col).isin(uniq))

    def _read_entries(self, entries: list[dict], st: TableState) -> DataFrame:
        """Scan a file-entry subset, grouped by schema version (one parquet
        scan per group — predicate pushdown + column pruning intact), each
        aligned to the current schema by field id, then unioned."""
        by_sv: dict[int, list[str]] = {}
        for e in entries:
            by_sv.setdefault(e["schema_version"], []).append(os.path.join(self.path, e["path"]))
        parts = []
        for sv, paths in sorted(by_sv.items()):
            fs = st.schemas[sv]
            df = self.spark.read.schema(fs.to_spark()).parquet(*paths)
            parts.append(align_to(df, fs, st.schema))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _bucket_expr(self, key_col: str, num_buckets: int):
        return F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets)).cast("int")

    # ------------------------------------------------------------------ write

    def _write_files(
        self,
        df: DataFrame,
        st: TableState,
        n_parts: int,
        pre_partitioned: bool = False,
        sort_by: str | None = None,
    ) -> list[dict]:
        """Write df (must carry __bucket) partitioned by bucket; return add-entries.

        ``pre_partitioned=True`` skips the bucket repartition when the caller
        already placed an explicit ``repartition(N, __bucket)`` upstream (so
        the 8 KB html payloads cross exactly ONE exchange in the whole apply
        path, not two)."""
        stage_rel = os.path.join("data", uuid.uuid4().hex)
        stage_abs = os.path.join(self.path, stage_rel)
        out = df if pre_partitioned else df.repartition(max(n_parts, 1), F.col(_BUCKET))
        if sort_by:
            # cluster rows by key inside each written file: row-group min/max
            # stats on the key become tight, so point lookups skip row groups
            # inside surviving files even without bloom filters
            out = out.sortWithinPartitions(_BUCKET, sort_by)
        writer = out.write.partitionBy(_BUCKET).mode("overwrite")
        # row-group size knob (bytes): smaller groups = finer stats/bloom
        # pruning granularity for lookup-heavy tables, at some scan-speed cost
        block = os.environ.get("SPARK_GRAFT_PARQUET_BLOCK_SIZE", "")
        if block.isdigit():
            writer = writer.option("parquet.block.size", block)
        # Opt-in parquet bloom filters on the key column: point lookups then
        # prune ROW GROUPS inside surviving files, not just files. Off by
        # default — a bloom sized for ndv N adds ~1.2*N bytes per file, which
        # only pays for itself on lookup-heavy tables (set the expected
        # per-file distinct-key count, e.g. 1000000 at the 10^10 design point).
        bloom_ndv = os.environ.get("SPARK_GRAFT_PARQUET_BLOOM_NDV", "")
        if bloom_ndv.isdigit() and st.key_col:
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{st.key_col}", "true"
            ).option(f"parquet.bloom.filter.expected.ndv#{st.key_col}", bloom_ndv)
        writer.parquet(stage_abs)
        return self._add_entries(stage_abs, st)

    def _write_arrow_files(self, tbl: "_pa.Table", st: TableState) -> list[dict]:
        """Driver-side twin of :meth:`_write_files` for a small in-memory
        batch: one pyarrow parquet file per touched bucket, under the same
        ``data/<uuid>/__bucket=b/`` layout, rows kept in the caller's order.
        pyarrow 16 writes no parquet bloom filters, so these files carry
        none even when ``SPARK_GRAFT_PARQUET_BLOOM_NDV`` is set; compaction,
        which runs on Spark, writes them."""
        stage_abs = os.path.join(self.path, "data", uuid.uuid4().hex)
        tbl = tbl.select(st.schema.names()).cast(arrow_schema(st.schema))
        for bucket, part in split_by_bucket(tbl, st.key_col, st.num_buckets).items():
            out_dir = os.path.join(stage_abs, f"{_BUCKET}={bucket}")
            os.makedirs(out_dir)
            _pq.write_table(part, os.path.join(out_dir, f"part-{uuid.uuid4().hex}.parquet"))
        # footers of a few tiny files just written: reading them in this
        # thread takes ~1 ms, starting a pool per batch several ms more
        return self._add_entries(stage_abs, st, pool=False)

    def _add_entries(self, stage_abs: str, st: TableState, pool: bool = True) -> list[dict]:
        """Add-entries (footer stats, no data read) for every non-empty
        parquet file under a ``__bucket=b`` directory of ``stage_abs``;
        footers are read by a thread pool unless ``pool`` is false."""
        entries: list[dict] = []
        todo: list[tuple[str, int]] = []
        for dirpath, _dirs, names in os.walk(stage_abs):
            base = os.path.basename(dirpath)
            if not base.startswith(f"{_BUCKET}="):
                continue
            bucket = int(base.split("=", 1)[1])
            for n in names:
                if n.endswith(".parquet"):
                    todo.append((os.path.join(dirpath, n), bucket))
        key_col, ts_col = st.key_col, st.ts_col
        if pool:
            with _fut.ThreadPoolExecutor(max_workers=16) as ex:
                stats = list(ex.map(lambda t: _file_stats(t[0], key_col, ts_col), todo))
        else:
            stats = [_file_stats(p, key_col, ts_col) for p, _b in todo]
        for (abs_p, bucket), (rows, size, mn, mx, t_mn, t_mx) in zip(todo, stats):
            if rows == 0:
                continue
            entries.append(
                {
                    "path": os.path.relpath(abs_p, self.path),
                    "bucket": bucket,
                    "rows": rows,
                    "bytes": size,
                    "schema_version": st.schema.schema_version,
                    "min_key": mn,
                    "max_key": mx,
                    "min_ts": t_mn,
                    "max_ts": t_mx,
                }
            )
        return entries

    def append(self, df: DataFrame, epoch: int | None = None, watermark: int | None = None) -> dict:
        """Append-only commit (bootstrap path; analog of batch insert S7)."""
        st = self.state()
        if epoch is not None and epoch in st.epochs:
            return {"skipped": True, "reason": "epoch already committed", "epoch": epoch}
        dfb = df.select(*st.schema.names()).withColumn(
            _BUCKET, self._bucket_expr(st.key_col, st.num_buckets)
        )
        adds = self._write_files(dfb, st, st.num_buckets)
        v = st.version + 1
        self.log.write_commit(
            v,
            {
                "operation": "append",
                "summary": {
                    "epoch": epoch,
                    "watermark": watermark,
                    "added_rows": sum(e["rows"] for e in adds),
                    "ts": time.time(),
                },
                "schema": None,
                "add": adds,
                "remove": [],
            },
        )
        self._maybe_checkpoint(v)
        return {"skipped": False, "version": v, "added_rows": sum(e["rows"] for e in adds)}

    def commit_empty(self, epoch: int | None = None, note: str | None = None) -> dict:
        """Zero-row epoch commit: records the epoch in the log with no data
        files and NO Spark job. For incremental operators whose batch
        provably contributes nothing (e.g. zero LSH band collisions) but
        whose epoch bookkeeping must still advance for idempotent replay —
        writing an empty DataFrame through the normal append would pay a
        full (empty) write job per batch."""
        st = self.state()
        if epoch is not None and epoch in st.epochs:
            return {"skipped": True, "reason": "epoch already committed", "epoch": epoch}
        v = st.version + 1
        self.log.write_commit(
            v,
            {
                "operation": "append",
                "summary": {
                    "epoch": epoch,
                    "added_rows": 0,
                    "note": note,
                    "ts": time.time(),
                },
                "schema": None,
                "add": [],
                "remove": [],
            },
        )
        self._maybe_checkpoint(v)
        return {"skipped": False, "version": v, "added_rows": 0}

    def merge_upserts(
        self,
        batch: DataFrame,
        epoch: int | None = None,
        watermark: int | None = None,
        op_col: str | None = "op",
        order_cols: list[str] | None = None,
        extra_summary: dict | None = None,
        summary_fn=None,
        force: bool = False,
        prestaged: bool = False,
    ) -> dict:
        """Copy-on-write MERGE — the engine's core upsert (S8/S9/W5 analog).

        ``batch`` must contain the table's data columns plus ``op_col``
        (insert|update|delete) and be pre-deduplicated to one row per key
        (latest-wins; the caller applies the W5 window first). Semantics::

            MERGE INTO pages USING batch ON pages.url = batch.url
            WHEN MATCHED AND batch.op='delete' AND batch.ts >= pages.ts THEN DELETE
            WHEN MATCHED AND batch.ts >= pages.ts THEN UPDATE SET *
            WHEN NOT MATCHED AND batch.op <> 'delete' THEN INSERT *

        Physical strategy: only buckets containing batch keys are read and
        rewritten (file skipping by bucket); resolution is one full-outer
        join per affected bucket set — AQE handles residual skew. The whole
        operation is one atomic commit carrying the epoch id: re-running the
        same epoch after a crash is a no-op (exactly-once; CAS analog of
        ``parser/dex/repo/repository.go:117``).

        ``order_cols`` (default ``[ts_col]``) defines the latest-wins order as
        a lexicographic tuple — pass e.g. ``["warc_ts", "seq"]`` so same-ts
        ties resolve by the event sequence (SURVEY §7.4.2), which also makes
        the merge **order-insensitive across batches**: applying batches in
        any order converges to the same state. ``op_col=None`` disables the
        delete branch (pure upserts — the tombstone pattern, where deletes
        are rows with a ``deleted`` flag).

        ``force=True`` skips the latest-wins order comparison: a batch row
        unconditionally replaces the stored row for its key. This is the
        snapshot-REPAIR semantic (the reference checkpoint builder
        unconditionally reconciles DB state to the snapshot) — it can roll a
        stored row's order tuple BACKWARDS, so reserve it for trusted
        source-of-truth batches, never live CDC traffic.

        MOR tables (uncompacted deltas ⇒ several rows per key) are safe
        inputs: the resolution runs per stored row, so each old row is
        either kept or replaced by the batch row, and the reader's
        latest-wins resolution picks the max order tuple of the result —
        identical outcome to compact-then-merge (pinned by the MOR
        bootstrap test). The physical duplicates persist until the next
        compaction.
        """
        st = self.state()
        if epoch is not None and epoch in st.epochs:
            return {"skipped": True, "reason": "epoch already committed", "epoch": epoch}
        key, ts = st.key_col, st.ts_col
        order_cols = order_cols or [ts]
        data_cols = st.schema.names()

        batch_cols = [*data_cols] + ([op_col] if op_col else [])
        b0 = batch.select(*batch_cols).withColumn(
            _BUCKET, self._bucket_expr(key, st.num_buckets)
        )
        # Stage the batch ONCE (the upstream plan may carry expensive pandas
        # UDF extraction — it must execute exactly once per micro-batch).
        # Affected buckets are read off the staged partitionBy directories,
        # and the resolution join re-reads the cheap staged files instead of
        # re-running the whole upstream pipeline.
        #
        # ``prestaged=True``: executor-memory staging via localCheckpoint
        # instead of a parquet write+read round trip — one Spark job less
        # per merge. For SMALL incremental batches (aggregate partials,
        # index resyncs) the parquet staging is pure overhead; the
        # checkpoint gives the same exactly-once upstream execution. Keep
        # the default (durable file staging) for payload-heavy batches.
        stage_abs = None
        if prestaged:
            b0 = b0.localCheckpoint(eager=True)
            affected = sorted(
                int(r[0]) for r in b0.select(_BUCKET).distinct().collect()
            )
        else:
            stage_rel = os.path.join("stage", uuid.uuid4().hex)
            stage_abs = os.path.join(self.path, stage_rel)
            (
                b0.repartition(max(st.num_buckets, 1), F.col(_BUCKET))
                .write.partitionBy(_BUCKET)
                .mode("overwrite")
                .parquet(stage_abs)
            )
            affected = sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(stage_abs)
                if d.startswith(f"{_BUCKET}=")
            )
        if not affected:
            # empty batch: commit only the epoch/watermark marker
            import shutil as _sh

            if stage_abs is not None:
                _sh.rmtree(stage_abs, ignore_errors=True)
            v = st.version + 1
            # an empty micro-batch leaves every prior row in place: report the
            # PRIOR table row count, not 0 — metrics/audits reading the commit
            # summary must never see the table as emptied by a no-op marker
            prior_rows = sum(e["rows"] for e in st.files.values())
            summary = {"epoch": epoch, "watermark": watermark, "rows_after": prior_rows, "ts": time.time()}
            if summary_fn is not None:
                summary.update(summary_fn() or {})
            summary.update(extra_summary or {})
            self.log.write_commit(
                v,
                {"operation": "merge", "summary": summary, "schema": None, "add": [], "remove": []},
            )
            self._maybe_checkpoint(v)
            return {"skipped": False, "version": v, "rows_after": prior_rows}
        b = (
            b0
            if prestaged
            else self.spark.read.option("basePath", stage_abs).parquet(stage_abs)
        )
        old_entries = [e for e in st.files.values() if e["bucket"] in set(affected)]
        untouched_note = len(st.files) - len(old_entries)

        if old_entries:
            old = self._read_entries(old_entries, st)
        else:
            old = self.spark.createDataFrame([], st.schema.to_spark())

        o = old.alias("o")
        bb = b.alias("b")
        j = o.join(bb, F.col(f"o.{key}") == F.col(f"b.{key}"), "full_outer")
        b_present = F.col(f"b.{key}").isNotNull()
        o_present = F.col(f"o.{key}").isNotNull()
        b_ord = F.struct(*[F.col(f"b.{c}") for c in order_cols])
        o_ord = F.struct(*[F.col(f"o.{c}") for c in order_cols])
        take_batch = b_present if force else b_present & (~o_present | (b_ord >= o_ord))
        if op_col:
            is_delete = F.col(f"b.{op_col}") == F.lit("delete")
            keep = ~(take_batch & is_delete) & (o_present | (b_present & ~is_delete))
        else:
            keep = o_present | b_present

        cols = [
            F.when(take_batch, F.col(f"b.{c}")).otherwise(F.col(f"o.{c}")).alias(c)
            for c in data_cols
        ]
        resolved = (
            j.filter(keep)
            .select(*cols)
            .withColumn(_BUCKET, self._bucket_expr(key, st.num_buckets))
        )

        adds = self._write_files(resolved, st, max(len(affected), 1))
        v = st.version + 1
        summary = {
            "epoch": epoch,
            "watermark": watermark,
            "affected_buckets": affected,
            "untouched_files": untouched_note,
            "rows_after": sum(e["rows"] for e in adds),
            "ts": time.time(),
        }
        summary.update(extra_summary or {})
        if summary_fn is not None:
            summary.update(summary_fn() or {})
        self.log.write_commit(
            v,
            {
                "operation": "merge",
                "summary": summary,
                "schema": None,
                "add": adds,
                "remove": [e["path"] for e in old_entries],
            },
        )
        self._maybe_checkpoint(v)
        import shutil as _sh

        if stage_abs is not None:
            _sh.rmtree(stage_abs, ignore_errors=True)
        return {"skipped": False, "version": v, "rows_after": summary["rows_after"]}

    def append_delta(
        self,
        df: "DataFrame | _pa.Table",
        epoch: int | None = None,
        watermark: int | None = None,
        summary_fn=None,
        pre_partitioned: bool = False,
        extra_summary: dict | None = None,
    ) -> dict:
        """Merge-on-read write path (LSM-style, the Hudi/Paimon MOR pattern):
        the batch is appended as bucketed *delta* files — O(batch) work, no
        base rewrite. Readers resolve latest-per-key across base+delta rows
        (the caller's latest-wins over (ts, seq)); :meth:`compact` folds
        deltas back into one row per key. At the 10^10 design point this is
        the sustained-ingest path: COW merge cost grows with table size,
        delta append cost only with batch size.

        ``df`` is a DataFrame (written by a Spark job) or a
        ``pyarrow.Table`` already in the current schema (written on the
        driver, one file per touched bucket). Only the file write differs:
        add-entries, summary and commit are shared."""
        st = self.state()
        if epoch is not None and epoch in st.epochs:
            return {"skipped": True, "reason": "epoch already committed", "epoch": epoch}
        if isinstance(df, _pa.Table):
            adds = self._write_arrow_files(df, st)
        else:
            dfb = df.select(*st.schema.names()).withColumn(
                _BUCKET, self._bucket_expr(st.key_col, st.num_buckets)
            )
            adds = self._write_files(dfb, st, st.num_buckets, pre_partitioned=pre_partitioned)
        summary = {
            "epoch": epoch,
            "watermark": watermark,
            "affected_buckets": sorted({e["bucket"] for e in adds}),
            "added_rows": sum(e["rows"] for e in adds),
            "ts": time.time(),
        }
        summary.update(extra_summary or {})
        if summary_fn is not None:
            # evaluated AFTER the write job (observed metrics are available)
            # and BEFORE the atomic commit — watermark/counts land in the
            # same commit as the data, like the reference's single-tx CAS.
            summary.update(summary_fn() or {})
        v = st.version + 1
        self.log.write_commit(
            v,
            {
                "operation": "delta",
                "summary": summary,
                "schema": None,
                "add": adds,
                "remove": [],
            },
        )
        self._maybe_checkpoint(v)
        return {"skipped": False, "version": v, "added_rows": sum(e["rows"] for e in adds)}

    def compact(self, resolve, epoch: int | None = None) -> dict:
        """Fold all base+delta rows into one row per key: ``resolve`` is a
        df→df latest-wins reducer (the caller owns the ordering semantics).
        One atomic commit swaps every active file for the compacted set —
        readers see either the old or the new snapshot, never a mix."""
        st = self.state()
        if epoch is not None and epoch in st.epochs:
            return {"skipped": True, "reason": "epoch already committed", "epoch": epoch}
        resolved = resolve(self.read()).select(*st.schema.names()).withColumn(
            _BUCKET, self._bucket_expr(st.key_col, st.num_buckets)
        )
        # compaction is the amortized background pass — spend its sort to
        # key-cluster the rewritten files (tight row-group key stats, so
        # point lookups prune inside the compacted files; hot-path delta
        # appends stay sort-free)
        adds = self._write_files(resolved, st, st.num_buckets, sort_by=st.key_col)
        v = st.version + 1
        self.log.write_commit(
            v,
            {
                "operation": "compact",
                "summary": {"epoch": epoch, "rows_after": sum(e["rows"] for e in adds), "ts": time.time()},
                "schema": None,
                "add": adds,
                "remove": list(st.files.keys()),
            },
        )
        self._maybe_checkpoint(v)
        return {"skipped": False, "version": v, "rows_after": sum(e["rows"] for e in adds)}

    def delete_where(
        self,
        predicate: str,
        epoch: int | None = None,
        ts_lower=None,
        ts_upper=None,
    ) -> dict:
        """Row-level delete (retention analog S12): rewrite only files that
        actually contain matching rows (found via input_file_name()).

        ``ts_lower``/``ts_upper`` are the caller's PROMISE that no row with
        ``ts_col`` outside ``[ts_lower, ts_upper)`` can satisfy the
        predicate (accepts ints for integer ts columns, datetimes or ISO
        strings for timestamp columns). Files whose footer min/max ts stats
        fall wholly outside the window are pruned from METADATA before any
        scan — the reference's indexed-timestamp retention delete
        (`aggregator/repo/repository.go:175-205`): at the design scale a
        48 h retention pass must touch the 48 h of files, never the
        whole table."""
        st = self.state()
        if epoch is not None and epoch in st.epochs:
            return {"skipped": True, "reason": "epoch already committed", "epoch": epoch}
        lo, hi = _ts_cmp(ts_lower, True), _ts_cmp(ts_upper, False)
        candidates: list[dict] = []
        pruned = 0
        for e in st.files.values():
            mn, mx = e.get("min_ts"), e.get("max_ts")
            if hi is not None and mn is not None and mn >= hi:
                pruned += 1
                continue
            if lo is not None and mx is not None and mx < lo:
                pruned += 1
                continue
            candidates.append(e)
        if not candidates:
            return {
                "skipped": False, "version": st.version, "removed_rows": 0,
                "candidate_files": 0, "pruned_files": pruned,
            }
        # SQL DELETE semantics: only rows where the predicate is TRUE are
        # deleted — NULL evaluations keep the row (coalesce to FALSE).
        pred_true = F.coalesce(F.expr(predicate), F.lit(False))
        cand = self._read_entries(candidates, st).withColumn("__file", F.input_file_name())
        hit_files = [
            r[0] for r in cand.filter(pred_true).select("__file").distinct().collect()
        ]
        if not hit_files:
            return {
                "skipped": False, "version": st.version, "removed_rows": 0,
                "candidate_files": len(candidates), "pruned_files": pruned,
            }
        from urllib.parse import unquote, urlparse

        def _to_rel(p: str) -> str:
            # input_file_name() yields a percent-encoded file URI
            local = unquote(urlparse(p).path) if "://" in p else p
            return os.path.relpath(local, self.path)

        hit_rel = {_to_rel(p) for p in hit_files}
        hit_entries = [e for e in st.files.values() if e["path"] in hit_rel]
        if not hit_entries:
            raise RuntimeError(
                f"delete_where: matched files {sorted(hit_rel)} not present in table state"
            )
        kept = self._read_entries(hit_entries, st).filter(~pred_true).withColumn(
            _BUCKET, self._bucket_expr(st.key_col, st.num_buckets)
        )
        adds = self._write_files(kept, st, max(len(hit_entries), 1))
        v = st.version + 1
        self.log.write_commit(
            v,
            {
                "operation": "delete",
                "summary": {"epoch": epoch, "predicate": predicate, "ts": time.time()},
                "schema": None,
                "add": adds,
                "remove": [e["path"] for e in hit_entries],
            },
        )
        self._maybe_checkpoint(v)
        return {
            "skipped": False, "version": v,
            "candidate_files": len(candidates), "pruned_files": pruned,
            "rewritten_files": len(hit_entries),
        }

    # ------------------------------------------------------------------ vacuum

    def vacuum(self, retain_versions: int = 5, dry_run: bool = False) -> dict:
        """Physically free storage: expire table versions older than the
        newest ``retain_versions`` and delete every data file referenced by
        no retained version — Iceberg's ``expire_snapshots`` +
        ``remove_orphan_files`` in one pass, the space-freeing counterpart
        of the reference's retention delete
        (`aggregator/repo/repository.go:175-205`), which COW merges and MOR
        compaction make mandatory at the design point: they rewrite affected
        buckets every few batches, so without vacuum disk grows without
        bound.

        Protocol (crash-safe at every step, single-writer design):

        1. checkpoint the state AT the horizon (oldest retained version) so
           every retained version stays replayable without older commits —
           the _last_checkpoint pointer is never moved backward, so the
           newest checkpoint is never broken;
        2. atomically raise the ``_min_version`` marker (time travel below
           it now raises a clear error instead of replaying missing files);
        3. drop commit/checkpoint JSON below the horizon;
        4. delete data files on disk that no retained version references.

        A crash between any two steps leaves a readable table; unreferenced
        files linger until the next vacuum at worst. Time travel within the
        horizon is untouched.
        """
        if retain_versions < 1:
            raise ValueError("retain_versions must be >= 1")
        latest = self.log.latest_version()
        horizon = max(self.log.min_version(), latest - retain_versions + 1)
        # union of files live at ANY retained version: live(horizon) plus
        # everything added after it (a file live at some retained v is one
        # or the other) — one checkpoint read + O(retained commits), never
        # a full-history replay
        st_h = self.state(horizon)
        live = set(st_h.files.keys())
        for _v, c in self.log.commits_since(horizon, latest):
            for e in c.get("add", []):
                live.add(e["path"])
        on_disk: list[str] = []
        data_root = os.path.join(self.path, "data")
        for dirpath, _dirs, names in os.walk(data_root):
            for n in names:
                if n.endswith(".parquet"):
                    on_disk.append(os.path.relpath(os.path.join(dirpath, n), self.path))
        garbage = [p for p in on_disk if p not in live]
        if dry_run:
            return {
                "dry_run": True, "horizon": horizon, "latest": latest,
                "live_files": len(live), "garbage_files": len(garbage),
                "garbage_bytes": sum(
                    os.path.getsize(os.path.join(self.path, p)) for p in garbage
                ),
            }
        if horizon > self.log.min_version():
            self.log.write_checkpoint(horizon, st_h.to_dict())  # step 1
            self.log.write_min_version(horizon)  # step 2
            dropped_commits, dropped_ckpts = self.log.drop_before(horizon)  # step 3
        else:
            dropped_commits = dropped_ckpts = 0
        freed = 0
        for p in garbage:  # step 4
            abs_p = os.path.join(self.path, p)
            try:
                freed += os.path.getsize(abs_p)
                os.unlink(abs_p)
            except OSError:
                pass
        # prune now-empty uuid stage dirs under data/
        for dirpath, dirs, names in os.walk(data_root, topdown=False):
            if dirpath != data_root and not dirs and not names:
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
        return {
            "dry_run": False, "horizon": horizon, "latest": latest,
            "live_files": len(live), "deleted_files": len(garbage),
            "freed_bytes": freed, "dropped_commits": dropped_commits,
            "dropped_checkpoints": dropped_ckpts,
        }

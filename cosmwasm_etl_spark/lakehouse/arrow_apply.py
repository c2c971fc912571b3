"""Driver-side Arrow pieces of the pages-table apply path.

Both execution modes of ``CdcPipeline.apply_batch`` share these pure
rules: the Spark plan for large batches and the one-pass Arrow apply for
small ones. The module imports only the stdlib and pyarrow, never Spark:

- **bucket routing** — Spark's ``pmod(xxhash64(key), num_buckets)``
  re-derived in plain Python (XXH64 from the public xxHash spec, with
  Spark's per-type chaining), so driver-written files, point lookups and
  the Spark writer place every key in the same bucket;
- **field-id source resolution** — which event column feeds each column of
  the current table schema, following renames through the historical
  schema versions;
- **Arrow projection** to the current schema (types cast by field type);
- **latest-wins** per key on a lexicographic order tuple, the driver twin
  of ``operators.dedup_window.latest_wins_agg``.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.compute as pc

# ---------------------------------------------------------------------
# XXH64 with Spark's chaining, and bucket routing
# ---------------------------------------------------------------------

_MASK = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42  # Spark's default xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def hash_int(i: int, seed: int) -> int:
    """Spark XXH64 of an IntegerType value (the 4-byte tail step)."""
    u = i & 0xFFFFFFFF
    h = (seed + _P5 + 4) & _MASK
    h ^= (u * _P1) & _MASK
    h = (_rotl(h, 23) * _P2 + _P3) & _MASK
    return _fmix(h)


def hash_long(l: int, seed: int) -> int:
    """Spark XXH64 of a LongType value (the 8-byte tail step)."""
    u = l & _MASK
    h = (seed + _P5 + 8) & _MASK
    h ^= (_rotl((u * _P2) & _MASK, 31) * _P1) & _MASK
    h = (_rotl(h, 27) * _P1 + _P4) & _MASK
    return _fmix(h)


def hash_bytes(data: bytes, seed: int) -> int:
    """Standard XXH64 over a byte string (Spark StringType path)."""
    n = len(data)
    off = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        limit = n - 32
        while off <= limit:
            lane = int.from_bytes(data[off : off + 8], "little")
            v1 = (_rotl((v1 + lane * _P2) & _MASK, 31) * _P1) & _MASK
            lane = int.from_bytes(data[off + 8 : off + 16], "little")
            v2 = (_rotl((v2 + lane * _P2) & _MASK, 31) * _P1) & _MASK
            lane = int.from_bytes(data[off + 16 : off + 24], "little")
            v3 = (_rotl((v3 + lane * _P2) & _MASK, 31) * _P1) & _MASK
            lane = int.from_bytes(data[off + 24 : off + 32], "little")
            v4 = (_rotl((v4 + lane * _P2) & _MASK, 31) * _P1) & _MASK
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _MASK, 31) * _P1) & _MASK
            h = (h * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while off + 8 <= n:
        lane = int.from_bytes(data[off : off + 8], "little")
        h ^= (_rotl((lane * _P2) & _MASK, 31) * _P1) & _MASK
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        off += 8
    if off + 4 <= n:
        lane = int.from_bytes(data[off : off + 4], "little")
        h ^= (lane * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        off += 4
    while off < n:
        h ^= (data[off] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        off += 1
    return _fmix(h)


def to_signed(u: int) -> int:
    """Two's-complement view of a 64-bit unsigned hash — Spark longs are
    signed, so every comparison (array_min, ordering) must use this."""
    u &= _MASK
    return u - (1 << 64) if u >= 1 << 63 else u


def xxh64_str(s: str, seed: int = SPARK_SEED) -> int:
    """Signed Spark ``xxhash64(string_col)``."""
    return to_signed(hash_bytes(s.encode("utf-8"), seed))


def xxh64_longs(*vals: int, seed: int = SPARK_SEED) -> int:
    """Signed Spark ``xxhash64(long_col, long_col, ...)`` (left fold)."""
    h = seed
    for v in vals:
        h = hash_long(v, h)
    return to_signed(h)


def bucket_of(key: str | None, num_buckets: int) -> int:
    """``pmod(xxhash64(key), num_buckets)`` — the table's bucket function.
    Spark hashes a NULL key to the seed itself."""
    h = SPARK_SEED if key is None else xxh64_str(key)
    return h % num_buckets


# ---------------------------------------------------------------------
# schema: field-id resolution and Arrow types
# ---------------------------------------------------------------------

_ARROW_TYPES = {
    "string": pa.string(),
    "binary": pa.binary(),
    "int": pa.int32(),
    "integer": pa.int32(),
    "long": pa.int64(),
    "bigint": pa.int64(),
    "smallint": pa.int16(),
    "tinyint": pa.int8(),
    "float": pa.float32(),
    "double": pa.float64(),
    "boolean": pa.bool_(),
    # the table's timestamps are instants; parquet TIMESTAMP_MICROS with
    # isAdjustedToUTC, as the Spark writer stores them
    "timestamp": pa.timestamp("us", tz="UTC"),
    "date": pa.date32(),
}
_DECIMAL = re.compile(r"decimal\((\d+),\s*(\d+)\)")


def arrow_type(lake_type: str) -> pa.DataType:
    """Arrow type of a lakehouse column type; ``ValueError`` for the nested
    types, which only the Spark path writes."""
    if lake_type in _ARROW_TYPES:
        return _ARROW_TYPES[lake_type]
    m = _DECIMAL.fullmatch(lake_type)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    raise ValueError(f"no Arrow mapping for lakehouse type: {lake_type}")


def arrow_schema(schema) -> pa.Schema:
    """The Arrow schema of a ``TableSchema``. Every column is written as
    nullable (optional), as the Spark writer writes a projected frame."""
    return pa.schema([pa.field(f.name, arrow_type(f.type)) for f in schema.fields])


def resolve_sources(state, available) -> list[tuple[object, str | None]]:
    """(field, source column) for each field of the current schema.

    A field reads the column of its own name when present; otherwise a
    RENAMED field follows its field id back through the historical schema
    versions, newest first, and reads the first old name present (event
    producers keep emitting the pre-rename name). ``None`` when no name of
    the field id appears — the column is then NULL. The read-side half
    lives in ``lakehouse.schema.align_to``."""
    cols = set(available)
    out = []
    for f in state.schema.fields:
        src = f.name if f.name in cols else None
        if src is None:
            for sv in sorted(state.schemas, reverse=True):
                old = next((g.name for g in state.schemas[sv].fields if g.id == f.id), None)
                if old is not None and old in cols:
                    src = old
                    break
        out.append((f, src))
    return out


def project(tbl: pa.Table, state) -> pa.Table:
    """``tbl`` projected to the current table schema by field id: each
    column from its resolved source (cast to the field's type), or NULL."""
    schema = arrow_schema(state.schema)
    arrays = [
        pc.cast(tbl.column(src), schema.field(f.name).type)
        if src is not None
        else pa.nulls(tbl.num_rows, schema.field(f.name).type)
        for f, src in resolve_sources(state, tbl.column_names)
    ]
    return pa.Table.from_arrays(arrays, schema=schema)


# ---------------------------------------------------------------------
# latest-wins and bucket split
# ---------------------------------------------------------------------


def latest_wins(tbl: pa.Table, key: str, order_cols: list[str]) -> pa.Table:
    """One row per ``key``: the row with the greatest ``order_cols`` tuple
    (NULL orders below any value, as in Spark's struct ordering). The
    result is sorted by key."""
    if tbl.num_rows == 0:
        return tbl
    order = pc.sort_indices(
        tbl,
        sort_keys=[(key, "ascending")] + [(c, "descending") for c in order_cols],
        null_placement="at_end",
    )
    ranked = tbl.take(order)
    keys = ranked.column(key).to_pylist()
    first = [i for i in range(len(keys)) if i == 0 or keys[i] != keys[i - 1]]
    return ranked.take(pa.array(first, pa.int64()))


def split_by_bucket(tbl: pa.Table, key: str, num_buckets: int) -> dict[int, pa.Table]:
    """``tbl``'s rows grouped by their key's bucket (row order kept)."""
    buckets = pa.array(
        [bucket_of(k, num_buckets) for k in tbl.column(key).to_pylist()], pa.int32()
    )
    return {
        b: tbl.filter(pc.equal(buckets, pa.scalar(b, pa.int32())))
        for b in sorted(set(buckets.to_pylist()))
    }

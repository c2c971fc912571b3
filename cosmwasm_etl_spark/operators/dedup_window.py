"""Latest-wins-per-key dedup (W5 — the north rule's core operator).

Parity anchor: the reference gets latest-wins *implicitly* from total height
order + `ORDER BY height ASC, id ASC` replay
(`/root/reference/pkg/db/parser/repository.go:156`,
`/root/reference/parser/dex/dex.go:141`) plus the watermark CAS
(`parser/dex/repo/repository.go:117`). Under Spark's unordered shuffle the
order must be made explicit: ``(warc_ts DESC, seq DESC)`` per ``url``.

Two physical strategies:

- :func:`latest_wins_agg` — ``groupBy(key).agg(max_by(row, order))``.
  The one the CDC pipeline uses for its batch dedup, audit oracle and
  merge-on-read resolution. A hash aggregate with *map-side partial
  aggregation*: each map task pre-collapses every key (hot ones included)
  to one candidate row before the shuffle, so a url with 10^6 updates
  ships ~num_map_tasks rows, not 10^6. This is the scale-correct plan —
  skew is neutralized before the exchange, and no per-partition sort is
  needed.

- :func:`latest_wins_window` — the literal ``row_number() over (partition by
  url order by warc_ts desc, seq desc) = 1`` named by the north rule, with
  optional **two-phase salting** (SURVEY §7.4.3): phase 1 dedups within
  ``(url, salt)`` sub-partitions (splits a hot url across ``salt_buckets``
  reducers), phase 2 dedups the ≤``salt_buckets``-row residue per url.
  Windows don't get map-side combine, so the salted form is the correct
  window-shaped plan under hot-domain skew. Exported by the operator
  library; no pipeline path uses it.

Both are order-insensitive in the input and agree exactly (tested in
tests/test_replay.py::test_latest_wins_window_matches_agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _order_struct(order_cols: list[str]):
    return F.struct(*[F.col(c) for c in order_cols])


def latest_wins_agg(df: DataFrame, key: str = "url", order_cols: list[str] | None = None) -> DataFrame:
    """max_by-based latest-wins: one row per key, the row with the greatest
    (order_cols...) tuple. Map-side partial aggregation makes this robust to
    hot-key skew with zero tuning."""
    order_cols = order_cols or ["warc_ts", "seq"]
    out_cols = df.columns
    row = F.struct(*[F.col(c) for c in out_cols])
    agg = df.groupBy(key).agg(F.max_by(row, _order_struct(order_cols)).alias("__r"))
    return agg.select(*[F.col(f"__r.{c}").alias(c) for c in out_cols])


def latest_wins_window(
    df: DataFrame,
    key: str = "url",
    order_cols: list[str] | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """row_number-based latest-wins, optionally two-phase salted.

    ``salt_buckets=None``: single window (fine when keys are ~uniform).
    ``salt_buckets=S``: rows of one key are spread over S sub-partitions by a
    hash of ``seq`` (deterministic, row-unique), top-1 taken per
    ``(key, salt)``, then top-1 of the ≤S survivors per key — the hot key's
    heavy sort is parallelized S-ways and the final window sees tiny input.
    """
    order_cols = order_cols or ["warc_ts", "seq"]
    desc = [F.col(c).desc() for c in order_cols]
    out_cols = df.columns

    if not salt_buckets:
        w = Window.partitionBy(key).orderBy(*desc)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*out_cols)
        )

    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(order_cols[-1])), F.lit(salt_buckets)).cast("int")
    )
    w1 = Window.partitionBy(key, "__salt").orderBy(*desc)
    survivors = (
        salted.withColumn("__rn", F.row_number().over(w1)).filter(F.col("__rn") == 1).drop("__rn", "__salt")
    )
    w2 = Window.partitionBy(key).orderBy(*desc)
    return (
        survivors.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .select(*out_cols)
    )

"""Bootstrap-from-snapshot (G5) — initialize/repair table state from a
source-of-truth snapshot by synthesizing classified change events.

Spark re-expression of the reference's checkpoint builder
(`/root/reference/parser/checkpoint/builder.go:123-190`): the builder diffs
the chain snapshot against DB state per pool and synthesizes a typed tx from
the diff's sign pattern (all-positive → provide, all-negative → withdraw,
mixed → swap, missing pool → create). Here the diff runs as ONE distributed
full-outer join per key (url), classified into insert / update / delete
events, which are applied through the same latest-wins MERGE as live traffic
— so bootstrap-then-tail provably reconverges with full replay (tested in
tests/test_bootstrap.py).

Synthetic events carry ``seq = current watermark``: per-url ordering is all
MERGE compares, so equal-``warc_ts`` ties resolve FOR the bootstrap row
against any stale stored row (stored seq ≤ watermark) and AGAINST any tail
event (tail seq > watermark) — late tail traffic can never be shadowed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cosmwasm_etl_spark.functions.extraction import with_extracted_text
from cosmwasm_etl_spark.plans.pipeline import _page_names, project_df

# bootstrap commits use their own epoch namespace (regular batches are >= 0,
# retries are <= -1000): a bootstrap can never collide with either.
_BOOTSTRAP_EPOCH_BASE = -2000


def classify_snapshot_diff(snapshot: DataFrame, current: DataFrame) -> DataFrame:
    """Full-outer diff snapshot vs current pages, classified per url.

    ``snapshot``: (url, warc_ts, html, lang) — the source of truth.
    ``current``: the table's live pages (url, warc_ts, html, lang, ...).
    Returns (url, op, warc_ts, html, lang) with op ∈ insert|update|delete;
    unchanged urls produce no row (the builder's "nothing changed" skip,
    `builder.go:156-160`)."""
    s = snapshot.select(
        "url",
        F.col("warc_ts").alias("s_ts"),
        F.col("html").alias("s_html"),
        F.col("lang").alias("s_lang"),
    )
    c = current.select(
        "url",
        F.col("warc_ts").alias("c_ts"),
        F.col("html").alias("c_html"),
        F.col("lang").alias("c_lang"),
    )
    j = s.join(c, "url", "full_outer")
    in_s = F.col("s_ts").isNotNull()
    in_c = F.col("c_ts").isNotNull()
    changed = (
        ~F.col("s_ts").eqNullSafe(F.col("c_ts"))
        | ~F.col("s_html").eqNullSafe(F.col("c_html"))
        | ~F.col("s_lang").eqNullSafe(F.col("c_lang"))
    )
    op = (
        F.when(in_s & ~in_c, F.lit("insert"))
        .when(~in_s & in_c, F.lit("delete"))
        .when(in_s & in_c & changed, F.lit("update"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            "url",
            "op",
            F.coalesce(F.col("s_ts"), F.col("c_ts")).alias("warc_ts"),
            F.when(F.col("op") == "delete", F.lit(b"")).otherwise(F.col("s_html")).alias("html"),
            F.col("s_lang").alias("lang"),
        )
    )


def bootstrap_from_snapshot(
    pipe, snapshot: DataFrame, bootstrap_id: int = 0, mode: str = "merge"
) -> dict:
    """Apply the classified snapshot diff to the pipeline's table in one
    epoch-tagged MERGE (idempotent on ``bootstrap_id``). After this, tailing
    the live event log reconverges with a from-scratch full replay.

    ``mode``:

    - ``"merge"`` (default) — latest-wins merge: a stored row whose
      (warc_ts, seq) order tuple is AHEAD of the snapshot's keeps winning.
      Safe to run concurrently with live tailing, but cannot repair a row
      carrying a corrupt/future timestamp.
    - ``"repair"`` — force-apply: snapshot rows unconditionally replace
      stored rows for every url the diff touches (the reference checkpoint
      builder's unconditional reconcile, `builder.go:123-190`). Use from a
      quiesced state: a tail event already delivered but ahead of the
      snapshot would be rolled back (and re-applied when its log range is
      replayed)."""
    if mode not in ("merge", "repair"):
        raise ValueError(f"unknown bootstrap mode: {mode}")
    st = pipe.table.state()
    # the live pages under the names the table was created with, which the
    # snapshot uses, whatever renames happened since
    current = pipe.pages().select(
        *[F.col(cur).alias(first) for first, cur in _page_names(st).items()]
    )
    events = classify_snapshot_diff(snapshot, current)
    seq = max(st.watermark, 0)
    extracted = with_extracted_text(events, html_col="html", out_text="text")
    ok = (
        extracted.filter(F.col("__extract_err").isNull())
        .withColumn("seq", F.lit(seq).cast("long"))
        .withColumn("deleted", F.col("op") == "delete")
    )
    # to the CURRENT (possibly evolved) table schema, by field id
    batch = project_df(ok, st)
    res = pipe.table.merge_upserts(
        batch,
        epoch=_BOOTSTRAP_EPOCH_BASE - int(bootstrap_id),
        op_col=None,
        order_cols=["warc_ts", "seq"],
        force=(mode == "repair"),
    )
    return {"bootstrap_id": bootstrap_id, "mode": mode, **res}

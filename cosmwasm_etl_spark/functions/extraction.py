"""Deterministic html→text extraction (Arrow-vectorized).

This layer is the graft of the reference's parser: the eventlog subsequence
matcher (`/root/reference/pkg/eventlog/finder.go:36-116`) + typed mappers
(`/root/reference/parser/dex/mapper.go:36-339`) become a single deterministic
``html: binary → (text: string, err: string|null)`` transform, with the same
contract the reference enforces:

- **byte-identical output per input** (the mapper golden-output tests,
  `parser/dex/dezswap/mappers_test.go`): the core is a pure Python function of
  the input bytes only — no locale, no environment, no library-version drift
  (stdlib ``re`` + ``html.unescape`` only);
- **ambiguity → quarantine, never crash** (`pkg/eventlog/util.go:58-114`
  AmbiguousEventError → `parser/dex/quarantine.go`): undecodable payloads
  return an ``err`` reason and are routed to the dead-letter table.

Execution: Arrow-batched ``pandas_udf`` — the batch loop runs in Python but
rows move via Arrow columnar batches (no per-row Python UDF serialization),
per the engine's "vectorized pandas/Arrow UDFs only" rule.
"""

from __future__ import annotations

import functools as _functools
import html as _html
import re

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# Quarantine threshold: fraction of U+FFFD replacement chars above which the
# payload is considered undecodable (deterministic, byte-derived).
_MAX_REPLACEMENT_RATIO = 0.30

_RE_SCRIPT_STYLE = re.compile(r"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL)
_RE_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
_RE_TAG = re.compile(r"<[^>]*>", re.DOTALL)
# truncated documents (common in crawls) may end inside a tag — strip it too
_RE_TAG_UNCLOSED = re.compile(r"<[^>]*\Z", re.DOTALL)
_RE_WS = re.compile(r"\s+")


def _decode_or_quarantine(data: bytes | None) -> tuple[str, str | None]:
    """The quarantine rule, shared by every extractor version and the cheap
    pre-check: utf-8 decode with U+FFFD replacement, and a replacement ratio
    above 30% -> ("", "invalid_encoding"). Empty/None input decodes to ""."""
    if data is None or len(data) == 0:
        return "", None
    raw = bytes(data).decode("utf-8", errors="replace")
    if raw.count("�") / len(raw) > _MAX_REPLACEMENT_RATIO:
        return "", "invalid_encoding"
    return raw, None


def extract_text_bytes(data: bytes | None) -> tuple[str, str | None]:
    """Pure, deterministic extraction core. Returns (text, err_reason|None).

    Rules (fixed — golden tests pin the exact bytes):
      1. empty/None input -> ("", None)
      2. utf-8 decode with U+FFFD replacement; if replacement ratio > 30%
         -> ("", "invalid_encoding")  [dead-letter]
      3. strip <script>/<style> blocks, comments, all tags
      4. unescape HTML entities (stdlib html.unescape, incl. numeric)
      5. collapse all whitespace runs to single spaces; strip ends
    """
    raw, err = _decode_or_quarantine(data)
    if err is not None:
        return "", err
    s = _RE_SCRIPT_STYLE.sub(" ", raw)
    s = _RE_COMMENT.sub(" ", s)
    s = _RE_TAG.sub(" ", s)
    s = _RE_TAG_UNCLOSED.sub(" ", s)
    s = _html.unescape(s)
    s = _RE_WS.sub(" ", s).strip()
    return s, None


def check_quarantine_bytes(data: bytes | None) -> str | None:
    """Decode-only validity check (the cheap first pass): returns the same
    ``err`` reason :func:`extract_text_bytes` would, without paying for tag
    stripping. Lets the pipeline quarantine-check EVERY event but run full
    extraction only on dedup winners (scale: winners ≪ events)."""
    return _decode_or_quarantine(data)[1]


@_functools.lru_cache(maxsize=1)
def check_quarantine_udf():
    """Arrow-vectorized decode-validity check (lazy: pandas_udf needs an
    active SparkSession to parse its return type)."""

    @pandas_udf(T.StringType())
    def _udf(html_col: pd.Series) -> pd.Series:
        return pd.Series([check_quarantine_bytes(v) for v in html_col], dtype="object")

    return _udf


def extract_text_bytes_v2(data: bytes | None) -> tuple[str, str | None]:
    """Parser version 2 (M5 analog — the reference dispatches mapper
    versions by height, `parser/dex/dezswap/pair.mappers.go:41-58`,
    `MainnetV2Height` in `pkg/dex/dezswap/consts.go`): v1 rules plus
    stripping of <noscript>/<template> blocks."""
    raw, err = _decode_or_quarantine(data)
    if err is not None:
        return "", err
    s = re.sub(r"<(noscript|template)\b[^>]*>.*?</\1\s*>", " ", raw, flags=re.I | re.S)
    s = _RE_SCRIPT_STYLE.sub(" ", s)
    s = _RE_COMMENT.sub(" ", s)
    s = _RE_TAG.sub(" ", s)
    s = _RE_TAG_UNCLOSED.sub(" ", s)
    s = _html.unescape(s)
    s = _RE_WS.sub(" ", s).strip()
    return s, None


_EXTRACTORS = {1: extract_text_bytes, 2: extract_text_bytes_v2}


def extractor_for_epoch(bounds, epoch: int):
    """The extractor core for ``epoch`` under sorted ``(from_epoch,
    version)`` bounds: the version of the greatest boundary ≤ ``epoch``.
    Rows before the first boundary use the first version (the reference's
    default-mapper behavior, `parser/dex/dezswap/pair.mappers.go:41-58`).
    Both apply paths dispatch through this one rule."""
    core = _EXTRACTORS[bounds[0][1]]
    for from_epoch, version in bounds:
        if epoch >= from_epoch:
            core = _EXTRACTORS[version]
        else:
            break
    return core


@_functools.lru_cache(maxsize=4)
def extract_text_udf_v(version: int = 1):
    """Arrow-vectorized wrapper over the extractor core of ``version``."""
    core = _EXTRACTORS[version]
    ret = T.StructType(
        [T.StructField("text", T.StringType()), T.StructField("err", T.StringType())]
    )

    @pandas_udf(ret)
    def _udf(html_col: pd.Series) -> pd.DataFrame:
        texts, errs = [], []
        for v in html_col:
            t, e = core(v)
            texts.append(t)
            errs.append(e)
        return pd.DataFrame({"text": texts, "err": errs})

    return _udf


@_functools.lru_cache(maxsize=8)
def _extract_dispatch_udf(bounds: tuple[tuple[int, int], ...]):
    """One Arrow UDF that dispatches extractor version per row by epoch.

    A filter+union per version would duplicate the whole upstream plan (and
    any Observation node in it) once per version; a ``when`` over N UDF
    columns would run every version on every row (Catalyst evaluates python
    UDFs unconditionally). Dispatching INSIDE one UDF keeps the plan linear
    and runs exactly one extractor per row (see :func:`extractor_for_epoch`)."""
    ret = T.StructType(
        [T.StructField("text", T.StringType()), T.StructField("err", T.StringType())]
    )

    @pandas_udf(ret)
    def _udf(html_col: pd.Series, epoch_col: pd.Series) -> pd.DataFrame:
        n = len(html_col)
        texts: list[str | None] = [""] * n
        errs: list[str | None] = [None] * n
        epochs = epoch_col.to_numpy()
        for i in range(n):
            texts[i], errs[i] = extractor_for_epoch(bounds, int(epochs[i]))(html_col.iloc[i])
        return pd.DataFrame({"text": texts, "err": errs})

    return _udf


def with_extracted_text_versioned(
    df,
    version_boundaries: list[tuple[int, int]],
    epoch_col: str = "epoch",
    html_col: str = "html",
    out_text: str = "text",
    out_err: str = "__extract_err",
):
    """Version-dispatched extraction (M5): ``version_boundaries`` is a sorted
    list of (from_epoch, version); rows pick the version whose boundary is
    the greatest ≤ their epoch."""
    bounds = tuple(sorted(version_boundaries))
    tmp = "__extract_struct"
    return (
        df.withColumn(tmp, _extract_dispatch_udf(bounds)(F.col(html_col), F.col(epoch_col)))
        .withColumn(out_text, F.col(f"{tmp}.text"))
        .withColumn(out_err, F.col(f"{tmp}.err"))
        .drop(tmp)
    )


def with_extracted_text(df, html_col: str = "html", out_text: str = "text", out_err: str = "__extract_err"):
    """Attach extracted text + error column in one projection.

    The struct is materialized once, then split — avoids double UDF execution.
    """
    tmp = "__extract_struct"
    return (
        df.withColumn(tmp, extract_text_udf_v(1)(F.col(html_col)))
        .withColumn(out_text, F.col(f"{tmp}.text"))
        .withColumn(out_err, F.col(f"{tmp}.err"))
        .drop(tmp)
    )

"""Pure-Python reference implementations ("oracles") of the hash-seeded
dedup/ANN operators, used to precompute expected-output parquet fixtures
that DuckDB can read — closing the driver's correctness loop for queries
whose semantics depend on Spark's ``xxhash64`` and therefore cannot be
re-expressed in portable ANSI SQL.

Everything here is an independent re-derivation from public algorithms:

- XXH64 (Yann Collet's public xxHash spec) with Spark's per-type chaining
  semantics (``org.apache.spark.sql.catalyst.expressions.XXH64``):
  IntegerType hashes via the 4-byte tail step, LongType via the 8-byte
  tail step, StringType as standard XXH64 over UTF-8 bytes; multi-arg
  ``xxhash64(a, b, ...)`` folds left with seed 42. The implementation
  lives in :mod:`lakehouse.arrow_apply`, whose bucket routing uses it;
  it is re-exported here.
- Unicode tokenization mirroring ``functions.text.tokens`` (split on
  non-letter/digit/apostrophe, lowercase).
- MinHash/LSH banding, SimHash voting, and random-hyperplane ANN exactly
  as specified by the docstrings in ``functions.dedup`` /
  ``functions.similarity`` (the hyperplane generator is shared code).

Parity with the Spark engine is pinned by tests/test_pyoracle.py: the
Python pipeline must reproduce the Spark results hash-for-hash at sf0.001
and sf0.01 — so a drift in either side fails pytest before it can skew
the driver's CORRECTNESS comparison.

Reference parity anchor: the Go reference verifies hash-dependent mapper
outputs against golden fixtures the same way
(parser/dex/dezswap/mappers_test.go:16).
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import ROUND_HALF_UP, Decimal

from cosmwasm_etl_spark.lakehouse.arrow_apply import (  # noqa: F401 — re-exported
    _MASK,
    SPARK_SEED,
    hash_bytes,
    hash_int,
    hash_long,
    to_signed,
    xxh64_longs,
    xxh64_str,
)


def round_half_up(x: float, digits: int) -> float:
    """Spark's ``F.round`` on doubles: BigDecimal.valueOf(x).setScale(d,
    HALF_UP) — Double.toString and Python repr produce the same shortest
    decimal, so Decimal(repr(x)) reproduces BigDecimal.valueOf(x)."""
    if x is None or math.isnan(x) or math.isinf(x):
        return x
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


# ---------------------------------------------------------------------
# text pipeline (mirrors functions/text.py tokens/shingles)
# ---------------------------------------------------------------------


def tokens_py(text: str | None) -> list[str]:
    """Lowercase word tokens: split on any char outside Unicode
    letters/digits/apostrophe (Java ``[^\\p{L}\\p{N}']+``; Python
    ``str.isalnum`` covers the same L*/N* categories)."""
    if text is None:
        return []
    out: list[str] = []
    cur: list[str] = []
    for ch in text.strip().lower():
        if ch == "'" or ch.isalnum():
            cur.append(ch)
        else:
            if cur:
                out.append("".join(cur))
                cur = []
    if cur:
        out.append("".join(cur))
    return out


def shingle_hashes_py(text: str | None, n: int = 3) -> list[int]:
    """Signed 64-bit shingle hashes, bit-identical to
    ``functions.text.shingles``: hash each token once, then fold n shifted
    slices with chained xxhash64."""
    th = [xxh64_str(t) for t in tokens_py(text)]
    cnt = max(len(th) - (n - 1), 0)
    acc = th[:cnt]
    for j in range(1, n):
        acc = [xxh64_longs(a, b) for a, b in zip(acc, th[j : j + cnt])]
    return acc


def _distinct_keep_order(vals: list[int]) -> list[int]:
    seen: set[int] = set()
    out = []
    for v in vals:
        if v not in seen:
            seen.add(v)
            out.append(v)
    return out


# ---------------------------------------------------------------------
# MinHash + banded LSH (mirrors functions/dedup.py minhash_lsh_pairs)
# ---------------------------------------------------------------------


def minhash_lsh_pairs_py(
    docs: list[tuple[int, str | None]],
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    seed: int = 42,
) -> list[tuple[int, int, float]]:
    """(id_a, id_b, jaccard) rows matching ``minhash_lsh_pairs`` exactly."""
    r = k // bands
    # per-permutation inner seeds: hashInt(seed+i, 42) is the constant
    # prefix of xxhash64(lit(seed+i), h)
    perm_seed = [hash_int(seed + i, SPARK_SEED) for i in range(k)]
    shingle_sets: dict[int, set[int]] = {}
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, text in docs:
        sh = _distinct_keep_order(shingle_hashes_py(text, n))
        shingle_sets[doc_id] = set(sh)
        if not sh:
            continue  # minhash_signatures drops shingle-less docs
        sig = [min(to_signed(hash_long(h, perm_seed[i])) for h in sh) for i in range(k)]
        for b in range(bands):
            bh = xxh64_longs(*sig[b * r : (b + 1) * r])
            buckets.setdefault((b, bh), []).append(doc_id)
    cand: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if len(ids) < 2:
            continue
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    out = []
    for id_a, id_b in sorted(cand):
        sa, sb = shingle_sets[id_a], shingle_sets[id_b]
        inter = len(sa & sb)
        uni = len(sa) + len(sb) - inter
        jac = inter / uni if uni > 0 else 0.0
        if jac >= threshold:
            out.append((id_a, id_b, round_half_up(jac, 6)))
    return out


# ---------------------------------------------------------------------
# SimHash (mirrors functions/dedup.py simhash64 / simhash_near_dups)
# ---------------------------------------------------------------------


def simhash64_py(text: str | None) -> int | None:
    """Signed 64-bit SimHash (occurrence-weighted token votes), or None
    for token-less docs."""
    toks = tokens_py(text)
    if not toks:
        return None
    votes = [0] * 64
    for t in toks:
        u = xxh64_str(t) & _MASK
        for b in range(64):
            votes[b] += 1 if (u >> b) & 1 else -1
    u = 0
    for b in range(64):
        if votes[b] > 0:
            u |= 1 << b
    return to_signed(u)


def simhash_near_dups_py(
    docs: list[tuple[int, str | None]], max_hamming: int = 3
) -> list[tuple[int, int, int]]:
    """(id_a, id_b, hamming) rows matching ``simhash_near_dups``."""
    hashes = {d: simhash64_py(t) for d, t in docs}
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, h in hashes.items():
        if h is None:
            continue
        u = h & _MASK
        for b in range(4):
            buckets.setdefault((b, (u >> (b * 16)) & 0xFFFF), []).append(doc_id)
    out: set[tuple[int, int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = ids[i], ids[j]
                ham = bin((hashes[a] ^ hashes[b]) & _MASK).count("1")
                if ham <= max_hamming:
                    out.add((a, b, ham))
    return sorted(out)


# ---------------------------------------------------------------------
# Random-hyperplane LSH ANN (mirrors functions/similarity.py
# lsh_bucketed_topk; the hyperplane generator is SHARED code)
# ---------------------------------------------------------------------


def _dot_py(a: list[float], b: list[float]) -> float:
    """Sequential left fold — must match F.aggregate's accumulation order
    bit-for-bit."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _norm_py(a: list[float]) -> float:
    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc)


def lsh_bucketed_topk_py(
    vecs: list[tuple[int, list[float]]],
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    query_max_id: int = 20,
    multiprobe: bool = True,
) -> list[tuple[int, int, float, int]]:
    """(query_id, neighbor_id, cosine, rank) rows matching
    ``lsh_bucketed_topk`` with queries = vec_id < query_max_id."""
    from cosmwasm_etl_spark.functions.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)

    def bucket(v: list[float]) -> int:
        key = 0
        for p, plane in enumerate(planes):
            if _dot_py(v, plane) >= 0:
                key |= 1 << p
        return key

    keyed = [(vid, v, bucket(v)) for vid, v in vecs]
    by_bucket: dict[int, list[tuple[int, list[float]]]] = {}
    for vid, v, bk in keyed:
        by_bucket.setdefault(bk, []).append((vid, v))
    out: list[tuple[int, int, float, int]] = []
    for qid, qv, qb in keyed:
        if qid >= query_max_id:
            continue
        probes = [qb] + ([qb ^ (1 << p) for p in range(n_planes)] if multiprobe else [])
        scored: dict[int, float] = {}
        qn = _norm_py(qv)
        for pb in probes:
            for nid, nv in by_bucket.get(pb, []):
                if nid == qid or nid in scored:
                    continue
                scored[nid] = round_half_up(_dot_py(nv, qv) / (_norm_py(nv) * qn), 6)
        ranked = sorted(scored.items(), key=lambda t: (-t[1], -t[0]))[:k]
        for rank, (nid, cos) in enumerate(ranked, start=1):
            out.append((qid, nid, cos, rank))
    return out


def _unit_py(v: list[float]) -> list[float]:
    acc = 0.0
    for x in v:
        acc = acc + x * x
    n = math.sqrt(acc)
    return [x / n for x in v] if n > 0 else list(v)


def train_ivf_centroids_py(
    vecs: list[tuple[int, list[float]]],
    dim: int,
    n_cells: int = 16,
    sample_cap: int = 1024,
    iters: int = 3,
) -> list[list[float]]:
    """Independent implementation of the IVF training SPEC
    (similarity.train_ivf_centroids): strided sample by id, first-n init,
    first-max-wins argmax of sequential dots, sequential-mean + normalize
    per Lloyd iteration. Any IEEE-double implementation of the spec
    produces identical bits, which is what the golden fixture relies on."""
    stride = max(1, len(vecs) // sample_cap)
    sample = sorted(
        ((vid, v) for vid, v in vecs if vid % stride == 0), key=lambda t: t[0]
    )
    cents = [_unit_py(v) for _, v in sample[:n_cells]]
    for _ in range(iters):
        sums = [[0.0] * dim for _ in range(n_cells)]
        counts = [0] * n_cells
        for _, v in sample:
            best, best_s = 0, None
            for ci, c in enumerate(cents):
                s = _dot_py(v, c)
                if best_s is None or s > best_s:
                    best, best_s = ci, s
            counts[best] += 1
            row = sums[best]
            for d in range(dim):
                row[d] += v[d]
        cents = [
            _unit_py([sums[ci][d] / counts[ci] for d in range(dim)]) if counts[ci] else cents[ci]
            for ci in range(n_cells)
        ]
    return cents


def ivf_topk_py(
    vecs: list[tuple[int, list[float]]],
    dim: int,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    sample_cap: int = 1024,
    query_max_id: int = 20,
) -> list[tuple[int, int, float, int]]:
    """(query_id, neighbor_id, cosine, rank) rows matching
    ``similarity.ivf_topk`` with queries = vec_id < query_max_id."""
    cents = train_ivf_centroids_py(vecs, dim, n_cells, sample_cap, iters)

    def cell_scores(v: list[float]) -> list[float]:
        return [_dot_py(v, c) for c in cents]

    def argmax_cell(v: list[float]) -> int:
        s = cell_scores(v)
        best = 0
        for ci in range(1, n_cells):
            if s[ci] > s[best]:
                best = ci
        return best

    by_cell: dict[int, list[tuple[int, list[float]]]] = {}
    for vid, v in vecs:
        by_cell.setdefault(argmax_cell(v), []).append((vid, v))

    out: list[tuple[int, int, float, int]] = []
    for qid, qv in vecs:
        if qid >= query_max_id:
            continue
        s = cell_scores(qv)
        probes = [i for i in sorted(range(n_cells), key=lambda i: (-s[i], i))[:n_probe]]
        qn = _norm_py(qv)
        scored: dict[int, float] = {}
        for pc in probes:
            for nid, nv in by_cell.get(pc, []):
                if nid == qid or nid in scored:
                    continue
                scored[nid] = round_half_up(_dot_py(nv, qv) / (_norm_py(nv) * qn), 6)
        ranked = sorted(scored.items(), key=lambda t: (-t[1], -t[0]))[:k]
        for rank, (nid, cos) in enumerate(ranked, start=1):
            out.append((qid, nid, cos, rank))
    return out


# ---------------------------------------------------------------------
# fixture materialization (the DuckDB-readable expected parquet)
# ---------------------------------------------------------------------

_FIXTURE_VERSION_SALT = b"pyoracle-v1"


def _cache_dir(sf_dir: str) -> str:
    """Content-addressed cache: keyed on this module's source (so a logic
    change invalidates stale fixtures) and the sf dir."""
    with open(__file__, "rb") as f:
        src = f.read()
    tag = hashlib.sha256(_FIXTURE_VERSION_SALT + src + sf_dir.encode()).hexdigest()[:16]
    d = os.path.join("/tmp", "spark_graft_expected", tag)
    os.makedirs(d, exist_ok=True)
    return d


def _read_docs(sf_dir: str) -> list[tuple[int, str | None]]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def _read_embeddings(sf_dir: str) -> list[tuple[int, list[float]]]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    # float32 parquet values widened element-wise to double, as the Spark
    # queries do with transform(cast)
    return [
        (vid, [float(x) for x in emb])
        for vid, emb in zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    ]


def ensure_expected_fixture(name: str, sf_dir: str) -> str:
    """Compute-and-cache the expected parquet for one hash-seeded query;
    returns the parquet path. ``name`` in {minhash_lsh_dups, simhash_dups,
    lsh_ann}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(_cache_dir(sf_dir), f"{name}.parquet")
    if os.path.exists(path):
        return path
    if name == "minhash_lsh_dups":
        rows = minhash_lsh_pairs_py(_read_docs(sf_dir), n=3, k=32, bands=8, threshold=0.12)
        tbl = pa.table(
            {
                "id_a": pa.array([r[0] for r in rows], pa.int64()),
                "id_b": pa.array([r[1] for r in rows], pa.int64()),
                "jaccard": pa.array([r[2] for r in rows], pa.float64()),
            }
        )
    elif name == "simhash_dups":
        rows = simhash_near_dups_py(_read_docs(sf_dir), max_hamming=3)
        tbl = pa.table(
            {
                "id_a": pa.array([r[0] for r in rows], pa.int64()),
                "id_b": pa.array([r[1] for r in rows], pa.int64()),
                "hamming": pa.array([r[2] for r in rows], pa.int32()),
            }
        )
    elif name == "ivf_ann":
        rows = ivf_topk_py(
            _read_embeddings(sf_dir), dim=64, k=5, n_cells=16, n_probe=4,
            iters=2, sample_cap=256, query_max_id=20,
        )
        tbl = pa.table(
            {
                "query_id": pa.array([r[0] for r in rows], pa.int64()),
                "neighbor_id": pa.array([r[1] for r in rows], pa.int64()),
                "cosine": pa.array([r[2] for r in rows], pa.float64()),
                "rank": pa.array([r[3] for r in rows], pa.int32()),
            }
        )
    elif name == "lsh_ann":
        rows = lsh_bucketed_topk_py(
            _read_embeddings(sf_dir), dim=64, k=5, n_planes=6, query_max_id=20
        )
        tbl = pa.table(
            {
                "query_id": pa.array([r[0] for r in rows], pa.int64()),
                "neighbor_id": pa.array([r[1] for r in rows], pa.int64()),
                "cosine": pa.array([r[2] for r in rows], pa.float64()),
                "rank": pa.array([r[3] for r in rows], pa.int32()),
            }
        )
    else:
        raise ValueError(f"unknown expected fixture {name!r}")
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path

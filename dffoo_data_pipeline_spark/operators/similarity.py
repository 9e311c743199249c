"""Embedding similarity search (SURVEY.md §2k; BASELINE north star).

Every search here is one composition of four steps, each defined once:

1. **Scorer** — a block of query vectors against a block of index vectors
   gives a ranking ``key`` and a reported ``cos`` matrix.  `_int_scores`
   (integer codes: key d·|d|/(n2a·n2b), cos d/√(n2a·n2b), exact in any
   engine) and `_float_scores` (raw floats: key S, cos round(S, 6)); both
   take the two stacked float64 matrices.
2. **Selection** — `_rank_topk` (top-k per query row) and `_pairs`
   (all pairs at or above a threshold, doc_a < doc_b).
3. **Driver** — where the blocks come from: the grouped kernel
   `_exact_cos_topk_kernel` (one bucket or cell per group; ``is_probe``
   rows are queries only), the cogrouped `_exact_cos_probe_kernel`
   (queries on the left, index members on the right) or the broadcast
   driver `_broadcast_index_map` (a bounded index collected once,
   queries streamed through `mapInPandas` and scored `_SCORE_BLOCK` rows
   at a time).
4. **Merge** — `_merge_topk`: multi-bucket paths rank per bucket, then
   keep the global top-k per query on the kernel's exact ``rank_key``.

Bucketing is shared too: `_sign_bucket` is the one sign-LSH bucket id,
`_multiprobe_side` the one margin-ordered multi-probe schedule and
`_nearest_seeds` the one integer seed assignment (seeded IVF cells,
dedup_semantic_int8's clusters).

`dot` is the package's one vector dot product as a Spark column: a left
fold over ``zip_with`` in bigint (exact) or double (element order), with
a weight vector passed as one numpy-array literal.

`exact_topk_int` is the exact integer truth of every integer recall
report: the broadcast driver with `_int_scores` and `_rank_topk`.

Operators: exact broadcast search (`cosine_topk_bruteforce`,
`cosine_neardup_pairs`, `cosine_topk_against_index`), float ANN
(`lsh_topk`, `lsh_neardup_pairs`, `ivf_topk`), integer-exact ANN with
value-hash oracles (`lsh_topk_int`, `lsh_multiprobe_topk_int`,
`ivf_topk_int`, `lsh_probe_topk_int` over a `lsh_bucket_index_int`
index), their exact truth `exact_topk_int` and the size-routed entry
points (`cosine_topk_auto`, `cosine_neardup_auto`).

Contract of every top-k: rows ordered ``(key DESC, neighbor_id ASC)``,
ties at the k-th key resolved to the lowest neighbor ids whatever the
input order, and a non-finite score (a zero-norm vector, a masked self
match) is never a neighbor.

Scale: the broadcast index must fit executor memory (~1.5 GB per 5M×64
float64 vectors) — beyond that, partition the index (`lsh_topk`,
`ivf_topk`, the int paths) so each task scans one bucket or cell.
Queries never collect to the driver; only the bounded index does
(explicitly, as an index build).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Broadcast-index ceiling: ~1 GB of float64 at 64 dims.  Beyond this the
# exact broadcast kernel is a driver/executor OOM at cluster scale, so the
# routed entry points (`cosine_topk_auto` / `cosine_neardup_auto`) switch
# to the LSH-bucketed path instead of collecting.
DEFAULT_MAX_INDEX_ROWS = 2_000_000

# Query rows the broadcast driver scores at once: a Python worker holds
# _SCORE_BLOCK × |index| scores, not Arrow-batch × |index| (at 20k index
# rows, ~40 MB per score matrix instead of ~1.6 GB).
_SCORE_BLOCK = 256

_TOPK = ("query_id", "neighbor_id", "cos_sim")
_PAIRS = ("doc_a", "doc_b", "cos_sim")


class IndexTooLargeError(ValueError):
    """Raised when the exact broadcast-index path would materialize more
    than `max_index_rows` vectors — the caller should use a partitioned
    index (`lsh_topk` / `ivf_topk` / `lsh_neardup_pairs`) instead."""


def _schema(df: DataFrame, id_col: str, *names: str) -> T.StructType:
    """Output schema of `names`: cos_sim and rank_key are doubles, rank an
    int, and every other (id) column takes `id_col`'s type in `df`."""
    id_type = df.schema[id_col].dataType
    types = {"cos_sim": T.DoubleType(), "rank_key": T.DoubleType(), "rank": T.IntegerType()}
    return T.StructType([T.StructField(n, types.get(n, id_type)) for n in names])


def _stack(col: pd.Series) -> np.ndarray:
    return np.stack(col.to_numpy()).astype(np.float64)


def _int_scores(Q: np.ndarray, M: np.ndarray):
    """Exact-integer scorer over stacked integer codes (as float64).

    The dot products and squared norms n2 are exact integers computed
    THROUGH float64 BLAS (numpy's int64 matmul has no BLAS path):
    per-element products ≤ 128² and row sums ≤ 128²·dim < 2²¹, so every
    partial sum is an integer far below 2⁵³ and float64 accumulation is
    exact in any summation order; rint only normalizes the sign of zero.
    The key d·|d|/(n2a·n2b) and cos d/√(n2a·n2b) are single
    correctly-rounded IEEE ops on exact ≤2⁵³ integers (n2a·n2b ≤ 2⁴⁰) —
    bit-identical in any engine, so the DuckDB oracle replays the ranking
    with no float tolerance (dedup_semantic_int8's contract,
    plans/embeddings.py).  A zero-norm code scores NaN, which the
    selection drops.
    """
    D = np.rint(Q @ M.T)
    den = np.outer(np.einsum("ij,ij->i", Q, Q), np.einsum("ij,ij->i", M, M))
    with np.errstate(divide="ignore", invalid="ignore"):
        return D * np.abs(D) / den, D / np.sqrt(den)


def _float_scores(Q: np.ndarray, M: np.ndarray):
    """Float scorer: key = cosine S, reported cos = round(S, 6).  A
    zero-norm vector scores NaN, which the selection drops."""
    S = (Q @ M.T) / np.outer(np.linalg.norm(Q, axis=1), np.linalg.norm(M, axis=1))
    return S, np.round(S, 6)


def _rank_topk(ids_q, ids_i, key, cos, k: int, names, mask_self: bool = True):
    """Top-k index columns per query row of a scored block, as a frame
    of the `names` columns (query_id, neighbor_id, cos_sim, and
    optionally rank_key = the exact key, rank = 1-based position).

    Order is (key DESC, neighbor_id ASC).  argpartition alone picks
    arbitrarily among keys tied with the k-th one, so the cut is
    WIDENED to every column whose key reaches the k-th key and the
    widened set is sorted by (key DESC, id ASC) before truncating to k —
    exact for any data and still O(m) per row when ties are rare.
    Self matches (equal ids, when `mask_self`) and non-finite keys are
    set to -inf and never selected.  `key` is overwritten.
    """
    if mask_self:
        key[ids_q[:, None] == ids_i[None, :]] = -np.inf
    key[~np.isfinite(key)] = -np.inf
    kk = min(k, key.shape[1])
    part = np.argpartition(-key, kk - 1, axis=1)[:, :kk]
    bound = np.take_along_axis(key, part, axis=1).min(axis=1)
    r, c = np.nonzero((key >= bound[:, None]) & (key > -np.inf))
    order = np.lexsort((ids_i[c], -key[r, c], r))
    r, c = r[order], c[order]
    pos = np.arange(len(r)) - np.searchsorted(r, r)  # position within row
    keep = pos < kk
    r, c, pos = r[keep], c[keep], pos[keep]
    cols = {
        "query_id": ids_q[r],
        "neighbor_id": ids_i[c],
        "cos_sim": cos[r, c],
        "rank_key": key[r, c],
        "rank": pos + 1,
    }
    return pd.DataFrame({n: cols[n] for n in names})


def _pairs(ids_q, Q, ids_i, M, threshold: float) -> pd.DataFrame:
    """Every (doc_a < doc_b) pair whose rounded cosine is ≥ threshold."""
    _, S = _float_scores(Q, M)
    r, c = np.nonzero((S >= threshold) & (ids_q[:, None] < ids_i[None, :]))
    return pd.DataFrame({"doc_a": ids_q[r], "doc_b": ids_i[c], "cos_sim": S[r, c]})


def _exact_cos_topk_kernel(id_col: str, k: int, out_schema, score=_int_scores, vec="c"):
    """applyInPandas kernel: exact cosine top-k inside one group.

    Every row of the group is a query; the non-probe rows are the index.
    `score` is `_int_scores` over the codes column `vec` = "c" or
    `_float_scores` over the float column `vec` = "v".  Multi-bucket
    callers put ``rank_key`` in `out_schema` so the global merge orders
    by the exact key the kernel ranked by: merging on the reported
    ``cos_sim`` would be a second, independent rounding — two distinct
    keys can round to equal cos values, and the merge's neighbor_id
    tie-break would then diverge from the oracle at the k boundary.
    """
    names = out_schema.fieldNames()

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        idx = pdf[~pdf["is_probe"]]
        if len(idx) == 0:
            return pd.DataFrame({n: [] for n in names})
        ids_q, ids_i = pdf[id_col].to_numpy(), idx[id_col].to_numpy()
        return _rank_topk(ids_q, ids_i, *score(_stack(pdf[vec]), _stack(idx[vec])), k, names)

    return rank_group


def _exact_cos_probe_kernel(id_col: str, k: int, out_schema):
    """Cogrouped ASYMMETRIC twin of `_exact_cos_topk_kernel`: left cogroup
    side = query rows of one bucket (multiprobe duplicates included),
    right side = index members of that bucket.  Only left rows are
    ranked, only right rows are ranked into — the search(queries, index)
    contract.  Cogroup (vs a unioned groupBy) is what lets a PERSISTED
    hash-bucketed index satisfy its own side's distribution: the index
    scan arrives pre-partitioned on `bucket` and only the query side
    exchanges (pinned by tests/test_bucketing.py)."""
    names = out_schema.fieldNames()

    def rank_probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({n: [] for n in names})
        ids_q, ids_i = left[id_col].to_numpy(), right["__iid"].to_numpy()
        scores = _int_scores(_stack(left["c"]), _stack(right["__ic"]))
        return _rank_topk(ids_q, ids_i, *scores, k, names)

    return rank_probe


def _collect_index(
    df: DataFrame, id_col: str, vec_col: str, max_rows: int = DEFAULT_MAX_INDEX_ROWS
):
    """Materialize the index side as numpy: ids and the float64 matrix.

    The collect is hard-bounded: at most `max_rows + 1` rows ever leave
    the executors, and exceeding `max_rows` raises `IndexTooLargeError`
    instead of OOMing the driver.  Measured guard cost vs the unbounded
    collect at sf0.1: limit-probe +43 ms vs a separate count() job
    +113 ms — the single bounded job wins.
    """
    # NULL vectors participate in nothing (they have no geometry), and
    # filtering them here keeps np.stack from ever seeing a ragged batch
    pdf = (
        df.where(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .limit(max_rows + 1)
        .toPandas()
    )
    if len(pdf) > max_rows:
        raise IndexTooLargeError(
            f"exact cosine index needs > {max_rows} vectors; "
            "use lsh_topk/ivf_topk/lsh_neardup_pairs (partitioned index) "
            "or raise max_index_rows explicitly"
        )
    ids = pdf[id_col].to_numpy()
    return ids, (_stack(pdf[vec_col]) if len(pdf) else np.zeros((0, 1)))


def _broadcast_index_map(
    probe: DataFrame, index: DataFrame, id_col: str, vec_col: str, max_rows: int, schema, body
) -> DataFrame:
    """Broadcast-index driver: collect the bounded `index` once, broadcast
    it, and stream the non-NULL `probe` rows through
    ``body(ids_q, Q, ids_i, M)`` in blocks of `_SCORE_BLOCK` rows of each
    Arrow batch.  Every body is row-wise (a query row's output depends on
    that row and the index only), so the blocking never changes a row."""
    ids, M = _collect_index(index, id_col, vec_col, max_rows)
    b = probe.sparkSession.sparkContext.broadcast((ids, M))
    block = _SCORE_BLOCK

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_i, M_i = b.value
        for pb in batches:
            if len(pb) and len(ids_i):
                ids_q, Q = pb[id_col].to_numpy(), _stack(pb[vec_col])
                for lo in range(0, len(pb), block):
                    yield body(ids_q[lo : lo + block], Q[lo : lo + block], ids_i, M_i)

    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    probe = probe.where(F.col(vec_col).isNotNull()).select(id_col, vec_col)
    return ensure_min_partitions(probe, id_col).mapInPandas(gen, schema)


def _merge_topk(per_bucket: DataFrame, k: int) -> DataFrame:
    """Global top-k per query over per-bucket top-ks, ordered on the
    kernel's exact ``rank_key`` (then neighbor_id), which is dropped.
    Equal to ranking the candidate union directly when each (query,
    neighbor) pair is a candidate in at most one bucket."""
    w = Window.partitionBy("query_id").orderBy(F.desc("rank_key"), F.asc("neighbor_id"))
    return (
        per_bucket.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn", "rank_key")
    )


def cosine_topk_bruteforce(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    max_index_rows: int = DEFAULT_MAX_INDEX_ROWS,
) -> DataFrame:
    """Exact top-k cosine neighbors for every vector.

    Returns (query_id, neighbor_id, cos_sim) ordered deterministically
    (sim DESC, neighbor_id ASC per query), cos_sim rounded to 6 decimals.
    Raises `IndexTooLargeError` past `max_index_rows` — see
    `cosine_topk_auto` for the self-routing entry point.
    """
    names = _TOPK

    def body(ids_q, Q, ids_i, M):
        return _rank_topk(ids_q, ids_i, *_float_scores(Q, M), k, names)

    return _broadcast_index_map(
        df, df, id_col, vec_col, max_index_rows, _schema(df, id_col, *names), body
    )


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    max_index_rows: int = DEFAULT_MAX_INDEX_ROWS,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup detection);
    doc_a < doc_b.  Same broadcast-index matmul pattern as top-k.
    Raises `IndexTooLargeError` past `max_index_rows` — see
    `cosine_neardup_auto`."""

    def body(ids_q, Q, ids_i, M):
        return _pairs(ids_q, Q, ids_i, M, threshold)

    return _broadcast_index_map(
        df, df, id_col, vec_col, max_index_rows, _schema(df, id_col, *_PAIRS), body
    )


def cosine_topk_against_index(
    probe_df: DataFrame,
    index_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    index_id_col: str | None = None,
    index_vec_col: str | None = None,
    max_index_rows: int = DEFAULT_MAX_INDEX_ROWS,
) -> DataFrame:
    """Exact top-k cosine of every probe against a SEPARATE bounded index
    frame (the asymmetric sibling of `cosine_topk_bruteforce`, which
    scores a corpus against itself and masks self-matches; here probe
    and index are distinct frames — quantized indexes, frozen reference
    sets — and a probe that also lives in the index keeps its match).

    Returns (query_id, neighbor_id, cos_sim, rank), rank 1..k.  Ranking
    sorts on the ROUNDED similarity (1e-6) with neighbor-id tiebreak —
    the same total order a SQL `ROW_NUMBER() OVER (ORDER BY round DESC,
    id)` produces, so an engine-independent oracle can reproduce the
    winners even when two unrounded sims differ only in the last ulps.

    Scale: index is collected via the bounded limit-probe guard
    (`IndexTooLargeError` past `max_index_rows`) and broadcast; probes
    stream through one Arrow-batched pass — no shuffle of the probe
    side at all.  NULL probe vectors are dropped at the boundary (they
    have no geometry to rank with — same contract as `_collect_index`),
    and a zero-norm vector scores NaN against everything, so it has no
    neighbors and is nobody's neighbor.
    """
    names = (*_TOPK, "rank")
    index = index_df.select(
        F.col(index_id_col or id_col).alias(id_col),
        F.col(index_vec_col or vec_col).alias(vec_col),
    )

    def body(ids_q, Q, ids_i, M):
        S, _ = _float_scores(Q, M)
        # round_det's exact floor-half-up form, NOT np.round (half-even)
        R = np.floor(S * 1e6 + 0.5) / 1e6
        return _rank_topk(ids_q, ids_i, R, R, k, names, mask_self=False)

    return _broadcast_index_map(
        probe_df, index, id_col, vec_col, max_index_rows, _schema(probe_df, id_col, *names), body
    )


def exact_topk_int(
    queries: DataFrame, index: DataFrame, id_col: str = "vec_id", k: int = 5
) -> DataFrame:
    """EXACT top-k (query_id, neighbor_id, rank) of the `queries` codes
    against the `index` codes (int8_codes frames: id, c, n2) — the truth
    of every integer recall report.  Ranked by the integer ANN paths' own key
    (`_int_scores`) with a neighbor_id tiebreak; self matches are masked
    and non-finite keys dropped, so a zero-norm code on either side takes
    no part.  The broadcast driver scores `_SCORE_BLOCK` query rows at a
    time in BLAS; past `DEFAULT_MAX_INDEX_ROWS` index codes it raises
    `IndexTooLargeError` — then measure a deterministic query slice
    against an index that fits (similarity_lsh_recall_sampled's shape)."""
    names = ("query_id", "neighbor_id", "rank")

    def body(ids_q, Q, ids_i, M):
        return _rank_topk(ids_q, ids_i, *_int_scores(Q, M), k, names)

    return _broadcast_index_map(
        queries, index, id_col, "c", DEFAULT_MAX_INDEX_ROWS, _schema(queries, id_col, *names), body
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    sample_size: int = 2048,
    seed: int = 42,
    kmeans_iters: int = 8,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index.

    Index build: k-means centroids trained on a BOUNDED sample (the only
    driver materialization, `limit(sample_size)`), broadcast to executors.
    Search: every vector is assigned to its `n_probe` nearest cells, the
    corpus to its 1 nearest; exact cosine re-rank runs per cell via
    applyInPandas, then the per-cell top-ks merge on the unrounded cosine
    (unique per (query, neighbor) pair — the `ivf_topk_int` argument).
    Candidate cost ~ n_probe/n_cells of brute force; recall rises with
    n_probe (measured in tests/test_similarity_ivf.py).

    Scale: one shuffle on cell id; cells partition the corpus, so no
    global index ever sits in one executor — the beyond-memory path, same
    shape as FAISS IVF-Flat distributed over Spark.
    """
    df = df.where(F.col(vec_col).isNotNull())  # NULL vecs have no cell
    out_schema = _schema(df, id_col, *_TOPK, "rank_key")
    pdf = df.select(vec_col).limit(sample_size).toPandas()
    if len(pdf) == 0:
        return df.sparkSession.createDataFrame([], _schema(df, id_col, *_TOPK))
    X = _stack(pdf[vec_col])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    n_cells = min(n_cells, len(X))
    C = X[rng.choice(len(X), size=n_cells, replace=False)]
    for _ in range(kmeans_iters):  # spherical k-means on the sample
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_cells):
            m = X[assign == c]
            if len(m):
                C[c] = m.mean(axis=0)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    bC = df.sparkSession.sparkContext.broadcast(C)
    # a tiny corpus can have fewer cells than the requested probe count —
    # argsort can only yield n_cells columns, so clamp or the repeat/ravel
    # shapes disagree and the executor dies on a length mismatch
    probes = min(n_probe, n_cells)

    def assign_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cm = bC.value
        for pb in batches:
            if len(pb) == 0:
                continue
            Q = _stack(pb["v"])
            Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
            order = np.argsort(-(Qn @ Cm.T), axis=1)[:, :probes]
            out = pb.loc[pb.index.repeat(probes)].reset_index(drop=True)
            out["cell"] = order.ravel()
            # probe > 0 rows are query-only: a vector is indexed in one cell
            out["is_probe"] = np.tile(np.arange(probes) > 0, len(pb))
            yield out

    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    base = ensure_min_partitions(df.select(id_col, F.col(vec_col).alias("v")), id_col)
    assigned = base.mapInPandas(
        assign_cells,
        T.StructType(
            base.schema.fields
            + [T.StructField("cell", T.IntegerType()), T.StructField("is_probe", T.BooleanType())]
        ),
    )
    per_cell = assigned.groupBy("cell").applyInPandas(
        _exact_cos_topk_kernel(id_col, k, out_schema, _float_scores, "v"), out_schema
    )
    return _merge_topk(per_cell, k)


def int_lsh_weights(dim: int, planes: int) -> list[list[int]]:
    """Deterministic integer hyperplane weights in [-1000, 1000].

    A multiplicative-congruential hash over the flat (plane, dim) index
    (Knuth's 1103515245/12345 constants) — pure integer arithmetic, so
    ANY engine reproduces the exact weights from the formula alone.
    Uniform-cube directions instead of gaussian: fine for sign-LSH
    (Achlioptas 2003 shows even ±1 entries preserve the projection
    guarantees), and the integer lattice is what makes the bucket
    assignment bit-for-bit verifiable cross-engine.
    """
    return [
        [((1103515245 * (p * dim + i) + 12345) % 2001) - 1000 for i in range(dim)]
        for p in range(planes)
    ]


def dot(a, b, dtype: str = "double") -> F.Column:
    """``a · b`` as a left fold over ``zip_with``, every element cast to
    `dtype` first: "bigint" (exact, order-free) or "double" (summed in
    element order, as DuckDB's list folds do).  `a` is an array column;
    `b` is an array column or a weight vector, which becomes ONE
    numpy-array literal instead of a Column expression per element."""
    if not isinstance(b, (F.Column, str)):
        b = F.lit(np.asarray(b, dtype={"bigint": np.int64, "double": np.float64}[dtype]))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast(dtype) * y.cast(dtype)),
        F.lit(0).cast(dtype),
        lambda acc, x: acc + x,
    )


def _sign_bucket(dots: list):
    """Sign-LSH bucket id (bigint): bit p is set iff projection p > 0."""
    bits = [(d > 0).cast("bigint") for d in dots]
    return sum((bit * F.lit(1 << i) for i, bit in enumerate(bits[1:], start=1)), bits[0])


def lsh_bucket_index_int(
    codes: DataFrame,
    id_col: str = "vec_id",
    prefix_bits: int = 6,
    dim: int = 64,
) -> DataFrame:
    """The PERSISTABLE ANN index: (id, c, n2, bucket) with bucket = the
    integer-lattice sign-LSH bucket of each vector — the similarity
    twin of `dedup.band_index`.  This is the table the
    steady-state ANN pipeline writes once (hash-bucketed on `bucket`
    via `sources/writers.write_bucketed`) and probes per query batch
    with `lsh_probe_topk_int(indexed=...)`, so the corpus is neither
    re-quantized nor re-shuffled per search; bucket assignment is exact
    integer arithmetic (`int_lsh_weights`), so any engine can rebuild
    or verify the index from the formula alone."""
    W = int_lsh_weights(dim, prefix_bits)
    bucket = _sign_bucket([dot("c", W[p], "bigint") for p in range(prefix_bits)])
    return codes.where(F.col("n2") > 0).select(
        F.col(id_col), "c", "n2", bucket.alias("bucket")
    )


def _multiprobe_side(
    codes: DataFrame, id_col: str, prefix_bits: int, dim: int, n_flip: int
) -> DataFrame:
    """The multi-probe query side (Lv et al. 2007): every live code once
    in its own sign bucket (is_probe = False) and once in each of the
    `n_flip` buckets reached by flipping its lowest-margin sign bits
    (is_probe = True).  Margin = |d_p| with ties on plane index; the
    probe bucket is the XOR of one bit, so the schedule is exact integer
    arithmetic any engine replays, and the probed buckets are distinct."""
    W = int_lsh_weights(dim, prefix_bits)
    dots = [dot("c", W[p], "bigint").alias(f"d{p}") for p in range(prefix_bits)]
    base = codes.where(F.col("n2") > 0).select(F.col(id_col), "c", "n2", *dots)
    d = [F.col(f"d{p}") for p in range(prefix_bits)]
    # array_sort on (|d_p|, p, mask) structs = ORDER BY abs(d), p — the
    # mask rides along so the flip is a pure XOR downstream (F.shiftleft
    # needs a literal bit count)
    margin = F.array(
        *[
            F.struct(
                F.abs(d[p]).alias("m"),
                F.lit(p).alias("p"),
                F.lit(1 << p).cast("bigint").alias("mask"),
            )
            for p in range(prefix_bits)
        ]
    )
    flips = F.slice(F.array_sort(margin), 1, min(n_flip, prefix_bits))
    with_bucket = base.select(
        F.col(id_col), "c", "n2", _sign_bucket(d).alias("bucket"), flips.alias("flips")
    ).localCheckpoint(eager=False)  # feeds the own-bucket AND probe branches
    own = with_bucket.select(
        F.col(id_col), "c", "n2", "bucket", F.lit(False).alias("is_probe")
    )
    probes = with_bucket.select(
        F.col(id_col),
        "c",
        "n2",
        F.explode(
            F.transform(F.col("flips"), lambda s: F.col("bucket").bitwiseXOR(s["mask"]))
        ).alias("bucket"),
        F.lit(True).alias("is_probe"),
    )
    return own.unionByName(probes)


def lsh_topk_int(
    codes: DataFrame,
    id_col: str = "vec_id",
    k: int = 5,
    prefix_bits: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH top-k over integer codes — the
    driver-verifiable twin of `lsh_topk`.

    Input is a quantized-codes frame (id, c: array<bigint>, n2) —
    `plans/embeddings.int8_codes`' output.  Bucket = sign bits of integer
    hyperplane projections (`int_lsh_weights`), so assignment is exact
    integer arithmetic any engine reproduces; within-bucket re-rank uses
    the exact-int cosine kernel.  Same plan shape as `lsh_topk` (one
    shuffle on bucket, quadratic only inside buckets, nothing broadcast);
    the float-hyperplane variant stays for callers with raw embeddings.
    """
    bucketed = lsh_bucket_index_int(codes, id_col, prefix_bits, dim).withColumn(
        "is_probe", F.lit(False)
    )
    out_schema = _schema(codes, id_col, *_TOPK)
    return bucketed.groupBy("bucket").applyInPandas(
        _exact_cos_topk_kernel(id_col, k, out_schema), out_schema
    )


def lsh_multiprobe_topk_int(
    codes: DataFrame,
    id_col: str = "vec_id",
    k: int = 5,
    prefix_bits: int = 6,
    dim: int = 64,
    n_flip: int = 2,
) -> DataFrame:
    """MULTI-PROBE sign-LSH top-k over integer codes (after Lv et al.
    2007, "Multi-Probe LSH"): each query additionally probes the
    `n_flip` buckets obtained by flipping its lowest-margin sign bits —
    the planes whose integer projection |d_p| is smallest are the ones a
    true neighbor most plausibly lands on the other side of, so probing
    them buys most of a second hash table's recall for zero extra index.

    Index membership stays single-bucket (the `lsh_topk_int` table,
    unchanged); only the QUERY side fans out 1+n_flip ways, so the
    shuffle grows by the probe factor while the index does not — the
    standard multi-probe trade.  Every step is exact integer arithmetic
    (`_multiprobe_side`), so the whole probe schedule and ranking
    replays in any engine and the full pipeline carries a value-hash
    oracle.  Candidates per (query, neighbor) pair are unique — a
    neighbor is indexed in exactly one bucket and the probed buckets are
    distinct — so the global top-k over per-bucket top-ks equals ranking
    the candidate union directly (the `ivf_topk_int` cut argument).

    Recall vs the single-probe path is measured in
    tests/test_similarity_routing.py (monotone: the candidate set is a
    strict superset) and reported oracle-checked by
    `similarity_lsh_recall_report`'s multiprobe twin.
    """
    out_schema = _schema(codes, id_col, *_TOPK, "rank_key")
    per_bucket = (
        _multiprobe_side(codes, id_col, prefix_bits, dim, n_flip)
        .groupBy("bucket")
        .applyInPandas(_exact_cos_topk_kernel(id_col, k, out_schema), out_schema)
    )
    return _merge_topk(per_bucket, k)


def _nearest_seeds(
    rows: DataFrame, codes: DataFrame, id_col: str, n_seeds: int, n: int
) -> DataFrame:
    """`rows` (id, c, ...) with the `n` nearest of `n_seeds` deterministic
    seeds each: the live `codes` with id < n_seeds, one output row per
    (row, seed) pair with columns cell (the seed id), sn2, d and rn (its
    1-based rank).  Seeds rank by d·|d|/sn2 DESC, seed id ASC — monotone
    in cosine-to-seed, exact ints ≤ 2⁴⁰ through one IEEE division, so any
    engine replays the assignment.  Callers choose which rows take part:
    a zero-norm row scores 0 against every seed and takes the lowest."""
    seeds = codes.where((F.col(id_col) < n_seeds) & (F.col("n2") > 0)).select(
        F.col(id_col).alias("cell"), F.col("c").alias("sc"), F.col("n2").alias("sn2")
    )
    d = F.col("d")
    w = Window.partitionBy(id_col).orderBy(
        F.desc((d * F.abs(d)).cast("double") / F.col("sn2").cast("double")), F.asc("cell")
    )
    return (
        rows.crossJoin(F.broadcast(seeds))
        .withColumn("d", dot("c", "sc", "bigint"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n)
    )


def ivf_topk_int(
    codes: DataFrame,
    id_col: str = "vec_id",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """Seeded IVF top-k over integer codes — the driver-verifiable twin of
    `ivf_topk`.

    Cells are seeded by the `n_cells` lowest-id vectors (the
    dedup_semantic_int8 convention: deterministic, no trained state), so
    cell assignment is an exact-integer argmax any engine replays; the
    kmeans-trained variant (`ivf_topk`) stays as the quality path with
    measured recall.  Every vector joins its 1 nearest cell as index
    member and its `n_probe` nearest as query; exact-int re-rank per
    cell, then global top-k per query on the exact key.  The two-stage
    ranking equals ranking the candidate union directly because each
    (query, neighbor) pair is a candidate in exactly one cell: every
    index vector is a member of exactly one cell, and a query's probed
    cells are distinct.  So each pair is scored once and the per-cell
    top-k is a superset of that cell's share of the global top-k.

    Scale: one broadcast of n_cells integer code rows + one shuffle on
    cell id — the IVF-Flat shape; nothing grows with corpus size on the
    driver.
    """
    live = codes.where(F.col("n2") > 0)
    assigned = _nearest_seeds(live, codes, id_col, n_cells, max(n_probe, 1)).select(
        id_col, "c", "n2", "cell", (F.col("rn") > 1).alias("is_probe")
    )
    out_schema = _schema(codes, id_col, *_TOPK, "rank_key")
    per_cell = assigned.groupBy("cell").applyInPandas(
        _exact_cos_topk_kernel(id_col, k, out_schema), out_schema
    )
    return _merge_topk(per_cell, k)


def lsh_probe_topk_int(
    query_codes: DataFrame,
    index_codes: DataFrame | None = None,
    id_col: str = "vec_id",
    k: int = 5,
    prefix_bits: int = 6,
    dim: int = 64,
    n_flip: int = 2,
    indexed: DataFrame | None = None,
    validate_index: bool = True,
) -> DataFrame:
    """ASYMMETRIC ANN search: exact-integer cosine top-k over the INDEX
    for every QUERY vector — the search(queries, index) API the
    symmetric self-join variants (`lsh_topk_int`, which rank a corpus
    against itself) don't expose, and the scale sibling of the
    broadcast-bounded `cosine_topk_against_index` (which collects the
    whole index to every executor and stops at `IndexTooLargeError`).

    Index vectors are members of exactly one sign-LSH bucket; each
    query probes its own bucket plus its `n_flip` lowest-margin
    bit-flip buckets (the Lv et al. 2007 multi-probe schedule —
    identical to `lsh_multiprobe_topk_int`'s).  The per-bucket ranking
    is a COGROUP — query rows on one side, index members on the other —
    so only queries are ranked and only members are ranked into;
    candidates per (query, neighbor) are unique (single-bucket
    membership × distinct probed buckets), so the rank_key merge of
    per-bucket top-ks equals ranking the candidate union directly.

    Steady state: pass ``indexed`` — the PERSISTED `lsh_bucket_index_int`
    table, hash-bucketed on `bucket` at write time (`write_bucketed`) —
    instead of ``index_codes``: the bucketed scan satisfies the cogroup's
    index-side distribution, so the corpus is neither re-quantized NOR
    re-shuffled per batch — each search pays a query-batch-sized exchange
    only (plan-pinned by tests/test_bucketing.py; the shape
    `streaming_ann_probe` runs per micro-batch, and the dedup twin of
    this contract is `neardup_against_index(index_bands=...)`).
    Every step is exact integer arithmetic, so the whole
    index+probe+search pipeline carries a value-hash SQL oracle.
    """
    if (index_codes is None) == (indexed is None):
        raise ValueError(
            "pass exactly one of index_codes (raw codes) or indexed "
            "(a persisted lsh_bucket_index_int table)"
        )
    if indexed is None:
        indexed = lsh_bucket_index_int(index_codes, id_col, prefix_bits, dim)
    elif validate_index:
        # a persisted index built with MORE prefix_bits than this probe
        # has buckets outside [0, 2**prefix_bits) — catch it from the
        # data with a min/max agg over the bucket column.  The check is
        # LAZY: it rides the probe plan as a 1-row asserted aggregate
        # broadcast-crossJoined onto the member side, so constructing a
        # probe runs no job, and the domain scan runs (and repeats) only
        # when the probe itself executes.  Built with FEWER bits (a
        # strict subset of the domain) is NOT observable here — the
        # registered plans close that direction with write_bucketed
        # TBLPROPERTIES (expect_table_properties); same asymmetry as the
        # dedup twin's band-domain check.  Pass validate_index=False on
        # repeat probes of a validated index (every registered plan
        # does, after its TBLPROPERTIES check).
        domain_ok = F.col("__lo").isNull() | (
            (F.col("__lo") >= 0) & (F.col("__hi") < (1 << prefix_bits))
        )
        guard = (
            indexed.agg(
                F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi")
            )
            .where(
                F.assert_true(
                    domain_ok,
                    F.concat(
                        F.lit("persisted ANN index bucket domain ["),
                        F.col("__lo").cast("string"),
                        F.lit(", "),
                        F.col("__hi").cast("string"),
                        F.lit(
                            f"] exceeds this probe's prefix_bits={prefix_bits} "
                            f"(domain [0, {1 << prefix_bits})) — the index was "
                            f"built with different parameters"
                        ),
                    ),
                ).isNull()
            )
            .select(F.lit(1).alias("__domain_checked"))
        )
        indexed = indexed.crossJoin(F.broadcast(guard)).drop("__domain_checked")
    # index columns carry __i prefixes: distinct names keep the analyzer's
    # self-lineage attribute dedup from pruning the index side when both
    # cogroup sides derive from one codes frame
    member = indexed.select(
        F.col(id_col).alias("__iid"), F.col("c").alias("__ic"), "bucket"
    )
    if n_flip > 0:
        qside = _multiprobe_side(query_codes, id_col, prefix_bits, dim, n_flip).drop("is_probe")
    else:
        qside = lsh_bucket_index_int(query_codes, id_col, prefix_bits, dim)
    out_schema = _schema(query_codes, id_col, *_TOPK, "rank_key")
    per_bucket = (
        qside.groupBy("bucket")
        .cogroup(member.groupBy("bucket"))
        .applyInPandas(_exact_cos_probe_kernel(id_col, k, out_schema), out_schema)
    )
    return _merge_topk(per_bucket, k)


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (fixed seed → stable buckets)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((planes, dim))


def _lsh_bucketize(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: int,
    prefix_bits: int,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """(id, v, bucket) with bucket = first `prefix_bits` sign bits of the
    random-hyperplane projections — pure JVM column expressions, one pass."""
    # NULL vectors have no signature, and one NULL row in a bucket would
    # make that group's np.stack fail — the same boundary filter as
    # _collect_index
    df = df.where(F.col(vec_col).isNotNull())
    if dim is None:
        first = df.select(vec_col).head()
        dim = len(first[0]) if first is not None else 1
    hp = _hyperplanes(dim, planes, seed)[:prefix_bits]
    dots = [dot(vec_col, hp[p]) for p in range(prefix_bits)]
    return df.select(
        F.col(id_col), F.col(vec_col).alias("v"), _sign_bucket(dots).alias("bucket")
    )


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    planes: int = 16,
    prefix_bits: int = 6,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH.

    Bucket key = first `prefix_bits` sign bits of the hyperplane
    projections; exact cosine re-rank inside each bucket (grouped matmul
    in Arrow batches via applyInPandas).  Vectors in sparse buckets return
    fewer than k neighbors — the standard ANN recall/latency trade,
    measured against brute force in tests/test_similarity.py.  A
    zero-norm vector has no neighbors and is nobody's neighbor.

    Scale: one shuffle on the bucket key (2^prefix_bits buckets; tune
    prefix_bits ≈ log2(n / target_bucket_size)); within-bucket work is
    quadratic in bucket size only, and no index is broadcast — this is
    the partitioned (IVF-style) path for corpora beyond executor memory.
    """
    bucketed = _lsh_bucketize(
        df, id_col, vec_col, planes, prefix_bits, dim, seed
    ).withColumn("is_probe", F.lit(False))
    out_schema = _schema(df, id_col, *_TOPK)
    return bucketed.groupBy("bucket").applyInPandas(
        _exact_cos_topk_kernel(id_col, k, out_schema, _float_scores, "v"), out_schema
    )


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int = 16,
    prefix_bits: int = 6,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate near-dup pairs (cosine ≥ threshold, doc_a < doc_b) via
    LSH bucketing: candidate pairs share a sign-signature prefix, exact
    cosine verify inside each bucket.  Random-hyperplane LSH concentrates
    high-cosine pairs in equal buckets, so recall rises with threshold —
    exactly the regime near-dup detection runs in.

    Scale: one shuffle on the bucket key; within-bucket work quadratic in
    bucket size only; nothing broadcast, nothing collected — the
    beyond-memory fallback `cosine_neardup_auto` routes to."""
    bucketed = _lsh_bucketize(df, id_col, vec_col, planes, prefix_bits, dim, seed)

    def pairs_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, M = pdf[id_col].to_numpy(), _stack(pdf["v"])
        return _pairs(ids, M, ids, M, threshold)

    # a pair can share several prefix buckets only when prefix hashes
    # collide across seeds; with a single signature each pair appears in
    # at most one bucket, but dropDuplicates keeps the contract explicit
    return (
        bucketed.groupBy("bucket")
        .applyInPandas(pairs_bucket, _schema(df, id_col, *_PAIRS))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def cosine_topk_auto(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    max_index_rows: int = DEFAULT_MAX_INDEX_ROWS,
    planes: int = 16,
    prefix_bits: int = 6,
) -> DataFrame:
    """Exact brute-force top-k while the corpus fits the broadcast-index
    ceiling; beyond it, route to the LSH-bucketed partitioned index.

    The size probe is the bounded `limit(cap+1)` collect inside
    `_collect_index` — no unbounded `toPandas()` is reachable from here."""
    try:
        return cosine_topk_bruteforce(df, id_col, vec_col, k, max_index_rows)
    except IndexTooLargeError:
        return lsh_topk(
            df, id_col, vec_col, k=k, planes=planes, prefix_bits=prefix_bits
        )


def cosine_neardup_auto(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    max_index_rows: int = DEFAULT_MAX_INDEX_ROWS,
    planes: int = 16,
    prefix_bits: int = 6,
) -> DataFrame:
    """Exact near-dup pairs under the broadcast ceiling; LSH-bucketed
    candidate generation + exact verify beyond it."""
    try:
        return cosine_neardup_pairs(df, id_col, vec_col, threshold, max_index_rows)
    except IndexTooLargeError:
        return lsh_neardup_pairs(
            df, id_col, vec_col, threshold=threshold, planes=planes, prefix_bits=prefix_bits
        )

"""Embedding-math operators over the `embeddings` table (§2k extension).

The vector column is `array<float>`; everything here is JVM-side column
expressions (`zip_with` + `aggregate` folds) — no UDF, no collect — so
Catalyst keeps the whole plan in codegen and the DuckDB oracle
(`list_transform`/`list_cosine_similarity`, DuckDB ≥ 1.0) can check the
values exactly.

Cross-engine float discipline (see functions/numeric.py): every element
is cast float→double BEFORE arithmetic (exact), per-row folds run
left-to-right in both engines, derived scalars are rounded with the
mode-independent `round_det`, and anything that gets re-aggregated
across rows goes through DECIMAL so partition order can't change the
answer.

Scale notes per operator in the docstrings; the common theme: per-row
array math is embarrassingly parallel (no shuffle at all), and the one
grouped query shuffles on `label` — a bounded-cardinality key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dffoo_data_pipeline_spark.functions import numeric as N
from dffoo_data_pipeline_spark.operators.similarity import _nearest_seeds, dot
from dffoo_data_pipeline_spark.sources.readers import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _sumsq(v) -> F.Column:
    """Σ x² as a double left-fold (cast each float element first — the
    float→double widening is exact, so both engines fold identical
    doubles)."""
    return F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


_NORM_STATS_ORACLE = """
WITH norms AS (
    SELECT label,
           CAST(FLOOR(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
                      * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS norm
    FROM embeddings)
SELECT label,
       COUNT(*) AS n_vecs,
       FLOOR(CAST(SUM(norm) AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000
         AS avg_norm,
       CAST(MIN(norm) AS DOUBLE) AS min_norm,
       CAST(MAX(norm) AS DOUBLE) AS max_norm
FROM norms
GROUP BY label
"""


@_register("embedding_norm_stats", _NORM_STATS_ORACLE)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile (count / mean / min / max) — the sanity
    check every embedding pipeline runs before indexing (un-normalized or
    zero vectors poison cosine math downstream).

    Scale: the norm is a per-row fold (no shuffle); the aggregation
    shuffles on `label` (bounded cardinality) with map-side partial
    aggregation.  The per-row norm is rounded then carried as
    DECIMAL(18,6) so the grouped mean is exact regardless of partition
    order — the float-sum nondeterminism rule from functions/numeric.py.
    """
    e = load_table(spark, sf_dir, "embeddings")
    norms = e.select(
        "label",
        N.round_det(F.sqrt(_sumsq(F.col("embedding"))), 6)
        .cast("decimal(18,6)")
        .alias("norm"),
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        N.round_det(F.sum("norm").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_norm"
        ),
        F.min("norm").cast("double").alias("min_norm"),
        F.max("norm").cast("double").alias("max_norm"),
    )


_N_SEEDS = 8

_NEAREST_SEED_ORACLE = f"""
WITH live AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) AS sumsq
    FROM embeddings),
nonzero AS (SELECT * FROM live WHERE sumsq > 0),
seeds AS (
    SELECT vec_id AS seed_id, emb AS seed_emb, sumsq AS seed_sumsq
    FROM nonzero WHERE vec_id < {_N_SEEDS}),
scored AS (
    SELECT v.vec_id, s.seed_id,
           FLOOR(list_sum(list_transform(list_zip(v.emb, s.seed_emb),
                                         x -> x[1] * x[2]))
                 / (sqrt(v.sumsq) * sqrt(s.seed_sumsq))
                 * 1000000 + 0.5) / 1000000 AS cos_sim
    FROM nonzero v, seeds s)
SELECT vec_id, seed_id, cos_sim FROM (
    SELECT vec_id, seed_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, seed_id) AS rn
    FROM scored)
WHERE rn = 1
"""


@_register("embedding_nearest_seed", _NEAREST_SEED_ORACLE)
def embedding_nearest_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment: route every vector to its closest of
    8 (`_N_SEEDS`) seed vectors by cosine — the partition-assignment step
    of an IVF index (operators/similarity.py:ivf_topk), isolated as an
    oracled query with deterministic seeds (vec_id < 8) instead of
    sampled k-means centroids.

    Zero-norm vectors are filtered on BOTH sides before the division
    (Spark non-ANSI x/0 yields NULL where DuckDB IEEE yields NaN — the
    engines would diverge on which seed "wins" for a zero vector).

    Scale: the seed set is k rows — broadcast joined, so the corpus is
    scored in one map-side pass (no shuffle of the big side); the
    argmin-by-vec window repartitions on vec_id only to pick each row's
    best seed, and a `max_by` re-formulation would eliminate even that.
    Rounded cosine + seed_id tiebreak keeps the winner engine-independent.
    """
    e = load_table(spark, sf_dir, "embeddings")
    nonzero = e.where(_sumsq(F.col("embedding")) > 0)
    seeds = nonzero.where(F.col("vec_id") < _N_SEEDS).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("seed_vec")
    )
    cos = dot("embedding", "seed_vec") / (
        F.sqrt(_sumsq(F.col("embedding"))) * F.sqrt(_sumsq(F.col("seed_vec")))
    )
    scored = nonzero.join(F.broadcast(seeds)).select(
        "vec_id", "seed_id", N.round_det(cos, 6).alias("cos_sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "seed_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


_QUANTIZE_ORACLE = """
WITH params AS (
    SELECT vec_id,
           CAST(list_min(embedding) AS DOUBLE) AS lo,
           CAST(list_max(embedding) AS DOUBLE) AS hi
    FROM embeddings),
quant AS (
    SELECT p.vec_id, p.lo, p.hi,
           CASE WHEN p.hi = p.lo THEN 0.0 ELSE (p.hi - p.lo) / 255 END AS scale,
           CASE WHEN p.hi = p.lo
                THEN list_transform(e.embedding::DOUBLE[], x -> CAST(0 AS BIGINT))
                ELSE list_transform(e.embedding::DOUBLE[],
                                    x -> CAST(FLOOR((x - p.lo) / ((p.hi - p.lo) / 255)
                                                    + 0.5) AS BIGINT))
           END AS q
    FROM params p JOIN embeddings e USING (vec_id))
SELECT vec_id,
       FLOOR(lo * 1000000 + 0.5) / 1000000 AS lo,
       FLOOR(scale * 1000000 + 0.5) / 1000000 AS scale,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       list_min(q) AS q_min,
       list_max(q) AS q_max
FROM quant
"""


@_register("embedding_quantize_int8", _QUANTIZE_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector min/max int8-range quantization (the storage-shrink step
    before shipping an index): emits the affine params plus integer
    checksums (sum/min/max of the quantized codes) so the oracle verifies
    the actual quantized values, not just the params.

    Scale: pure per-row array expressions — no shuffle, no UDF; 4×
    smaller index memory at serving time.  Determinism: the quantized
    codes are exact integers — `floor((x-lo)/scale + 0.5)` over
    identically-derived doubles is bit-identical in any IEEE engine, so
    the checksums compare with NO rounding tolerance.
    """
    e = load_table(spark, sf_dir, "embeddings")
    lo = F.array_min("embedding").cast("double")
    hi = F.array_max("embedding").cast("double")
    base = e.select("vec_id", "embedding", lo.alias("lo"), hi.alias("hi"))
    scale = F.when(F.col("hi") == F.col("lo"), F.lit(0.0)).otherwise(
        (F.col("hi") - F.col("lo")) / 255
    )
    q = F.when(
        F.col("hi") == F.col("lo"),
        F.transform(F.col("embedding"), lambda x: F.lit(0).cast("bigint")),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(
                (x.cast("double") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 255)
                + 0.5
            ),
        )
    )
    quant = base.withColumn("scale", scale).withColumn("q", q)
    return quant.select(
        "vec_id",
        N.round_det(F.col("lo"), 6).alias("lo"),
        N.round_det(F.col("scale"), 6).alias("scale"),
        F.aggregate("q", F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias(
            "q_sum"
        ),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


_N_INDEX = 64
_INT8_TOPK = 3

_INT8_TOPK_ORACLE = f"""
WITH base AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
params AS (
    SELECT vec_id, emb, list_min(emb) AS lo, list_max(emb) AS hi
    FROM base WHERE vec_id < {_N_INDEX}),
idx AS (
    SELECT vec_id AS index_id,
           CASE WHEN hi = lo THEN list_transform(emb, x -> lo)
                ELSE list_transform(emb,
                       x -> lo + FLOOR((x - lo) / ((hi - lo) / 255) + 0.5)
                                 * ((hi - lo) / 255))
           END AS deq
    FROM params),
idxn AS (
    SELECT index_id, deq,
           list_sum(list_transform(deq, x -> x * x)) AS nrm2
    FROM idx),
idxnz AS (SELECT * FROM idxn WHERE nrm2 > 0),
probes AS (
    SELECT vec_id, emb,
           list_sum(list_transform(emb, x -> x * x)) AS p2
    FROM base),
pnz AS (SELECT * FROM probes WHERE p2 > 0),
scored AS (
    SELECT p.vec_id, i.index_id,
           FLOOR(list_sum(list_transform(list_zip(p.emb, i.deq),
                                         z -> z[1] * z[2]))
                 / (sqrt(p.p2) * sqrt(i.nrm2)) * 1000000 + 0.5) / 1000000
             AS cos_sim
    FROM pnz p, idxnz i)
SELECT vec_id, index_id, cos_sim, CAST(rn AS INT) AS rank FROM (
    SELECT vec_id, index_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, index_id) AS rn
    FROM scored)
WHERE rn <= {_INT8_TOPK}
"""


@_register("similarity_int8_topk", _INT8_TOPK_ORACLE)
def similarity_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 cosine neighbors against an int8-QUANTIZED index (64 index
    vectors = vec_id < 64): each index vector is stored as per-vector
    affine int8 codes (embedding_quantize_int8's scheme) and dequantized
    on the fly for scoring — full-precision probes against a 4×-smaller
    index, the memory/recall trade every serving-scale ANN makes.

    Scale: the quantized index is exactly the thing you CAN broadcast 4×
    further than a float index (the routed ceiling in
    operators/similarity.py:cosine_topk_auto moves 4× up); dequantization
    is a JVM array expression over the 64 index rows, and scoring runs
    through the Arrow-batched index scorer
    (operators/similarity.py:cosine_topk_against_index) — one map-side
    numpy pass over the probes, no shuffle of the big side, no per-pair
    interpreted fold (the zip_with/aggregate formulation measured 2.6×
    slower at sf0.1).  Determinism: codes are exact integers (floor of
    identically-derived doubles), the dequantized doubles match the
    oracle's bit-for-bit, the scorer rounds with round_det's exact
    floor-half-up form before ranking, and ranks tiebreak on index_id —
    matmul-vs-sequential accumulation differs at ~1e-15, far inside the
    1e-6 round.

    Zero-norm guard on BOTH sides (probe and dequantized index) — same
    non-ANSI-divide rationale as embedding_nearest_seed; the scorer's
    contract leaves that filter to the caller.
    """
    from dffoo_data_pipeline_spark.operators.similarity import (
        cosine_topk_against_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    lo = F.array_min("embedding").cast("double")
    hi = F.array_max("embedding").cast("double")
    deq = F.when(
        F.col("hi") == F.col("lo"),
        F.transform(F.col("embedding"), lambda x: F.col("lo")),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: F.col("lo")
            + F.floor((x.cast("double") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 255) + 0.5)
            * ((F.col("hi") - F.col("lo")) / 255),
        )
    )
    idx = (
        e.where(F.col("vec_id") < _N_INDEX)
        .select(
            F.col("vec_id").alias("index_id"),
            "embedding",
            lo.alias("lo"),
            hi.alias("hi"),
        )
        .select(F.col("index_id"), deq.alias("deq"))
        .where(F.aggregate("deq", F.lit(0.0), lambda a, x: a + x * x) > 0)
    )
    probes = e.where(_sumsq(F.col("embedding")) > 0).select("vec_id", "embedding")
    out = cosine_topk_against_index(
        probes,
        idx,
        id_col="vec_id",
        vec_col="embedding",
        k=_INT8_TOPK,
        index_id_col="index_id",
        index_vec_col="deq",
    )
    return out.select(
        F.col("query_id").alias("vec_id"),
        F.col("neighbor_id").alias("index_id"),
        "cos_sim",
        "rank",
    )


_CENTROID_DIST_ORACLE = """
WITH base AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
ex AS (
    SELECT vec_id, label, u.pos,
           CAST(FLOOR(emb[u.pos] * 1000000000 + 0.5) / 1000000000
                AS DECIMAL(18,9)) AS xr
    FROM base, unnest(range(1, len(emb) + 1)) AS u(pos)),
cent AS (
    SELECT label, pos,
           FLOOR(CAST(SUM(xr) AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000 AS c
    FROM ex GROUP BY label, pos),
d2 AS (
    SELECT e.vec_id, e.label,
           CAST(FLOOR((CAST(e.xr AS DOUBLE) - c.c) * (CAST(e.xr AS DOUBLE) - c.c)
                      * 1000000000000 + 0.5) / 1000000000000 AS DECIMAL(28,14)) AS dd
    FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos)
SELECT vec_id, label,
       FLOOR(sqrt(CAST(SUM(dd) AS DOUBLE)) * 1000000 + 0.5) / 1000000
         AS dist_to_centroid
FROM d2 GROUP BY vec_id, label
"""


@_register("embedding_centroid_dist", _CENTROID_DIST_ORACLE)
def embedding_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector Euclidean distance to its OWN label's centroid — the
    embedding-space audit that surfaces mislabeled / outlier vectors
    (rank a label's vectors by this and the top of the list is your
    labeling-error review queue).

    Scale: one explode (no shuffle) → one (label, pos) aggregation
    (cardinality |labels|·dim — tiny) → centroids broadcast back →
    per-vec reduce on vec_id.  Nothing holds a full vector set in one
    task.  Determinism: elements are floor-rounded at 1e-9 and carried
    as DECIMAL(18,9) so the centroid mean is partition-order-exact; the
    squared deviations go through DECIMAL(28,14) the same way; the final
    sqrt is rounded at 1e-6.  (pos is 0-based here, 1-based in the
    oracle — it is only ever a join key within one engine.)
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "vec_id",
        "label",
        "pos",
        N.round_det(F.col("x").cast("double"), 9).cast("decimal(18,9)").alias("xr"),
    )
    cent = ex.groupBy("label", "pos").agg(
        N.round_det(F.sum("xr").cast("double") / F.count(F.lit(1)), 6).alias("c")
    )
    xd = F.col("xr").cast("double")
    d2 = ex.join(F.broadcast(cent), ["label", "pos"]).select(
        "vec_id",
        "label",
        N.round_det((xd - F.col("c")) * (xd - F.col("c")), 12)
        .cast("decimal(28,14)")
        .alias("dd"),
    )
    return d2.groupBy("vec_id", "label").agg(
        N.round_det(F.sqrt(F.sum("dd").cast("double")), 6).alias("dist_to_centroid")
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup on int8 codes (integer-exact end to end)
# ---------------------------------------------------------------------------

_SEM_N_SEEDS = 8
_SEM_TAU2_X1E4 = 1225  # tau = 0.35 → tau² · 10⁴ (fixture-tuned: ~28% dups)

def int8_codes(e: DataFrame) -> DataFrame:
    """(vec_id, c: array<bigint>, n2) — centered int8 codes + squared
    norm for any frame with (vec_id, embedding).  Pure projections, so it
    applies unchanged to a STREAMING frame (streaming/jobs.py's ingest
    router).  Degenerate hi=lo vectors quantize to all-zero codes
    (n2 = 0), which every consumer's norm guard excludes from pair math.
    """
    lo = F.array_min("embedding").cast("double")
    hi = F.array_max("embedding").cast("double")
    c = F.when(
        F.col("hi") == F.col("lo"),
        F.transform(F.col("emb"), lambda x: F.lit(0).cast("bigint")),
    ).otherwise(
        F.transform(
            F.col("emb"),
            lambda x: F.floor(
                (x.cast("double") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 255)
                + 0.5
            )
            - 128,
        )
    )
    return (
        e.select("vec_id", F.col("embedding").alias("emb"), lo.alias("lo"), hi.alias("hi"))
        .select("vec_id", c.alias("c"))
        .select("vec_id", "c", dot("c", "c", "bigint").alias("n2"))
    )


# Shared CTE chain: raw embeddings → centered int8 codes + squared norms.
# Reused by the semantic-dedup oracle below, the streaming ingest
# router's oracle (streaming/jobs.py:streaming_embedding_assign), and the
# integer-exact ANN oracles (plans/llm_ops.py: similarity_lsh_topk /
# similarity_ivf_topk).
CODES_NORMS_SQL = """
WITH base AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           list_min(embedding::DOUBLE[]) AS lo,
           list_max(embedding::DOUBLE[]) AS hi
    FROM embeddings),
codes AS (
    SELECT vec_id,
           CASE WHEN hi = lo
                THEN list_transform(emb, x -> CAST(0 AS BIGINT))
                ELSE list_transform(emb,
                       x -> CAST(FLOOR((x - lo) / ((hi - lo) / 255) + 0.5)
                                 AS BIGINT) - 128)
           END AS c
    FROM base),
norms AS (
    SELECT vec_id, c,
           CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS n2
    FROM codes)"""

_SEM_ASSIGN_SQL = CODES_NORMS_SQL + f""",
seeds AS (
    SELECT vec_id AS seed_id, c AS sc, n2 AS sn2
    FROM norms WHERE vec_id < {_SEM_N_SEEDS} AND n2 > 0),
dots AS (
    SELECT v.vec_id, s.seed_id, s.sn2,
           CAST(list_sum(list_transform(list_zip(v.c, s.sc),
                                        z -> z[1] * z[2])) AS BIGINT) AS d
    FROM norms v, seeds s),
assign AS (
    SELECT vec_id, seed_id AS cluster_id FROM (
        SELECT vec_id, seed_id,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id
                   ORDER BY CAST(d AS DOUBLE) * abs(d) / sn2 DESC, seed_id) AS rn
        FROM dots)
    WHERE rn = 1)
"""

_SEM_DEDUP_ORACLE = _SEM_ASSIGN_SQL + f"""
, members AS (
    SELECT a.vec_id, a.cluster_id, n.c, n.n2
    FROM assign a JOIN norms n USING (vec_id)),
pair_dots AS (
    SELECT b.vec_id AS dup_id,
           CAST(list_sum(list_transform(list_zip(a.c, b.c),
                                        z -> z[1] * z[2])) AS BIGINT) AS d,
           a.n2 AS na2, b.n2 AS nb2
    FROM members a JOIN members b
      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
     AND a.n2 > 0 AND b.n2 > 0),
dup_marks AS (
    SELECT DISTINCT dup_id FROM pair_dots
    WHERE d > 0 AND d * d * 10000 >= {_SEM_TAU2_X1E4} * na2 * nb2)
SELECT m.vec_id, m.cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY m.cluster_id) AS BIGINT) AS cluster_size,
       d.dup_id IS NOT NULL AS is_semantic_dup
FROM members m LEFT JOIN dup_marks d ON m.vec_id = d.dup_id
"""


@_register("dedup_semantic_int8", _SEM_DEDUP_ORACLE)
def dedup_semantic_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540
    — public): coarse-cluster the corpus in embedding space, then mark a
    vector a semantic duplicate when a LOWER-id member of the same
    cluster is closer than cosine τ=0.35.  Survivors =
    `is_semantic_dup = false` — the keep-one-per-tight-neighborhood rule
    that removes paraphrase/near-copy redundancy exact dedup can't see.

    Integer-exact by construction: vectors are first quantized to
    centered int8 codes (`embedding_quantize_int8`'s affine scheme,
    shifted −128; degenerate hi=lo vectors → zero codes, excluded by the
    norm guard), and BOTH the cluster assignment and the τ test run on
    BIGINT dot products — `d² · 10⁴ ≥ τ²·10⁴ · |a|²·|b|²` with
    |d| ≤ 128²·64 ≈ 1.05e6, so every product stays < 1.4e16, well inside
    BIGINT, and the one division in seed ranking (d·|d| / |seed|²) is a
    single correctly-rounded IEEE op on exact ≤2⁵³ integers — identical
    in any engine, NO float tolerance anywhere.

    Scale (the reason SemDeDup exists): assignment is a broadcast of k
    centroid codes (int8 = 4× the broadcast reach of float32) and the
    pair test shuffles ONCE on cluster_id — candidate pairs are per-
    cluster, never corpus².  Real deployments pick k ≈ √N so expected
    cluster size stays √N (per-cluster pairs ~N total), and sub-bucket
    any skewed cluster with LSH (operators/dedup.py:lsh_candidates is
    the same banding trick).  Here k=8 seed vectors (vec_id < 8) keeps
    the fixture deterministic.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # Materialize the quantized codes ONCE (localCheckpoint truncates the
    # lineage): the frame is consumed 4× downstream (seeds, assignment,
    # both sides of the pair self-join) and without this every consumer
    # re-runs scan+quantize — 9 corpus scans in the executed plan.  This
    # is the "write the codes table" step every real SemDeDup run does;
    # codes are ~dim bytes/vector, far smaller than the embeddings read.
    # lazy checkpoint: materializes at the first ACTION (so building the
    # plan — e.g. for explain/lint — stays free), then every downstream
    # consumer reads the one materialized copy instead of re-running
    # scan+quantize (9 scans without it)
    norms = int8_codes(e).localCheckpoint(eager=False)
    # every code is assigned, zero-norm ones included (the oracle's `dots`
    # crosses all of `norms` with the live seeds)
    assign = _nearest_seeds(norms, norms, "vec_id", _SEM_N_SEEDS, 1).select(
        "vec_id", F.col("cell").alias("cluster_id")
    )
    members = assign.join(norms, "vec_id")

    # Pair stage: one Arrow batch per cluster, exact-int64 blocked matmul.
    # The pure-JVM self-join + zip_with fold computes the same BIGINT
    # dots but interprets the 64-element fold per PAIR — measured 2.7×
    # slower at sf0.1 (same finding as similarity_int8_topk's scorer).
    # numpy int64 products stay exact: |dot| ≤ 128²·64 ≈ 1.05e6, so
    # dot²·10⁴ ≤ 1.1e16 and τ²·1e4·|a|²·|b|² ≤ 1.4e15, both < 2⁶³.
    # Row-blocking bounds memory at block × m; a cluster too large for
    # one task is the skew case the docstring routes to LSH sub-buckets.
    import numpy as np
    import pandas as pd

    def _cluster_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        C = np.array([np.asarray(v, dtype=np.int64) for v in pdf["c"]])
        n2 = pdf["n2"].to_numpy(dtype=np.int64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        dup = np.zeros(len(pdf), dtype=bool)
        # the dot itself runs through float64 BLAS (numpy int64 matmul
        # has no BLAS path — same argument as similarity._int_scores): |G| ≤
        # 128²·64 = 2²⁰, so every partial sum is exact in float64 and the
        # rint→int64 round-trip reproduces the integer product bit-for-
        # bit; the G²·10⁴ comparison below then runs in int64 as before
        # (it can exceed 2⁵³, so THAT part must not be float)
        Cf = C.astype(np.float64)
        for lo_i in range(0, len(pdf), 1024):
            hi_i = min(lo_i + 1024, len(pdf))
            G = np.rint(Cf[lo_i:hi_i] @ Cf.T).astype(np.int64)  # exact int64
            ok = (G > 0) & (G * G * 10000 >= _SEM_TAU2_X1E4 * n2[lo_i:hi_i, None] * n2[None, :])
            # j is a dup when some i < j (by vec_id order) is similar
            for r, j in enumerate(range(lo_i, hi_i)):
                ok[r, j:] = False  # only strictly-smaller partners count
            dup[lo_i:hi_i] |= ~dup[lo_i:hi_i] & ok.any(axis=1)
        return pd.DataFrame({"dup_id": ids[dup]})

    dup_marks = (
        members.where(F.col("n2") > 0)
        .select("cluster_id", "vec_id", "c", "n2")
        .groupBy("cluster_id")
        .applyInPandas(_cluster_dups, "dup_id long")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        members.join(dup_marks, members.vec_id == dup_marks.dup_id, "left")
        .select(
            "vec_id",
            "cluster_id",
            F.count(F.lit(1)).over(wc).cast("bigint").alias("cluster_size"),
            F.col("dup_id").isNotNull().alias("is_semantic_dup"),
        )
    )


_PQ_M = 8        # subspaces (64-dim vectors -> 8 sub-vectors of 8 dims)
_PQ_SUB = 8      # dims per subspace
_PQ_K = 16       # codebook entries per subspace (vec_id < 16, deterministic)
_PQ_N_INDEX = 64 # indexed vectors (vec_id < 64)
_PQ_TOPK = 3

_PQ_TOPK_ORACLE = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
sub AS (
    SELECT vec_id, u.m,
           list_slice(emb, u.m * {_PQ_SUB} + 1, u.m * {_PQ_SUB} + {_PQ_SUB}) AS sub
    FROM base, unnest(range(0, {_PQ_M})) AS u(m)),
cb AS (SELECT vec_id AS cid, m, sub AS cvec FROM sub WHERE vec_id < {_PQ_K}),
d2 AS (
    SELECT s.vec_id, s.m, c.cid,
           FLOOR(list_sum(list_transform(list_zip(s.sub, c.cvec),
                                         z -> (z[1] - z[2]) * (z[1] - z[2])))
                 * 1000000000 + 0.5) / 1000000000 AS d2
    FROM sub s JOIN cb c USING (m)),
codes AS (
    SELECT vec_id AS index_id, m, cid FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, cid) AS rn
        FROM d2 WHERE vec_id < {_PQ_N_INDEX})
    WHERE rn = 1),
lut AS (
    SELECT vec_id, m, cid,
           CAST(FLOOR(d2 * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS pd
    FROM d2),
adc AS (
    SELECT l.vec_id, k.index_id, SUM(l.pd) AS adist
    FROM lut l JOIN codes k ON l.m = k.m AND l.cid = k.cid
    GROUP BY l.vec_id, k.index_id)
SELECT vec_id, index_id, CAST(adist AS DOUBLE) AS approx_dist,
       CAST(rn AS INT) AS rank
FROM (SELECT vec_id, index_id, adist,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY adist, index_id) AS rn
      FROM adc)
WHERE rn <= {_PQ_TOPK}
"""


def _pq_subspaces(df: DataFrame, id_alias: str) -> DataFrame:
    """Explode each vector into its _PQ_M sub-vectors (double elements)."""
    return df.select(
        F.col("vec_id").alias(id_alias),
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m"),
        "embedding",
    ).select(
        id_alias,
        "m",
        F.transform(
            F.slice(F.col("embedding"), F.col("m") * _PQ_SUB + 1, F.lit(_PQ_SUB)),
            lambda x: x.cast("double"),
        ).alias("sub"),
    )


def _l2sq(a, b) -> F.Column:
    """Squared L2 distance as a left fold over zip_with (double elements)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _l2sq_unrolled(ax, bx, dim: int) -> F.Column:
    """Σ (ax(i) − bx(i))² as an UNROLLED left-associated sum over a fixed
    width — the codegen form of `_l2sq`.  Higher-order folds
    (`zip_with`+`aggregate`) are interpreted per element in Spark; on the
    fixed-width vector domain (the embeddings contract pins 64 dims) the
    same sum spelled as a flat expression compiles into whole-stage
    codegen.  Bit-identical to the fold: terms add in the same order
    (IEEE `0.0 + t0` ≡ `t0` for the non-negative squares), and `F.get`
    yields NULL past the end exactly as zip_with's NULL padding did.
    Callers pass element accessors so the terms can read RAW attribute
    columns (scan side) or broadcast-materialized arrays (build side) —
    never a computed `transform(...)` projection that CollapseProject
    would duplicate once per term."""
    s = None
    for i in range(dim):
        d = ax(i) - bx(i)
        t = d * d
        s = t if s is None else s + t
    return s


def _pq_codebook(e: DataFrame) -> DataFrame:
    """(cid, m, cvec): the deterministic sampled codebook — sub-vectors of
    vec_id < _PQ_K (see similarity_pq_topk's docstring)."""
    return _pq_subspaces(e.where(F.col("vec_id") < _PQ_K), "cid").select(
        "cid", "m", F.col("sub").alias("cvec")
    )


def _pq_m_rows(df: DataFrame, id_alias: str) -> DataFrame:
    """One row per (vector, subspace), RAW embedding kept — stream sides
    read sub-vector elements straight off it (element j of sub-vector m =
    embedding[m·SUB + j], float→double cast per element — the exact
    doubles `_pq_subspaces` produces); the codebook side is concrete in
    the broadcast relation."""
    return df.select(
        F.col("vec_id").alias(id_alias),
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m"),
        "embedding",
    )


# The unrolled sum replaces the interpreted 8-dim zip_with fold that
# dominated the PQ stage (guide §4.1: prefer codegen expressions).
def _pq_d2() -> F.Column:
    return N.round_det(
        _l2sq_unrolled(
            lambda j: F.get("embedding", F.col("m") * _PQ_SUB + j).cast("double"),
            lambda j: F.get("cvec", j),
            _PQ_SUB,
        ),
        9,
    )


def _pq_codes(e: DataFrame, cb: DataFrame) -> DataFrame:
    """(index_id, m, cid): each indexed vector's nearest codebook entry
    per subspace — the persistable PQ codes relation."""
    wcode = Window.partitionBy("index_id", "m").orderBy("d2", "cid")
    return (
        _pq_m_rows(e.where(F.col("vec_id") < _PQ_N_INDEX), "index_id")
        .join(F.broadcast(cb), "m")
        .select("index_id", "m", "cid", _pq_d2().alias("d2"))
        .withColumn("rn", F.row_number().over(wcode))
        .where(F.col("rn") == 1)
        .select("index_id", "m", "cid")
    )


def _pq_lut(e: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, cid, pd): every probe's partial squared-L2 to every
    codebook entry, floor-rounded into DECIMAL(18,6) so downstream ADC
    sums are exact."""
    return (
        _pq_m_rows(e, "vec_id")
        .join(F.broadcast(cb), "m")
        .select(
            "vec_id",
            "m",
            "cid",
            N.round_det(_pq_d2(), 6).cast("decimal(18,6)").alias("pd"),
        )
    )


def _pq_codes_lut(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The shared PQ encode stage: (codes, lut).  See similarity_pq_topk's
    docstring for the full design notes."""
    cb = _pq_codebook(e)
    return _pq_codes(e, cb), _pq_lut(e, cb)


def _pq_rank_topk(adc: DataFrame) -> DataFrame:
    """Final PQ ranking: top-_PQ_TOPK by asymmetric distance per probe —
    shared by similarity_pq_topk and its persisted-index twin so the two
    cannot diverge."""
    wrank = Window.partitionBy("vec_id").orderBy("adist", "index_id")
    return (
        adc.withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") <= _PQ_TOPK)
        .select(
            "vec_id",
            "index_id",
            F.col("adist").cast("double").alias("approx_dist"),
            F.col("rn").cast("int").alias("rank"),
        )
    )


def _pq_adc(e: DataFrame) -> DataFrame:
    """The shared exhaustive PQ ADC stage (codebook → codes → LUT →
    decimal ADC sum over ALL (probe, index) pairs) behind
    similarity_pq_topk and similarity_pq_rerank_topk."""
    codes, lut = _pq_codes_lut(e)
    return (
        lut.join(F.broadcast(codes), ["m", "cid"])
        .groupBy("vec_id", "index_id")
        .agg(F.sum("pd").alias("adist"))
    )


@_register("similarity_pq_topk", _PQ_TOPK_ORACLE)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (top-3 by asymmetric distance): 64-dim
    vectors split into 8 sub-vectors; each indexed vector is stored as 8
    one-byte codes (nearest codebook entry per subspace); a probe scores
    the whole index by building a per-subspace lookup table of partial
    squared-L2 distances to every codebook entry, then summing table hits
    along each index vector's codes (ADC — Jégou et al., PQ for nearest
    neighbor search).  Codebook = sub-vectors of vec_id < 16 (a
    deterministic sampled codebook, same discipline as
    embedding_nearest_seed's fixed seeds — k-means refinement would make
    it engine-specific and this query is the oracled contract).

    Scale: PQ codes are M bytes per vector — 32× smaller than the float
    vectors, so the broadcastable-index ceiling of cosine_topk_auto moves
    32× up; the codebook (M·K sub-vectors) and the code table are the
    broadcast sides, the probe corpus is never shuffled (LUT build is a
    map-side broadcast join), and the ADC sum is one groupBy
    (probe, index) with map-side partial aggregation.  At larger index
    sizes the same plan runs with the codes as a shuffle join on (m, cid)
    — nothing here holds the float index in memory.  The three
    embeddings scans (codebook / index / probes) are pushed-down
    vec_id-filtered reads of the same tiny dimension pattern as
    similarity_int8_topk.  Determinism: partial distances are floor-
    rounded (1e-9 for code argmin with cid tiebreak; 1e-6 into
    DECIMAL(18,6) for the LUT) so the decimal ADC sum is exact and
    partition-order-independent; ranks tiebreak on index_id.
    """
    return _pq_rank_topk(_pq_adc(load_table(spark, sf_dir, "embeddings")))


_PQ_SHORTLIST = 8  # ADC candidates per probe that pay the exact rerank

_PQ_RERANK_ORACLE = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
sub AS (
    SELECT vec_id, u.m,
           list_slice(emb, u.m * {_PQ_SUB} + 1, u.m * {_PQ_SUB} + {_PQ_SUB}) AS sub
    FROM base, unnest(range(0, {_PQ_M})) AS u(m)),
cb AS (SELECT vec_id AS cid, m, sub AS cvec FROM sub WHERE vec_id < {_PQ_K}),
d2 AS (
    SELECT s.vec_id, s.m, c.cid,
           FLOOR(list_sum(list_transform(list_zip(s.sub, c.cvec),
                                         z -> (z[1] - z[2]) * (z[1] - z[2])))
                 * 1000000000 + 0.5) / 1000000000 AS d2
    FROM sub s JOIN cb c USING (m)),
codes AS (
    SELECT vec_id AS index_id, m, cid FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, cid) AS rn
        FROM d2 WHERE vec_id < {_PQ_N_INDEX})
    WHERE rn = 1),
lut AS (
    SELECT vec_id, m, cid,
           CAST(FLOOR(d2 * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS pd
    FROM d2),
adc AS (
    SELECT l.vec_id, k.index_id, SUM(l.pd) AS adist
    FROM lut l JOIN codes k ON l.m = k.m AND l.cid = k.cid
    GROUP BY l.vec_id, k.index_id),
short AS (
    SELECT vec_id, index_id FROM (
        SELECT vec_id, index_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY adist, index_id) AS rn
        FROM adc)
    WHERE rn <= {_PQ_SHORTLIST}),
exact AS (
    SELECT s.vec_id, s.index_id,
           FLOOR(list_sum(list_transform(list_zip(q.emb, i.emb),
                                         z -> (z[1] - z[2]) * (z[1] - z[2])))
                 * 1000000 + 0.5) / 1000000 AS exact_dist
    FROM short s
    JOIN base q ON q.vec_id = s.vec_id
    JOIN base i ON i.vec_id = s.index_id)
SELECT vec_id, index_id, exact_dist, CAST(rn AS INT) AS rank
FROM (SELECT vec_id, index_id, exact_dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY exact_dist, index_id) AS rn
      FROM exact)
WHERE rn <= {_PQ_TOPK}
"""


def _exact_rerank_topk(e: DataFrame, adc: DataFrame) -> DataFrame:
    """The shared rerank stage behind similarity_pq_rerank_topk and
    similarity_ivfpq_rerank_topk: shortlist the given ADC frame to
    top-_PQ_SHORTLIST per probe (decimal boundary, index_id tiebreak),
    fetch full float vectors for only those pairs, rerank by exact
    squared-L2 (1e-6 floor-rounded), emit top-_PQ_TOPK.  Any change to
    the rerank discipline lands in ONE place so the twin plans cannot
    diverge."""
    wshort = Window.partitionBy("vec_id").orderBy("adist", "index_id")
    short = (
        adc.withColumn("rn", F.row_number().over(wshort))
        .where(F.col("rn") <= _PQ_SHORTLIST)
        .select("vec_id", "index_id")
    )
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    probes = e.select("vec_id", emb_d.alias("q_emb"))
    cands = e.where(F.col("vec_id") < _PQ_N_INDEX).select(
        F.col("vec_id").alias("index_id"), emb_d.alias("i_emb")
    )
    exact = (
        short.join(probes, "vec_id")
        .join(F.broadcast(cands), "index_id")
        .select(
            "vec_id",
            "index_id",
            N.round_det(_l2sq(F.col("q_emb"), F.col("i_emb")), 6).alias("exact_dist"),
        )
    )
    wrank = Window.partitionBy("vec_id").orderBy("exact_dist", "index_id")
    return (
        exact.withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") <= _PQ_TOPK)
        .select("vec_id", "index_id", "exact_dist", F.col("rn").cast("int").alias("rank"))
    )


@_register("similarity_pq_rerank_topk", _PQ_RERANK_ORACLE)
def similarity_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ retrieval (ADC shortlist → EXACT rerank): the ADC
    stage of similarity_pq_topk picks each probe's top-8 candidates from
    the compressed codes, then ONLY those (probe, candidate) pairs fetch
    full float vectors and rerank by exact squared-L2 — the standard
    IVFADC+R architecture (Jégou et al. "Searching with quantization";
    every production ANN system reranks a compressed shortlist).

    Scale: the expensive exhaustive pass touches M-byte codes only
    (32× smaller than floats); the rerank joins |probes|·8 shortlist
    rows against the vectors table on its key — point lookups whose
    cost is independent of index size, and the candidate-side join
    input is ≤ 64 vectors here (broadcastable; at real index sizes a
    shuffle join on vec_id with pushed-down id filters).  Determinism:
    the shortlist boundary is exact (decimal ADC sum, index_id
    tiebreak), exact distances fold float→double left-to-right in both
    engines and are floor-rounded at 1e-6, final rank tiebreaks on
    index_id.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return _exact_rerank_topk(e, _pq_adc(e))


_IVFPQ_CELLS = 4   # coarse quantizer cells (seed centroids: vec_id < 4)
_IVFPQ_NPROBE = 2  # cells probed per query

# the base..adc CTE chain of the IVF-PQ plan (no WITH, no final select) —
# shared by the topk oracle, the rerank oracle, and (nested) the recall
# report's oracle
_IVFPQ_CTE_BODY = f"""base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
sub AS (
    SELECT vec_id, u.m,
           list_slice(emb, u.m * {_PQ_SUB} + 1, u.m * {_PQ_SUB} + {_PQ_SUB}) AS sub
    FROM base, unnest(range(0, {_PQ_M})) AS u(m)),
cb AS (SELECT vec_id AS cid, m, sub AS cvec FROM sub WHERE vec_id < {_PQ_K}),
d2 AS (
    SELECT s.vec_id, s.m, c.cid,
           FLOOR(list_sum(list_transform(list_zip(s.sub, c.cvec),
                                         z -> (z[1] - z[2]) * (z[1] - z[2])))
                 * 1000000000 + 0.5) / 1000000000 AS d2
    FROM sub s JOIN cb c USING (m)),
codes AS (
    SELECT vec_id AS index_id, m, cid FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, cid) AS rn
        FROM d2 WHERE vec_id < {_PQ_N_INDEX})
    WHERE rn = 1),
lut AS (
    SELECT vec_id, m, cid,
           CAST(FLOOR(d2 * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS pd
    FROM d2),
cents AS (SELECT vec_id AS ccid, emb AS cvec2 FROM base WHERE vec_id < {_IVFPQ_CELLS}),
coarse AS (
    SELECT vec_id, ccid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2c, ccid) AS rn
    FROM (
        SELECT b.vec_id, c.ccid,
               FLOOR(list_sum(list_transform(list_zip(b.emb, c.cvec2),
                                             z -> (z[1] - z[2]) * (z[1] - z[2])))
                     * 1000000000 + 0.5) / 1000000000 AS d2c
        FROM base b, cents c)),
iassign AS (SELECT vec_id AS index_id, ccid FROM coarse
            WHERE rn = 1 AND vec_id < {_PQ_N_INDEX}),
passign AS (SELECT vec_id, ccid FROM coarse WHERE rn <= {_IVFPQ_NPROBE}),
cand AS (SELECT p.vec_id, i.index_id FROM passign p JOIN iassign i USING (ccid)),
adc AS (
    SELECT l.vec_id, k.index_id, SUM(l.pd) AS adist
    FROM cand c
    JOIN codes k ON k.index_id = c.index_id
    JOIN lut l ON l.vec_id = c.vec_id AND l.m = k.m AND l.cid = k.cid
    GROUP BY l.vec_id, k.index_id)"""

_IVFPQ_ORACLE = f"""
WITH {_IVFPQ_CTE_BODY}
SELECT vec_id, index_id, CAST(adist AS DOUBLE) AS approx_dist,
       CAST(rn AS INT) AS rank
FROM (SELECT vec_id, index_id, adist,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY adist, index_id) AS rn
      FROM adc)
WHERE rn <= {_PQ_TOPK}
"""


def _ivfpq_adc(e: DataFrame) -> DataFrame:
    """The shared cell-restricted ADC stage behind similarity_ivfpq_topk
    and similarity_ivfpq_rerank_topk; see similarity_ivfpq_topk's
    docstring for the full design notes."""
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    base = e.select("vec_id", emb_d.alias("emb"))
    cents = base.where(F.col("vec_id") < _IVFPQ_CELLS).select(
        F.col("vec_id").alias("ccid"), F.col("emb").alias("cvec2")
    )
    d2c = N.round_det(_l2sq(F.col("emb"), F.col("cvec2")), 9)
    wassign = Window.partitionBy("vec_id").orderBy("d2c", "ccid")
    ranked = (
        base.crossJoin(F.broadcast(cents))
        .select("vec_id", "ccid", d2c.alias("d2c"))
        .withColumn("rn", F.row_number().over(wassign))
    )
    iassign = ranked.where(
        (F.col("rn") == 1) & (F.col("vec_id") < _PQ_N_INDEX)
    ).select(F.col("vec_id").alias("index_id"), "ccid")
    passign = ranked.where(F.col("rn") <= _IVFPQ_NPROBE).select("vec_id", "ccid")
    cands = passign.join(F.broadcast(iassign), "ccid").select("vec_id", "index_id")
    codes, lut = _pq_codes_lut(e)
    return (
        cands.join(F.broadcast(codes), "index_id")
        .join(lut, ["vec_id", "m", "cid"])
        .groupBy("vec_id", "index_id")
        .agg(F.sum("pd").alias("adist"))
    )


@_register("similarity_ivfpq_topk", _IVFPQ_ORACLE)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFADC layout, non-residual variant): a
    coarse quantizer (seed centroids = vec_id < 4, full-dimension L2)
    partitions the index into cells; each probe scores ONLY the codes in
    its top-`n_probe` cells by PQ asymmetric distance.  This is how a
    big index actually ships — the exhaustive ADC scan of
    similarity_pq_topk divided by cells/n_probe, with the same code
    compression.

    Scale: the candidate generation is a join on cell_id (index side
    pre-partitioned by cell — at real scale a bucketed table, same
    treatment as similarity_lsh_probe_indexed's persisted index), so
    the ADC sum materializes candidate-pairs × M rows instead of
    |probes| × |index| × M; the coarse centroid table (cells × dim
    floats) and the codes are the broadcast sides here, shuffle joins
    at real scale.  Determinism: coarse distances floor-rounded at 1e-9
    with ccid tiebreak BEFORE ranking (same discipline as the PQ code
    argmin), so cell membership is engine-exact; everything downstream
    inherits similarity_pq_topk's decimal ADC + index_id tiebreaks.
    Candidate pairs are unique by construction (each index vector lives
    in exactly one cell), so no pair dedup is needed before the sum.
    """
    adc = _ivfpq_adc(load_table(spark, sf_dir, "embeddings"))
    wrank = Window.partitionBy("vec_id").orderBy("adist", "index_id")
    return (
        adc.withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") <= _PQ_TOPK)
        .select(
            "vec_id",
            "index_id",
            F.col("adist").cast("double").alias("approx_dist"),
            F.col("rn").cast("int").alias("rank"),
        )
    )


_IVFPQ_RERANK_ORACLE = f"""
WITH {_IVFPQ_CTE_BODY},
short AS (
    SELECT vec_id, index_id FROM (
        SELECT vec_id, index_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY adist, index_id) AS rn
        FROM adc)
    WHERE rn <= {_PQ_SHORTLIST}),
exact AS (
    SELECT s.vec_id, s.index_id,
           FLOOR(list_sum(list_transform(list_zip(q.emb, i.emb),
                                         z -> (z[1] - z[2]) * (z[1] - z[2])))
                 * 1000000 + 0.5) / 1000000 AS exact_dist
    FROM short s
    JOIN base q ON q.vec_id = s.vec_id
    JOIN base i ON i.vec_id = s.index_id)
SELECT vec_id, index_id, exact_dist, CAST(rn AS INT) AS rank
FROM (SELECT vec_id, index_id, exact_dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY exact_dist, index_id) AS rn
      FROM exact)
WHERE rn <= {_PQ_TOPK}
"""


@_register("similarity_ivfpq_rerank_topk", _IVFPQ_RERANK_ORACLE)
def similarity_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN stack in one certified plan — IVF coarse
    cells → PQ asymmetric distance → EXACT rerank (FAISS
    IVFADC+R): the coarse quantizer bounds the code scan to n_probe
    cells, the ADC picks each probe's top-8 candidates from those
    cells' M-byte codes, and only the |probes|·8 survivors fetch full
    float vectors for the exact squared-L2 rerank.  Every stage
    boundary is deterministic (1e-9-rounded cell assignment, decimal
    ADC with index_id tiebreak at the shortlist edge, 1e-6-rounded
    exact distances), so the whole three-stage pipeline value-hash
    matches DuckDB.

    Scale: this is the shape a 100 TB vector corpus actually serves —
    compressed scan cost ÷ (cells/n_probe), exact cost capped at
    shortlist size regardless of index size; the rerank stage buys back
    the PQ code loss on exactly the candidates worth paying floats for
    (measured decomposition in PERF.md: ~half the IVF-PQ recall deficit
    is code loss, which this stage removes).
    """
    e = load_table(spark, sf_dir, "embeddings")
    return _exact_rerank_topk(e, _ivfpq_adc(e))


_KM_K = 8   # clusters (seed init: vec_id < 8, like embedding_nearest_seed)
_KM_T = 3   # Lloyd rounds (unrolled in the oracle)


def _kmeans_oracle() -> str:
    def rnd(e, s):
        return f"FLOOR(({e}) * 1{'0' * s} + 0.5) / 1{'0' * s}"

    common = f"""
WITH ex AS MATERIALIZED (
    SELECT vec_id, u.pos, {rnd('embedding[u.pos]::DOUBLE', 9)} AS x
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(pos)),
c0 AS MATERIALIZED (
    SELECT vec_id AS cid, pos, x AS c FROM ex WHERE vec_id < {_KM_K})"""
    rounds = ""
    for t in range(1, _KM_T + 1):
        p = t - 1
        rounds += f""",
d{t} AS MATERIALIZED (
    SELECT e.vec_id, c.cid,
           {rnd('SUM((e.x - c.c) * (e.x - c.c))', 9)} AS d2
    FROM ex e JOIN c{p} c USING (pos) GROUP BY e.vec_id, c.cid),
a{t} AS MATERIALIZED (
    SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d{t})
    WHERE rn = 1)"""
        if t < _KM_T:
            rounds += f""",
c{t} AS MATERIALIZED (
    SELECT c.cid, c.pos,
           COALESCE({rnd('CAST(m.s AS DOUBLE) / m.n', 6)}, c.c) AS c
    FROM c{p} c LEFT JOIN (
        SELECT a.cid, e.pos,
               SUM(CAST(e.x AS DECIMAL(20,9))) AS s,
               COUNT(*) AS n
        FROM a{t} a JOIN ex e USING (vec_id) GROUP BY a.cid, e.pos) m
      ON m.cid = c.cid AND m.pos = c.pos)"""
    return common + rounds + f"\nSELECT vec_id, cid AS cluster_id, d2 FROM a{_KM_T}"


_KMEANS_ORACLE = _kmeans_oracle()


@_register("embedding_kmeans_train", _KMEANS_ORACLE)
def embedding_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-MEANS TRAINED IN THE ENGINE: 3 unrolled Lloyd iterations over
    the embedding corpus (k=8, seed centroids = vec_id < 8) returning
    each vector's final cluster and distance — the codebook/partition
    trainer behind IVF ANN (operators/similarity.py:ivf_topk trains on
    a sample with engine-specific k-means; THIS is the oracled contract
    for the same computation, and the text_classifier_train discipline
    applied to unsupervised learning).  Real movement is pinned by
    test: ~23% of vectors change cluster between rounds 1 and 3 at
    sf0.01, so the oracle equality covers genuine iteration dynamics,
    not a fixed assignment.

    Scale: per round, assignment is a broadcast of the k×dim centroid
    table scored map-side (WindowGroupLimit argmin on vec_id — no
    corpus² anything), and the update is ONE (cid, pos) aggregation of
    k·dim groups with map-side partials; empty clusters keep their
    previous centroid (elementwise coalesce).  The vector relation is
    computed once (lazy localCheckpoint) and each round's tiny centroid
    table is checkpointed so plan depth stays constant.  Determinism:
    elements floor-rounded at 1e-9 up front, distances rounded at 1e-9
    with cid tiebreak, centroid means carried as DECIMAL(20,9) sums
    over exact elements then rounded at 1e-6 — partition order cannot
    move any centroid, so assignments are bit-identical cross-engine.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # a NULL embedding has no geometry to cluster: excluded, matching
    # the oracle whose per-element unnest yields no rows for it (kept,
    # its NULL distance would rank NULLS FIRST and win an arbitrary
    # cluster)
    vec = (
        e.where(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.transform(
                "embedding", lambda x: N.round_det(x.cast("double"), 9)
            ).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    cent = vec.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    wmin = Window.partitionBy("vec_id").orderBy("d2", "cid")
    assign = None
    for t in range(_KM_T):
        d2 = N.round_det(_l2sq("v", "c"), 9)
        assign = (
            vec.crossJoin(F.broadcast(cent))
            .select("vec_id", "cid", d2.alias("d2"))
            .withColumn("rn", F.row_number().over(wmin))
            .where(F.col("rn") == 1)
            .select("vec_id", F.col("cid").alias("cluster_id"), "d2")
        )
        if t == _KM_T - 1:
            break
        means = (
            assign.join(vec, "vec_id")
            .select("cluster_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster_id", "pos")
            .agg(
                N.round_det(
                    F.sum(F.col("x").cast("decimal(20,9)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("cm")
            )
        )
        prev = cent.select("cid", F.posexplode("c").alias("pos", "cprev"))
        cent = (
            prev.join(
                means,
                (prev.cid == means.cluster_id) & (prev.pos == means.pos),
                "left",
            )
            .select("cid", prev.pos.alias("pos"), F.coalesce("cm", "cprev").alias("cv"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                    lambda s: s.cv,
                ).alias("c")
            )
            .localCheckpoint(eager=False)
        )
    return assign


_COV_ORACLE = """
WITH ex AS (
    SELECT vec_id, u.pos,
           CAST(FLOOR(embedding[u.pos]::DOUBLE * 1000000 + 0.5) / 1000000
                AS DECIMAL(12,6)) AS x
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(pos)),
n AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM ex),
pairs AS (
    SELECT a.pos AS i, b.pos AS j,
           CAST(SUM(a.x * b.x) AS DOUBLE) AS sxy,
           CAST(SUM(a.x) AS DOUBLE) AS sx,
           CAST(SUM(b.x) AS DOUBLE) AS sy
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos <= b.pos
    GROUP BY a.pos, b.pos)
SELECT i, j,
       FLOOR((sxy - sx * sy / (SELECT n FROM n)) / ((SELECT n FROM n) - 1)
             * 1000000000 + 0.5) / 1000000000 AS cov
FROM pairs
"""


@_register("embedding_covariance", _COV_ORACLE)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gram/covariance aggregation that starts every distributed PCA:
    the upper triangle of the 64×64 sample covariance of the embedding
    corpus, as (i, j, cov) rows — d(d+1)/2 = 2080 cells regardless of
    corpus size, which is the whole point: PCA's data-sized work is ONE
    aggregation; the eigendecomposition happens on this model-sized
    result (embedding_pca_project).

    Scale: per-vector pair explode is d²/2 rows per row of input,
    map-side combined into the fixed 2080 (i, j) cells — no shuffle
    grows with the corpus.  (For very large d, switch to the blocked
    Gram form; the cell-keyed plan is the same.)  Determinism: elements
    floor-rounded at 1e-6 into DECIMAL(12,6), so Σx·y, Σx, Σy are exact
    decimal sums; the moment formula (Sxy − SxSy/n)/(n−1) runs on
    identical doubles in both engines, rounded at 1e-9.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: N.round_det(x.cast("double"), 6).cast("decimal(12,6)"),
            )
        ).alias("pos", "x"),
    )
    n = ex.agg(F.countDistinct("vec_id").cast("bigint").alias("n"))
    a = ex.select("vec_id", F.col("pos").alias("i"), F.col("x").alias("xa"))
    b = ex.select("vec_id", F.col("pos").alias("j"), F.col("x").alias("xb"))
    pairs = (
        a.join(b, "vec_id")
        .where(F.col("i") <= F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("xa") * F.col("xb")).cast("double").alias("sxy"),
            F.sum("xa").cast("double").alias("sx"),
            F.sum("xb").cast("double").alias("sy"),
        )
        .crossJoin(F.broadcast(n))
    )
    # 1-based oracle pos vs 0-based posexplode: shift for identical keys
    return pairs.select(
        (F.col("i") + 1).alias("i"),
        (F.col("j") + 1).alias("j"),
        N.round_det(
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("n") - 1),
            9,
        ).alias("cov"),
    )


@_register("embedding_pca_project")  # rows-only: eigendecomposition is driver math
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection to 2 components: the covariance cells from
    embedding_covariance are collected (2080 rows — the MODEL, not the
    data; same bounded-collect contract as the similarity index),
    eigendecomposed with numpy on the driver, and the top-2 eigenvectors
    are broadcast back as literal arrays for a pure-JVM projection of
    every vector.  Sign-fixed (largest-|loading| coordinate positive) so
    the output is deterministic despite eigenvector sign ambiguity.
    Projection variance ≈ eigenvalues is pinned in
    tests/test_similarity_ivf.py.

    Scale: data-sized work is one covariance aggregation + one map-side
    projection; the driver holds d² floats.  Registered rows-only — the
    eigensolve is not SQL-expressible (DuckDB has no eigh), which is
    the honest boundary; the covariance INPUT is the oracled half.
    """
    import numpy as np

    cov_rows = embedding_covariance(spark, sf_dir).collect()
    d = max(r.j for r in cov_rows)
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r.i - 1, r.j - 1] = r.cov
        C[r.j - 1, r.i - 1] = r.cov
    vals, vecs = np.linalg.eigh(C)
    comps = []
    for k in (d - 1, d - 2):  # top-2 eigenvectors
        v = vecs[:, k]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append(v)
    e = load_table(spark, sf_dir, "embeddings")
    proj = [N.round_det(dot("embedding", comp), 6) for comp in comps]
    return e.select("vec_id", proj[0].alias("pc1"), proj[1].alias("pc2"))

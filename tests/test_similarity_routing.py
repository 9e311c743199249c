"""Broadcast-index ceiling + auto-routing for the cosine operators.

The registered cosine queries must never reach an unbounded driver
collect: under the ceiling they run the exact broadcast kernel, beyond it
they route to the LSH-bucketed partitioned index (VERDICT r1 fix #2).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dffoo_data_pipeline_spark.operators import similarity
from dffoo_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_bruteforce_raises_past_ceiling(emb):
    with pytest.raises(similarity.IndexTooLargeError):
        similarity.cosine_topk_bruteforce(
            emb, "vec_id", "embedding", k=5, max_index_rows=10
        )
    with pytest.raises(similarity.IndexTooLargeError):
        similarity.cosine_neardup_pairs(
            emb, "vec_id", "embedding", threshold=0.35, max_index_rows=10
        )


def test_auto_topk_exact_under_ceiling(emb):
    exact = similarity.cosine_topk_bruteforce(emb, "vec_id", "embedding", k=5)
    auto = similarity.cosine_topk_auto(emb, "vec_id", "embedding", k=5)
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, exact.collect()))


def test_auto_topk_routes_to_lsh_past_ceiling(emb):
    routed = similarity.cosine_topk_auto(
        emb, "vec_id", "embedding", k=5, max_index_rows=10
    )
    lsh = similarity.lsh_topk(emb, "vec_id", "embedding", k=5)
    assert sorted(map(tuple, routed.collect())) == sorted(map(tuple, lsh.collect()))


def test_auto_neardup_routes_and_verifies(emb):
    exact = similarity.cosine_neardup_pairs(emb, "vec_id", "embedding", threshold=0.35)
    routed = similarity.cosine_neardup_auto(
        emb, "vec_id", "embedding", threshold=0.35, max_index_rows=10
    )
    exact_pairs = {(r.doc_a, r.doc_b): r.cos_sim for r in exact.collect()}
    routed_pairs = {(r.doc_a, r.doc_b): r.cos_sim for r in routed.collect()}
    # LSH candidates are a subset of the exact pairs, with identical sims
    assert set(routed_pairs) <= set(exact_pairs)
    for p, sim in routed_pairs.items():
        assert sim == exact_pairs[p]
    # ordering/dedup invariants
    bad = similarity.lsh_neardup_pairs(emb, "vec_id", "embedding", threshold=0.35)
    assert bad.where(F.col("doc_a") >= F.col("doc_b")).count() == 0


@pytest.mark.parametrize("scorer", ["int", "float"])
def test_exact_int_kernel_breaks_boundary_ties_by_id(scorer):
    """Exactly-tied ranking keys at the k-boundary (plausible with integer
    dot products, e.g. orthogonal codes -> key 0, and with duplicated
    float vectors) must resolve to the LOWEST neighbor ids — the
    oracle's ORDER BY key DESC, neighbor_id — regardless of the input
    row order: argpartition alone picks arbitrarily among ties.  Both
    scorers feed the one selection, so both must hold the contract."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from dffoo_data_pipeline_spark.operators.similarity import (
        _exact_cos_topk_kernel,
        _float_scores,
        _int_scores,
    )

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    # ids deliberately scrambled; vecs 2..5 are all orthogonal to vec 1
    # (key exactly 0.0 — a four-way tie straddling the k=3 boundary)
    rows = [
        (5, [0, 1]), (1, [1, 0]), (3, [0, 1]), (7, [-1, 0]),
        (2, [0, 1]), (6, [1, 0]), (4, [0, 1]),
    ]
    pdf = pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "c": [np.array(r[1], dtype=np.int64) for r in rows],
            "n2": [1] * len(rows),
            "v": [np.array(r[1], dtype=np.float64) for r in rows],
            "is_probe": [False] * len(rows),
        }
    )
    score, vec = {"int": (_int_scores, "c"), "float": (_float_scores, "v")}[scorer]
    out = _exact_cos_topk_kernel("vec_id", 3, out_schema, score, vec)(pdf)
    got_q1 = out[out["query_id"] == 1]["neighbor_id"].tolist()
    # key ranking for query 1: 6 (dot 1), then the 0-ties {2,3,4,5} ->
    # lowest ids 2, 3 fill the remaining two slots; 7 (dot -1) never
    assert got_q1 == [6, 2, 3]
    # and for a tied-at-top query (vec 2): ties {3,4,5} at cos 1.0 plus
    # {1,6,7} at 0/-1; k=3 must take 3, 4, 5 in id order
    got_q2 = out[out["query_id"] == 2]["neighbor_id"].tolist()
    assert got_q2 == [3, 4, 5]


def test_float_topk_paths_break_duplicate_ties_by_id(spark):
    """Nine identical vectors under scrambled ids tie exactly with each
    other, so every float top-k path (exact, LSH, IVF probing every
    cell) must return, for each of them, the three LOWEST other ids."""
    from pyspark.sql import types as T

    dup_ids = [7, 3, 9, 1, 5, 8, 2, 6, 4]
    other = {10: [4.0, -3.0, 2.0, -1.0], 11: [-2.0, 1.0, 0.0, 3.0], 12: [0.0, 0.0, 5.0, -4.0]}
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in dup_ids] + list(other.items())
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    want = {q: sorted(set(dup_ids) - {q})[:3] for q in dup_ids}
    paths = {
        "bruteforce": similarity.cosine_topk_bruteforce(df, "vec_id", "embedding", k=3),
        "lsh": similarity.lsh_topk(df, "vec_id", "embedding", k=3),
        "ivf": similarity.ivf_topk(df, "vec_id", "embedding", k=3, n_cells=4, n_probe=4),
    }
    for name, out in paths.items():
        got = {}
        for r in out.where(F.col("query_id") < 10).collect():
            got.setdefault(r.query_id, []).append(r.neighbor_id)
        assert {q: sorted(n) for q, n in got.items()} == want, name


def test_multiprobe_lsh_superset_and_recall_lift(spark):
    """Multi-probe candidates are a strict superset of single-probe ones
    (membership unchanged, query side adds flipped buckets), so recall@k
    vs the exact ranking is monotonically >= — and on the synthetic
    embeddings the 2-flip schedule must deliver a REAL lift, not a tie."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.operators import similarity
    from dffoo_data_pipeline_spark.plans.embeddings import int8_codes
    from dffoo_data_pipeline_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    codes = int8_codes(load_table(spark, sf, "embeddings")).localCheckpoint(eager=False)
    single = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk_int(codes, k=5).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_multiprobe_topk_int(codes, k=5, n_flip=2).collect()
    }
    # exact truth: brute-force integer ranking over the same codes
    live = codes.where(F.col("n2") > 0)
    a = live.select(F.col("vec_id").alias("q"), F.col("c").alias("ca"), F.col("n2").alias("na2"))
    b = live.select(F.col("vec_id").alias("n"), F.col("c").alias("cb"), F.col("n2").alias("nb2"))
    d = F.aggregate(F.zip_with("ca", "cb", lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    key = (F.col("d") * F.abs("d")).cast("double") / (F.col("na2") * F.col("nb2")).cast("double")
    from pyspark.sql.window import Window

    w = Window.partitionBy("q").orderBy(F.desc(key), F.col("n"))
    truth = {
        (r.q, r.n)
        for r in a.crossJoin(F.broadcast(b)).where(F.col("q") != F.col("n"))
        .select("q", "n", d.alias("d"), "na2", "nb2")
        .withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
        .select("q", "n").collect()
    }
    hits_single = len(single & truth)
    hits_multi = len(multi & truth)
    assert hits_multi >= hits_single  # monotone by candidate-superset
    assert hits_multi > hits_single   # and a real lift on this data
    # each emitted per-query list stays capped at k
    from collections import Counter

    assert max(Counter(q for q, _ in multi).values()) <= 5


def test_lsh_probe_asymmetric_contract(spark):
    """search(queries, index) semantics: every emitted query_id comes
    from the QUERY side, every neighbor_id from the INDEX side — a query
    is never ranked into, an index vector never ranks.  The probe's
    candidate set per query is the union of its own bucket and its flip
    buckets' index members, so results agree with the symmetric
    multiprobe ranking restricted to cross-slice pairs is NOT asserted
    (buckets differ per slice); exactness is the DuckDB oracle's job
    (similarity_lsh_probe_topk)."""
    import pytest
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.operators import similarity
    from dffoo_data_pipeline_spark.plans.embeddings import int8_codes
    from dffoo_data_pipeline_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    codes = int8_codes(load_table(spark, sf, "embeddings")).localCheckpoint(
        eager=False
    )
    qcodes = codes.where(F.col("vec_id") % 10 == 0)
    icodes = codes.where(F.col("vec_id") % 10 != 0)
    out = similarity.lsh_probe_topk_int(qcodes, icodes, k=5, n_flip=2).collect()
    assert len(out) > 0
    qids = {r.vec_id for r in qcodes.collect()}
    iids = {r.vec_id for r in icodes.collect()}
    assert {r.query_id for r in out} <= qids
    assert {r.neighbor_id for r in out} <= iids
    # per-query cap at k, ranked descending with id tie-break
    from collections import Counter

    assert max(Counter(r.query_id for r in out).values()) <= 5
    # n_flip=0 is the single-bucket subset: its (q, n) pairs are a
    # subset of the multiprobe candidates' output universe per query
    out0 = similarity.lsh_probe_topk_int(qcodes, icodes, k=50, n_flip=0).collect()
    out_wide = similarity.lsh_probe_topk_int(qcodes, icodes, k=50, n_flip=2).collect()
    assert {(r.query_id, r.neighbor_id) for r in out0} <= {
        (r.query_id, r.neighbor_id) for r in out_wide
    }
    # exactly one of index_codes / indexed
    with pytest.raises(ValueError, match="exactly one"):
        similarity.lsh_probe_topk_int(qcodes, icodes, indexed=icodes)
    with pytest.raises(ValueError, match="exactly one"):
        similarity.lsh_probe_topk_int(qcodes)


# 12 integer codes: 7 is zero-norm, 6 duplicates 5, 9 is 1 scaled (its key
# against 5 ties 1's), and query 1's third slot is a three-way tie
# {5, 6, 10} at key 0.5 that must resolve to the lowest id.
_TRUTH_CODES = {
    1: [1, 0, 0, 0], 2: [0, 1, 0, 0], 3: [0, 0, 1, 0], 4: [0, 0, 0, 1],
    5: [1, 1, 0, 0], 6: [1, 1, 0, 0], 7: [0, 0, 0, 0], 8: [-1, 0, 0, 0],
    9: [2, 0, 0, 0], 10: [1, -1, 0, 0], 11: [3, 1, 2, 0], 12: [0, 2, 0, -1],
}


def _codes_frame(spark, ids):
    """(vec_id, c, n2, embedding) rows of `_TRUTH_CODES` in scrambled
    order, all in ONE partition so a broadcast-driver batch holds them
    all: the extra empty partitions keep `ensure_min_partitions` from
    spreading the rows out."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("c", T.ArrayType(T.LongType())),
            T.StructField("n2", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    rows = [
        (i, c, sum(x * x for x in c), [float(x) for x in c])
        for i, c in sorted(_TRUTH_CODES.items(), key=lambda kv: (kv[0] * 7) % 13)
        if i in ids
    ]
    pad = spark.sparkContext.defaultParallelism + 1
    empty = spark.createDataFrame([], schema).repartition(pad)
    return spark.createDataFrame(rows, schema).coalesce(1).union(empty)


def _brute_int_topk(qids, iids, k):
    """Python twin of the integer truth: key d·|d|/(na2·nb2), self and
    zero-norm excluded, (key DESC, neighbor_id ASC), first k, as
    (query_id, neighbor_id, rank) rows."""
    out = set()
    for q in qids:
        a = _TRUTH_CODES[q]
        na2 = sum(x * x for x in a)
        if na2 == 0:
            continue
        keyed = []
        for i in iids:
            b = _TRUTH_CODES[i]
            nb2 = sum(x * x for x in b)
            if i == q or nb2 == 0:
                continue
            d = sum(x * y for x, y in zip(a, b))
            keyed.append((-(d * abs(d) / (na2 * nb2)), i))
        out |= {(q, i, r) for r, (_, i) in enumerate(sorted(keyed)[:k], start=1)}
    return out


def test_exact_int_truth_equals_python_brute_force(spark):
    """The integer recall truth equals a brute force over a corpus with a
    k-th-key tie, a zero-norm code and a duplicate, both symmetric and
    asymmetric (queries not in the index)."""
    ids = set(_TRUTH_CODES)
    codes = _codes_frame(spark, ids)
    got = {tuple(r) for r in similarity.exact_topk_int(codes, codes, k=3).collect()}
    want = _brute_int_topk(ids, ids, 3)
    assert got == want
    assert {(n, r) for q, n, r in want if q == 1} == {(9, 1), (11, 2), (5, 3)}  # tie took 5
    assert not {p for p in got if 7 in p[:2]}  # zero-norm: no neighbors, nobody's
    qids = {i for i in ids if i % 3 == 0}
    queries, index = _codes_frame(spark, qids), _codes_frame(spark, ids - qids)
    got = {tuple(r) for r in similarity.exact_topk_int(queries, index, k=3).collect()}
    assert got == _brute_int_topk(qids, ids - qids, 3)


def test_broadcast_driver_rows_do_not_depend_on_score_block(spark, monkeypatch):
    """Scoring an Arrow batch in 2-row blocks returns the rows of the
    default block, on every broadcast-driver path."""
    ids = set(_TRUTH_CODES)
    df = _codes_frame(spark, ids)
    probe, index = _codes_frame(spark, {1, 5, 9, 12}), _codes_frame(spark, ids - {9})
    assert max(df.rdd.glom().map(len).collect()) == len(ids)

    def run():
        outs = (
            similarity.cosine_topk_bruteforce(df, "vec_id", "embedding", k=3),
            similarity.cosine_neardup_pairs(df, "vec_id", "embedding", threshold=0.5),
            similarity.cosine_topk_against_index(probe, index, "vec_id", "embedding", k=3),
            similarity.exact_topk_int(df, df, k=3),
        )
        return [sorted(map(tuple, o.collect())) for o in outs]

    default = run()
    assert all(default)
    monkeypatch.setattr(similarity, "_SCORE_BLOCK", 2)
    assert run() == default


def test_dot_matches_python_sums(spark):
    """`dot` folds left in element order: bigint sums stay exact past 2⁵³
    and double sums round exactly as Python's left-to-right `sum` does,
    with the second operand a column or a literal weight vector."""
    from pyspark.sql import types as T

    a, b = [2**31, 3, -7], [2**31 + 1, 5, 11]
    x, y = [1e16, 1.0, -1e16, 1.0], [1.0, 1.0, 1.0, 1.0]
    schema = T.StructType(
        [
            T.StructField("a", T.ArrayType(T.LongType())),
            T.StructField("b", T.ArrayType(T.LongType())),
            T.StructField("x", T.ArrayType(T.FloatType())),
            T.StructField("xd", T.ArrayType(T.DoubleType())),
            T.StructField("y", T.ArrayType(T.DoubleType())),
        ]
    )
    xf = [1.5, -2.25, 3.0, 0.125]
    df = spark.createDataFrame([(a, b, xf, x, y)], schema)
    row = df.select(
        similarity.dot("a", "b", "bigint").alias("ab"),
        similarity.dot(F.col("a"), b, "bigint").alias("ab_lit"),
        similarity.dot("xd", "y").alias("xy"),
        similarity.dot("xd", y).alias("xy_lit"),
        similarity.dot("x", x).alias("xf_lit"),
    ).first()
    want_ab = sum(p * q for p, q in zip(a, b))
    assert want_ab > 2**53
    assert row.ab == row.ab_lit == want_ab
    assert row.xy == row.xy_lit == sum(p * q for p, q in zip(x, y)) == 1.0
    assert row.xf_lit == sum(p * q for p, q in zip(xf, x))

"""IVF ANN: recall against brute force, and the n_probe recall knob."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dffoo_data_pipeline_spark.operators import similarity
from dffoo_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


def test_ivf_topk_tiny_corpus_clamps_probes(spark):
    """n_probe greater than the achievable cell count (1-row corpus →
    n_cells=1) must clamp, not die on a pandas repeat/ravel length
    mismatch in the executor.  The sole vector has no neighbors."""
    one = spark.createDataFrame(
        [(1, [0.1] * 8)], "vec_id long, embedding array<float>"
    )
    assert similarity.ivf_topk(one, "vec_id", "embedding", n_probe=3).collect() == []


def test_ivf_recall_vs_bruteforce(spark, emb):
    exact = _pairs(similarity.cosine_topk_bruteforce(emb, "vec_id", "embedding", k=5))
    approx = similarity.ivf_topk(emb, "vec_id", "embedding", k=5, n_cells=8, n_probe=4)
    got = _pairs(approx)
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, recall  # near-random 64-dim vectors: ANN floor
    # shape invariants: <=k neighbors per query, no self matches
    per_q = approx.groupBy("query_id").count().agg(F.max("count")).collect()[0][0]
    assert per_q <= 5
    assert approx.where(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_more_probes_more_recall(spark, emb):
    exact = _pairs(similarity.cosine_topk_bruteforce(emb, "vec_id", "embedding", k=5))
    r = {}
    for probes in (1, 4):
        got = _pairs(
            similarity.ivf_topk(emb, "vec_id", "embedding", k=5, n_cells=8, n_probe=probes)
        )
        r[probes] = len(got & exact) / len(exact)
    assert r[4] >= r[1], r


def test_ann_recall_report_contract(spark, sf_dir):
    """The self-audit query must cover every corpus vector for every
    method and report recalls in [0, 1] with p10 <= mean."""
    import duckdb

    from dffoo_data_pipeline_spark.plans.llm_ops import similarity_ann_recall_report

    n_vecs = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchone()[0]
    rows = {r.method: r for r in similarity_ann_recall_report(spark, sf_dir).collect()}
    # five production paths: float-hyperplane LSH / kmeans IVF (quality
    # variants) and the integer-exact lsh_int / lsh_multiprobe_int /
    # ivf_int twins that back the registered topk queries
    assert set(rows) == {"lsh", "ivf", "lsh_int", "lsh_multiprobe_int", "ivf_int"}
    # multiprobe candidates are a superset of single-probe -> recall >=
    assert rows["lsh_multiprobe_int"].mean_recall >= rows["lsh_int"].mean_recall
    for r in rows.values():
        assert r.n_queries == n_vecs  # left join keeps empty-bucket queries
        assert 0 <= r.min_recall <= r.p10_recall <= r.mean_recall <= 1
        assert r.k == 5


def test_pq_topk_contracts(spark, sf_dir):
    """PQ ADC quality floor: every indexed probe self-matches at rank 1
    (its codes ARE the per-subspace argmins), and the true L2 nearest
    indexed vector lands in the PQ top-3 far above the 3/64 random
    baseline.  Uniform-random embeddings are the PQ-ADVERSARIAL case (no
    cluster structure for the codebook to exploit), so the floor is set
    from the measured 42% at sf0.01, not from clustered-data folklore."""
    import duckdb

    from dffoo_data_pipeline_spark.plans.embeddings import similarity_pq_topk

    rows = similarity_pq_topk(spark, sf_dir).collect()
    indexed = {r.vec_id for r in rows if r.vec_id < 64}
    self_hits = {r.vec_id for r in rows if r.vec_id < 64 and r.index_id == r.vec_id and r.rank == 1}
    assert self_hits == indexed
    # true-NN capture vs exact L2 over the same 64-vector index
    exact = dict(
        duckdb.sql(
            f"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb
                              FROM read_parquet('{sf_dir}/embeddings.parquet')),
            idx AS (SELECT vec_id AS index_id, emb AS iemb FROM base WHERE vec_id < 64),
            d AS (SELECT b.vec_id, i.index_id,
                    list_sum(list_transform(list_zip(b.emb, i.iemb),
                                            z -> (z[1]-z[2])*(z[1]-z[2]))) AS dist
                  FROM base b, idx i)
            SELECT vec_id, index_id FROM d
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, index_id) = 1"""
        ).fetchall()
    )
    got = {(r.vec_id, r.index_id) for r in rows}
    captured = sum(1 for v, i in exact.items() if (v, i) in got)
    assert captured / len(exact) >= 0.25, captured / len(exact)  # random baseline ~0.047
    # exactly 3 ranked neighbors per probe, ranks 1..3, ascending distance
    by_probe: dict = {}
    for r in rows:
        by_probe.setdefault(r.vec_id, []).append(r)
    for v, rs in by_probe.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3]
        assert rs[0].approx_dist <= rs[1].approx_dist <= rs[2].approx_dist


def test_kmeans_train_moves_assignments_and_balances(spark, sf_dir):
    """The oracled Lloyd loop must exhibit real iteration dynamics:
    a nontrivial share of vectors change cluster between the first and
    final round (else the oracle equality would only cover a static
    nearest-seed assignment), and no cluster collapses empty."""
    import duckdb

    from dffoo_data_pipeline_spark.plans.embeddings import (
        _KM_K,
        _KMEANS_ORACLE,
        embedding_kmeans_train,
    )

    rows = embedding_kmeans_train(spark, sf_dir).collect()
    sizes: dict = {}
    for r in rows:
        sizes[r.cluster_id] = sizes.get(r.cluster_id, 0) + 1
    assert len(sizes) == _KM_K  # every cluster survives
    assert min(sizes.values()) > 0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    moved = con.execute(
        _KMEANS_ORACLE.replace(
            "\nSELECT vec_id, cid AS cluster_id, d2 FROM a3",
            "\nSELECT COUNT(*) FROM a1 JOIN a3 USING (vec_id) WHERE a1.cid <> a3.cid",
        )
    ).fetchone()[0]
    assert moved > 0.05 * len(rows), moved
    con.close()


def test_pca_projection_variance_matches_eigenvalues(spark, sf_dir):
    """The projected coordinates' sample variances must equal the top-2
    eigenvalues of the covariance (the defining property of PCA), and
    pc1 must carry at least as much variance as pc2."""
    import numpy as np

    from dffoo_data_pipeline_spark.plans.embeddings import (
        embedding_covariance,
        embedding_pca_project,
    )

    cov_rows = embedding_covariance(spark, sf_dir).collect()
    d = max(r.j for r in cov_rows)
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r.i - 1, r.j - 1] = C[r.j - 1, r.i - 1] = r.cov
    vals = np.sort(np.linalg.eigvalsh(C))[::-1]

    proj = np.array(
        [(r.pc1, r.pc2) for r in embedding_pca_project(spark, sf_dir).collect()]
    )
    v1, v2 = proj[:, 0].var(ddof=1), proj[:, 1].var(ddof=1)
    assert abs(v1 - vals[0]) <= 0.01 * vals[0], (v1, vals[0])
    assert abs(v2 - vals[1]) <= 0.01 * vals[1], (v2, vals[1])
    assert v1 >= v2
    # symmetric upper triangle: d(d+1)/2 cells, nothing missing
    assert len(cov_rows) == d * (d + 1) // 2


def test_pq_rerank_dominates_adc_ranking(spark):
    """Two-stage PQ: per probe, the reranked top-1's EXACT distance must
    be <= the exact distance of the plain ADC top-1 (the rerank can only
    improve the shortlist's ordering, never worsen it), and each probe
    emits exactly _PQ_TOPK ascending-distance rows."""
    from dffoo_data_pipeline_spark.plans import embeddings as E

    rerank = E.QUERIES["similarity_pq_rerank_topk"](spark, SF_SMOKE)
    plain = E.QUERIES["similarity_pq_topk"](spark, SF_SMOKE)
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }

    def exact_d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(vecs[a], vecs[b]))

    rr = rerank.collect()
    by_probe: dict = {}
    for r in rr:
        by_probe.setdefault(r.vec_id, []).append(r)
    for probe, rows in by_probe.items():
        rows.sort(key=lambda r: r.rank)
        assert len(rows) == E._PQ_TOPK
        dists = [r.exact_dist for r in rows]
        assert dists == sorted(dists)
    adc_top1 = {r.vec_id: r.index_id for r in plain.collect() if r.rank == 1}
    rr_top1 = {r.vec_id: r.index_id for r in rr if r.rank == 1}
    assert set(rr_top1) == set(adc_top1)
    worse = [
        p
        for p in rr_top1
        if exact_d2(p, rr_top1[p]) > exact_d2(p, adc_top1[p]) + 1e-9
    ]
    assert not worse, worse[:5]


def test_ivfpq_scores_match_exhaustive_adc_and_respect_cells(spark):
    """IVF-PQ changes WHICH pairs get scored, never the score: every
    (probe, index) it returns must carry exactly the exhaustive PQ ADC
    distance for that pair, and the index vector must live in one of the
    probe's probed cells.  Recall vs the exhaustive PQ top-k ranking has
    a soft floor (cells=4, n_probe=2 on near-random vectors)."""
    from dffoo_data_pipeline_spark.plans import embeddings as E
    from dffoo_data_pipeline_spark.sources.readers import load_table

    ivfpq = E.QUERIES["similarity_ivfpq_topk"](spark, SF_SMOKE).collect()
    emb = load_table(spark, SF_SMOKE, "embeddings")
    full_adc = {
        (r.vec_id, r.index_id): r.adist for r in E._pq_adc(emb).collect()
    }
    for r in ivfpq:
        assert float(full_adc[(r.vec_id, r.index_id)]) == r.approx_dist, r

    # cell containment: recompute assignments with the query's own rounding
    vecs = {v.vec_id: [float(x) for x in v.embedding] for v in emb.collect()}

    def d2r(a, b):
        import math

        s = 0.0
        for x, y in zip(vecs[a], vecs[b]):
            s += (x - y) * (x - y)
        return math.floor(s * 1e9 + 0.5) / 1e9

    cents = [c for c in sorted(vecs) if c < E._IVFPQ_CELLS]
    def cells_of(v, n):
        return [c for c, _ in sorted(
            ((c, d2r(v, c)) for c in cents), key=lambda t: (t[1], t[0])
        )[:n]]

    for r in ivfpq:
        icell = cells_of(r.index_id, 1)[0]
        assert icell in cells_of(r.vec_id, E._IVFPQ_NPROBE), r

    # soft recall floor vs the exhaustive PQ top-k
    pq = E.QUERIES["similarity_pq_topk"](spark, SF_SMOKE).collect()
    want = {(r.vec_id, r.index_id) for r in pq}
    got = {(r.vec_id, r.index_id) for r in ivfpq}
    recall = len(got & want) / len(want)
    assert recall >= 0.2, recall


def test_ivfpq_rerank_dominates_and_buys_back_code_loss(spark):
    """The three-stage stack: per probe the reranked top-1's EXACT
    distance must be <= the exact distance of the plain IVF-PQ top-1
    (same shortlist, better ordering), and recall@3 vs the exact truth
    over the index must be >= the unreranked IVF-PQ's (the rerank can
    only remove code loss, never add it)."""
    from dffoo_data_pipeline_spark.plans import embeddings as E

    rr = E.QUERIES["similarity_ivfpq_rerank_topk"](spark, SF_SMOKE).collect()
    plain = E.QUERIES["similarity_ivfpq_topk"](spark, SF_SMOKE).collect()
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(vecs[a], vecs[b]))

    rr_top1 = {r.vec_id: r.index_id for r in rr if r.rank == 1}
    pl_top1 = {r.vec_id: r.index_id for r in plain if r.rank == 1}
    assert set(rr_top1) == set(pl_top1)
    worse = [p for p in rr_top1 if d2(p, rr_top1[p]) > d2(p, pl_top1[p]) + 1e-9]
    assert not worse, worse[:5]

    # recall@3 vs exact truth (index = vec_id < _PQ_N_INDEX, incl. self)
    index_ids = [v for v in vecs if v < E._PQ_N_INDEX]
    truth = {
        (q, i)
        for q in vecs
        for i in sorted(index_ids, key=lambda i: (d2(q, i), i))[: E._PQ_TOPK]
    }
    rec_rr = len({(r.vec_id, r.index_id) for r in rr} & truth) / len(truth)
    rec_pl = len({(r.vec_id, r.index_id) for r in plain} & truth) / len(truth)
    assert rec_rr >= rec_pl, (rec_rr, rec_pl)


def test_lsh_probe_rejects_foreign_bucket_domain(spark, emb):
    """A persisted ANN index built with MORE prefix_bits than the probe
    has buckets outside the probe's domain — the raw-index path must
    refuse it loudly instead of silently searching the wrong buckets.
    The check is LAZY (r9 ADVICE): plan construction is free; the
    refusal fires when the probe executes."""
    from dffoo_data_pipeline_spark.plans.embeddings import int8_codes

    codes = int8_codes(emb)
    big = similarity.lsh_bucket_index_int(codes, prefix_bits=8)
    probe = similarity.lsh_probe_topk_int(
        codes.limit(5), k=3, prefix_bits=6, indexed=big
    )  # construction must NOT scan the index (laziness is the contract)
    with pytest.raises(Exception, match="bucket domain"):
        probe.collect()
    # a matching-domain index passes the lazy guard end-to-end
    ok_idx = similarity.lsh_bucket_index_int(codes, prefix_bits=6)
    got = similarity.lsh_probe_topk_int(
        codes.limit(5), k=3, prefix_bits=6, indexed=ok_idx
    ).collect()
    assert len(got) > 0


# (n_queries, n_truth, n_hits, recall) of each oracled recall report,
# keyed by scale.  The Spark reports share `similarity.exact_topk_int` /
# `_recall_summary` and their DuckDB oracles share one SQL template, so a
# mistake common to both would still pass the oracle comparison; these
# numbers pin the measurement itself.
_RECALL_PINS = {
    "sf0.001": {
        "similarity_lsh_recall_report": (500, 2500, 124, 0.0496),
        "similarity_lsh_recall_sampled": (140, 700, 37, 0.052857),
        "similarity_lsh_multiprobe_recall_report": (500, 2500, 359, 0.1436),
        "similarity_lsh_probe_recall_report": (50, 250, 27, 0.108),
        "similarity_ivf_recall_report": (500, 2500, 857, 0.3428),
        "similarity_ivfpq_recall_report": (500, 1500, 374, 0.249333),
        "similarity_ivfpq_rerank_recall_report": (500, 1500, 749, 0.499333),
    },
    "sf0.01": {
        "similarity_lsh_recall_report": (500, 2500, 221, 0.0884),
        "similarity_lsh_recall_sampled": (140, 700, 51, 0.072857),
        "similarity_lsh_multiprobe_recall_report": (500, 2500, 440, 0.176),
        "similarity_lsh_probe_recall_report": (50, 250, 50, 0.2),
        "similarity_ivf_recall_report": (500, 2500, 1013, 0.4052),
        "similarity_ivfpq_recall_report": (500, 1500, 394, 0.262667),
        "similarity_ivfpq_rerank_recall_report": (500, 1500, 717, 0.478),
    },
    "sf0.1": {
        "similarity_lsh_recall_report": (2000, 10000, 745, 0.0745),
        "similarity_lsh_recall_sampled": (509, 2545, 207, 0.081336),
        "similarity_lsh_multiprobe_recall_report": (2000, 10000, 1767, 0.1767),
        "similarity_lsh_probe_recall_report": (200, 1000, 166, 0.166),
        "similarity_ivf_recall_report": (2000, 10000, 3611, 0.3611),
        "similarity_ivfpq_recall_report": (2000, 6000, 1484, 0.247333),
        "similarity_ivfpq_rerank_recall_report": (2000, 6000, 2889, 0.4815),
    },
}


@pytest.mark.parametrize("name", sorted(_RECALL_PINS["sf0.001"]))
def test_recall_report_values_pinned(name, spark, sf_dir):
    """Each oracled recall report, in Spark and through its DuckDB
    oracle, returns the pinned (n_queries, n_truth, n_hits, recall)."""
    import __spark_entry__ as entrymod

    from tests.oracle_utils import duckdb_conn

    pins = _RECALL_PINS.get(os.path.basename(os.path.normpath(sf_dir)))
    if pins is None:
        pytest.skip(f"no recall pins for {sf_dir}")
    want = pins[name]
    # the recall column sits on a 1e-6 grid: any tolerance below that is exact
    (row,) = entrymod.queries()[name](spark, sf_dir).collect()
    assert tuple(row) == pytest.approx(want, abs=1e-9)
    con = duckdb_conn(sf_dir)
    try:
        (oracle_row,) = con.execute(entrymod.oracle_sql()[name]).fetchall()
    finally:
        con.close()
    assert tuple(oracle_row) == pytest.approx(want, abs=1e-9)

"""Bucketed co-located joins: the pay-the-shuffle-once storage path.

The claim under test is the 100 TB one: after `write_bucketed` on the
join key, a fact⋈fact sort-merge join runs with NO shuffle exchange and
NO per-query sort — against the same join over plain parquet, which
must shuffle both sides.  Local bucket counts are tiny; only the plan
shape (which is scale-invariant) is asserted.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from dffoo_data_pipeline_spark.sources.readers import load_table
from dffoo_data_pipeline_spark.sources.writers import write_bucketed

N_BUCKETS = 8


@contextlib.contextmanager
def _forced_smj(spark):
    """Disable broadcast joins (incl. AQE's) so small test tables take the
    same sort-merge path a 100 TB fact⋈fact join would, and let the scan
    report the write-time bucket sort (one file per bucket makes that
    order trustworthy; Spark keeps it behind a flag since 3.0 because
    multi-file buckets can interleave — SPARK-28595)."""
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    }
    old = {}
    for k, v in overrides.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_totalprice")
    write_bucketed(li, "li_b", ["l_orderkey"], N_BUCKETS, path=str(base / "li"))
    write_bucketed(od, "od_b", ["o_orderkey"], N_BUCKETS, path=str(base / "od"))
    yield "li_b", "od_b"
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS od_b")


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange_or_sort(spark, bucketed_tables):
    li_name, od_name = bucketed_tables
    with _forced_smj(spark):
        j = spark.table(li_name).join(
            spark.table(od_name),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _physical_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # sortBy at write time: merge streams pre-sorted buckets
        assert "Sort " not in plan.replace("SortMergeJoin", "SMJ"), plan


def test_plain_parquet_join_shuffles_both_sides(spark, sf_dir):
    with _forced_smj(spark):
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        plan = _physical_plan(li.join(od, F.col("l_orderkey") == F.col("o_orderkey")))
        assert plan.count("Exchange hashpartitioning") >= 2, plan


def test_bucketed_groupby_on_bucket_key_skips_exchange(spark, bucketed_tables):
    li_name, _ = bucketed_tables
    agg = spark.table(li_name).groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    plan = _physical_plan(agg)
    assert "Exchange" not in plan, plan


def test_bucketed_join_values_match_plain(spark, sf_dir, bucketed_tables):
    li_name, od_name = bucketed_tables
    with _forced_smj(spark):
        bucketed = (
            spark.table(li_name)
            .join(spark.table(od_name), F.col("l_orderkey") == F.col("o_orderkey"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq"),
            )
            .collect()[0]
        )
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    plain = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq"),
        )
        .collect()[0]
    )
    assert bucketed.n == plain.n and bucketed.sq == plain.sq


def test_zorder_layout_prunes_on_both_columns(spark, tmp_path):
    """Z-ordered files must have materially narrower per-file min/max
    ranges on BOTH pruning columns than a layout sorted by only the
    first column (where the second column's ranges span ~everything).

    The range partitioner seeds its boundary sample with the RDD id, so
    with the default sample size the file boundaries (and the z-order
    ratio, 0.58–0.60 of the span here) depend on how many RDDs the
    session built before this test.  The sample size is pinned so that
    every input row is sampled: the boundaries are then exact and the
    layout is the same in any test order."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.sources.readers import load_table
    from dffoo_data_pipeline_spark.sources.writers import write_zordered

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    zpath = str(tmp_path / "zorder")
    spath = str(tmp_path / "single")
    sample_conf = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    old_sample = spark.conf.get(sample_conf)
    # 3 × 8 files × 10k samples ≥ the ~60k sf0.01 lineitem rows
    spark.conf.set(sample_conf, "10000")
    try:
        write_zordered(li, zpath, ["l_partkey", "l_suppkey"], n_files=8)
        (
            li.repartitionByRange(8, "l_partkey")
            .sortWithinPartitions("l_partkey")
            .write.mode("overwrite")
            .parquet(spath)
        )
    finally:
        spark.conf.set(sample_conf, old_sample)

    def avg_file_range(path, col):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg((F.max(col) - F.min(col)).alias("w"))
        )
        return per_file.agg(F.avg("w")).collect()[0][0]

    full_b = li.agg(F.max("l_suppkey") - F.min("l_suppkey")).collect()[0][0]
    # single-column layout: second column unpruned (file ranges ~ full span)
    assert avg_file_range(spath, "l_suppkey") > 0.8 * full_b
    # z-order: BOTH columns materially pruned vs the full span
    full_a = li.agg(F.max("l_partkey") - F.min("l_partkey")).collect()[0][0]
    assert avg_file_range(zpath, "l_partkey") < 0.6 * full_a
    assert avg_file_range(zpath, "l_suppkey") < 0.6 * full_b
    # row counts preserved
    assert spark.read.parquet(zpath).count() == li.count()


def test_zorder_three_columns(spark, tmp_path):
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.sources.readers import load_table
    from dffoo_data_pipeline_spark.sources.writers import write_zordered

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey"
    )
    zpath = str(tmp_path / "z3")
    write_zordered(li, zpath, ["l_partkey", "l_suppkey", "l_orderkey"], n_files=8)
    rd = spark.read.parquet(zpath)
    assert rd.count() == li.count()
    for col in ("l_partkey", "l_suppkey", "l_orderkey"):
        full = li.agg(F.max(col) - F.min(col)).collect()[0][0]
        per_file = (
            rd.groupBy(F.input_file_name())
            .agg((F.max(col) - F.min(col)).alias("w"))
            .agg(F.avg("w"))
            .collect()[0][0]
        )
        assert per_file < 0.85 * full, (col, per_file, full)  # all three pruned


def test_persisted_band_index_probe_shuffles_batch_only(spark, sf_dir, tmp_path):
    """The steady-state incremental near-dup claim, pinned at the plan
    level: probing a batch against the PERSISTED hash-bucketed portable
    band index (dedup_incremental_indexed's path) must exchange the
    BATCH side only — the index's bucketed scan satisfies the probe
    join's required distribution, so at 100 TB each ingest pays a
    batch-sized shuffle, never a corpus-sized one.  And routing the
    probe through the persisted index must not change a single verdict
    vs banding the raw corpus in-plan."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.operators.dedup import band_index, neardup_against_index
    from dffoo_data_pipeline_spark.sources.writers import write_bucketed

    md5 = dict(n=3, num_hashes=15, bands=5, family="md5")

    d = load_table(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 10 == 0)
    old = d.where(F.col("doc_id") % 10 != 0)
    write_bucketed(
        band_index(old, "doc_id", "text", **md5),
        "band_idx_plan_t",
        ["band_id", "band_hash"],
        num_buckets=8,
        path=str(tmp_path / "band_idx"),
    )
    try:
        idx = spark.table("band_idx_plan_t")
        with _forced_smj(spark):
            probe = band_index(new, "doc_id", "text", **md5).select(
                F.col("doc_id").alias("probe_id"), "band_id", "band_hash"
            )
            j = probe.join(
                idx.select(F.col("doc_id").alias("matched_id"), "band_id", "band_hash"),
                ["band_id", "band_hash"],
            )
            plan = _physical_plan(j)
            assert "SortMergeJoin" in plan, plan
            # exactly ONE exchange on the JOIN KEYS — the batch side
            # (the probe pipeline's internal signature groupBy exchanges
            # on doc_id, which is its own cost); the bucketed index scan
            # contributes none
            assert plan.count("Exchange hashpartitioning(band_id") == 1, plan
            assert "Bucketed: true" in plan, plan
        # verdict parity: persisted-index probe == band-the-raw-corpus probe
        via_table = neardup_against_index(
            new, None, "doc_id", "text", index_bands=idx, **md5
        )
        via_raw = neardup_against_index(new, old, "doc_id", "text", **md5)
        assert sorted(map(tuple, via_table.collect())) == sorted(
            map(tuple, via_raw.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS band_idx_plan_t")


@pytest.mark.parametrize("family", ["md5", "xx64"])
def test_neardup_index_band_domain_guard(spark, sf_dir, family):
    """Probing a persisted index with a different `bands` than it was
    built with must fail loudly, not silently report everything novel:
    band hashes from another signature family never collide, so without
    the guard the probe would 'work' and lie.  Both hash families."""
    from dffoo_data_pipeline_spark.operators.dedup import band_index, neardup_against_index

    d = load_table(spark, sf_dir, "documents").limit(20)
    idx3 = band_index(d, "doc_id", "text", num_hashes=15, bands=3, family=family)
    probe = neardup_against_index(
        d, None, "doc_id", "text", num_hashes=15, bands=5, index_bands=idx3,
        family=family,
    )  # construction must NOT scan the index (the guard is lazy)
    with pytest.raises(Exception, match="band_id domain"):
        probe.collect()
    # matching params pass the guard; validate_index=False skips the scan
    ok = neardup_against_index(
        d, None, "doc_id", "text", num_hashes=15, bands=3, index_bands=idx3,
        family=family,
    )
    assert ok.count() == 20
    skip = neardup_against_index(
        d, None, "doc_id", "text", num_hashes=15, bands=5,
        index_bands=idx3, validate_index=False, family=family,
    )
    assert skip.count() == 20  # documented escape hatch: no validation job


def test_incremental_indexed_cleans_up_previous_run(spark):
    """dedup_incremental_indexed must not leak a temp dir / catalog table
    per invocation (r8 ADVICE): each run drops the previous run's table
    and removes its external location; names are per-run so repeated
    runs never overwrite shared state under a still-lazy result."""
    import os

    from dffoo_data_pipeline_spark.plans.llm_ops import (
        _run_scoped,
        dedup_incremental_indexed,
    )

    sf = "/root/testdata/sf0.001"
    r1 = sorted(map(tuple, dedup_incremental_indexed(spark, sf).collect()))
    state = _run_scoped("band")
    t1, p1 = state.table, state.path
    assert spark.catalog.tableExists(t1) and os.path.isdir(p1)
    r2 = sorted(map(tuple, dedup_incremental_indexed(spark, sf).collect()))
    t2, p2 = state.table, state.path
    assert t2 != t1, "table name must be per-run"
    assert not spark.catalog.tableExists(t1), "previous table must be dropped"
    assert not os.path.exists(p1), "previous external location must be removed"
    assert spark.catalog.tableExists(t2) and os.path.isdir(p2)
    assert r1 == r2  # replacing the index changes nothing about verdicts
    # build parameters ride in TBLPROPERTIES and a mismatched probe refuses
    from dffoo_data_pipeline_spark.sources.writers import expect_table_properties

    expect_table_properties(spark, t2, {"sg.bands": "5"})
    with pytest.raises(ValueError, match="different parameters"):
        expect_table_properties(spark, t2, {"sg.bands": "8"})
    with pytest.raises(ValueError, match="different parameters"):
        expect_table_properties(spark, t2, {"sg.num_hashes": "99"})


def test_persisted_ann_index_probe_shuffles_batch_only(spark, sf_dir, tmp_path):
    """The ANN twin of the persisted band-index claim, pinned at the plan
    level: probing a query batch against the PERSISTED hash-bucketed
    `lsh_bucket_index_int` table must exchange the QUERY side only — the
    bucketed scan satisfies the cogroup's index-side distribution, so at
    100 TB each search pays a batch-sized shuffle, never a corpus-sized
    one.  And routing through the persisted index must not change a
    single neighbor vs bucketing the raw codes in-plan."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.operators.similarity import (
        lsh_bucket_index_int,
        lsh_probe_topk_int,
    )
    from dffoo_data_pipeline_spark.plans.embeddings import int8_codes

    codes = int8_codes(
        load_table(spark, sf_dir, "embeddings")
    ).localCheckpoint(eager=False)
    qcodes = codes.where(F.col("vec_id") % 10 == 0)
    icodes = codes.where(F.col("vec_id") % 10 != 0)
    write_bucketed(
        lsh_bucket_index_int(icodes),
        "ann_idx_plan_t",
        ["bucket"],
        num_buckets=8,
        path=str(tmp_path / "ann_idx"),
    )
    try:
        via_table = lsh_probe_topk_int(
            qcodes, k=5, n_flip=2, indexed=spark.table("ann_idx_plan_t")
        )
        plan = _physical_plan(via_table)
        assert "FlatMapCoGroupsInPandas" in plan, plan
        assert "Bucketed: true" in plan, plan
        # exactly ONE exchange on the cogroup key — the query side (its
        # own-bucket ∪ probe-buckets union); the bucketed index scan
        # contributes none
        assert plan.count("Exchange hashpartitioning(bucket") == 1, plan
        # verdict parity: persisted-index probe == bucket-the-codes probe
        via_raw = lsh_probe_topk_int(qcodes, icodes, k=5, n_flip=2)
        assert sorted(map(tuple, via_table.collect())) == sorted(
            map(tuple, via_raw.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_idx_plan_t")


def test_neardup_index_args_are_mutually_exclusive(spark, sf_dir):
    """Passing both or neither of index_df/index_bands must fail loudly."""
    from dffoo_data_pipeline_spark.operators.dedup import band_index, neardup_against_index

    d = load_table(spark, sf_dir, "documents").limit(10)
    bands = band_index(d, "doc_id", "text")
    with pytest.raises(ValueError, match="exactly one"):
        neardup_against_index(d, d, "doc_id", "text", index_bands=bands)
    with pytest.raises(ValueError, match="exactly one"):
        neardup_against_index(d, None, "doc_id", "text")


def test_bloom_prefilter_plan_materializes_bitmap_once(spark, sf_dir):
    """The executed bloom-prefilter plan must evaluate every shared
    relation ONCE: the stamped batch (scan + md5 + bloom test) and the
    ledger fingerprints are lazy-checkpointed alongside the 1-row
    bitmap (r12 optimization), so the final plan reads THREE
    checkpointed RDDs — stamped ×2 (the disjoint verdict branches) +
    ledger fp ×1 (the exact anti-join) — and contains NO parquet
    re-scan and no bitmap re-fold at all (the former shape paid the
    batch scan twice and the ledger scan twice).  The bitmap join
    lives inside the stamped checkpoint, so no nested-loop join
    survives in the outer plan either."""
    from dffoo_data_pipeline_spark.plans.llm_ops import QUERIES

    df = QUERIES["dedup_bloom_prefilter_novel"](spark, sf_dir)
    df.count()  # materialize the lazy checkpoints so the final plan is real
    plan = _physical_plan(df)
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("ExistingRDD") == 3, plan
    assert plan.count("BroadcastNestedLoopJoin") == 0, plan

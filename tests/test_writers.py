"""Sink semantics tests (SURVEY.md §2a S5-S7 / §7 M4).

The reference's resume scheme is one CSV per character (web_scraper.py:
1164-1183) and its load is a growing Postgres append table it can only
filter with a timestamp scan (README.md:71).  These tests pin the
cluster-grade equivalents: dynamic-partition-overwrite checkpointing and
run-id-partitioned appends with partition-pruned latest-run reads.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from dffoo_data_pipeline_spark.sources import writers
from tests.conftest import count_jobs


def _chars_df(spark, rows):
    return spark.createDataFrame(
        rows, "char_name string, game_version string, cap int"
    )


def test_checkpoint_overwrites_only_recomputed_partitions(spark):
    path = tempfile.mkdtemp(prefix="sg_ckpt_sink_") + "/t"
    full = _chars_df(
        spark, [("aerith", "GL", 10), ("auron", "GL", 20), ("aerith", "JP", 30)]
    )
    writers.write_checkpointed(full, path)

    # re-run recomputes ONLY auron with a new value
    rerun = _chars_df(spark, [("auron", "GL", 99)])
    writers.write_checkpointed(rerun, path)

    got = {
        (r.char_name, r.game_version): r.cap for r in spark.read.parquet(path).collect()
    }
    # auron replaced; aerith partitions untouched (dynamic overwrite, not
    # whole-table truncate)
    assert got == {("aerith", "GL"): 10, ("auron", "GL"): 99, ("aerith", "JP"): 30}


def test_run_stamped_append_and_latest_run_pruning(spark):
    path = tempfile.mkdtemp(prefix="sg_runs_") + "/t"
    writers.write_run_stamped(_chars_df(spark, [("aerith", "GL", 10)]), path, "r001")
    writers.write_run_stamped(
        _chars_df(spark, [("aerith", "GL", 11), ("auron", "GL", 20)]), path, "r002"
    )

    # history accumulates (append), latest view sees only the newest run
    assert spark.read.parquet(path).count() == 3
    latest = writers.read_latest_run(spark, path)
    assert {(r.char_name, r.cap) for r in latest.collect()} == {
        ("aerith", 11),
        ("auron", 20),
    }
    # the run_id equality filter must prune at the file listing, not scan
    plan = latest._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(run_id" in plan


def test_csv_sink_round_trip(spark):
    path = tempfile.mkdtemp(prefix="sg_csv_") + "/t"
    df = _chars_df(spark, [("aerith", "GL", 10), ("auron", "GL", 20)])
    writers.write_csv(df, path, single_file=True)
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 2 and set(back.columns) == {
        "char_name",
        "game_version",
        "cap",
    }


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Co-located join via bucketing: joining two tables bucketed on the
    same key must plan with NO Exchange (the write-time shuffle is reused)
    and no per-query Sort (sortBy'd buckets)."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.sources.readers import load_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        writers.write_bucketed(
            load_table(spark, sf_dir, "orders"), "b_orders", ["o_orderkey"], 8
        )
        writers.write_bucketed(
            load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
            "b_lineitem",
            ["l_orderkey"],
            8,
        )
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # sanity: result matches the unbucketed join
        want = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert j.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_upsert_by_key(spark):
    import tempfile

    path = tempfile.mkdtemp(prefix="sg_upsert_t_") + "/t"
    base = _chars_df(
        spark, [("aerith", "GL", 10), ("auron", "GL", 20), ("paine", "GL", 30)]
    )
    writers.upsert_by_key(spark, base, path, ["char_name", "game_version"])
    # replace auron, insert seymour
    upd = _chars_df(spark, [("auron", "GL", 99), ("seymour", "GL", 40)])
    writers.upsert_by_key(spark, upd, path, ["char_name", "game_version"])

    got = {
        (r.char_name, r.game_version): r.cap for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("aerith", "GL"): 10,
        ("auron", "GL"): 99,
        ("paine", "GL"): 30,
        ("seymour", "GL"): 40,
    }


def test_compaction_reduces_file_count(spark):
    import glob
    import tempfile

    path = tempfile.mkdtemp(prefix="sg_compact_t_") + "/t"
    # fragment: 64 tiny files
    spark.range(10_000).repartition(64).write.parquet(path)
    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 32
    n = writers.compact(spark, path)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert after == n == 1
    assert spark.read.parquet(path).count() == 10_000


def test_run_id_validation_and_numeric_order(spark):
    import os

    import pytest

    path = tempfile.mkdtemp(prefix="sg_runid_") + "/t"
    df = _chars_df(spark, [("aerith", "GL", 1)])
    with pytest.raises(ValueError, match="order-safe"):
        writers.write_run_stamped(df, path, "run-1!")
    # non-padded numeric ids: r10 must beat r2 ((length, value) order)
    writers.write_run_stamped(_chars_df(spark, [("a", "GL", 2)]), path, "r2")
    writers.write_run_stamped(_chars_df(spark, [("a", "GL", 10)]), path, "r10")
    got = writers.read_latest_run(spark, path).collect()
    assert [r.cap for r in got] == [10]
    # digit-only ids: partition inference types them as integers, so they
    # order by value and the latest-run frame keeps the inferred type
    digits = tempfile.mkdtemp(prefix="sg_runid_digits_") + "/t"
    writers.write_run_stamped(_chars_df(spark, [("a", "GL", 2)]), digits, "2")
    writers.write_run_stamped(_chars_df(spark, [("a", "GL", 10)]), digits, "10")
    latest = writers.read_latest_run(spark, digits)
    assert [(r.cap, r.run_id) for r in latest.collect()] == [(10, 10)]
    inferred = spark.read.parquet(digits).schema["run_id"].dataType
    assert latest.schema["run_id"].dataType == inferred
    assert writers.format_run_id(42) == "r000042"
    assert not os.path.exists(path.rstrip("/") + ".__staging__")


def test_read_latest_run_without_runs_names_the_path(spark, tmp_path):
    import re

    import pytest

    plain = str(tmp_path / "plain")
    spark.range(3).write.parquet(plain)
    for path in (plain, str(tmp_path / "missing")):
        with pytest.raises(ValueError, match=re.escape(path)):
            writers.read_latest_run(spark, path)


def test_writer_reads_run_no_planning_jobs(spark, tmp_path):
    """The load stage's writer-side reads run no Spark job before their
    sink: the latest run comes from the directory listing and every
    schema from a parquet footer.  Pinned on a small table: latest-run
    read + noop sink = 1 job, compaction = 1 job (no shuffle), an upsert
    onto an existing table at most 2 (key-side broadcast + rewrite)."""
    raw, cur = str(tmp_path / "raw"), str(tmp_path / "cur")
    for i, run in enumerate(["b000001", "b000002"]):
        batch = spark.range(i * 100, i * 100 + 200, numPartitions=4)
        writers.write_run_stamped(batch.selectExpr("id AS k", "id * 2 AS v"), raw, run)
    writers.upsert_by_key(spark, spark.read.parquet(raw).where("run_id = 'b000001'"), cur, ["k"])

    def read_latest():
        writers.read_latest_run(spark, raw).write.mode("overwrite").format("noop").save()

    assert count_jobs(spark, read_latest) == 1
    upsert = lambda: writers.upsert_by_key(spark, writers.read_latest_run(spark, raw), cur, ["k"])  # noqa: E731
    assert count_jobs(spark, upsert) <= 2
    assert count_jobs(spark, lambda: writers.compact(spark, cur)) == 1
    got = {r.k: r.v for r in spark.read.parquet(cur).collect()}
    assert got == {k: 2 * k for k in range(300)}


def test_writers_round_trip_spark_default_timestamps(spark, tmp_path):
    """Tables written with Spark's default INT96 timestamps go through the
    whole writer path: run-stamped write → latest-run read, two upserts
    (the second reads the INT96 table back through its footer schema) →
    compaction → read back, timestamps intact."""
    import datetime as dt

    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        raw, cur = str(tmp_path / "raw"), str(tmp_path / "cur")
        day = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
        batches = {
            "r1": [(1, day(1), 1.0), (2, day(2), 2.0)],
            "r2": [(2, day(3), 20.0), (3, day(4), 30.0)],
        }
        for run, rows in batches.items():
            df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
            writers.write_run_stamped(df, raw, run)
            latest = writers.read_latest_run(spark, raw)
            assert sorted((r.k, r.ts, r.v) for r in latest.collect()) == rows
            writers.upsert_by_key(spark, latest, cur, ["k"])
        writers.compact(spark, cur)
        got = sorted((r.k, r.ts, r.v, r.run_id) for r in spark.read.parquet(cur).collect())
        assert got == [(1, day(1), 1.0, "r1"), (2, day(3), 20.0, "r2"), (3, day(4), 30.0, "r2")]
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)


def test_upsert_and_compact_leave_no_staging(spark):
    import os

    path = tempfile.mkdtemp(prefix="sg_upsert_clean_") + "/t"
    writers.upsert_by_key(spark, _chars_df(spark, [("a", "GL", 1)]), path, ["char_name"])
    writers.upsert_by_key(spark, _chars_df(spark, [("a", "GL", 5), ("b", "GL", 2)]), path, ["char_name"])
    got = {(r.char_name): r.cap for r in spark.read.parquet(path).collect()}
    assert got == {"a": 5, "b": 2}
    writers.compact(spark, path)
    got2 = {(r.char_name): r.cap for r in spark.read.parquet(path).collect()}
    assert got2 == got
    parent = os.path.dirname(path.rstrip("/"))
    leftovers = [d for d in os.listdir(parent) if "__staging__" in d or "__old__" in d]
    assert leftovers == []


def test_sorted_corpus_ranges_disjoint(spark, tmp_path):
    """write_sorted_corpus must produce files whose sort-key ranges are
    disjoint and cover the input in global order — the property that
    lets a reader binary-search the manifest instead of scanning."""
    from dffoo_data_pipeline_spark.sources.writers import write_sorted_corpus

    df = spark.range(0, 10_000).selectExpr(
        "id AS doc_id", "CAST(id % 977 AS BIGINT) * 31 AS sort_key"
    )
    manifest = write_sorted_corpus(
        df, str(tmp_path / "sorted"), "sort_key", n_files=6
    ).collect()
    assert sum(r.rows for r in manifest) == 10_000
    spans = sorted((r.min_sort_key, r.max_sort_key) for r in manifest)
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans  # disjoint (range boundary may touch)
    # file sizes balanced within 3× despite the modular key pattern
    rows = sorted(r.rows for r in manifest)
    assert rows[-1] <= 3 * rows[0], rows


def test_delete_by_key_is_atomic_and_idempotent(spark, tmp_path):
    """GDPR delete: targeted keys vanish, others are untouched, and a
    re-run with the same keys removes nothing."""
    from dffoo_data_pipeline_spark.sources.writers import delete_by_key

    p = str(tmp_path / "users")
    spark.createDataFrame(
        [(i, f"u{i}", i * 10.0) for i in range(20)], "user_id long, name string, v double"
    ).write.parquet(p)
    doomed = spark.createDataFrame([(3,), (7,), (999,)], "user_id long")

    removed = delete_by_key(spark, p, "user_id", doomed)
    assert removed == 2  # 999 never existed
    left = {r.user_id for r in spark.read.parquet(p).collect()}
    assert left == set(range(20)) - {3, 7}
    # survivors keep their full rows
    r5 = spark.read.parquet(p).where("user_id = 5").collect()[0]
    assert (r5.name, r5.v) == ("u5", 50.0)

    assert delete_by_key(spark, p, "user_id", doomed) == 0  # idempotent
    assert {r.user_id for r in spark.read.parquet(p).collect()} == left


def test_training_export_manifest_roundtrip(spark, tmp_path):
    """Export shards with manifest; verification passes, detects a
    corrupted shard, and the ordered export is byte-reproducible."""
    from dffoo_data_pipeline_spark.sources.writers import (
        verify_training_export,
        write_training_export,
    )

    df = spark.range(1000).selectExpr("id AS doc_id", "CONCAT('text-', id) AS text")
    p = str(tmp_path / "export")
    m = write_training_export(df, p, shards=4, order_col="doc_id")
    assert m["total_rows"] == 1000
    assert len(m["shards"]) == 4
    assert verify_training_export(p) == []

    # reproducible: same input + order -> identical checksums
    p2 = str(tmp_path / "export2")
    m2 = write_training_export(df, p2, shards=4, order_col="doc_id")
    assert [s["sha256"] for s in m["shards"]] == [s["sha256"] for s in m2["shards"]]

    # corruption is caught
    import gzip
    import os

    victim = os.path.join(p, m["shards"][0]["file"])
    with gzip.open(victim, "ab") as fh:
        fh.write(b'{"doc_id": 99999, "text": "injected"}\n')
    errs = verify_training_export(p)
    assert any("mismatch" in e for e in errs)


def test_db_append_transactional_atomicity(spark, tmp_path):
    """S7 for real (DuckDB standing in for the warehouse): two runs append
    in one transaction each; a failing load (CHECK-constraint violation
    mid-bulk-insert) rolls back COMPLETELY — the reference's
    all-three-tables-in-one-transaction semantics (web_scraper.py:1286)."""
    import duckdb
    import pytest

    from dffoo_data_pipeline_spark.sources import writers

    db = str(tmp_path / "wh.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE abilities (char_name VARCHAR, cap INT CHECK (cap >= 0))"
    )
    con.close()

    good = spark.createDataFrame(
        [("vivi", 10), ("zack", 20)], "char_name string, cap int"
    )
    n = writers.write_db_append_transactional(
        good, db, "abilities", str(tmp_path / "stage1")
    )
    assert n == 2
    n = writers.write_db_append_transactional(
        good, db, "abilities", str(tmp_path / "stage2")
    )
    assert n == 2
    # committed stages are GC'd (a copy per run otherwise accumulates)
    assert not (tmp_path / "stage1").exists()
    assert not (tmp_path / "stage2").exists()

    # one violating row in an otherwise-valid batch: NOTHING lands
    mixed = spark.createDataFrame(
        [("ok", 1), ("bad", -5), ("ok2", 2)], "char_name string, cap int"
    )
    with pytest.raises(Exception):
        writers.write_db_append_transactional(
            mixed, db, "abilities", str(tmp_path / "stage3")
        )
    con = duckdb.connect(db)
    assert con.execute("SELECT count(*) FROM abilities").fetchone()[0] == 4
    con.close()
    # failed stage is KEPT so the retry can re-load without re-running Spark
    assert (tmp_path / "stage3").exists()


def test_db_append_all_or_nothing_three_tables(spark, tmp_path):
    """The reference's exact S7 shape: three tables in ONE transaction
    (web_scraper.py:1286-1291).  A failure loading the THIRD table must
    roll back the first two as well — no torn run."""
    import duckdb
    import pytest

    from dffoo_data_pipeline_spark.sources import writers

    db = str(tmp_path / "wh.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE raw_abilities (char_name VARCHAR, cap INT)")
    con.execute("CREATE TABLE raw_bt_effects (char_name VARCHAR, turns INT)")
    con.execute(
        "CREATE TABLE raw_high_armor_caps (char_name VARCHAR, cap INT CHECK (cap >= 0))"
    )
    con.close()

    ab = spark.createDataFrame([("vivi", 10), ("zack", 20)], "char_name string, cap int")
    bt = spark.createDataFrame([("vivi", 3)], "char_name string, turns int")
    ha_ok = spark.createDataFrame([("vivi", 5)], "char_name string, cap int")
    ha_bad = spark.createDataFrame([("vivi", -5)], "char_name string, cap int")

    counts = writers.write_db_append_all_or_nothing(
        {"raw_abilities": ab, "raw_bt_effects": bt, "raw_high_armor_caps": ha_ok},
        db,
        str(tmp_path / "run1"),
    )
    assert counts == {"raw_abilities": 2, "raw_bt_effects": 1, "raw_high_armor_caps": 1}
    assert not (tmp_path / "run1" / "raw_abilities").exists()  # stages GC'd

    with pytest.raises(Exception):
        writers.write_db_append_all_or_nothing(
            {"raw_abilities": ab, "raw_bt_effects": bt, "raw_high_armor_caps": ha_bad},
            db,
            str(tmp_path / "run2"),
        )
    con = duckdb.connect(db)
    # the failed run's FIRST TWO loads rolled back with the third
    assert con.execute("SELECT count(*) FROM raw_abilities").fetchone()[0] == 2
    assert con.execute("SELECT count(*) FROM raw_bt_effects").fetchone()[0] == 1
    assert con.execute("SELECT count(*) FROM raw_high_armor_caps").fetchone()[0] == 1
    con.close()
    # every stage of the failed run kept for the retry
    assert (tmp_path / "run2" / "raw_abilities").exists()
    assert (tmp_path / "run2" / "raw_high_armor_caps").exists()


def test_jdbc_append_real_roundtrip(spark, tmp_path):
    """S7 exercised END-TO-END through the real `df.write.jdbc` path:
    target table pre-created over a raw JDBC connection (the warehouse-
    admin step — Spark 4's exists-probe rethrows DuckDB's catalog error,
    so append mode needs the table to exist), then two partition-parallel
    appends, then read-back THROUGH JDBC.  Append semantics (2×N rows),
    values, and parallel-writer correctness all asserted.  Skips when no
    DuckDB JDBC jar is on the machine — then the call-shape test in
    test_sources.py is the S7 coverage."""
    import pytest

    from dffoo_data_pipeline_spark.session import find_jdbc_jar
    from dffoo_data_pipeline_spark.sources import writers

    if find_jdbc_jar() is None:
        pytest.skip("no DuckDB JDBC jar available")

    url = f"jdbc:duckdb:{tmp_path}/jdbc_wh.duckdb"
    props = {"driver": "org.duckdb.DuckDBDriver"}
    writers.jdbc_execute(
        spark,
        url,
        "org.duckdb.DuckDBDriver",
        "CREATE TABLE loads (id BIGINT, v BIGINT)",
    )
    df = spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(4)
    writers.write_jdbc_append(df, url, "loads", props)
    writers.write_jdbc_append(df, url, "loads", props)  # append, not overwrite

    back = spark.read.jdbc(url, "loads", properties=props)
    assert back.count() == 2000
    row = back.agg({"v": "sum"}).collect()[0]
    assert row[0] == 2 * sum(2 * i for i in range(1000))
    assert back.select("id").distinct().count() == 1000

"""Structured Streaming tests.

The driver's oracle check already proves stream==DuckDB on the single-file
source; these tests prove the *incremental* path: the same computations
stay correct when the source arrives as multiple files processed one per
micro-batch (maxFilesPerTrigger=1), i.e. state genuinely carries across
batches and update-mode re-emissions are reconciled.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from dffoo_data_pipeline_spark.functions import numeric as N
from dffoo_data_pipeline_spark.sources.readers import load_table
from dffoo_data_pipeline_spark.streaming import jobs
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def chunked_events_dir(spark):
    """events.parquet split into 4 files so availableNow runs 4 batches.

    Written through `load_table`, so the chunks carry µs timestamps
    regardless of the testdata file's physical ts type.
    """
    d = tempfile.mkdtemp(prefix="sg_chunked_events_")
    load_table(spark, SF_SMOKE, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def _stream_raw(spark, src_dir):
    from pyspark.sql import types as T

    return (
        spark.readStream.schema(jobs._events_raw_schema(T.TimestampType()))
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )


def test_multibatch_tumbling_matches_batch(spark, chunked_events_dir):
    stream = (
        _stream_raw(spark, chunked_events_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(N.dec2("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    got = jobs.run_stream_to_table(stream, "complete")

    e = load_table(spark, SF_SMOKE, "events")
    want = e.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(N.dec2("value")).cast("double").alias("total_value"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_multibatch_stateful_totals_match_batch(spark, chunked_events_dir):
    updates = (
        _stream_raw(spark, chunked_events_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            jobs._user_totals_fn,
            outputStructType=jobs._USER_TOTALS_SCHEMA,
            stateStructType=jobs._USER_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = jobs.run_stream_to_table(updates, "update")
    # update mode re-emits a key per batch it appears in: >1 row per key
    n_users = emitted.select("user_id").distinct().count()
    assert emitted.count() > n_users, "expected multi-batch re-emissions"

    final = (
        emitted.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "total_value", "first_ts", "last_ts"), "n_events"
            ).alias("s")
        )
        .select("user_id", "s.n_events", "s.total_value", "s.first_ts", "s.last_ts")
    )
    e = load_table(spark, SF_SMOKE, "events")
    want = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(N.dec2("value")).cast("double").alias("total_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, want.collect()))


def test_session_window_matches_gap_sessionization(spark):
    got = jobs.streaming_session_window(spark, SF_SMOKE)
    from dffoo_data_pipeline_spark.plans.events import events_sessionization

    want = events_sessionization(spark, SF_SMOKE).select(
        "user_id",
        F.col("session_start"),
        "n_events",
        F.col("session_value"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_foreachbatch_run_stamped_sink(spark, chunked_events_dir):
    import tempfile as _tf

    from dffoo_data_pipeline_spark.sources import writers

    out = _tf.mkdtemp(prefix="sg_stream_sink_") + "/t"
    from pyspark.sql import types as T

    src = (
        spark.readStream.schema(jobs._events_raw_schema(T.TimestampType()))
        .format("parquet")
        .option("maxFilesPerTrigger", 2)  # 4 files -> 2 micro-batches
        .load(chunked_events_dir)
    )
    jobs.stream_to_run_stamped(src, out)

    hist = spark.read.parquet(out)
    runs = sorted(r.run_id for r in hist.select("run_id").distinct().collect())
    assert len(runs) == 2, runs
    total = load_table(spark, SF_SMOKE, "events").count()
    assert hist.count() == total  # every event loaded exactly once
    latest = writers.read_latest_run(spark, out)
    assert latest.select("run_id").distinct().count() == 1

    # replay idempotence: foreachBatch re-runs a crashed batch under its
    # ORIGINAL batch id — the sink overwrites the run partition, so
    # re-applying must not duplicate rows within it
    b0 = spark.read.parquet(out).where(F.col("run_id") == runs[0]).drop("run_id")
    writers.write_run_stamped(b0, out, run_id=runs[0], overwrite_run=True)
    assert spark.read.parquet(out).count() == total


def test_late_data_beyond_watermark_dropped(spark):
    """Watermark semantics: an event arriving a batch later, with event
    time far below the watermark, must not resurrect its closed window."""
    import tempfile as _tf

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = _tf.mkdtemp(prefix="sg_late_")
    base_ns = 10_000_000_000_000

    def write_file(path, rows):
        # plain single files: the stream source lists files, not dirs
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(cols[0], pa.int64()),
                    "ts": pa.array(cols[1], pa.int64()),
                    "user_id": pa.array(cols[2], pa.int64()),
                    "event_type": pa.array(cols[3], pa.string()),
                    "value": pa.array(cols[4], pa.float64()),
                    "props": pa.array(cols[5], pa.string()),
                }
            ),
            path,
        )

    # batch 0: one event in the base window, one 2 h later (advances the
    # watermark past the base window); batch 1: filler on-time event (the
    # watermark used for FILTERING lags one batch — documented Spark
    # behavior: it comes from the previous completed batch); batch 2: the
    # late event, same window as event #1, far below the active watermark
    write_file(f"{d}/f0.parquet", [(1, base_ns, 1, "c", 1.0, "{}"),
                                   (2, base_ns + 7_200 * 10**9, 1, "c", 1.0, "{}")])
    write_file(f"{d}/f1.parquet", [(4, base_ns + 7_300 * 10**9, 1, "c", 1.0, "{}")])
    write_file(f"{d}/f2.parquet", [(3, base_ns + 1, 1, "c", 1.0, "{}")])
    import os as _os

    # distinct mtimes: the file source orders batches by modification time
    for i in range(3):
        _os.utime(f"{d}/f{i}.parquet", (1_000_000 + i * 10, 1_000_000 + i * 10))

    # int64-nanos files: exercises the nanosAsLong compat path explicitly
    from pyspark.sql import types as T

    src = (
        spark.readStream.schema(jobs._events_raw_schema(T.LongType()))
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    counts = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    got = jobs.run_stream_to_table(counts, "update")
    # the late event's window (the earliest one) must never re-emit n=2 —
    # it was closed by the watermark before the late row arrived
    per_window_max = {r.window_start: r.n for r in
                      got.groupBy("window_start").agg(F.max("n").alias("n")).collect()}
    assert per_window_max[min(per_window_max)] == 1


def test_custom_sessionizer_order_tolerant(spark, chunked_events_dir):
    """The interval-merge sessionizer must produce byte-identical sessions
    when events arrive out of time order across micro-batches (the
    repartitioned chunks interleave every user's timeline)."""
    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupStateTimeout

    updates = (
        _stream_raw(spark, chunked_events_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            jobs._sessionizer_fn,
            outputStructType=jobs._SESSIONIZER_OUT,
            stateStructType=jobs._SESSIONIZER_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = jobs.run_stream_to_table(updates, "update")
    mx = F.max("version").over(Window.partitionBy("user_id"))
    got = (
        emitted.withColumn("__mx", mx)
        .where(F.col("version") == F.col("__mx"))
        .select("user_id", "session_start", "n_events", "session_value")
    )

    from dffoo_data_pipeline_spark.plans.events import events_sessionization

    want = events_sessionization(spark, SF_SMOKE).select(
        "user_id", "session_start", "n_events", "session_value"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_incremental_checkpoint_resume_exactly_once(spark, tmp_path):
    """The durable-checkpoint contract behind run_incremental_to_parquet:
    run 1 processes the initial files; files landing between runs are
    picked up by run 2 under the SAME checkpoint without reprocessing
    run 1's input; a third run with nothing new appends nothing."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dffoo_data_pipeline_spark.streaming.jobs import run_incremental_to_parquet

    src = tmp_path / "landing"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    src.mkdir()
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )

    def land(lo: int, hi: int, name: str) -> None:
        spark.range(lo, hi).select(
            F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("v")
        ).coalesce(1).write.parquet(str(src / name))

    def run() -> None:
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        run_incremental_to_parquet(
            stream.withColumn("tagged", F.length("v")), out, ckpt
        )

    land(0, 100, "a")
    run()
    assert spark.read.parquet(out).count() == 100

    land(100, 250, "b")
    run()
    got = spark.read.parquet(out)
    assert got.count() == 250  # 150 new rows, nothing reprocessed
    assert got.select("id").distinct().count() == 250  # each id exactly once

    run()  # no new files → no-op
    assert spark.read.parquet(out).count() == 250


def test_stream_db_append_exactly_once(spark, chunked_events_dir):
    """Streaming → warehouse exactly-once: every event lands in the DB
    exactly once across micro-batches, and a REPLAYED batch (same
    batch_id, as Spark re-runs after a crash) no-ops because data + batch
    ledger committed in one transaction."""
    import tempfile as _tf

    import duckdb
    from pyspark.sql import types as T

    root = _tf.mkdtemp(prefix="sg_dbstream_")
    db = f"{root}/wh.duckdb"
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE events_wh (event_id BIGINT, ts TIMESTAMP, "
        "user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.close()

    src = (
        spark.readStream.schema(jobs._events_raw_schema(T.TimestampType()))
        .format("parquet")
        .option("maxFilesPerTrigger", 2)  # 4 files -> 2 micro-batches
        .load(chunked_events_dir)
    )
    jobs.stream_db_append_exactly_once(
        src, db, "events_wh", f"{root}/stage", f"{root}/ckpt"
    )

    total = load_table(spark, SF_SMOKE, "events").count()
    con = duckdb.connect(db)
    assert con.execute("SELECT count(*) FROM events_wh").fetchone()[0] == total
    assert (
        con.execute("SELECT count(DISTINCT event_id) FROM events_wh").fetchone()[0]
        == total
    )
    n_batches = con.execute("SELECT count(*) FROM _applied_batches").fetchone()[0]
    assert n_batches == 2
    before = con.execute("SELECT count(*) FROM events_wh").fetchone()[0]
    con.close()

    # applied stages are garbage-collected (one dir per batch would
    # accumulate forever at scale)
    import os as _os

    assert not any(
        e.startswith("b") for e in (_os.listdir(f"{root}/stage") if _os.path.isdir(f"{root}/stage") else [])
    )

    # restart with the SAME durable checkpoint: the offset log knows every
    # file is done, so the resumed run delivers nothing new
    src_resume = (
        spark.readStream.schema(jobs._events_raw_schema(T.TimestampType()))
        .format("parquet")
        .option("maxFilesPerTrigger", 2)
        .load(chunked_events_dir)
    )
    jobs.stream_db_append_exactly_once(
        src_resume, db, "events_wh", f"{root}/stage", f"{root}/ckpt"
    )
    con = duckdb.connect(db)
    assert con.execute("SELECT count(*) FROM events_wh").fetchone()[0] == before
    con.close()

    # ledger replay: batch committed to the DB but the stream crashed
    # before advancing the checkpoint — the resumed run re-delivers the
    # same batch id and must no-op on the ledger.  Simulated by
    # pre-seeding (table, 0) into the ledger for a fresh table/stream.
    one = _tf.mkdtemp(prefix="sg_replay_")
    load_table(spark, SF_SMOKE, "events").limit(10).coalesce(1).write.mode(
        "overwrite"
    ).parquet(one)
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE events_wh2 AS SELECT * FROM events_wh WHERE false"
    )
    con.execute("INSERT INTO _applied_batches VALUES ('events_wh2', 0)")
    con.close()
    src2 = (
        spark.readStream.schema(jobs._events_raw_schema(T.TimestampType()))
        .format("parquet")
        .load(one)
    )
    jobs.stream_db_append_exactly_once(
        src2, db, "events_wh2", f"{root}/stage2", f"{root}/ckpt2"
    )
    con = duckdb.connect(db)
    # replayed batch no-oped — and the replay skipped the staging write
    assert con.execute("SELECT count(*) FROM events_wh2").fetchone()[0] == 0
    con.close()
    assert not _os.path.isdir(f"{root}/stage2/b000000")

    # composite ledger key: a DIFFERENT stream into a DIFFERENT table of
    # the SAME warehouse reuses batch ids 0.. without colliding
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE events_wh3 AS SELECT * FROM events_wh WHERE false"
    )
    con.close()
    src3 = (
        spark.readStream.schema(jobs._events_raw_schema(T.TimestampType()))
        .format("parquet")
        .load(one)
    )
    jobs.stream_db_append_exactly_once(
        src3, db, "events_wh3", f"{root}/stage3", f"{root}/ckpt3"
    )
    con = duckdb.connect(db)
    assert con.execute("SELECT count(*) FROM events_wh3").fetchone()[0] == 10
    con.close()


def test_stream_db_append_rollback_on_midload_failure(spark, chunked_events_dir):
    """A load that fails MID-transaction (CHECK-constraint violation on a
    later row of the batch) must leave the warehouse untouched AND the
    ledger without the batch id — data and ledger commit or roll back
    together — and must KEEP the staged parquet so the retry re-loads
    without re-running the Spark side."""
    import os as _os
    import tempfile as _tf

    import duckdb
    from pyspark.sql import types as T

    root = _tf.mkdtemp(prefix="sg_dbfail_")
    db = f"{root}/wh.duckdb"
    con = duckdb.connect(db)
    # value is always >= 0 in the testdata, so constrain on a column we
    # can make fail deterministically: event_id must be < 0, violated by
    # every real row → the bulk INSERT starts and dies mid-load
    con.execute(
        "CREATE TABLE events_wh (event_id BIGINT CHECK (event_id < 0), ts TIMESTAMP, "
        "user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.close()

    src = (
        spark.readStream.schema(jobs._events_raw_schema(T.TimestampType()))
        .format("parquet")
        .load(chunked_events_dir)
    )
    with pytest.raises(Exception):
        jobs.stream_db_append_exactly_once(
            src, db, "events_wh", f"{root}/stage", f"{root}/ckpt"
        )
    con = duckdb.connect(db)
    assert con.execute("SELECT count(*) FROM events_wh").fetchone()[0] == 0
    assert (
        con.execute("SELECT count(*) FROM _applied_batches").fetchone()[0] == 0
    )
    con.close()
    # failed stage kept for the retry
    assert _os.path.isdir(f"{root}/stage/b000000")


def test_multibatch_neardup_probe_matches_batch(spark):
    """streaming_neardup_probe's per-doc verdicts must be micro-batch-
    invariant: probe the same incoming slice split into 3 files (3
    availableNow batches) and assert exact equality with the batch
    operator's one-shot result."""
    import tempfile

    from dffoo_data_pipeline_spark.operators.dedup import neardup_against_index
    from dffoo_data_pipeline_spark.streaming.jobs import _DOCS_SCHEMA

    docs = load_table(spark, SF_SMOKE, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    old = docs.where(F.col("doc_id") % 10 != 0)

    src = tempfile.mkdtemp(prefix="sg_chunked_docs_")
    new.repartition(3).write.mode("overwrite").parquet(src)
    out_dir = tempfile.mkdtemp(prefix="sg_neardup_mb_")
    n_batches = []

    def probe(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        n_batches.append(batch_id)
        neardup_against_index(
            batch_df, old, id_col="doc_id", text_col="text", n=3, num_hashes=15, bands=5, family="md5"
        ).write.mode("append").parquet(out_dir)

    q = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(probe)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sg_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(n_batches) >= 3  # the split genuinely ran as >=3 micro-batches

    got = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    want = sorted(
        map(
            tuple,
            neardup_against_index(
                new, old, id_col="doc_id", text_col="text", n=3, num_hashes=15, bands=5, family="md5"
            ).collect(),
        )
    )
    assert got == want

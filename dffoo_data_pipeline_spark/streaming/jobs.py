"""Structured Streaming jobs over the `events` table.

Each job is the streaming twin of a batch query in `plans/events.py` and
produces the SAME result schema, so the DuckDB oracle that checks the batch
form also checks the stream: the driver-contract callable runs the stream
to completion with `Trigger.AvailableNow` into a memory sink and returns
the materialized table.

Scale design (these choices are what matter at 100 TB/day of events):

- **Watermarks bound state.**  Every window/session agg declares
  `withWatermark` so state for closed windows is evicted; without it a
  long-running stream accumulates state forever.  We still read the
  results via complete/update-mode memory sinks for the *finite* test
  streams (append mode would withhold the final watermark-delay's worth
  of windows on a stream that ends).
- **File source, not collect.**  `readStream.parquet(dir)` lists files
  incrementally (maxFilesPerTrigger batches) — the same code points at a
  Kafka source by swapping the reader, the plan is unchanged.
- **Shuffle keys.**  Window aggs shuffle on (window, event_type) and
  sessions on user_id — both high-cardinality; per-key state is bounded
  by the watermark horizon, not stream length.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dffoo_data_pipeline_spark.functions import numeric as N
from dffoo_data_pipeline_spark.plans.events import (
    SESSION_GAP_SECONDS,
    _PIT_SQL,
    _SESSION_SQL,
)

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Streaming file sources need the schema up front.  `events.ts` has
# shipped either as TIMESTAMP(NANOS)-stored-as-INT64 (vectorized reader
# only accepts it via `nanosAsLong`; see sources/readers.py) or as plain
# TIMESTAMP(MICROS) — build the schema to match the staged file.
def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


_STAGE_DIRS: dict[tuple[str, str], str] = {}


def _stage_file(sf_dir: str, filename: str) -> str:
    """File stream sources monitor a DIRECTORY; the testdata table is one
    file.  Stage it behind a symlink in a temp dir (no data copied) — on a
    real deployment this is the landing directory new files arrive in.
    The source dir is made absolute first: the symlink target is stored
    verbatim, and a relative sf_dir would resolve against the /tmp
    staging dir and dangle.  One cache + helper for every staged table
    (events/documents/embeddings) so a fix here fixes all streams."""
    key = (os.path.abspath(sf_dir.rstrip("/")), filename)
    if key not in _STAGE_DIRS:
        d = tempfile.mkdtemp(prefix=f"sg_{filename.split('.')[0]}_src_")
        os.symlink(f"{key[0]}/{filename}", f"{d}/{filename}")
        _STAGE_DIRS[key] = d
    return _STAGE_DIRS[key]


def _stage_dir(sf_dir: str) -> str:
    return _stage_file(sf_dir, "events.parquet")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` as an unbounded stream (file source standing in for Kafka).

    Same type adaptation as the batch reader so stream and oracle agree:
    INT64-nanos files are truncated to µs; TIMESTAMP(MICROS) files pass
    through.  The batch file's footer schema (no Spark job) decides which
    physical type the staged file carries.
    """
    from dffoo_data_pipeline_spark.sources.readers import parquet_schema

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = parquet_schema(spark, f"{sf_dir.rstrip('/')}/events.parquet")["ts"].dataType
    raw = (
        spark.readStream.schema(_events_raw_schema(ts_type))
        .format("parquet")
        .load(_stage_dir(sf_dir))
    )
    if isinstance(ts_type, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # value-preserving under the UTC session tz (see sources/readers.py)
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


_SINK_VIEWS: list[str] = []


def run_stream_to_table(result: DataFrame, output_mode: str) -> DataFrame:
    """Run a (finite) stream to exhaustion into a memory sink; return the
    materialized result.  AvailableNow processes every pending file then
    stops — the streaming analog of a batch run, with real incremental
    state + checkpointing underneath.

    Memory-sink tables pin their full result in driver memory for the
    session lifetime; a long-lived session running many streaming
    queries would grow without bound, so only the most recent few sink
    views are kept (callers consume a result promptly — the driver
    collects it, tests assert on it — so dropping older views is safe).
    """
    name = "s" + uuid.uuid4().hex[:12]
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sg_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = result.sparkSession
    _SINK_VIEWS.append(name)
    while len(_SINK_VIEWS) > 8:
        spark.catalog.dropTempView(_SINK_VIEWS.pop(0))
    return spark.table(name)


@_register(
    "streaming_tumbling_hourly",
    # batch-twin semantics MINUS timeless rows: streaming event-time
    # aggregation requires an event time (a NULL-ts row has no window
    # and no watermark position), so the oracle filters what the stream
    # cannot hold — the batch twin keeps its NULL-hour bucket as a
    # data-quality signal (r12 hostile sweep)
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window agg as a stream: watermark 1h, windowed
    groupBy, incremental state.  Streaming twin of events_tumbling_hourly.
    NULL-ts rows are filtered EXPLICITLY (not left to the window
    expression's silent NULL-drop) so the contract is visible in the
    plan."""
    e = read_events_stream(spark, sf_dir).where(F.col("ts").isNotNull())
    agg = (
        e.withWatermark("ts", "1 hour")
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
    return run_stream_to_table(agg, "complete")


@_register(
    "streaming_session_window",
    # project the batch gap-sessionization oracle down to this shape
    "WITH base AS (" + _SESSION_SQL + ")\n"
    "SELECT user_id, session_start, n_events, session_value FROM base",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming sessionization via F.session_window (30-min gap) —
    the stateful merge-adjacent-windows operator the batch cumulative-sum
    form (events_sessionization) emulates.  Same exclusions as the batch
    twin (whose oracle this projects): a session needs a user identity
    and an event time."""
    e = read_events_stream(spark, sf_dir).where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_SECONDS} seconds").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(F.sum(N.dec2("value")).cast("double"), F.lit(0.0)).alias(
                "session_value"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )
    return run_stream_to_table(agg, "complete")


@_register(
    "streaming_interval_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS secs_to_purchase
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each click joined to the purchases the
    same user makes within the next 30 minutes.

    Both sides carry watermarks and the join condition bounds event time,
    so Spark can size the state store: click state is evicted once no
    future purchase can match it (watermark + 30 min).  Inner-join matches
    emit as soon as both rows arrive — append mode, no end-of-window wait.
    """
    e = read_events_stream(spark, sf_dir)
    clicks = (
        e.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")) / 1_000_000
        ).cast("long").alias("secs_to_purchase"),
    )
    return run_stream_to_table(joined, "append")


# Custom stateful sessionizer state: a VERSION counter plus parallel
# arrays describing the user's current sessions (start/end µs, count,
# value cents).  Arrays (not one row per session) because GroupState holds
# exactly one state tuple per key.
_SESSIONIZER_STATE = (
    "version LONG, starts ARRAY<LONG>, ends ARRAY<LONG>, "
    "counts ARRAY<LONG>, cents ARRAY<LONG>"
)
_SESSIONIZER_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("version", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_value", T.DoubleType()),
    ]
)


def _sessionizer_fn(
    key: tuple, pdfs: "Iterator[pd.DataFrame]", state: GroupState
) -> "Iterator[pd.DataFrame]":
    """Order-tolerant incremental sessionization by interval merge.

    Each event enters as a [ts, ts] mini-session; any two sessions closer
    than the gap merge (summing counters).  Merging is associative and
    commutative, so the result is IDENTICAL for any arrival order across
    micro-batches — the property plain last-event-append sessionizers
    lack.  Every batch re-emits the user's full session list stamped with
    a bumped version; readers keep the max-version emission per user.
    """
    (user_id,) = key
    gap_us = SESSION_GAP_SECONDS * 1_000_000
    if state.exists:
        version, starts, ends, counts, cents = state.get
        sess = sorted(zip(starts, ends, counts, cents))
    else:
        version, sess = 0, []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        # NULL value = 0-contribution (the session still counts the
        # event); bare astype crashes the whole Arrow batch on one NaN
        cts = (pdf["value"].fillna(0.0) * 100).round().astype("int64").to_numpy()
        for t, c in zip(us, cts):
            sess.append((int(t), int(t), 1, int(c)))
    sess.sort()
    merged: list[list[int]] = []
    for s, e, n, c in sess:
        if merged and s - merged[-1][1] <= gap_us:
            m = merged[-1]
            m[1] = max(m[1], e)
            m[2] += n
            m[3] += c
        else:
            merged.append([s, e, n, c])
    version += 1
    state.update(
        (
            version,
            [m[0] for m in merged],
            [m[1] for m in merged],
            [m[2] for m in merged],
            [m[3] for m in merged],
        )
    )
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(merged),
            "version": [version] * len(merged),
            "session_start": [pd.Timestamp(m[0], unit="us") for m in merged],
            "n_events": [m[2] for m in merged],
            "session_value": [m[3] / 100.0 for m in merged],
        }
    )


@_register(
    "streaming_custom_sessionizer",
    # converges to exactly the batch gap-sessionization result
    "WITH base AS (" + _SESSION_SQL + ")\n"
    "SELECT user_id, session_start, n_events, session_value FROM base",
)
def streaming_custom_sessionizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionizer via applyInPandasWithState — the
    hand-rolled counterpart of F.session_window (streaming_session_window)
    with one extra property: out-of-order arrival across micro-batches
    yields byte-identical sessions (interval merge is order-free).

    Scale: state per user = its session intervals (bounded by activity,
    evictable below the watermark); emissions are update-mode versioned,
    reconciled by max version — no global re-read of history.

    NULL-user_id / NULL-ts rows are filtered AT THE OPERATOR BOUNDARY,
    matching the batch oracle's exclusions: a NULL group key reaches the
    Arrow kernel as NaN and crashes its int64 casts (the r11
    NULL-crossing rule applied to applyInPandasWithState — r12 sweep).
    """
    e = read_events_stream(spark, sf_dir).where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    updates = (
        e.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionizer_fn,
            outputStructType=_SESSIONIZER_OUT,
            stateStructType=_SESSIONIZER_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = run_stream_to_table(updates, "update")
    from pyspark.sql import Window

    latest_v = F.max("version").over(Window.partitionBy("user_id"))
    return (
        emitted.withColumn("__mx", latest_v)
        .where(F.col("version") == F.col("__mx"))
        .select("user_id", "session_start", "n_events", "session_value")
    )


@_register(
    "streaming_dedup_events",
    """
    SELECT event_type, COUNT(*) AS n_unique_events
    FROM (SELECT DISTINCT event_id, event_type FROM events)
    GROUP BY event_type
    """,
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming deduplication: dropDuplicatesWithinWatermark on
    event_id — exactly-once semantics over an at-least-once transport
    (the Kafka reality).  State holds only ids within the watermark
    horizon, not the full stream history; counts per type prove the
    dedup'd stream equals DISTINCT on the batch table.
    """
    e = read_events_stream(spark, sf_dir)
    deduped = (
        e.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_events"))
    )
    return run_stream_to_table(deduped, "complete")


def stream_to_run_stamped(
    source: DataFrame, path: str, checkpoint_dir: str | None = None
) -> None:
    """Streaming writer feeding a run-stamped append table — the streaming
    form of the reference's append-mode load (web_scraper.py:1286-1291):
    each micro-batch becomes one `run_id` partition via foreachBatch, so
    `read_latest_run` prunes to the newest batch and the history is the
    full replayable load log.

    Scale: foreachBatch reuses the batch writer (idempotent per batch id
    on retry because the partition is OVERWRITTEN by run —
    ``overwrite_run=True`` — not appended twice blindly; Spark re-runs a
    failed batch with the same batch_id).  Production callers MUST pass
    a durable ``checkpoint_dir``: batch ids are scoped to one checkpoint
    lineage, and a fresh checkpoint restarts numbering at 0 —
    overwriting prior run partitions.  The throwaway default exists only
    for single-shot tests.
    """
    from dffoo_data_pipeline_spark.sources.writers import write_run_stamped

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_run_stamped(
            batch_df, path, run_id=f"b{batch_id:06d}", overwrite_run=True
        )

    q = (
        source.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="sg_ckpt_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_db_append_exactly_once(
    source: DataFrame, db_path: str, table: str, staging_root: str, checkpoint_dir: str
) -> None:
    """Streaming → warehouse with EXACTLY-ONCE delivery: each micro-batch
    is staged to parquet (distributed write), then the DATABASE applies
    data + the (table, batch id) to a `_applied_batches` ledger table in
    ONE transaction.  A checkpoint-replayed batch finds its id in the
    ledger and no-ops; a crash mid-transaction rolls both back, so data
    and ledger can never disagree.  This is the transactional-sink
    idempotence seam every at-least-once engine (Spark foreachBatch,
    Flink 2PC sinks) builds exactly-once on — the streaming twin of
    writers.write_db_append_transactional (reference S7's one-transaction
    load, web_scraper.py:1286-1291), with DuckDB standing in for the
    warehouse; swap the connection for JDBC/Postgres and nothing else
    changes.

    ``checkpoint_dir`` is caller-owned and must be DURABLE: batch ids are
    only meaningful within one checkpoint lineage, so the ledger's
    replay-detection contract holds only when every run of this stream
    resumes the same checkpoint.  (A fresh checkpoint restarts batch
    numbering at 0 with different batch boundaries — against a warehouse
    whose ledger already holds those ids, that silently drops data.)
    The ledger is keyed (sink_table, batch_id) so multiple streams can
    share one warehouse file without colliding.

    Scale: per batch, one partition-parallel parquet write plus one
    DB-side bulk load; the ledger probe is a single-row indexed lookup
    and runs BEFORE staging, so a replayed batch skips the distributed
    write entirely.  No rows cross the Spark driver.  Applied stages are
    garbage-collected AFTER their commit (one dir per micro-batch
    otherwise accumulates forever); a stage that failed to commit is
    kept for the retry.
    """
    import shutil

    import duckdb

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        stage = f"{staging_root.rstrip('/')}/b{batch_id:06d}"
        con = duckdb.connect(db_path)
        in_txn = False
        try:
            con.execute(
                "CREATE TABLE IF NOT EXISTS _applied_batches "
                "(sink_table VARCHAR, batch_id BIGINT, PRIMARY KEY (sink_table, batch_id))"
            )
            seen = con.execute(
                "SELECT 1 FROM _applied_batches WHERE sink_table = ? AND batch_id = ?",
                [table, batch_id],
            ).fetchone()
            if seen:  # checkpoint replay after a crash: already committed —
                # skip the staging write too, and GC any stale stage left
                # by a crash between COMMIT and the post-commit rmtree
                shutil.rmtree(stage, ignore_errors=True)
                return
            batch_df.write.mode("overwrite").parquet(stage)
            cols = ", ".join(f'"{c}"' for c in batch_df.columns)
            con.execute("BEGIN")
            in_txn = True
            con.execute(
                f"INSERT INTO {table} ({cols}) "
                f"SELECT {cols} FROM read_parquet('{stage}/*.parquet')"
            )
            con.execute(
                "INSERT INTO _applied_batches VALUES (?, ?)", [table, batch_id]
            )
            con.execute("COMMIT")
        except Exception:
            if in_txn:  # a bare ROLLBACK outside a txn would raise and
                try:  # mask the root-cause error propagating to the stream
                    con.execute("ROLLBACK")
                except Exception:
                    pass
            raise
        else:
            shutil.rmtree(stage, ignore_errors=True)
        finally:
            con.close()

    q = (
        source.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@_register(
    "streaming_db_exactly_once",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def streaming_db_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end delivery check for the transactional streaming sink:
    stream the events table into the warehouse via
    `stream_db_append_exactly_once`, then report per-type counts READ BACK
    FROM THE WAREHOUSE.  The oracle computes the same counts straight off
    the batch table — any dropped or double-applied micro-batch shows up
    as a count mismatch, so the oracle hash certifies exactly-once
    delivery, not just query math.  (The read-back aggregate crosses the
    driver as a bounded |event_type|-row frame; the data path itself is
    the distributed stage-then-bulk-load sink.)"""
    import tempfile as _tf

    import duckdb

    root = _tf.mkdtemp(prefix="sg_dbq_")
    db = f"{root}/wh.duckdb"
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE events_wh (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.close()
    stream_db_append_exactly_once(
        read_events_stream(spark, sf_dir), db, "events_wh", f"{root}/stage", f"{root}/ckpt"
    )
    con = duckdb.connect(db)
    pdf = con.execute(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events"
        " FROM events_wh GROUP BY event_type"
    ).fetchdf()
    con.close()
    return spark.createDataFrame(
        pdf, "event_type string, n_events long"
    )


def run_incremental_to_parquet(result: DataFrame, out_dir: str, ckpt_dir: str) -> None:
    """One incremental-batch run of the nightly-ingest pattern: process
    every source file not yet recorded in ``ckpt_dir``'s offset log,
    append the results to ``out_dir`` exactly once, then stop
    (availableNow).  Unlike the test-scoped helpers above, the
    checkpoint is caller-owned and DURABLE — rerunning with the same
    checkpoint resumes from the recorded offsets, so files landing
    between runs are processed exactly once and an empty run is a no-op.

    This is how a 100 TB ingest actually operates: a scheduler invokes
    the job on a cadence; the file-source offset log (which files are
    done) and the parquet sink's transaction log (which output files are
    committed) together give end-to-end exactly-once without any
    bookkeeping in user code — a half-written batch is invisible to
    readers and re-run under the same batch id on restart.
    """
    q = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_USER_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("first_ts", T.TimestampType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)
_USER_TOTALS_STATE = "n_events LONG, total_cents LONG, first_us LONG, last_us LONG"


def _user_totals_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: per-user running totals.

    State is (count, cents, first_us, last_us) — cents as int64 so the
    accumulation is exact regardless of arrival order (matches the
    DECIMAL(12,2) oracle).  Emits the updated running total each batch
    (update semantics).
    """
    (user_id,) = key
    if state.exists:
        n, cents, first_us, last_us = state.get
    else:
        n, cents, first_us, last_us = 0, 0, None, None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        # NULL value = 0-contribution (counted, not summed) — matches
        # the oracle's COALESCE(SUM(..), 0); bare astype crashes on NaN
        cents += int(round(pdf["value"].fillna(0.0) * 100).astype("int64").sum())
        us = pdf["ts"].astype("int64") // 1000
        lo, hi = int(us.min()), int(us.max())
        first_us = lo if first_us is None else min(first_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
    state.update((n, cents, first_us, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [cents / 100.0],
            "first_ts": [pd.Timestamp(first_us, unit="us")],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
        }
    )


@_register(
    "streaming_stateful_user_totals",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) AS DOUBLE)
             AS total_value,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY user_id
    """,
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user lifetime totals maintained in explicit GroupState (the
    reference's accumulate-in-a-dict loops, web_scraper.py:383-395, as an
    unbounded-stream operator).

    The stream emits a running total per user per batch; the final row per
    user (max n_events) is the lifetime total — selected with one max_by
    agg so the result is batch-count-independent.

    NULL-user_id / NULL-ts rows filtered at the operator boundary (and
    identically in the oracle): a NULL group key reaches the Arrow
    kernel as NaN and crashes its int64 casts, and a timeless event has
    no first/last position (r12 hostile sweep).
    """
    e = read_events_stream(spark, sf_dir).where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    updates = (
        e.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_totals_fn,
            outputStructType=_USER_TOTALS_SCHEMA,
            stateStructType=_USER_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = run_stream_to_table(updates, "update")
    final = F.max_by(
        F.struct("n_events", "total_value", "first_ts", "last_ts"), "n_events"
    ).alias("s")
    return emitted.groupBy("user_id").agg(final).select(
        "user_id", "s.n_events", "s.total_value", "s.first_ts", "s.last_ts"
    )


@_register(
    "streaming_enrich_static",
    """
    SELECT c.c_mktsegment AS mktsegment, e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def streaming_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (§2i): the event stream joined to the
    static customer dimension per micro-batch, then a windowless running
    aggregate — the canonical clickstream-enrichment shape (Kafka stream ⋈
    dim table).

    Scale: the static side is re-planned EVERY micro-batch, so a slowly
    changing dim picks up updates without restarting the query; no hint on
    the dim (customer grows with the corpus — AQE broadcasts it per batch
    while it fits, shuffles when it doesn't).  State is the aggregate
    only (segments × event types), not the join — stream-static joins are
    stateless by construction.
    """
    from dffoo_data_pipeline_spark.sources.readers import load_table

    e = read_events_stream(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        e.join(c, e.user_id == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(N.dec2("value")).cast("double").alias("total_value"),
        )
    )
    return run_stream_to_table(agg, "complete")


@_register(
    "streaming_dedup_against_ledger",
    """
    SELECT e.event_id, e.user_id, e.event_type, e.ts
    FROM events e
    WHERE NOT EXISTS (
        SELECT 1 FROM events s
        WHERE s.event_id % 7 = 0 AND s.event_id = e.event_id)
    """,
)
def streaming_dedup_against_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static ANTI join (§2i + incremental-dedup twin): pass
    through only events whose id is NOT in a static already-ingested
    ledger — the streaming form of operators/dedup.py:dedup_against_seen
    (here the ledger proxy is event_id % 7 == 0 of the batch table).

    Spark supports stream-static left_anti directly (stream on the left);
    the join is STATELESS — the static side is re-planned each
    micro-batch, so a growing ledger is picked up without restart, and no
    watermark is needed because nothing is buffered.  Append mode: rows
    flow through as soon as their micro-batch commits.

    Scale: per-batch anti join against a corpus-cumulative ledger is a
    shuffle join (never broadcast by hint); dropDuplicates handles
    WITHIN-stream dupes (streaming_dedup_events) while this handles
    dupes against HISTORY — a real pipeline runs both.
    """
    e = read_events_stream(spark, sf_dir)
    from dffoo_data_pipeline_spark.sources.readers import load_table

    ledger = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 7 == 0)
        .select("event_id")
    )
    novel = e.join(ledger, "event_id", "left_anti").select(
        "event_id", "user_id", "event_type", "ts"
    )
    return run_stream_to_table(novel, "append")


@_register(
    "streaming_error_rate_alert",
    # batch SLO rollup semantics MINUS timeless rows (streaming
    # event-time windows cannot hold a NULL-ts event; the batch twin
    # keeps its NULL-hour bucket — r12 hostile sweep)
    """
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_errors,
           FLOOR(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*) * 1000000 + 0.5) / 1000000 AS error_rate,
           SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
             > 0.25 AS alert
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY date_trunc('hour', ts)
    """,
)
def streaming_error_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-fraction SLO rollup AS A STREAM (twin of the batch
    events_hourly_error_rate): windowed conditional aggregation under a
    1-hour watermark, alert flag computed per window — the always-on
    health monitor a paging pipeline tails.

    Scale: state is one (count, error-count) pair per open hour window,
    closed by the watermark; conditional sums are incremental (no
    per-event state), and the alert predicate compares the UNROUNDED
    ratio exactly like the batch twin, so batch backfill and the live
    stream can never disagree on whether an hour alerted.
    """
    from dffoo_data_pipeline_spark.functions.numeric import round_det

    e = read_events_stream(spark, sf_dir).where(F.col("ts").isNotNull())
    n_err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    n_all = F.count(F.lit(1))
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            n_all.alias("n_events"),
            n_err.alias("n_errors"),
            round_det(n_err / n_all, 6).alias("error_rate"),
            (n_err / n_all > 0.25).alias("alert"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "n_errors",
            "error_rate",
            "alert",
        )
    )
    return run_stream_to_table(agg, "complete")


_EVENT_QUARANTINE_RULES_SQL = [
    ("malformed_props", "props IS NOT NULL AND NOT json_valid(props)"),
    ("null_ts", "ts IS NULL"),
    ("null_type", "event_type IS NULL"),
    ("null_user", "user_id IS NULL"),
    ("null_value", "value IS NULL"),
]

_EVENT_QUARANTINE_SQL = (
    "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule,"
        f" CAST(SUM(CASE WHEN COALESCE({pred}, FALSE) THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_checked FROM events"
        for name, pred in _EVENT_QUARANTINE_RULES_SQL
    )
    + "\nUNION ALL\nSELECT 'clean', CAST(SUM(CASE WHEN NOT ("
    + " OR ".join(
        f"COALESCE({pred}, FALSE)" for _, pred in _EVENT_QUARANTINE_RULES_SQL
    )
    + ") THEN 1 ELSE 0 END) AS BIGINT), CAST(COUNT(*) AS BIGINT) FROM events"
)


@_register("streaming_quarantine_gate", _EVENT_QUARANTINE_SQL)
def streaming_quarantine_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dead-letter gate (operators/quality.py) AT INGEST: classify
    every streamed event against the NULL/malformed rule battery the
    r12 hostile sweep established, maintaining per-rule violation
    counts + the clean count incrementally — what routes hostile rows
    to a quarantine topic BEFORE they reach the analytics the sweep
    hardened.  Batch oracle: identical rule SQL over the events table.

    Scale: rules are map-side codegen predicates on the stream; state
    is ONE row of counters (complete-mode global aggregate); the
    per-rule unpivot runs post-stream on that single row.  Malformed
    JSON is detected with try_parse_json (NULL variant) — the engine
    pair to DuckDB's json_valid (r11 JSON-tolerance convention).
    """
    from dffoo_data_pipeline_spark.operators.quality import flag_rules

    e = read_events_stream(spark, sf_dir)
    rules = {
        "malformed_props": F.col("props").isNotNull()
        & F.try_parse_json("props").isNull(),
        "null_ts": F.col("ts").isNull(),
        "null_type": F.col("event_type").isNull(),
        "null_user": F.col("user_id").isNull(),
        "null_value": F.col("value").isNull(),
    }
    flagged = flag_rules(e, rules)
    agg = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.sum(F.when(F.col("is_clean"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clean"),
        *[
            F.sum(F.when(F.col(f"__viol_{name}"), 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{i}")
            for i, name in enumerate(rules)
        ],
    )
    one_row = run_stream_to_table(agg, "complete")
    cells = ", ".join(f"'{name}', n_{i}" for i, name in enumerate(rules))
    return one_row.select(
        F.expr(
            f"stack({len(rules) + 1}, {cells}, 'clean', n_clean) AS (rule, n_rows)"
        ),
        "n_checked",
    ).select("rule", "n_rows", "n_checked")


# ---------------------------------------------------------------------------
# Streaming corpus quality gate (documents stream × Gopher rules)
# ---------------------------------------------------------------------------

_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`documents` as an unbounded stream (file source standing in for
    the ingest landing bucket a crawler writes into)."""
    return (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_file(sf_dir, "documents.parquet"))
    )


def _streaming_gate_oracle() -> str:
    from dffoo_data_pipeline_spark.plans.llm_ops import (
        _GOPHER_BASE_SQL,
        _GOPHER_PASS_SQL,
    )

    return _GOPHER_BASE_SQL + f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN {_GOPHER_PASS_SQL} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       FLOOR((SUM(CASE WHEN {_GOPHER_PASS_SQL} THEN 1 ELSE 0 END) * 1.0
              / COUNT(*)) * 1000000 + 0.5) / 1000000 AS pass_rate
FROM m
GROUP BY source
"""


@_register("streaming_quality_gate", _streaming_gate_oracle())
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher pass-rate over the INGEST STREAM — the quality
    dashboard a crawler pipeline watches while documents land, hours
    before any batch curation run: a source whose pass-rate dives mid-
    crawl is a broken extractor or a spam flood, and the earlier the gate
    fires the less junk ships to the batch layer.

    The per-doc rule battery is the SAME column expressions as the batch
    query (plans/llm_ops.py:gopher_rule_flags — pure projections apply to
    a streaming frame unchanged), so the batch oracle checks the stream.
    Scale: projections run per-microbatch with no state at all; the only
    state is the per-source running counts (bounded by |sources|) —
    complete-mode output of a tiny aggregate.
    """
    from dffoo_data_pipeline_spark.plans.llm_ops import gopher_rule_flags

    docs = read_documents_stream(spark, sf_dir)
    flags = gopher_rule_flags(docs)
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("passes_gopher").cast("long")).cast("bigint").alias("n_pass"),
    )
    out = agg.select(
        "source",
        "n_docs",
        "n_pass",
        N.round_det(F.col("n_pass") / F.col("n_docs"), 6).alias("pass_rate"),
    )
    return run_stream_to_table(out, "complete")


def _streaming_neardup_oracle() -> str:
    from dffoo_data_pipeline_spark.plans.llm_ops import _incremental_portable_oracle

    return _incremental_portable_oracle()


@_register("streaming_neardup_probe", _streaming_neardup_oracle())
def streaming_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup the INGEST STREAM against the corpus band index — the
    streaming half of continuous-ingest near-dup (the batch half is
    dedup_incremental_portable; the EXACT-dedup streaming half is
    streaming_dedup_against_ledger).  Each arriving micro-batch of
    documents (doc_id % 10 == 0 plays the incoming slice) is probed via
    foreachBatch with the portable md5 band family against the static
    already-indexed corpus; verdicts append to the output table as
    batches commit.

    Per-doc verdicts touch only the document itself and the STATIC
    index — never other stream members — so any micro-batching yields
    the batch twin's exact result, and the two share one DuckDB oracle.

    Scale: foreachBatch re-plans the index side per batch (a growing
    index is picked up without restart); in steady state the index is
    the PERSISTED band table (`_portable_bands_from_posts` output,
    hash-bucketed on the band key at write time) so only the batch is
    shingled/hashed per trigger, and the probe join shuffles the batch
    against the colliding index slice only.  The parquet sink stands in
    for the downstream novelty table and is idempotent END-TO-END: the
    checkpoint dedups source replays, and each micro-batch OVERWRITES
    its own batch_id-keyed subdirectory, so a batch replayed after a
    partial write replaces its own output instead of appending a
    duplicate — the verdicts table equals the batch twin's result under
    any failure/replay schedule.
    """
    from dffoo_data_pipeline_spark.operators import dedup
    from dffoo_data_pipeline_spark.sources.readers import load_table

    docs = read_documents_stream(spark, sf_dir).where(F.col("doc_id") % 10 == 0)
    index_docs = (
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 != 0)
    )
    out_dir = tempfile.mkdtemp(prefix="sg_neardup_out_")

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = dedup.portable_neardup_against_index(
            batch_df, index_docs, id_col="doc_id", text_col="text"
        )
        # overwrite a per-batch subdir: replaying batch N after a partial
        # write replaces its rows instead of duplicating them
        res.write.mode("overwrite").parquet(os.path.join(out_dir, f"b{batch_id:05d}"))

    q = (
        docs.writeStream.foreachBatch(probe)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sg_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema(
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("matched_id", T.LongType()),
                    T.StructField("n_shared_bands", T.LongType()),
                    T.StructField("novel", T.IntegerType()),
                ]
            )
        )
        .option("recursiveFileLookup", "true")  # per-batch subdirs
        .parquet(out_dir)
    )


def _streaming_bloom_oracle() -> str:
    from dffoo_data_pipeline_spark.plans.llm_ops import _BLOOM_NOVEL_ORACLE

    return _BLOOM_NOVEL_ORACLE


@_register("streaming_bloom_dedup", _streaming_bloom_oracle())
def streaming_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup the INGEST STREAM behind a broadcast-Bloom prefilter —
    the streaming half of dedup_bloom_prefilter_novel (they share one
    oracle, since the bloom provably never changes the answer).  The
    ledger bitmap is built ONCE per run (lazy localCheckpoint — the fold
    materializes at the first micro-batch and every later batch reuses
    the 1-row checkpointed relation); each arriving batch of documents
    (doc_id % 7 < 2 plays the incoming slice) tests it as a pure column
    expression, and ONLY bloom-positive rows pay the exact anti-join
    against the ledger.

    This is the piece stream-static anti-join leaves on the table at
    scale: streaming_dedup_against_ledger re-plans the full ledger scan
    EVERY micro-batch, which a 100 TB-cumulative ledger cannot afford —
    here steady-state batches that are mostly novel never touch the
    ledger at all (the bitmap answers them), and the per-batch ledger
    join input shrinks to true dupes + the fpp sliver.  Trade-off: a
    bitmap built at stream start doesn't see fingerprints ingested
    since; a real deployment rebuilds it per ingest day (cheap: one
    ledger scan) and keeps the within-run window deduped by the exact
    join.  Per-doc verdicts touch only the doc and the STATIC ledger, so
    any micro-batching yields the batch twin's exact result.  The sink
    is replay-idempotent (per-batch overwritten batch_id subdir, same as
    streaming_neardup_probe).
    """
    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5
    from dffoo_data_pipeline_spark.operators import dedup
    from dffoo_data_pipeline_spark.sources.readers import load_table

    docs = read_documents_stream(spark, sf_dir).where(F.col("doc_id") % 7 < 2)
    seen = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 >= 2)
        .select(fingerprint_md5("text").alias("fp"))
    )
    bitmap = dedup.bloom_bitmap(seen).localCheckpoint(eager=False)
    out_dir = tempfile.mkdtemp(prefix="sg_bloomdedup_out_")

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        novel = dedup.dedup_against_seen_bloom(
            batch_df, seen, bitmap=bitmap
        ).select("doc_id", "fp")
        novel.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id:05d}")
        )

    q = (
        docs.writeStream.foreachBatch(probe)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sg_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema(
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("fp", T.StringType()),
                ]
            )
        )
        .option("recursiveFileLookup", "true")
        .parquet(out_dir)
    )


# answer-identical to the plain anti-join truth on its own batch split
# (% 13): the sharded Bloom provably never changes the answer, so the
# stream certifies against the same NOT-EXISTS shape as every other
# bloom path, each on a distinct split so each driver row evidences its
# own plan (%7 = 1-row family, %9 = xx64 sharded, %11 = md5 sharded)
_STREAMING_BLOOM_SHARDED_ORACLE = r"""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
    new_batch AS (SELECT * FROM fp WHERE doc_id % 13 < 2),
    seen AS (SELECT fp FROM fp WHERE doc_id % 13 >= 2)
    SELECT n.doc_id, n.fp
    FROM new_batch n
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = n.fp)
    """


@_register("streaming_bloom_dedup_sharded", _STREAMING_BLOOM_SHARDED_ORACLE)
def streaming_bloom_dedup_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_bloom_dedup past the broadcast ceiling: the ingest
    stream dedups behind the SHARDED Bloom prefilter — the shape when
    the cumulative ledger's bitmap outgrows one broadcastable row
    (capacity = shards × num_bits at constant row size).  The ≤shards-row
    bitmap relation is built ONCE per run (lazy localCheckpoint,
    geometry/family/fill stamped — a stale or foreign bitmap is refused
    loudly at the first micro-batch); each arriving batch equi-joins its
    docs to their shard's row on the md5-routed shard id, and only
    bloom-positive rows pay the exact anti-join against the ledger.
    Steady-state mostly-novel batches never touch the ledger at all;
    a doc whose shard has no row is PROVEN novel without any probe.

    Per-doc verdicts touch only the doc and the STATIC sharded bitmap +
    ledger, so any micro-batching yields the batch twin's exact result
    (false negatives impossible ⇒ shares the NOT-EXISTS oracle shape).
    Sink is replay-idempotent (per-batch overwritten subdir).  At a real
    deployment's shard counts, pass broadcast=False inside the probe to
    flip the prefilter to a shuffle equi-join (see
    dedup_against_seen_bloom_sharded's broadcast-total ceiling note)."""
    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5
    from dffoo_data_pipeline_spark.operators import dedup
    from dffoo_data_pipeline_spark.sources.readers import load_table

    docs = read_documents_stream(spark, sf_dir).where(F.col("doc_id") % 13 < 2)
    seen = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 >= 2)
        .select(fingerprint_md5("text").alias("fp"))
    )
    # family="md5" on BOTH build and probe so the routing really is the
    # md5 portable router the docstring describes (r11 ADVICE: the code
    # defaulted to xx64 while the doc claimed md5 — results were already
    # identical because the Bloom never changes the answer, only which
    # docs pay the exact anti-join)
    bitmaps = dedup.bloom_bitmap_sharded(
        seen, shards=8, family="md5"
    ).localCheckpoint(eager=False)
    out_dir = tempfile.mkdtemp(prefix="sg_bloomshard_out_")

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        novel = dedup.dedup_against_seen_bloom_sharded(
            batch_df, seen, shards=8, bitmaps=bitmaps, family="md5"
        ).select("doc_id", "fp")
        novel.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id:05d}")
        )

    q = (
        docs.writeStream.foreachBatch(probe)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sg_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema(
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("fp", T.StringType()),
                ]
            )
        )
        .option("recursiveFileLookup", "true")
        .parquet(out_dir)
    )


def _streaming_ingest_day_oracle() -> str:
    from dffoo_data_pipeline_spark.plans.llm_ops import _ingest_day_oracle

    return _ingest_day_oracle()


@_register("streaming_ingest_day", _streaming_ingest_day_oracle())
def streaming_ingest_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE ingest day as an always-on stream: every arriving
    micro-batch of documents runs the full verdict chain of
    pipeline_ingest_day (Bloom exact-novelty → fused Gopher gate →
    portable near-dup band probe) via the shared
    `plans.llm_ops.ingest_day_verdicts`, so batch backfill and the live
    stream can never disagree on a verdict — they share one DuckDB
    oracle.  Per-doc verdicts touch only the doc and the STATIC ledger,
    so any micro-batching yields the batch twin's exact result.

    Scale composition of the three streaming lessons: the ledger Bloom
    bitmap is built ONCE per run and reused across micro-batches
    (streaming_bloom_dedup's amortization — geometry-stamped, so a
    stale bitmap from another family is refused loudly); the near-dup
    index side is re-planned per batch and in steady state is the
    persisted bucketed band table (streaming_neardup_probe); the sink
    is replay-idempotent per-batch-overwrite (same).  The expensive
    shingling stage sees only docs that survived both cheaper stages —
    in a crawler stream, usually a small fraction of arrivals.
    """
    from dffoo_data_pipeline_spark.operators import dedup
    from dffoo_data_pipeline_spark.plans.llm_ops import ingest_day_verdicts
    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5
    from dffoo_data_pipeline_spark.sources.readers import load_table

    docs = read_documents_stream(spark, sf_dir).where(F.col("doc_id") % 7 < 2)
    ledger = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 >= 2)
    bitmap = dedup.bloom_bitmap(
        ledger.select(fingerprint_md5("text").alias("fp"))
    ).localCheckpoint(eager=False)
    # the band index is the OTHER per-run amortization: without it every
    # micro-batch re-shingles + re-minhashes the whole ledger; with it
    # only the batch is hashed per trigger (params pinned to
    # ingest_day_verdicts' probe)
    bands_idx = dedup.portable_band_index(
        ledger, "doc_id", "text", n=3, num_hashes=15, bands=5
    ).localCheckpoint(eager=False)
    out_dir = tempfile.mkdtemp(prefix="sg_ingestday_out_")

    def run_day(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        verdicts = ingest_day_verdicts(
            batch_df, ledger, bitmap=bitmap, index_bands=bands_idx
        )
        verdicts.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id:05d}")
        )

    q = (
        docs.writeStream.foreachBatch(run_day)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sg_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema(
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("verdict", T.StringType()),
                    T.StructField("matched_id", T.LongType()),
                ]
            )
        )
        .option("recursiveFileLookup", "true")
        .parquet(out_dir)
    )


# ---------------------------------------------------------------------------
# Streaming ingest router: assign incoming embeddings to semantic shards
# ---------------------------------------------------------------------------

_EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(_EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_file(sf_dir, "embeddings.parquet"))
    )


def _emb_assign_oracle() -> str:
    from dffoo_data_pipeline_spark.plans.embeddings import _SEM_ASSIGN_SQL

    return _SEM_ASSIGN_SQL + """
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM assign GROUP BY cluster_id
"""


@_register("streaming_embedding_assign", _emb_assign_oracle())
def streaming_embedding_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic shard routing at INGEST: every embedding arriving on the
    stream is quantized to centered int8 codes and assigned to its
    nearest seed centroid (dedup_semantic_int8's assignment, identical
    math — the shared oracle CTE checks both); output is the running
    per-shard count, the signal an ingest controller watches to rebalance
    or split hot shards.

    Streaming shape: the seed index is TINY and static, so it rides into
    the stream as literal arrays (collected once at plan build — 8
    bounded rows, the sanctioned global-scalar collect) and the per-row
    argmax is a pure projection via array_max over (score, -seed_id)
    structs — ties pick the lowest seed exactly like the batch
    ROW_NUMBER.  That leaves ONE stateful operator (the per-shard count,
    |shards| keys) — Structured Streaming's single-aggregation constraint
    is satisfied by design, no watermark needed.  The BIGINT dot per seed
    is exact; d·|d| ≤ 1.1e12 < 2⁵³ so the double score divides
    identically in both engines.
    """
    from dffoo_data_pipeline_spark.plans.embeddings import (
        _SEM_N_SEEDS,
        int8_codes,
    )
    from dffoo_data_pipeline_spark.sources.readers import load_table

    seeds = (
        int8_codes(load_table(spark, sf_dir, "embeddings"))
        .where((F.col("vec_id") < _SEM_N_SEEDS) & (F.col("n2") > 0))
        .collect()
    )
    stream_codes = int8_codes(read_embeddings_stream(spark, sf_dir))

    def _intdot_lit(code_col, seed_vec):
        return F.aggregate(
            F.zip_with(
                code_col,
                F.array(*[F.lit(int(v)).cast("bigint") for v in seed_vec]),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    choices = []
    for s in sorted(seeds, key=lambda r: r.vec_id):
        d = _intdot_lit(F.col("c"), s.c)
        score = d.cast("double") * F.abs(d) / F.lit(float(s.n2))
        choices.append(
            F.struct(
                score.alias("score"),
                F.lit(-s.vec_id).cast("bigint").alias("negseed"),
            )
        )
    best = F.array_max(F.array(*choices))
    assigned = stream_codes.select((-best["negseed"]).alias("cluster_id"))
    agg = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    return run_stream_to_table(agg, "complete")


def _streaming_ann_oracle() -> str:
    from dffoo_data_pipeline_spark.plans.llm_ops import _lsh_probe_oracle

    return _lsh_probe_oracle()


@_register("streaming_ann_probe", _streaming_ann_oracle())
def streaming_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-search the INGEST STREAM against the corpus LSH index — the
    similarity twin of `streaming_neardup_probe`, and the streaming half
    of asymmetric search (the batch half is similarity_lsh_probe_topk;
    both share one DuckDB oracle).  Each arriving micro-batch of
    embeddings (vec_id % 10 == 0 plays the incoming slice) is quantized
    and probed via foreachBatch against the STATIC indexed corpus:
    exact-integer top-5 per streamed query, own bucket + 2 lowest-margin
    flip probes.

    Per-query results touch only the query itself and the static index
    — never other stream members — so any micro-batching yields the
    batch twin's exact result.  The index is materialized ONCE at plan
    build (`lsh_bucket_index_int` behind a lazy localCheckpoint): the
    corpus is quantized and bucketed a single time, and every
    micro-batch pays only a batch-sized exchange against the colliding
    buckets — in steady state the index is the PERSISTED
    `write_bucketed` table and even that exchange drops to the batch
    side only.  The parquet sink is idempotent end-to-end: checkpointed
    source progress + per-batch `b{batch_id}` subdir overwrite, so a
    replayed batch replaces its own output (the streaming_neardup_probe
    sink contract).
    """
    from dffoo_data_pipeline_spark.operators import similarity
    from dffoo_data_pipeline_spark.plans.embeddings import int8_codes
    from dffoo_data_pipeline_spark.sources.readers import load_table

    indexed = similarity.lsh_bucket_index_int(
        int8_codes(
            load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 10 != 0)
        ),
        prefix_bits=6,
        dim=64,
    ).localCheckpoint(eager=False)  # corpus quantized+bucketed exactly once
    stream = read_embeddings_stream(spark, sf_dir).where(F.col("vec_id") % 10 == 0)
    out_dir = tempfile.mkdtemp(prefix="sg_annprobe_out_")

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = similarity.lsh_probe_topk_int(
            int8_codes(batch_df), k=5, prefix_bits=6, dim=64, n_flip=2,
            # index built in this run with these exact params — skip the
            # per-micro-batch domain scan
            indexed=indexed, validate_index=False,
        )
        res.write.mode("overwrite").parquet(os.path.join(out_dir, f"b{batch_id:05d}"))

    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sg_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema(
            T.StructType(
                [
                    T.StructField("query_id", T.LongType()),
                    T.StructField("neighbor_id", T.LongType()),
                    T.StructField("cos_sim", T.DoubleType()),
                ]
            )
        )
        .option("recursiveFileLookup", "true")  # per-batch subdirs
        .parquet(out_dir)
    )


@_register("streaming_pit_enrich", _PIT_SQL)
def streaming_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static POINT-IN-TIME enrichment: each purchase in the
    stream joins the SCD2 tier row valid at its own event time (user_id
    equality + half-open validity-range predicate on the static side) —
    the feature-store join of plans/events.py:events_pit_enrich run at
    ingest, so features attach leakage-free as data arrives.  Shares
    the batch twin's oracle: backfill and live stream cannot disagree.

    Scale: stream-static joins are stateless (the dim is re-planned per
    micro-batch, picking up dimension updates without restart); the
    range predicate is a per-key filter after the user_id equi-match,
    bounded by tier-change counts per user.  State is the |tiers|-row
    aggregate only.
    """
    from dffoo_data_pipeline_spark.plans.events import scd2_user_tier

    e = read_events_stream(spark, sf_dir)
    dim = scd2_user_tier(spark, sf_dir)
    purchases = e.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = purchases.alias("e").join(
        dim.alias("d"),
        (F.col("e.user_id") == F.col("d.user_id"))
        & (F.col("d.valid_from") <= F.col("e.ts"))
        & (F.col("d.valid_to").isNull() | (F.col("e.ts") < F.col("d.valid_to"))),
    )
    agg = joined.groupBy("d.tier").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum(N.dec2("value")).cast("double").alias("total_value"),
    )
    return run_stream_to_table(agg, "complete")


# ---------------------------------------------------------------------------
# Streaming CDC merge sink (changelog stream → keyed table)
# ---------------------------------------------------------------------------


def apply_cdc_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> None:
    """Apply one micro-batch of changelog rows (I/U/D + sequence number)
    onto a keyed parquet table: latest op per key wins within the batch
    (plans/events.py:cdc_apply_latest semantics), upserts replace,
    deletes drop the key.  IDEMPOTENT by construction — re-applying the
    same batch reproduces the same table, which is what makes the
    foreachBatch runner below exactly-once under restart replay.

    Determinism + robustness details that replay correctness hinges on:
    the latest-per-key window breaks equal-seq ties deterministically
    (upsert beats delete, then a full-row hash) so a replayed batch
    picks the SAME winner; malformed rows with a NULL op or seq are
    dropped up front (a NULL op would otherwise pass neither the upsert
    filter nor be a delete, yet still anti-join its key out of the
    table — a data-quality glitch silently deleting a live key); and
    table existence is checked through `recover_swap`, which first heals
    a swap interrupted between its renames (treating that window's
    "absent" as "new table" would rebuild from one batch and discard
    all prior keys).
    """
    from pyspark.sql import Window

    from dffoo_data_pipeline_spark.sources.writers import (
        _read_parquet,
        _swap_in,
        recover_swap,
    )

    batch = batch.where(F.col(op_col).isNotNull() & F.col(seq_col).isNotNull())
    tie = F.xxhash64(*[F.col(c) for c in batch.columns])
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc(), tie.desc()
    )
    latest = (
        batch.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    upserts = latest.where(F.col(op_col) != "D").drop(op_col)
    touched = latest.select(*key_cols).distinct()
    if not recover_swap(path):
        upserts.write.mode("overwrite").parquet(path)
        return
    current = _read_parquet(spark, path)  # real read errors must propagate
    kept = current.join(touched, key_cols, "left_anti")
    staging = f"{path.rstrip('/')}.__staging__"
    kept.unionByName(upserts).write.mode("overwrite").parquet(staging)
    _swap_in(staging, path)


def run_cdc_stream_to_table(
    changes: DataFrame,
    path: str,
    ckpt_dir: str,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> None:
    """Continuously merge a changelog STREAM into a keyed parquet table —
    the streaming twin of the batch cdc_apply_latest + upsert_by_key
    pair: each micro-batch collapses to latest-per-key and merges via
    foreachBatch; the durable checkpoint records which source files are
    done, so a restart re-sees at most the last batch, and the merge's
    idempotence makes that replay harmless (end-to-end exactly-once
    table state).

    Scale: per batch, one window over the BATCH (small), one anti-join
    against the table keyed on the merge key — with a bucketed/
    partitioned table only matching files rewrite; this plain-parquet
    form rewrites the table, which Delta/Iceberg MERGE INTO reduces to
    file-level pruning with the identical logical plan.
    """

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_cdc_batch(
            batch_df.sparkSession, batch_df, path, key_cols, op_col, seq_col
        )

    q = (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (continuous aggregate)
# ---------------------------------------------------------------------------


def run_incremental_rollup(
    spark: SparkSession,
    events: DataFrame,
    rollup_root: str,
    ckpt_dir: str,
    window_duration: str = "1 hour",
) -> None:
    """Maintain an hourly rollup TABLE incrementally as event files
    arrive — the continuous-aggregate / hypertable-rollup pattern, done
    the merge-DELTA way: each micro-batch is aggregated STATELESSLY to
    per-window partials (count + exact integer cents) and ADDED into the
    rollup keyed by (window_start, event_type).

    Why deltas and not streaming update-mode state: watermarked agg
    state is evicted between runs, so data arriving for an old window in
    a later run would rebuild that window from zero and the upsert would
    REPLACE the correct total (measured: exactly that bug).  Delta-merge
    has no state at all — arbitrarily late data folds into its window
    correctly, forever.

    Exactly-once: addition is not idempotent under checkpoint replay, so
    each applied micro-batch id is recorded in a ledger that lives
    INSIDE the atomically-swapped table root (`<root>/data` +
    `<root>/ledger` promote in ONE directory rename) — a replayed batch
    sees its id and no-ops; a crash mid-merge leaves the previous root
    intact.  This is the idempotence seam a Delta/Iceberg sink gives you
    via txn ids, built on plain parquet.

    Scale: per batch the work is one batch-sized partial agg plus a
    full-outer merge touching the windows-sized rollup (not events-
    sized); totals ride BIGINT cents, so incremental and one-shot batch
    aggregation agree bit-for-bit (equivalence pinned by test).
    """
    import os

    from dffoo_data_pipeline_spark.sources.writers import _swap_in, recover_swap

    data_dir = f"{rollup_root.rstrip('/')}/data"
    ledger_dir = f"{rollup_root.rstrip('/')}/ledger"

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        # heal a swap interrupted between its renames BEFORE the existence
        # check: in that window the root is absent and `.__old__` holds
        # the only committed copy — treating it as "fresh rollup" would
        # skip the ledger, rebuild from one batch's partials, and the
        # next swap would destroy the backup (silent permanent undercount)
        exists = recover_swap(rollup_root) and os.path.isdir(data_dir)
        if exists:
            applied = {r.batch_id for r in s.read.parquet(ledger_dir).collect()}
            if batch_id in applied:
                return  # checkpoint replay after a crash: already merged
        part = (
            batch_df.groupBy(F.window("ts", window_duration).alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum((N.dec2("value") * 100).cast("bigint")).cast("bigint").alias(
                    "total_cents"
                ),
            )
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_cents")
        )
        if exists:
            cur = s.read.parquet(data_dir)
            merged = (
                cur.alias("c")
                .join(part.alias("p"), ["window_start", "event_type"], "full_outer")
                .select(
                    "window_start",
                    "event_type",
                    (
                        F.coalesce(F.col("c.n_events"), F.lit(0))
                        + F.coalesce(F.col("p.n_events"), F.lit(0))
                    ).cast("bigint").alias("n_events"),
                    (
                        F.coalesce(F.col("c.total_cents"), F.lit(0))
                        + F.coalesce(F.col("p.total_cents"), F.lit(0))
                    ).cast("bigint").alias("total_cents"),
                )
            )
            ledger = s.read.parquet(ledger_dir).unionByName(
                s.createDataFrame([(batch_id,)], "batch_id long")
            )
        else:
            merged = part
            ledger = s.createDataFrame([(batch_id,)], "batch_id long")
        staging = f"{rollup_root.rstrip('/')}.__staging__"
        merged.write.mode("overwrite").parquet(f"{staging}/data")
        ledger.write.mode("overwrite").parquet(f"{staging}/ledger")
        if os.path.isdir(rollup_root):
            _swap_in(staging, rollup_root)
        else:
            os.rename(staging, rollup_root)

    q = (
        events.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_rollup(spark: SparkSession, rollup_root: str) -> DataFrame:
    """The rollup as (window_start, event_type, n_events, total_value) —
    cents back to the money DOUBLE at the read seam only."""
    return spark.read.parquet(f"{rollup_root.rstrip('/')}/data").select(
        "window_start",
        "event_type",
        "n_events",
        (F.col("total_cents") / 100.0).alias("total_value"),
    )


@_register(
    "streaming_continuous_rollup",
    # the maintained table must equal the batch tumbling aggregate
    # exactly — over TIMED rows (a NULL-ts event has no rollup window;
    # r12 hostile sweep)
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def streaming_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained continuous aggregate AS a queryable table: run the
    incremental delta-merge rollup (run_incremental_rollup) over the
    event files into a scratch table root, then read it back.  The
    oracle is the one-shot batch aggregate — equality holds bit-for-bit
    because partials ride integer cents (100·Σ is exact, and x/100.0 of
    an exact sub-2^53 integer is the same double as the DECIMAL cast).
    """
    base = tempfile.mkdtemp(prefix="sg_rollup_")
    rollup = f"{base}/rollup"
    ckpt = f"{base}/ckpt"
    timed = read_events_stream(spark, sf_dir).where(F.col("ts").isNotNull())
    run_incremental_rollup(spark, timed, rollup, ckpt)
    return read_rollup(spark, rollup)


@_register(
    "streaming_interval_join_outer",
    """
    SELECT c.event_id AS click_id, c.user_id,
           p.event_id AS purchase_id,
           (p.event_id IS NOT NULL) AS converted,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS secs_to_purchase
    FROM events c LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click'
      AND c.ts < TIMESTAMP '2024-01-29 00:00:00'
    """,
)
def streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the abandonment detector:
    every click is emitted, matched to same-user purchases within 30
    minutes when they exist, or with NULL purchase columns once the
    watermark proves no match can still arrive.  The outer side is the
    part plain batch joins get for free but streams must earn: a null
    row may only be emitted when state eviction GUARANTEES no future
    match, so emission is driven by the watermark, not arrival.

    The click side is bounded to ts < Jan 29 (the testdata spans Jan
    1-30 at every SF): the final watermark of an availableNow run is
    max_event_time − 1h, so every click before the cutoff has provably
    passed its eviction horizon (cutoff + 30 min ≪ Jan 30 ~23:00 − 1h)
    and its outer row is deterministically flushed in the trailing
    no-data micro-batch — without the cutoff, trailing clicks would be
    withheld in state at termination and the batch oracle could never
    match.

    Scale: state is bounded exactly as the inner variant (watermark +
    30 min per side, keyed by user); the outer emission adds no state —
    it changes only what eviction writes out.
    """
    # Watermark BEFORE the click filter: the global watermark is the MIN
    # across both sides' watermark operators, and a watermark computed
    # after `ts < Jan 29` would freeze at Jan 28 ~23:00, permanently
    # withholding the last ~90 min of outer rows.  Anchoring both
    # watermarks on the unfiltered stream tracks the true max event time
    # (the filter then prunes rows above the watermark node).
    e = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    clicks = e.where(
        (F.col("event_type") == "click")
        & (F.col("ts") < F.lit("2024-01-29 00:00:00").cast("timestamp"))
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    ).select(
        "click_id",
        "user_id",
        "purchase_id",
        F.col("purchase_id").isNotNull().alias("converted"),
        (
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")) / 1_000_000
        ).cast("long").alias("secs_to_purchase"),
    )
    return run_stream_to_table(joined, "append")


def streaming_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained BY THE INGEST STREAM: every event
    increments its D hashed counters as it lands, so the streaming state
    is exactly the sketch — D·W BIGINT cells, BOUNDED regardless of how
    many distinct users ever appear (a naive streaming per-user count's
    state grows with cardinality forever; the sketch is the
    fixed-memory alternative every stream processor reaches for).  The
    heavy-hitter dashboard then reads the maintained sketch: the exact
    top-10 probes are evaluated batch-side against the streamed
    counters, and the output — and therefore the ORACLE — is identical
    to the batch twin events_countmin_topk, so one oracle checks that
    stream-maintained and batch-built sketches agree cell-for-cell
    (counts commute with micro-batching).
    """
    from dffoo_data_pipeline_spark.plans.linkage import (
        _CM_D,
        _CM_TOP,
        _cm_bucket,
    )
    from dffoo_data_pipeline_spark.sources.readers import load_table

    ds = F.explode(F.sequence(F.lit(0), F.lit(_CM_D - 1))).alias("d")
    sk = (
        read_events_stream(spark, sf_dir)
        .select("user_id", ds)
        .select("d", _cm_bucket(F.col("d"), F.col("user_id")).alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    sketch = run_stream_to_table(sk, "complete")

    probes = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "user_id")
        .limit(_CM_TOP)
    )
    pb = probes.select("user_id", "exact_cnt", ds).select(
        "user_id",
        "exact_cnt",
        "d",
        _cm_bucket(F.col("d"), F.col("user_id")).alias("bucket"),
    )
    est = (
        pb.join(sketch, ["d", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("c").alias("cm_est"))
    )
    return est.select(
        "user_id",
        "exact_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("exact_cnt")).alias("overestimate"),
    )


def _register_countmin_stream() -> None:
    from dffoo_data_pipeline_spark.plans.linkage import _COUNTMIN_ORACLE

    QUERIES["streaming_countmin_topk"] = streaming_countmin_topk
    ORACLES["streaming_countmin_topk"] = _COUNTMIN_ORACLE


_register_countmin_stream()

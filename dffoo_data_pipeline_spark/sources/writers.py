"""Sinks (SURVEY.md §2a S5-S7).

Reference behaviors re-expressed for a cluster:

- S5 per-character checkpoint CSVs (web_scraper.py:1164-1183) →
  partitioned parquet with dynamic partition overwrite: re-running a slice
  replaces exactly the partitions it recomputed (idempotent resume), which
  is the property the reference's per-char temp CSVs were approximating.
- S6 final CSV sink (web_scraper.py:1262-1284) → header CSV; coalesce(1)
  only by explicit request since a single output file is an anti-pattern
  at scale.
- S7 Postgres append (web_scraper.py:1286-1291) → JDBC append writer,
  gated (no driver in this container) — plus the scale-native alternative:
  run-stamped append parquet, partitioned by run_id so downstream
  "latest run" reads prune to one partition (the fix for the reference's
  append-table regret, reference README.md:71).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from dffoo_data_pipeline_spark.sources.readers import parquet_schema

_RUN_ID_RE = re.compile(r"[A-Za-z]*\d+")


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Scan a parquet table with its footer schema: building the frame
    runs no Spark job (see readers.parquet_schema)."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def _swap_in(staging: str, path: str) -> None:
    """Promote a staged rewrite: rename target aside, rename staging in,
    drop the old copy.  Directory renames are atomic on a local/HDFS-style
    filesystem, so a crash leaves either the old table, or the old table
    under `.__old__` plus the complete staging copy — never a lost table
    and never a half-written target (the previous /tmp-staging scheme
    could crash mid-overwrite with the only complete copy in /tmp).
    Object stores without atomic rename should swap this seam for a table
    format (Delta/Iceberg) commit."""
    import os
    import shutil

    backup = f"{path.rstrip('/')}.__old__"
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)


def recover_swap(path: str) -> bool:
    """Heal a `_swap_in` interrupted between its two renames: in that
    window `path` is absent and `<path>.__old__` holds the ONLY committed
    copy — restore it.  Every reader that treats "path absent" as "table
    never existed" MUST call this first, else a crash-replayed batch
    rebuilds the table from one batch's rows and silently discards all
    prior state.  Returns whether the table exists after recovery."""
    import os

    backup = f"{path.rstrip('/')}.__old__"
    if not os.path.isdir(path) and os.path.isdir(backup):
        os.rename(backup, path)
    return os.path.isdir(path)


def write_checkpointed(df: DataFrame, path: str, partition_cols=("char_name", "game_version")) -> None:
    """Idempotent per-partition checkpoint sink (reference S5).

    `partitionOverwriteMode=dynamic` means only partitions present in `df`
    are replaced — a re-run of 30 characters rewrites 30 directories, not
    the table — the cluster-grade version of the reference's
    one-CSV-per-character resume scheme.  The mode is set as a WRITER
    option, not session conf: a session-wide flip would silently change
    every later partitioned overwrite (e.g. write_partitioned_corpus
    relies on full-overwrite semantics to drop stale partitions).
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_run_stamped(
    df: DataFrame, path: str, run_id: str, overwrite_run: bool = False
) -> None:
    """Append-mode load with a run dimension (reference S7 + README.md:71).

    Every row gets a `run_id` partition column; readers filter to the
    latest run and Spark prunes all other partitions at the file listing —
    O(one run) reads regardless of history length.

    run_id must be an optional letter prefix + digits (``r001``,
    ``b000042``): `read_latest_run` orders by (length, value), which is
    numeric order for ids of this shape even without zero padding.

    ``overwrite_run=True`` replaces the run's partition instead of
    appending to it (dynamic partition overwrite — other runs untouched).
    Callers that may legitimately retry the SAME run_id (foreachBatch
    replays a crashed micro-batch under its original batch id) need this
    for idempotence; a plain append would duplicate the batch's rows.
    """
    if not _RUN_ID_RE.fullmatch(run_id):
        raise ValueError(
            f"run_id {run_id!r} must match [A-Za-z]*digits so latest-run "
            "selection is order-safe (e.g. 'r001', 'b000042')"
        )
    stamped = df.withColumn("run_id", F.lit(run_id))
    if overwrite_run:
        # writer-scoped option — a session-wide conf flip would leak
        # dynamic semantics into unrelated partitioned overwrites
        (
            stamped.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id")
            .parquet(path)
        )
    else:
        stamped.write.mode("append").partitionBy("run_id").parquet(path)


def format_run_id(seq: int, prefix: str = "r", width: int = 6) -> str:
    """Zero-padded run id (``r000042``) — the canonical producer for
    `write_run_stamped`."""
    return f"{prefix}{seq:0{width}d}"


def _run_ids(spark: SparkSession, path: str) -> list[str]:
    """Run ids of a run-stamped table: the names of its ``run_id=<id>``
    child directories, listed through the path's Hadoop FileSystem (one
    code path for local and remote storage; no Spark job).  Only run
    directories are read — files, hidden/staging entries and names that
    are not valid run ids are skipped."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    found = fs.globStatus(jvm.org.apache.hadoop.fs.Path(root, "run_id=*")) or []
    names = [st.getPath().getName()[len("run_id="):] for st in found if st.isDirectory()]
    return [r for r in names if _RUN_ID_RE.fullmatch(r)]


def read_latest_run(spark: SparkSession, path: str) -> DataFrame:
    """Latest-run view over a run-stamped append table (partition-pruned).

    Invariants: no Spark job runs before the caller's sink — the latest
    run comes from the directory listing (`_run_ids`) and the schema from
    one footer of the latest run's directory; the scan keeps an equality
    filter on the ``run_id`` partition column, so Spark prunes every
    other run at the file listing.

    Order: (length, value), which is numeric order for prefix+digits
    ids, so ``r10`` > ``r2`` even though plain lexicographic MAX would
    say otherwise; zero-padded ids (`format_run_id`) order identically.
    Digit-only ids are partition-inferred as integers, so they order by
    value and keep their inferred type in the returned frame.

    Raises ValueError naming `path` when it holds no run partitions."""
    runs = _run_ids(spark, path)
    if not runs:
        raise ValueError(f"{path} has no run_id=<id> partitions to read the latest run from")
    if all(r.isdigit() for r in runs):
        latest = max(runs, key=int)
    else:
        latest = max(runs, key=lambda r: (len(r), r))
    schema = parquet_schema(spark, f"{path.rstrip('/')}/run_id={latest}")
    return spark.read.schema(schema).parquet(path).where(F.col("run_id") == latest)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """Header CSV sink (reference S6).  single_file=True reproduces the
    reference's one-file output for parity; default keeps parallel writers."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    path: str | None = None,
    properties: dict[str, str] | None = None,
) -> None:
    """Bucketed table: pre-shuffles once at WRITE time so every
    subsequent equi-join/aggregation on `bucket_cols` is co-located and
    shuffle-free.  The 100 TB pattern for fact-fact joins read many times
    (pay the shuffle once, not per query); `sortBy` within buckets also
    removes the join's sort.

    The frame is repartitioned to exactly one task per bucket before the
    write (`repartition(n, cols)` uses the same murmur3 hash as the
    bucket spec, so task i holds precisely bucket i's rows → one file
    per bucket).  Single-file buckets are what lets a reader trust the
    write-time sort and drop the per-query Sort — opt in with
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` (Spark
    stopped assuming bucket order when buckets may span files,
    SPARK-28595).  Exchange elimination needs no flag.  Sizing rule:
    pick `num_buckets` so one bucket of the larger table is 100–500 MB;
    both join sides need the same count (or a multiple, with
    ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).

    Requires saveAsTable (bucket metadata lives in the catalog); pass
    `path` to keep the data external at a chosen location.  ``properties``
    are stamped as TBLPROPERTIES — persisted indexes record their build
    parameters here so probes can refuse a mismatched family
    (`expect_table_properties`)."""
    writer = (
        df.repartition(num_buckets, *[df[c] for c in bucket_cols])
        .write.mode("overwrite")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path is not None:
        writer = writer.format("parquet").option("path", path)
    writer.saveAsTable(table)
    if properties:
        kvs = ", ".join(f"'{k}'='{v}'" for k, v in sorted(properties.items()))
        df.sparkSession.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kvs})")


def expect_table_properties(
    spark: SparkSession, table: str, expect: dict[str, str]
) -> None:
    """Assert that a persisted index table carries the parameters the
    probe is about to use — the metadata half of the params-must-match
    contract (`operators/dedup.py:portable_neardup_against_index`
    documents why: signatures from a different parameter family simply
    never collide, so a mismatch 'works' and silently reports garbage).
    Build-side writers stamp the params via ``write_bucketed(...,
    properties=...)``; probes call this before reading.  Catalog-only —
    no data is scanned."""
    got = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    bad = {k: (v, got.get(k)) for k, v in expect.items() if got.get(k) != v}
    if bad:
        raise ValueError(
            f"table {table} was built with different parameters than the "
            f"probe expects: {{k: (expected, stored)}} = {bad}; rebuild the "
            "index or match the probe arguments to the stored properties"
        )


class RunScopedTable:
    """Lifecycle manager for a per-run persisted index table: one live
    (table, external path) per logical name, the previous run's table
    dropped and its external location removed before each rebuild, the
    last one cleaned at interpreter exit.  External-table overwrites
    leave prior files on disk and a fixed name would let repeated runs
    mutate shared catalog state under a still-lazy result — per-run
    names + eager cleanup are the fix (round-8 ADVICE on
    dedup_incremental_indexed)."""

    def __init__(self, base_name: str) -> None:
        import atexit

        self.base = base_name
        self.run = 0
        self.table: str | None = None
        self.path: str | None = None
        self.spark: SparkSession | None = None
        atexit.register(self.cleanup)

    def cleanup(self, spark: SparkSession | None = None) -> None:
        import shutil

        sess = spark or self.spark
        if self.table and sess is not None:
            try:
                sess.sql(f"DROP TABLE IF EXISTS {self.table}")
            except Exception:
                pass  # session already stopped at exit — files still removed
        if self.path:
            shutil.rmtree(self.path, ignore_errors=True)
        self.table = None
        self.path = None

    def replace(
        self,
        spark: SparkSession,
        df: DataFrame,
        bucket_cols: list[str],
        num_buckets: int = 16,
        properties: dict[str, str] | None = None,
    ) -> str:
        """Drop the previous run's table+files, build this run's under a
        fresh name and mkdtemp location, and return the table name."""
        import tempfile

        self.cleanup(spark)
        self.run += 1
        table = f"{self.base}_r{self.run}"
        path = tempfile.mkdtemp(prefix=f"{self.base}_")
        write_bucketed(
            df, table, bucket_cols, num_buckets=num_buckets, path=path,
            properties=properties,
        )
        self.table, self.path, self.spark = table, path, spark
        return table


def upsert_by_key(
    spark: SparkSession, updates: DataFrame, path: str, key_cols: list[str]
) -> None:
    """MERGE-style upsert onto a parquet table: existing rows with matching
    keys are replaced, new keys appended (the operation the reference's
    append-only load couldn't do, reference README.md:71).

    Plain-parquet implementation: anti-join the current table against the
    update keys, union the updates, rewrite.  At scale this is what table
    formats (Delta/Iceberg) optimize with file-level pruning; the logical
    plan — anti-join + union — is identical there, so swapping the sink
    for a MERGE INTO is a one-line change.

    Invariants: the current table is read with its footer schema, so no
    job runs before the rewrite; the key side is not de-duplicated,
    because an anti-join tests existence only and duplicate keys cannot
    change its output.  AQE picks a broadcast or shuffle join from
    runtime sizes (a small update batch costs one broadcast job).

    Existence goes through `recover_swap` (heals an interrupted swap
    first) and never a bare try/except: treating a transient read error
    as "table never existed" would overwrite the table with one batch's
    updates and silently lose every other row.
    """
    if not recover_swap(path):
        updates.write.mode("overwrite").parquet(path)
        return
    current = _read_parquet(spark, path)  # real read errors must propagate
    kept = current.join(updates.select(*key_cols), key_cols, "left_anti")
    merged = kept.unionByName(updates)
    # stage ADJACENT to the table (same filesystem → rename is atomic),
    # then promote by rename: never read and overwrite the same files in
    # one job, and no moment where the only complete copy lives in /tmp
    staging = f"{path.rstrip('/')}.__staging__"
    merged.write.mode("overwrite").parquet(staging)
    _swap_in(staging, path)


def delete_by_key(
    spark: SparkSession, path: str, key_col: str, keys: DataFrame
) -> int:
    """Right-to-be-forgotten delete: rewrite a keyed parquet table
    WITHOUT every row whose ``key_col`` appears in ``keys`` (a 1-column
    DataFrame), atomically.  Returns the number of rows removed.
    Idempotent — re-running with the same keys is a no-op rewrite — and
    the anti-join is the same logical plan a Delta/Iceberg DELETE
    compiles to, so the sink swap is one line there too.

    Scale: the deletion-key set is broadcast when small (the common
    GDPR batch) or shuffle-joined when not; only surviving rows are
    rewritten.  At 100 TB pair this with partition/file pruning on the
    key's hash range so the rewrite touches only affected files — the
    plain-parquet form rewrites the table, which is the honest cost
    floor without a table format's file index.
    """
    recover_swap(path)  # heal an interrupted swap before reading
    current = _read_parquet(spark, path)
    # anti- and semi-joins test existence only: duplicate keys are harmless
    k = keys.select(F.col(keys.columns[0]).alias(key_col))
    kept = current.join(k, [key_col], "left_anti")
    # one semi-join count (key columns only reach the scan) instead of
    # counting both sides — the rewrite below is the second, final scan
    removed = current.join(k, [key_col], "semi").count()
    staging = f"{path.rstrip('/')}.__staging__"
    kept.write.mode("overwrite").parquet(staging)
    _swap_in(staging, path)
    return removed


def compact(spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-files compaction: rewrite a parquet directory into at most
    ceil(total_bytes / target) files.  Streaming sinks and per-batch
    appends fragment tables; scan cost at 100 TB is dominated by file
    count once files drop below ~100 MB.  Returns the number of part
    files actually written.

    Invariants: one Spark job and no shuffle — the table is read with its
    footer schema and the scan's partitions (each at most
    ``spark.sql.files.maxPartitionBytes``) are merged by ``coalesce``.
    """
    import math
    import os

    recover_swap(path)  # heal an interrupted swap before reading
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / target_file_bytes))
    staging = f"{path.rstrip('/')}.__staging__"
    _read_parquet(spark, path).coalesce(n).write.mode("overwrite").parquet(staging)
    written = sum(1 for f in os.listdir(staging) if f.endswith(".parquet"))
    _swap_in(staging, path)
    return written


def write_jdbc_append(df: DataFrame, url: str, table: str, properties: dict) -> None:
    """JDBC append sink (reference S7, to_sql(if_exists='append')):
    partition-parallel INSERTs in append mode — each executor partition
    opens its own connection and batches its rows, which is how a
    1000-executor run loads a warehouse without funneling data through
    the driver.

    Exercised end-to-end against a DuckDB JDBC driver when one is found
    on the machine (session.find_jdbc_jar; tests/test_writers.py runs a
    real append + read-back, the target table pre-created with
    `jdbc_execute` because Spark's exists-probe requires it).  For a
    production warehouse, swap the url/driver properties — the Spark
    call is identical.
    """
    df.write.mode("append").jdbc(url, table, properties=properties)


def jdbc_execute(spark, url: str, driver_class: str, *statements: str) -> None:
    """Run DDL/DML statements over a raw JDBC connection — the
    out-of-band "create the target table" step a warehouse admin (or a
    migration tool) performs before partition-parallel loads.

    Loads the driver through Spark's session classloader (where
    `spark.jars` artifacts live) and connects via the Driver instance
    directly — `java.sql.DriverManager` refuses drivers that are not
    visible to the *calling* classloader, which spark.jars classes are
    not.  One bounded driver-side connection for DDL only; data movement
    stays in `write_jdbc_append`'s executor-parallel path.
    """
    jvm = spark._jvm
    cl = jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
    drv = cl.loadClass(driver_class).newInstance()
    conn = drv.connect(url, jvm.java.util.Properties())
    if conn is None:  # the JDBC contract for a URL this driver rejects
        raise ValueError(f"{driver_class} does not accept url {url!r}")
    try:
        st = conn.createStatement()
        try:
            for sql in statements:
                st.execute(sql)
        finally:
            st.close()
    finally:
        conn.close()


def write_db_append_transactional(
    df: DataFrame, db_path: str, table: str, staging_dir: str
) -> int:
    """One-transaction warehouse append (reference S7 semantics: the whole
    run's frame lands in the target DB atomically — web_scraper.py:1286-1291
    commits all three tables inside a single engine transaction).

    The scalable shape: Spark writes the run to parquet (distributed,
    partition-parallel), then the DATABASE bulk-loads that staged data in
    ONE transaction from its side.  No rows move through the Spark driver,
    and a mid-load failure leaves the target table untouched (the test pins
    this with a CHECK-constraint violation).  DuckDB stands in for the
    warehouse here — `INSERT INTO t SELECT .. FROM read_parquet(..)` is the
    same load-from-staging statement Postgres/Redshift/Snowflake run
    (COPY FROM / external-stage load); swapping the connection string is
    the only production change.  Returns rows appended.

    The staged copy is garbage-collected after COMMIT (per-run staging
    dirs otherwise accumulate one full data copy per run forever) and
    kept on failure so the retry can re-load without re-running the
    Spark job.
    """
    import shutil

    df.write.mode("overwrite").parquet(staging_dir)
    counts = _bulk_load_one_txn(db_path, [(table, staging_dir, list(df.columns))])
    shutil.rmtree(staging_dir, ignore_errors=True)
    return counts[table]


def _bulk_load_one_txn(
    db_path: str, loads: list[tuple[str, str, list[str]]]
) -> dict[str, int]:
    """Bulk-load every staged parquet dir into its target table inside a
    SINGLE transaction — the shared protocol core of the one-table and
    all-or-nothing writers (and, semantically, of the streaming sink's
    per-batch commit): all loads land atomically, a failure rolls every
    one back, and the ROLLBACK itself is guarded so a pre-BEGIN failure
    propagates its real cause instead of a no-transaction error.
    Callers own staging GC (delete after success, keep for retry).

    ``loads`` is [(table, staged_parquet_dir, columns)]; returns rows
    appended per table.
    """
    import duckdb

    con = duckdb.connect(db_path)
    counts: dict[str, int] = {}
    in_txn = False
    try:
        con.execute("BEGIN")
        in_txn = True
        for table, stage, columns in loads:
            cols = ", ".join(f'"{c}"' for c in columns)
            counts[table] = int(
                con.execute(
                    f"INSERT INTO {table} ({cols}) "
                    f"SELECT {cols} FROM read_parquet('{stage}/*.parquet')"
                ).fetchone()[0]
            )
        con.execute("COMMIT")
    except Exception:
        if in_txn:  # bare ROLLBACK outside a txn raises and masks the root cause
            try:
                con.execute("ROLLBACK")
            except Exception:
                pass
        raise
    finally:
        con.close()
    return counts


def write_db_append_all_or_nothing(
    tables: dict[str, DataFrame], db_path: str, staging_root: str
) -> dict[str, int]:
    """Multi-table one-transaction append — the reference's EXACT S7
    semantics: all three output tables commit inside a SINGLE engine
    transaction (web_scraper.py:1286-1291, `with engine.begin(): 3×
    to_sql(append)`), so a failed run leaves the warehouse with either
    every table's new rows or none of them — no torn run where
    raw_abilities advanced but raw_bt_effects did not.

    Scale: each frame stages to parquet partition-parallel (independent
    Spark jobs, schedulable concurrently); the DB then bulk-loads ALL
    stages in one txn.  The transaction holds only DB-side load work —
    the expensive distributed writes happen before BEGIN, keeping the
    warehouse lock window to the load itself, which is how a production
    Postgres/Snowflake multi-table load keeps contention bounded.
    Returns rows appended per table; stages GC after the single COMMIT,
    all kept on failure for the retry.
    """
    import shutil

    loads = []
    for name, df in tables.items():
        stage = f"{staging_root.rstrip('/')}/{name}"
        df.write.mode("overwrite").parquet(stage)
        loads.append((name, stage, list(df.columns)))
    counts = _bulk_load_one_txn(db_path, loads)
    for _, stage, _ in loads:
        shutil.rmtree(stage, ignore_errors=True)
    return counts


def write_jsonl(df: DataFrame, path: str, compression: str | None = None) -> None:
    """JSON-Lines sink (one document object per line) — what downstream
    tokenizer/training jobs ingest.  Optional codec (e.g. 'gzip', 'zstd');
    splittable-at-rest matters at scale, so prefer none or zstd-in-blocks
    over whole-file gzip for files that will be re-read by Spark."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink, mirror of readers.read_orc."""
    df.write.mode("overwrite").orc(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row") -> None:
    """XML sink (Spark 4 native), mirror of readers.read_xml — for
    consumers that require markup interchange.  Row-per-element under
    `row_tag`; prefer parquet/JSONL for anything Spark re-reads (XML
    carries no column statistics and no pushdown)."""
    df.write.mode("overwrite").option("rowTag", row_tag).xml(path)


def write_partitioned_corpus(
    df: DataFrame, path: str, partition_cols=("lang",)
) -> None:
    """Hive-layout corpus write (path/lang=en/part-*.parquet): the standard
    at-rest layout for a multilingual corpus, so per-language reads prune
    whole directories at planning time (PartitionFilters in the scan, zero
    files opened for excluded languages) instead of filtering rows."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_sorted_corpus(
    df: DataFrame, path: str, sort_col: str, n_files: int = 8
) -> DataFrame:
    """Total-order corpus layout: `repartitionByRange` +
    `sortWithinPartitions` writes n_files parquet files whose
    `sort_col` ranges are disjoint and globally ordered — the layout
    that makes key lookups and merge-style consumers (tokenizer shards,
    binary-searching samplers) touch ONE file instead of all of them.
    Returns the manifest (file, rows, min/max of sort_col) read back
    from the written files; at scale the manifest IS the index a reader
    prunes on.

    Range partitioning samples the key distribution, so file sizes stay
    balanced under skew (hash partitioning balances too but destroys
    order; coalesce preserves neither).
    """
    from pyspark.sql import functions as F

    (
        df.repartitionByRange(n_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )
    spark = df.sparkSession
    return (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("rows"),
            F.min(sort_col).alias(f"min_{sort_col}"),
            F.max(sort_col).alias(f"max_{sort_col}"),
        )
    )


def zorder_value(cols: list, bits: int = 16):
    """Interleave the bits of N rank-normalized columns (round-robin)
    into one Morton (Z-curve) key — locality in ANY column maps to
    locality in the key, which is what makes multi-column min/max
    pruning work.  N·bits must fit in 63 bits (e.g. 3 cols × 16 bits)."""
    from pyspark.sql import functions as F

    k = len(cols)
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds the 63-bit key")
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, c in enumerate(cols):
            z = z.bitwiseOR(F.shiftleft(F.shiftrightunsigned(c, i) % 2, k * i + j))
    return z


def _quantile_bucketize(bounds):
    """Arrow-batched equal-frequency bucketizer: value → rank bucket via
    binary search over precomputed quantile boundaries (the boundaries
    array rides in the UDF closure — ≤0.5 MB for 16 bits)."""
    import numpy as np
    import pandas

    arr = np.asarray(bounds, dtype="float64")

    def bucketize(v: pandas.Series) -> pandas.Series:
        return pandas.Series(
            np.searchsorted(arr, v.to_numpy(dtype="float64"), side="right"),
            dtype="int64",
        )

    bucketize.__annotations__ = {"v": pandas.Series, "return": pandas.Series}
    return F.pandas_udf(bucketize, "long")


def write_zordered(
    df,
    path: str,
    zorder_cols: list[str],
    n_files: int = 8,
    bits: int = 16,
    exact_ranks: bool = False,
    relative_error: float = 1e-3,
) -> None:
    """Z-ordered parquet layout over N pruning columns — the
    Delta/Iceberg OPTIMIZE ZORDER technique on plain parquet: rank each
    column to a `bits`-bit integer (equal-frequency, so skew in the raw
    values can't collapse the curve), interleave into a Morton key,
    range-partition + sort by it, write one file per range.

    Why: a single-column sort gives perfect min/max pruning on that
    column and NONE on the others; the Z-curve gives ~F^(1/N) pruning
    on ALL of them — at 100 TB this is the difference between reading a
    root-fraction of the files for any predicate column and scanning
    everything for all but one.  Effectiveness is measured (not
    assumed) by the per-file range-width test in tests/test_bucketing.py.

    Rank normalization (the scale-critical choice): the default path
    computes per-column quantile boundaries with ONE Greenwald-Khanna
    sketch pass (`approxQuantile`, all columns together, driver result
    ≤0.5 MB per column) and bucketizes values by vectorized binary
    search — no global sort anywhere; the only total order in the plan
    is the final sampled `repartitionByRange` on the already-computed
    key.  `exact_ranks=True` instead uses a `percent_rank` over an
    unpartitioned window — a single-partition sort of the whole input,
    acceptable only for small reference layouts or exactness tests.
    Rank error from the sketch (`relative_error`) only nudges bucket
    edges; Z-curve locality — and therefore pruning — is preserved.
    Columns are ranked through float64, exact for integer keys < 2^53.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    scale = (1 << bits) - 1
    if exact_ranks:
        ranked = [
            F.floor(F.percent_rank().over(Window.orderBy(c)) * scale).cast("bigint")
            for c in zorder_cols
        ]
    else:
        n_bounds = scale  # 2^bits - 1 interior boundaries
        probs = [i / (n_bounds + 1) for i in range(1, n_bounds + 1)]
        all_bounds = df.approxQuantile(list(zorder_cols), probs, relative_error)
        ranked = [
            _quantile_bucketize(bounds)(F.col(c).cast("double"))
            for c, bounds in zip(zorder_cols, all_bounds)
        ]
    keyed = df.withColumn("__z", zorder_value(ranked, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_training_export(
    df: DataFrame, path: str, shards: int = 8, order_col: str | None = None
) -> dict:
    """Release-packaging sink: gzip JSONL shards plus a MANIFEST.json
    recording every shard's row count and sha256 and the dataset totals
    — the delivery contract a training consumer verifies before
    ingesting (a truncated or re-uploaded shard fails its checksum; a
    dropped shard fails the total).  Returns the manifest dict.

    Determinism: pass ``order_col`` to range-partition and sort by a
    stable key so shard contents — and therefore checksums — are
    reproducible run-to-run (the write_sorted_corpus layout); without
    it shard membership follows the hash partitioner.  Writes stage
    adjacent to the target and promote by rename, like every sink here.
    """
    import hashlib
    import json
    import os

    staging = f"{path.rstrip('/')}.__staging__"
    out = df.repartitionByRange(shards, order_col).sortWithinPartitions(order_col) if order_col else df.repartition(shards)
    out.write.mode("overwrite").option("compression", "gzip").json(staging)

    files = sorted(
        f for f in os.listdir(staging) if f.startswith("part-") and f.endswith(".gz")
    )
    import gzip

    manifest: dict = {"shards": [], "total_rows": 0, "format": "jsonl.gz"}
    for f in files:
        p = os.path.join(staging, f)
        h = hashlib.sha256()
        rows = 0
        with open(p, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
        with gzip.open(p, "rb") as fh:
            for _ in fh:
                rows += 1
        manifest["shards"].append({"file": f, "rows": rows, "sha256": h.hexdigest()})
        manifest["total_rows"] += rows
    with open(os.path.join(staging, "MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    if os.path.exists(path):
        _swap_in(staging, path)
    else:
        os.rename(staging, path)
    return manifest


def verify_training_export(path: str) -> list[str]:
    """Consumer-side check of write_training_export's contract: every
    manifest shard exists with matching sha256 and row count, and no
    unlisted shard files are present.  Returns a list of violations
    (empty = verified)."""
    import gzip
    import hashlib
    import json
    import os

    errs: list[str] = []
    with open(os.path.join(path, "MANIFEST.json")) as fh:
        manifest = json.load(fh)
    listed = {s["file"] for s in manifest["shards"]}
    present = {
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".gz")
    }
    for extra in sorted(present - listed):
        errs.append(f"unlisted shard: {extra}")
    total = 0
    for s in manifest["shards"]:
        p = os.path.join(path, s["file"])
        if not os.path.exists(p):
            errs.append(f"missing shard: {s['file']}")
            continue
        h = hashlib.sha256()
        with open(p, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
        if h.hexdigest() != s["sha256"]:
            errs.append(f"checksum mismatch: {s['file']}")
        rows = 0
        with gzip.open(p, "rb") as fh:
            for _ in fh:
                rows += 1
        if rows != s["rows"]:
            errs.append(f"row count mismatch: {s['file']}")
        total += rows
    if total != manifest["total_rows"]:
        errs.append("total_rows mismatch")
    return errs

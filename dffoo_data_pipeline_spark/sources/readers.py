"""Sources (SURVEY.md §2a).

The reference's sources are scraped web pages and hand-maintained CSVs
(web_scraper.py:131-173, raw_sources.yml); ours are columnar files read
through the DataSource V2 parquet reader so Catalyst gets predicate
pushdown, column pruning, and partition pruning for free.  At 100 TB the
scan is the dominant cost — everything here is designed so `.explain`
shows PushedFilters/ReadSchema doing the trimming, never Python.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dffoo_data_pipeline_spark.schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-process parquet schema memo: (path, nanosAsLong) -> (stat token,
# schema).  A bare `spark.read.parquet(path)` runs a schema-inference Spark
# job at DataFrame-construction time; every read in this package instead
# passes an explicit schema from `parquet_schema`, so building a scan runs
# no job before its sink.  Invariants:
# - the schema comes from ONE parquet footer, read driver-side, and is
#   mapped through the same physical-type rules Spark's own inference
#   applies (pinned equal by
#   tests/test_sources.py::test_footer_schema_matches_spark_inference);
# - a path the footer map cannot cover (remote storage, unmapped types)
#   falls back to Spark's inference job, never to a guess;
# - entries hold schemas only, never rows or results, and carry a stat
#   token of the path, so an in-place rewrite or a swapped-in directory
#   re-derives the schema.
_SCHEMA_CACHE: dict[tuple[str, bool], tuple[tuple | None, object]] = {}

# Per-process scan-partition-count memo for `ensure_min_partitions`, keyed
# by the frame's semantic plan hash: the partition count is a function of
# the plan, so two different plans over the same files never share an
# entry.  Same metadata-only contract as _SCHEMA_CACHE.
_PARTS_CACHE: dict[tuple, int] = {}


def _stat_token(path: str) -> tuple | None:
    """(inode, mtime_ns, size) of a local path — the schema memo's
    staleness token.  None for non-local or unstatable paths (their
    entries never self-invalidate)."""
    p = path[7:] if path.startswith("file://") else path
    try:
        st = os.stat(p)
        return (st.st_ino, st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def _footer_schema(path: str, nanos_as_long: bool):
    """Parquet schema from one driver-side footer read — no Spark job.

    `path` is a parquet file, or a directory whose first data file (by
    name) supplies the footer.  The arrow schema is mapped through the
    rules Spark's parquet inference applies, with the physical type of
    each leaf column read from the same footer:

    - physical INT96 → TIMESTAMP (Spark's default ``outputTimestampType``;
      arrow reports it as timestamp[ns], indistinguishable by type alone)
    - INT64 timestamp[ns] → bigint when ``nanos_as_long`` (the session's
      ``spark.sql.legacy.parquet.nanosAsLong``); otherwise unmapped
    - timestamp with a zone → TIMESTAMP; zone-less → TIMESTAMP_NTZ
    - every field read-nullable, as Spark converts all parquet columns

    Returns None when the path is not a local parquet file or directory,
    or a type falls outside the map; callers then run Spark's inference.
    """
    p = path[7:] if path.startswith("file://") else path
    if "://" in p:
        return None
    if os.path.isdir(p):
        datafiles = sorted(
            f for f in os.listdir(p)
            if not f.startswith(("_", ".")) and not f.endswith(".crc")
            and os.path.isfile(os.path.join(p, f))
        )
        if not datafiles:
            return None
        p = os.path.join(p, datafiles[0])
    if not os.path.isfile(p):
        return None
    try:
        import pyarrow.parquet as papq

        with papq.ParquetFile(p) as pf:
            arrow = pf.schema_arrow
            physical_types = [
                pf.schema.column(i).physical_type for i in range(pf.metadata.num_columns)
            ]
    except Exception:
        return None
    # leaf columns in footer order = depth-first order of the arrow leaves
    leaves = iter(physical_types)
    from pyspark.sql import types as T

    import pyarrow as pa

    def conv(t):
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            elem = conv(t.value_type)
            return T.ArrayType(elem, True) if elem is not None else None
        if pa.types.is_struct(t):
            fields = []
            for i in range(t.num_fields):
                f = t.field(i)
                ft = conv(f.type)
                if ft is None:
                    return None
                fields.append(T.StructField(f.name, ft, True))
            return T.StructType(fields)
        if pa.types.is_map(t):
            kt, vt = conv(t.key_type), conv(t.item_type)
            return T.MapType(kt, vt, True) if kt is not None and vt is not None else None
        physical = next(leaves, None)
        if pa.types.is_boolean(t):
            return T.BooleanType()
        if pa.types.is_int8(t):
            return T.ByteType()
        if pa.types.is_int16(t):
            return T.ShortType()
        if pa.types.is_int32(t):
            return T.IntegerType()
        if pa.types.is_int64(t):
            return T.LongType()
        if pa.types.is_float32(t):
            return T.FloatType()
        if pa.types.is_float64(t):
            return T.DoubleType()
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return T.StringType()
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return T.BinaryType()
        if pa.types.is_date32(t):
            return T.DateType()
        if pa.types.is_decimal(t):
            return T.DecimalType(t.precision, t.scale)
        if pa.types.is_timestamp(t):
            if physical == "INT96":
                return T.TimestampType()
            if t.unit == "ns":
                return T.LongType() if nanos_as_long else None
            return T.TimestampType() if t.tz else T.TimestampNTZType()
        return None  # uint and other unmapped types: Spark inference decides

    fields = []
    for name, typ in zip(arrow.names, arrow.types):
        ft = conv(typ)
        if ft is None:
            return None
        fields.append(T.StructField(name, ft, True))
    return T.StructType(fields)


def parquet_schema(spark: SparkSession, path: str):
    """Schema of the parquet file or directory at `path`, for
    ``spark.read.schema(...)``: the memo when its stat token still
    matches, else one driver-side footer read, else (remote path or
    unmapped type) Spark's own inference job.  Partition columns of a
    partitioned directory are not part of it; Spark appends them from
    the directory names at scan time."""
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    key = (path, nanos)
    tok = _stat_token(path)
    cached = _SCHEMA_CACHE.get(key)
    if cached is not None and cached[0] == tok:
        return cached[1]
    schema = _footer_schema(path, nanos)
    if schema is None:
        schema = spark.read.parquet(path).schema  # Spark's inference job
    _SCHEMA_CACHE[key] = (tok, schema)
    return schema


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Read one synthetic table (TESTDATA.md) as a DataFrame.

    Parquet scan — scale path: on a cluster this same call reads a
    partitioned table directory; filters/projections compose into the scan.

    SESSION-MUTATION CONTRACT: this call permanently sets
    ``spark.sql.session.timeZone=UTC`` and
    ``spark.sql.legacy.parquet.nanosAsLong=true`` on the CALLER'S
    SparkSession and does not restore them.  UTC is this engine's
    invariant (session.py); pinning it here makes every registered query
    correct under a FOREIGN driver session regardless of its host
    timezone.  Spark resolves the session timezone at EXECUTION time,
    so a caller that re-sets its timezone between plan construction and
    collect shifts results — foreign-session callers that need a
    non-UTC zone for their own queries must re-set it after the engine's
    frames have been fully collected.

    `events.ts` has shipped as either TIMESTAMP(NANOS)-stored-as-INT64
    (needs `nanosAsLong` + truncation to µs, matching DuckDB's own
    truncation) or as a plain TIMESTAMP(MICROS) column (no conversion
    needed) depending on the testdata generation.  Adapt to whichever
    physical type the file carries instead of assuming one.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # UTC is this engine's session invariant (session.py), but the driver
    # contract hands queries a FOREIGN SparkSession — pin the tz here so
    # day windows / unix_micros over the int64-nanos physical variant
    # (absolute instants) cannot shift against the UTC-naive oracle under
    # a non-UTC host session.  The ntz variant is wall-time and already
    # tz-invariant; this makes both variants driver-tz-proof.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        from pyspark.sql import functions as F

        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            # integer `div` (not `/`): ns values exceed double's 2^53 exactness
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_dtype == "timestamp_ntz":
            # session tz is UTC, so this cast is value-preserving; keeps
            # every downstream plan (unix_micros, watermarks, windows) on
            # the plain TIMESTAMP type they were written for
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if fan_out:
        # single-row-group test files scan as ONE task, serializing the
        # map-side work of everything above them.  Opt-in per query: a win
        # when heavy compute (partial agg, wide projection, UDF) runs
        # BEFORE the first natural shuffle; a loss when the plan's first
        # operation is a hash exchange anyway (windows, joins) — there the
        # extra round-robin exchange is pure overhead.  Conditional: a
        # multi-split cluster input passes through untouched, and Catalyst
        # pushes filters/pruning through the repartition.
        df = ensure_min_partitions(df)
    return df


def ensure_min_partitions(df: DataFrame, *cols: str, min_parts: int | None = None) -> DataFrame:
    """Fan a narrow scan out to at least `min_parts` partitions.

    Compute-heavy per-row stages (pandas UDFs, wide projections, explodes)
    inherit the scan's partitioning; a small single-file table runs them on
    one core.  Conditional repartition: on a real multi-split (100 TB)
    input the scan already has >= cores partitions and this is a no-op —
    the shuffle only happens when the input is too narrow for the cluster.
    Hash-partitions on `cols` when given (deterministic placement),
    round-robin otherwise.
    """
    min_parts = min_parts or df.sparkSession.sparkContext.defaultParallelism
    # `df.rdd` runs the full physical planner on every fresh frame
    # (~0.1-0.2 s of driver time per call); the partition count of a
    # frame is a function of its PLAN and the session's split config, so
    # memoize it per canonicalized plan hash (semanticHash — analysis
    # already ran at construction, so the hash is a cheap py4j call, not
    # a planner run).  A key on the input files alone would collide
    # between a raw 1-partition scan and a post-shuffle frame over the
    # same files.  A stale memo can only mis-decide the fan-out (perf,
    # never correctness): the repartition itself is what guarantees
    # layout, not the probe.
    key = None
    try:
        key = (df.semanticHash(), min_parts)
    except Exception:  # streaming/foreign frames: fall through to df.rdd
        pass
    n_parts = _PARTS_CACHE.get(key) if key else None
    if n_parts is None:
        n_parts = df.rdd.getNumPartitions()
        if key:
            _PARTS_CACHE[key] = n_parts
    if n_parts >= min_parts:
        return df
    from pyspark.sql import functions as F

    return df.repartition(min_parts, *[F.col(c) for c in cols]) if cols else df.repartition(min_parts)


def register_views(spark: SparkSession, sf_dir: str, names=TESTDATA_TABLES) -> None:
    """Register every synthetic table as a temp view for spark.sql plans."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_manual_entry_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """Hand-curated CSV source (reference S8: followups_manual_entry.csv,
    raw_sources.yml:97-171).  Explicit schema, header, permissive mode;
    latin-1 tolerated because the reference's real file is latin-1
    (FIXTURES.md T4)."""
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("encoding", "ISO-8859-1")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_csv_with_rejects(
    spark: SparkSession, path: str, schema
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE CSV read that ROUTES malformed rows instead of dropping
    them: returns (clean_rows, reject_rows).  At 100 TB a few malformed
    lines per billion are a certainty; silently nulling them (plain
    PERMISSIVE) or failing the job (FAILFAST) are both wrong — the
    dead-letter split keeps the pipeline total AND auditable.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(with_corrupt)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()  # required: corrupt-record column is only reliable on a
        # materialized frame (Spark docs; otherwise pushdown can
        # drop the raw-record capture)
    )
    clean = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    rejects = df.where(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return clean, rejects


def stage_followups(raw: DataFrame) -> DataFrame:
    """Typed staging projection for the manual-entry followups table
    (reference P2 pattern, stg_abilities.sql:5-14): 'T'/'F' strings become
    real booleans, comma-joined `triggers` becomes a real array."""
    from pyspark.sql import functions as F

    tf = lambda c: (F.col(c) == "T").alias(c)  # noqa: E731
    return raw.select(
        "char_name",
        "ability_name",
        "main_target_hp_attacks",
        "non_target_hp_attacks",
        "hp_dmg_cap_up_perc",
        "timing",
        F.split("triggers", r",\s*").alias("triggers"),
        tf("default"),
        tf("during_bt"),
        tf("double_during_bt"),
    )


def stage_followups_file(raw: DataFrame) -> DataFrame:
    """Typed staging for the REAL followups file layout
    (FOLLOWUPS_MANUAL_ENTRY_FILE): 'T'/'F' → boolean, comma-joined
    `triggers` and stringified-Python `attribute_list` → real arrays,
    'M/d/yyyy H:mm' local timestamps → TIMESTAMP (reference stg_abilities.sql
    P2 pattern applied to the manual table raw_sources.yml:97-171 keeps as
    text)."""
    from pyspark.sql import functions as F

    tf = lambda c: (F.col(c) == "T").alias(c)  # noqa: E731
    ts = lambda c: F.to_timestamp(F.col(c), "M/d/yyyy H:mm").alias(c)  # noqa: E731
    return raw.select(
        "char_name",
        "ability_name",
        "ability_id",
        "main_target_hp_attacks",
        "non_target_hp_attacks",
        "hp_dmg_cap_up_perc",
        F.regexp_extract_all("attribute_list", F.lit(r"'([^']+)'"), 1).alias(
            "attribute_list"
        ),
        "game_version",
        ts("scrape_started_at_utc"),
        ts("scrape_ended_at_utc"),
        "timing",
        F.split("triggers", r",\s*").alias("triggers"),
        tf("default"),
        tf("during_bt"),
        tf("double_during_bt"),
    )


def stage_bt_labeling(raw: DataFrame) -> DataFrame:
    """Typed staging for the BT special-effect labeling table (reference
    S8 second manual table, datasets/bt_special_effect_labeling.csv).

    Normalizations pinned by tests: the stringified enemy list ("[1, 2, 3]"
    or a bare "2") becomes array<int>; free-text columns are ''→NULL
    normalized (the CSV writes empty strings); the trailing phantom column
    from the header's trailing comma is dropped; local 'M/d/yyyy H:mm'
    timestamps become TIMESTAMP."""
    from pyspark.sql import functions as F

    ts = lambda c: F.to_timestamp(F.col(c), "M/d/yyyy H:mm").alias(c)  # noqa: E731
    return raw.select(
        "char_name",
        "bt_personal_hp_dmg_cap_up",
        "bt_party_hp_dmg_cap_up",
        F.transform(
            F.regexp_extract_all("enemy_count_apply_list", F.lit(r"\d+"), 0),
            lambda x: x.cast("int"),
        ).alias("enemy_count_apply_list"),
        "game_version",
        ts("scrape_started_at"),
        ts("scrape_ended_at"),
        F.nullif(F.trim("special_effect_for_hp_dmg_cap_on_turn"), F.lit("")).alias(
            "special_effect_for_hp_dmg_cap_on_turn"
        ),
        F.nullif(F.trim("issue_to_fix"), F.lit("")).alias("issue_to_fix"),
    )


def read_jsonl(spark: SparkSession, path: str, schema) -> tuple[DataFrame, DataFrame]:
    """JSON-Lines corpus source — the de-facto interchange format for LLM
    training data (one document object per line).  Schema-enforced
    PERMISSIVE read that ROUTES malformed lines to a dead-letter frame
    instead of silently nulling them: returns (clean_rows, reject_rows).

    Scale: line-delimited JSON splits on newlines, so a 100 TB corpus
    parallelizes per-block like text; explicit schema skips Spark's
    whole-dataset inference pass (an extra full scan) and pins types
    against drifting producers.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()  # same contract as read_csv_with_rejects: corrupt-record
        # capture is only reliable on a materialized frame
    )
    clean = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    rejects = df.where(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return clean, rejects


def read_xml(
    spark: SparkSession, path: str, row_tag: str, schema
) -> tuple[DataFrame, DataFrame]:
    """XML source (Spark 4 native reader) — the structured-markup
    ingestion shape of the reference's E-step (web_scraper.py parses
    scraped HTML/markup into typed rows).  Schema-enforced PERMISSIVE
    read with the same dead-letter contract as read_jsonl /
    read_csv_with_rejects: returns (clean_rows, reject_rows) so a
    malformed element is auditable instead of silently nulled or
    job-fatal.

    Scale: one XML record element per `row_tag`; files parallelize
    per-split with the record tag as the boundary scanner.  An explicit
    schema skips the inference pass (a full extra scan) and pins types
    against drifting producers — same rationale as the JSONL reader.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(with_corrupt)
        .option("rowTag", row_tag)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .xml(path)
        .cache()  # corrupt-record capture is only reliable materialized
    )
    clean = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    rejects = df.where(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return clean, rejects


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar source: same DataSource-V2 scan benefits as parquet
    (predicate pushdown, column pruning, vectorized read) for corpora that
    arrive ORC-encoded from Hive-era warehouses."""
    return spark.read.orc(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """(file, line_no, line) from raw text files — the ingestion shape the
    reference's scraper consumes (numbered HTML text lines per page;
    web_scraper.py walks soup.text line offsets).  `wholetext` reads each
    file as ONE row, so the posexplode's positions are EXACT per-file
    line numbers — `monotonically_increasing_id` over a line-mode read
    would interleave across partitions and break the parser's ±k offset
    contract.

    Scale: parallelism is per-file (a scraped page per file — thousands
    of small files is the normal shape; for giant single files, split
    upstream or fall back to line-mode + per-partition renumbering).
    Line numbers are 0-based to match the parser's offset convention.
    """
    from pyspark.sql import functions as F

    whole = spark.read.text(path, wholetext=True)
    return (
        whole.select(
            F.input_file_name().alias("file"),
            F.posexplode(F.split("value", "\n")).alias("line_no", "line"),
        )
    )

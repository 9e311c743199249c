"""Source tests: the manual-entry CSV path (SURVEY.md §2a S8).

The reference's real followups_manual_entry.csv is latin-1 with 'T'/'F'
boolean flags and comma-joined list columns (raw_sources.yml:97-171,
FIXTURES.md T4); this pins the tolerant read + typed staging boundary.
"""

from __future__ import annotations

import tempfile

import pytest

from dffoo_data_pipeline_spark.schemas import FOLLOWUPS_MANUAL_ENTRY_RAW
from dffoo_data_pipeline_spark.sources.readers import (
    read_manual_entry_csv,
    stage_followups,
)

_CSV = (
    "char_name,ability_name,main_target_hp_attacks,non_target_hp_attacks,"
    "hp_dmg_cap_up_perc,timing,triggers,default,during_bt,double_during_bt\n"
    "aerith,Planet Protection,1,0,10,during,\"damaging, effect\",T,F,T\n"
    "exdeath,Almagest \xe0 Trois,2,2,0,after,all,F,T,F\n"
)


def test_manual_entry_latin1_read_and_staging(spark):
    path = tempfile.mkdtemp(prefix="sg_manual_") + "/followups.csv"
    with open(path, "w", encoding="latin-1") as f:
        f.write(_CSV)

    raw = read_manual_entry_csv(spark, path, FOLLOWUPS_MANUAL_ENTRY_RAW)
    assert raw.count() == 2
    # latin-1 byte survived the read
    assert raw.filter(raw.ability_name.contains("à")).count() == 1

    staged = stage_followups(raw)
    types = {f.name: f.dataType.simpleString() for f in staged.schema.fields}
    assert types["default"] == "boolean"
    assert types["triggers"] == "array<string>"
    assert types["main_target_hp_attacks"] == "smallint"
    rows = {r.char_name: r for r in staged.collect()}
    assert rows["aerith"].triggers == ["damaging", "effect"]
    assert rows["aerith"].default is True and rows["aerith"].during_bt is False
    assert rows["exdeath"].double_during_bt is False


def test_corrupt_records_routed_not_dropped(spark):
    import tempfile

    from pyspark.sql import types as T

    from dffoo_data_pipeline_spark.sources.readers import read_csv_with_rejects

    path = tempfile.mkdtemp(prefix="sg_rejects_") + "/rows.csv"
    with open(path, "w") as f:
        f.write("doc_id,n\n1,10\n2,not_a_number_and,too,many,cols\n3,30\n")

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("n", T.LongType())]
    )
    clean, rejects = read_csv_with_rejects(spark, path, schema)
    assert {(r.doc_id, r.n) for r in clean.collect()} == {(1, 10), (3, 30)}
    rej = rejects.collect()
    assert len(rej) == 1 and "not_a_number_and" in rej[0]._corrupt_record


def test_parquet_schema_evolution_merge(spark):
    """Schema evolution: files written before/after a column addition read
    as one table with mergeSchema; old rows surface NULL for the new
    column (the live-table reality at 100 TB — writers upgrade gradually)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="sg_evolve_") + "/t"
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(f"{d}/p=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(f"{d}/p=2")

    merged = spark.read.option("mergeSchema", True).parquet(d)
    assert set(merged.columns) == {"id", "name", "score", "p"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}


def test_jsonl_and_orc_round_trips(spark):
    """Format breadth beyond parquet/CSV: JSON-lines (the log-shipping
    format) with explicit schema — never inferred — and ORC (the other
    columnar) both round-trip through the same DataFrame surface."""
    import tempfile

    from dffoo_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "events").limit(200).cache()
    d = tempfile.mkdtemp(prefix="sg_formats_")

    # explicit 6-digit fractional format: JSON's default is millis and
    # silently truncates microsecond timestamps
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    e.write.mode("overwrite").option("timestampFormat", ts_fmt).json(f"{d}/j")
    back_j = spark.read.schema(e.schema).option("timestampFormat", ts_fmt).json(f"{d}/j")
    assert back_j.count() == 200
    assert [f.dataType for f in back_j.schema.fields] == [
        f.dataType for f in e.schema.fields
    ]

    e.write.mode("overwrite").orc(f"{d}/o")
    back_o = spark.read.orc(f"{d}/o")
    assert back_o.count() == 200
    # value fidelity: timestamps and doubles survive both formats
    a = sorted(map(tuple, e.collect()))
    assert sorted(map(tuple, back_j.collect())) == a
    assert sorted(map(tuple, back_o.collect())) == a


@pytest.mark.reference
def test_game_version_char2_constraint(spark):
    """CHARACTER(2) semantics from reference stg_abilities.sql:5-14: every
    game_version the pipeline emits is exactly 2 characters (GL/JP), across
    the parse fixtures, the full pipeline, and the reference's real CSV."""
    import csv

    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.fixtures import ability_line_rows
    from dffoo_data_pipeline_spark.plans.abilities import ability_pipeline
    from dffoo_data_pipeline_spark.plans.manual_tables import DATASETS_DIR
    from dffoo_data_pipeline_spark.schemas import ABILITY_HTML_LINES

    lines = spark.createDataFrame(ability_line_rows(), ABILITY_HTML_LINES)
    out = ability_pipeline(lines)
    bad = out.where(
        F.col("game_version").isNull() | (F.length("game_version") != 2)
    ).count()
    assert bad == 0
    with open(f"{DATASETS_DIR}/raw_abilities.csv") as f:
        assert {r["game_version"] for r in csv.DictReader(f)} == {"GL", "JP"}


def test_jdbc_append_call_shape_fails_without_driver(spark):
    """S7: the JDBC sink's failure mode without a driver jar is pinned —
    the call shape executes down to the JVM DriverManager (py4j error
    naming the missing driver), not an AttributeError in our code."""
    import pytest

    from dffoo_data_pipeline_spark.sources import writers

    df = spark.createDataFrame([(1, "a")], "id int, name string")
    with pytest.raises(Exception) as ei:
        writers.write_jdbc_append(
            df,
            "jdbc:postgresql://localhost:5432/nope",
            "t",
            {"user": "u", "password": "p"},
        )
    msg = str(ei.value)
    assert "driver" in msg.lower() or "No suitable" in msg, msg


def test_read_text_lines_exact_numbering(spark, tmp_path):
    """Per-file 0-based line numbers must be exact regardless of
    partitioning — the parser's ±k lead/lag offsets depend on it."""
    from dffoo_data_pipeline_spark.sources.readers import read_text_lines

    for i, body in enumerate(
        ["alpha\nbravo\ncharlie", "x\ny\nz\nw\nv", "single"]
    ):
        (tmp_path / f"page{i}.txt").write_text(body)
    out = read_text_lines(spark, str(tmp_path)).collect()
    by_file = {}
    for r in out:
        by_file.setdefault(r.file.rsplit("/", 1)[-1], []).append((r.line_no, r.line))
    assert sorted(by_file["page0.txt"]) == [(0, "alpha"), (1, "bravo"), (2, "charlie")]
    assert len(by_file["page1.txt"]) == 5 and sorted(by_file["page1.txt"])[4] == (4, "v")
    assert by_file["page2.txt"] == [(0, "single")]


def test_text_lines_feed_ability_parser(spark, tmp_path):
    """End-to-end ingestion parity: writing each ability's HTML lines as
    a RAW TEXT FILE (one scraped page per ability, the reference's actual
    input shape) and reading through read_text_lines must parse to
    exactly the same result as the in-memory fixture path."""
    import urllib.parse

    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.fixtures import ability_line_rows
    from dffoo_data_pipeline_spark.plans.abilities import parse_ability_lines
    from dffoo_data_pipeline_spark.schemas import ABILITY_HTML_LINES
    from dffoo_data_pipeline_spark.sources.readers import read_text_lines

    rows = ability_line_rows()
    pages: dict[tuple, list] = {}
    for char, ability, aid, gv, line_no, line in rows:
        pages.setdefault((char, ability, aid, gv), []).append((line_no, line))
    for i, ((char, ability, aid, gv), lines) in enumerate(sorted(pages.items())):
        body = "\n".join(l for _, l in sorted(lines))
        name = urllib.parse.quote(f"{char}||{ability}||{aid}||{gv}", safe="")
        (tmp_path / f"{i:04d}__{name}.txt").write_text(body)

    raw = read_text_lines(spark, str(tmp_path))
    # input_file_name yields a URI, so the quoted name arrives
    # percent-encoded twice — decode twice
    meta = F.split(
        F.url_decode(F.url_decode(F.regexp_extract("file", r"\d+__(.*)\.txt$", 1))),
        r"\|\|",
    )
    staged = raw.select(
        F.element_at(meta, 1).alias("char_name"),
        F.element_at(meta, 2).alias("ability_name"),
        F.element_at(meta, 3).cast("int").alias("ability_id"),
        F.element_at(meta, 4).alias("game_version"),
        F.col("line_no").cast("int"),
        "line",
    )
    from_files = parse_ability_lines(staged)
    from_memory = parse_ability_lines(
        spark.createDataFrame(rows, ABILITY_HTML_LINES)
    )
    a = sorted(map(tuple, from_files.collect()))
    b = sorted(map(tuple, from_memory.collect()))
    assert a == b and len(a) > 0


def test_foreign_session_timezone_cannot_shift_results(spark, sf_dir):
    """The driver contract hands queries a FOREIGN SparkSession whose
    timezone this engine does not control; load_table pins UTC at the
    load boundary so day windows and unix_micros cannot shift against
    the UTC-naive oracle.  Simulate with newSession() (independent
    runtime conf, shared context) configured to Asia/Tokyo."""
    from dffoo_data_pipeline_spark.plans import all_queries

    q, _ = all_queries()
    foreign = spark.newSession()
    foreign.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    assert foreign.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
    for name in ("events_dau_wau", "events_sessionization"):
        base = sorted(map(tuple, q[name](spark, sf_dir).collect()))
        shifted = sorted(map(tuple, q[name](foreign, sf_dir).collect()))
        assert base == shifted, f"{name} shifted under a non-UTC host session"


def test_footer_schema_matches_spark_inference(spark, tmp_path):
    """_footer_schema (the driver-side footer read that replaces Spark's
    schema-inference job on every parquet read) must equal Spark's own
    parquet inference for every driver table AND the fixture variants the
    suite writes — the nanos→bigint events variant, a 3-column lineitem,
    nested arrays/structs, and Spark's default INT96 timestamps (top-level
    and nested).  An unmapped type falls back to inference, so a gap
    there is perf-only; a WRONG mapping fails the scan, which is what the
    equality here guards."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from dffoo_data_pipeline_spark.sources.readers import _footer_schema

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def check(path):
        got = _footer_schema(path, nanos_as_long=True)
        assert got is not None, f"footer path fell back for {path}"
        expect = spark.read.parquet(path).schema
        assert got == expect, f"{path}: {got} != {expect}"

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        import os

        d = f"/root/testdata/{sf}"
        for f in sorted(os.listdir(d)):
            check(f"{d}/{f}")

    # nanos-stored events variant (the physical type the ts adapter handles)
    ns = tmp_path / "events_ns.parquet"
    papq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()),
                  "ts": pa.array([1700000000000000000], pa.timestamp("ns"))}),
        str(ns),
    )
    check(str(ns))
    # without nanosAsLong Spark cannot read INT64 nanos as bigint: the
    # footer map must not claim it can
    assert _footer_schema(str(ns), nanos_as_long=False) is None

    # Spark's default outputTimestampType: INT96, which arrow reports as
    # timestamp[ns] just like the nanos variant above
    int96 = str(tmp_path / "int96.parquet")
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.sql(
            "SELECT 1L AS id, TIMESTAMP'2024-01-01 00:00:00' AS ts, "
            "array(named_struct('t', TIMESTAMP'2024-01-02 00:00:00')) AS nested, "
            "map('k', TIMESTAMP'2024-01-03 00:00:00') AS m"
        ).coalesce(1).write.parquet(int96)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    import glob

    part = papq.ParquetFile(glob.glob(f"{int96}/*.parquet")[0])
    assert part.schema.column(1).physical_type == "INT96"
    check(int96)
    assert _footer_schema(int96, nanos_as_long=False) == _footer_schema(
        int96, nanos_as_long=True
    )

    # variant-shape fixture (3-column lineitem written as a DIRECTORY by
    # a spark writer, like test_properties.py's integrity fixture)
    spark.createDataFrame(
        [(1, 10, 5.0)], "l_linenumber long, l_orderkey long, l_quantity double"
    ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    check(str(tmp_path / "lineitem.parquet"))

    # nested struct + map + decimal + ntz timestamp
    deep = tmp_path / "deep.parquet"
    papq.write_table(
        pa.table({
            "s": pa.array([{"a": 1, "b": ["x"]}],
                          pa.struct([("a", pa.int32()), ("b", pa.list_(pa.string()))])),
            "m": pa.array([{"k": 2}], pa.map_(pa.string(), pa.int64())),
            "d": pa.array([1], pa.decimal128(18, 6)),
            "t": pa.array([1700000000000000], pa.timestamp("us")),
            "tz": pa.array([1700000000000000], pa.timestamp("us", tz="UTC")),
        }),
        str(deep),
    )
    check(str(deep))


def test_schema_memo_self_invalidates_on_rewrite(spark, tmp_path):
    """An in-place path rewrite with a NEW schema must re-derive the
    schema, not serve the memoized one."""
    import time as _time

    from dffoo_data_pipeline_spark.sources.readers import load_table

    d = str(tmp_path)
    spark.createDataFrame([(1,)], "a long").write.parquet(f"{d}/widget.parquet")
    first = load_table(spark, d, "widget").schema
    assert [f.name for f in first.fields] == ["a"]
    _time.sleep(0.05)  # ensure a distinct mtime_ns token
    spark.createDataFrame([(1, "x")], "a long, b string").write.mode(
        "overwrite"
    ).parquet(f"{d}/widget.parquet")
    second = load_table(spark, d, "widget").schema
    assert [f.name for f in second.fields] == ["a", "b"]


def test_parts_memo_keyed_by_plan_not_files(spark, tmp_path):
    """A derived wide frame and a raw 1-partition scan over the SAME file
    set must not share a partition-count memo entry (a key on the input
    files alone would collide, so a cached wide count would skip the raw
    scan's fan-out and serialize the Arrow stage onto one core)."""
    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    p = str(tmp_path / "one.parquet")
    spark.createDataFrame([(i,) for i in range(100)], "a long").coalesce(
        1
    ).write.parquet(p)
    raw = spark.read.parquet(p)
    assert raw.rdd.getNumPartitions() == 1
    wide = raw.repartition(32)
    # prime the memo with the wide frame (32 partitions, no fan-out needed)
    assert ensure_min_partitions(wide, min_parts=32) is wide
    # the raw scan over the same files must still get its fan-out
    out = ensure_min_partitions(raw, min_parts=32)
    assert out.rdd.getNumPartitions() >= 32

"""The benchmark's workloads: one closed-loop client each.

A query workload runs registry queries in a fixed order, pass after pass.
One step rep is `all_queries()[name](spark, dir)` (plan construction,
including any eager checkpoint or count) followed by a `noop`-sink write
of the returned frame (the plan executing inside Spark).

The ingest workload is the paper's load stage: each pass lands a seeded
slice of `events` rows, streams it into a run-stamped table, reads the
latest run back, upserts it into a keyed table, compacts that table and
reads it back through the table reader.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import datagen

# --- step lists ---------------------------------------------------------

# Short relational/event queries: plan construction, job count and driver
# gap dominate, executor work is small (each reads at most sf0.1 tables).
ORCHESTRATION_STEPS = {
    # step: tables its plan reads (for the stated input size)
    "q3_shipping_priority": ["customer", "lineitem", "orders"],
    "q5_local_supplier_volume": ["customer", "lineitem", "nation", "orders", "region", "supplier"],
    "join_asof_last_click": ["events"],
    "events_sliding_window": ["events"],
    "events_sketch_rollup": ["events"],
    "agg_salted_hot_keys": ["lineitem"],
    "dedup_exact_groups": ["documents"],
}

# Data-bound LLM-curation queries over tiled documents: executor CPU,
# shuffle and Arrow/Python-worker traffic dominate.
LLM_STEPS = {
    "abilities_parse_scaled": ["orders"],
    "corpus_repeated_unit_removal": ["documents"],
    "dedup_minhash_lsh": ["documents"],
}

# --- measurement records ------------------------------------------------


@dataclass
class Sample:
    step: str
    rep: int
    wall_s: float
    construct_s: float = 0.0
    loadavg: float = 0.0


@dataclass
class Outcome:
    """Everything a workload run measured, before summarising."""

    samples: list[Sample] = field(default_factory=list)
    pass_walls: list[float] = field(default_factory=list)
    ext_busy: list[float] = field(default_factory=list)
    attempted: int = 0
    failures: dict[str, str] = field(default_factory=dict)
    checks: dict[str, str] = field(default_factory=dict)
    rows_per_pass: int = 0
    extra: dict = field(default_factory=dict)

    def fail(self, step: str, why: str) -> None:
        self.failures.setdefault(step, why)


def cpu_probe() -> float:
    """Seconds a fixed pure-Python loop takes: how fast this host runs
    right now, recorded per pass so a slow run can be told from a slow
    program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(300_000):
        x += i * i % 7
    return time.perf_counter() - t0


def ext_busy(window: float = 0.15) -> float:
    """Share of machine CPU busy while this process tree sleeps: a direct
    gauge of other tenants' load (the same gauge bench.py records)."""

    def snap() -> tuple[int, int]:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return sum(vals), vals[3] + vals[4]

    try:
        t0, i0 = snap()
        time.sleep(window)
        t1, i1 = snap()
    except OSError:
        return -1.0
    return 0.0 if t1 <= t0 else 1.0 - (i1 - i0) / (t1 - t0)


class Layers:
    """Where a workload calls into the package.  The traced run swaps in a
    `spans.Tracer`, whose spans wrap each call; untraced, a span is a no-op."""

    def __init__(self, tracer=None) -> None:
        self.tracer = tracer

    def span(self, name: str, step: str | None = None, **attrs):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name, step=step, **attrs)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def fingerprint(df) -> tuple[int, int]:
    """Row count and an order-independent hash sum of every row."""
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]), F.lit(2147483647))
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


# --- query workloads ----------------------------------------------------


class QueryWorkload:
    spark_conf: dict[str, str] = {}

    def __init__(self, name: str, steps: dict[str, list[str]], make_data) -> None:
        self.name = name
        self.steps = steps
        self.make_data = make_data
        self.data_dir = ""

    def prepare(self, cache: str, seed: int) -> None:
        self.data_dir = self.make_data(cache, seed)

    def warm_tables(self) -> list[str]:
        return sorted({t for ts in self.steps.values() for t in ts})

    def input_rows(self) -> int:
        rows = {t: pq.ParquetFile(f"{self.data_dir}/{t}.parquet").metadata.num_rows
                for t in self.warm_tables()}
        return sum(rows[t] for ts in self.steps.values() for t in ts)

    def warmup(self, spark, layers: Layers, out: Outcome) -> None:
        """Untimed first rep of every step, through the noop sink; a step
        without a registry oracle records its fingerprint instead, for
        `check` to compare with its last rep."""
        from dffoo_data_pipeline_spark.plans import all_queries

        queries, oracles = all_queries()
        for step in self.steps:
            out.attempted += 1
            try:
                with layers.span("warmup", step=step):
                    df = queries[step](spark, self.data_dir)
                    if step in oracles:
                        _noop(df)
                    else:
                        out.extra.setdefault("fingerprints", {})[step] = fingerprint(df)
            except Exception as e:  # a failing step is counted, the run goes on
                out.fail(step, f"{type(e).__name__}: {str(e)[:300]}")

    def check(self, spark, out: Outcome) -> None:
        """Untimed last rep of every step that has not failed: compared
        with the step's registry oracle (DuckDB SQL), or else its row count
        and hash must equal the first rep's."""
        from dffoo_data_pipeline_spark.plans import all_queries
        import oracle_utils

        queries, oracles = all_queries()
        con = oracle_utils.duckdb_conn(self.data_dir)
        try:
            for step in self.steps:
                if step in out.failures:
                    continue
                out.attempted += 1
                try:
                    df = queries[step](spark, self.data_dir)
                    if step in oracles:
                        out.checks[step] = "oracle"
                        errs = oracle_utils.compare(df, con.execute(oracles[step]).fetchdf(), step)
                        if errs:
                            out.fail(step, "; ".join(errs[:3]))
                        continue
                    out.checks[step] = "fingerprint"
                    first, again = tuple(out.extra["fingerprints"][step]), fingerprint(df)
                    if again != first:
                        out.fail(step, f"fingerprint changed across reps: {first} -> {again}")
                except Exception as e:
                    out.fail(step, f"check {type(e).__name__}: {str(e)[:300]}")
        finally:
            con.close()

    def run(self, spark, layers: Layers, out: Outcome, seconds: float) -> None:
        """Timed closed loop: passes in a fixed step order for `seconds`,
        finishing the pass in progress."""
        from dffoo_data_pipeline_spark.plans import all_queries

        queries, _ = all_queries()
        sc = spark.sparkContext
        out.rows_per_pass = self.input_rows()
        # one more untimed pass first: the JIT is still compiling the
        # warm-up pass's code when it ends, which slows the next pass ~20%
        rep = -1
        deadline = math.inf
        while rep <= 0 or time.perf_counter() < deadline:
            if rep == 0:
                deadline = time.perf_counter() + seconds
            out.ext_busy.append(ext_busy())
            out.extra.setdefault("cpu_probe_s", []).append(cpu_probe())
            with layers.span("pass", rep=rep):
                p0 = time.perf_counter()
                for step in self.steps:
                    if step in out.failures:
                        continue
                    out.attempted += 1
                    sc.setJobDescription(f"{step}#{rep}")
                    load = os.getloadavg()[0]
                    try:
                        with layers.span("step", step=step, rep=rep):
                            t0 = time.perf_counter()
                            with layers.span("plans"):
                                df = queries[step](spark, self.data_dir)
                            t1 = time.perf_counter()
                            with layers.span("operators"):
                                _noop(df)
                            t2 = time.perf_counter()
                    except Exception as e:
                        out.fail(step, f"{type(e).__name__}: {str(e)[:300]}")
                        continue
                    if rep >= 0:
                        out.samples.append(Sample(step, rep, t2 - t0, t1 - t0, load))
                if rep >= 0:
                    out.pass_walls.append(time.perf_counter() - p0)
            rep += 1
        sc.setJobDescription(None)


def orchestration(cache: str, seed: int) -> str:
    return datagen.base_tables(cache, 0.1, seed)


LLM_SF, LLM_SHARDS = 0.05, 2


def llm_scaled(cache: str, seed: int) -> str:
    return datagen.scaled_tables(cache, LLM_SF, LLM_SHARDS, seed, ["documents", "embeddings"])


# --- ingest workload ----------------------------------------------------

SLICE_ROWS = 20_000
KEY_BLOCKS = 2  # slice k rewrites key block k % KEY_BLOCKS
RETAIN_RUNS = KEY_BLOCKS  # run partitions kept in the run-stamped table
WARM_PASSES = 3 * KEY_BLOCKS
INGEST_STEPS = ["stream", "read_latest", "upsert", "compact", "read_current"]


def _tree_files(path: str) -> dict[str, int]:
    return {
        os.path.join(dp, f): os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    }


class IngestWorkload:
    """Land → stream → read latest run → upsert → compact → read back.

    State is kept stationary so every pass does the same work: keys come
    from a fixed universe of KEY_BLOCKS × SLICE_ROWS ids (slice k rewrites
    block k % KEY_BLOCKS), and the run-stamped table keeps only its newest
    RETAIN_RUNS run partitions (the benchmark drops older ones between
    passes, as a retention job would).  The warm-up lands WARM_PASSES
    slices, so the timed passes start from a full table."""

    name = "ingest_append"
    # Spark's default INT96 timestamps read back through load_table's
    # footer schema as bigint and fail the scan, so the written tables
    # store TIMESTAMP_MICROS
    spark_conf = {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}

    def __init__(self, work: str) -> None:
        self.root = Path(work) / "ingest"
        self.landing = self.root / "landing"
        self.raw = str(self.root / "raw")
        self.tables = str(self.root / "tables")
        self.current = f"{self.tables}/current.parquet"
        self.ckpt = str(self.root / "ckpt")
        self.seed = 0
        self.k = 0
        self.landed_bytes: list[int] = []

    def prepare(self, cache: str, seed: int) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        self.landing.mkdir(parents=True)
        os.makedirs(self.tables)
        self.seed = seed

    def warm_tables(self) -> list[str]:
        return []

    def slice(self, k: int):
        """Slice k: every key of block k % KEY_BLOCKS once, seeded order,
        values and timestamps."""
        rng = np.random.default_rng(np.random.SeedSequence([self.seed, k]))
        ids = (k % KEY_BLOCKS) * SLICE_ROWS + rng.permutation(SLICE_ROWS)
        return datagen.make_events(rng, SLICE_ROWS, ids=ids, offset_us=k * 3_600_000_000, tz="UTC")

    def land(self) -> None:
        path = self.landing / f"slice_{self.k:05d}.parquet"
        tmp = self.landing / f".slice_{self.k:05d}.tmp"
        pq.write_table(self.slice(self.k), tmp)
        os.rename(tmp, path)  # the file source must never see a partial file
        self.landed_bytes.append(path.stat().st_size)
        self.k += 1

    def retain(self) -> None:
        runs = sorted(d for d in os.listdir(self.raw) if d.startswith("run_id="))
        for d in runs[:-RETAIN_RUNS]:
            shutil.rmtree(os.path.join(self.raw, d))

    def source(self, spark):
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ])
        return spark.readStream.schema(schema).parquet(str(self.landing))

    def one_pass(self, spark, layers: Layers, out: Outcome, rep: int, timed: bool) -> None:
        from dffoo_data_pipeline_spark.sources import readers, writers
        from dffoo_data_pipeline_spark.streaming.jobs import stream_to_run_stamped

        sc = spark.sparkContext
        self.land()
        before = {}
        p0 = time.perf_counter()

        def step(name: str, fn) -> None:
            out.attempted += 1
            sc.setJobDescription(f"{name}#{rep}")
            load = os.getloadavg()[0]
            t0 = time.perf_counter()
            with layers.span("step", step=name, rep=rep):
                fn()
            if timed:
                out.samples.append(Sample(name, rep, time.perf_counter() - t0, 0.0, load))

        def stream() -> None:
            before["raw"] = _tree_files(self.raw)
            with layers.span("streaming"):
                stream_to_run_stamped(self.source(spark), self.raw, self.ckpt)

        latest = {}

        def read_latest() -> None:
            with layers.span("writers.read_latest_run"):
                latest["df"] = writers.read_latest_run(spark, self.raw)
            with layers.span("operators"):
                _noop(latest["df"])

        def upsert() -> None:
            before["current"] = _tree_files(self.current)
            with layers.span("writers.upsert_by_key"):
                writers.upsert_by_key(spark, latest["df"], self.current, ["event_id"])

        def compact() -> None:
            before["upserted"] = _tree_files(self.current)
            with layers.span("writers.compact"):
                writers.compact(spark, self.current)

        def read_current() -> None:
            df = readers.load_table(spark, self.tables, "current")
            with layers.span("operators"):
                _noop(df)

        with layers.span("pass", rep=rep):
            for name, fn in (("stream", stream), ("read_latest", read_latest), ("upsert", upsert),
                             ("compact", compact), ("read_current", read_current)):
                step(name, fn)
        wall = time.perf_counter() - p0
        sc.setJobDescription(None)
        if timed:
            out.pass_walls.append(wall)
            self._record_io(out, before)
        self.retain()

    def _record_io(self, out: Outcome, before: dict) -> None:
        """Files and bytes each writer produced in this pass (new parquet
        files on disk), and the files in the run-stamped table.  The traced
        run takes the files the latest-run read scans from the event log."""
        raw_now = _tree_files(self.raw)
        upserted = before["upserted"]
        current = _tree_files(self.current)
        new = {
            "stream": {p: s for p, s in raw_now.items() if p not in before["raw"]},
            "upsert": {p: s for p, s in upserted.items() if p not in before["current"]},
            "compact": {p: s for p, s in current.items() if p not in upserted},
        }
        live_landed = sum(self.landed_bytes[-RETAIN_RUNS:])
        out.extra.setdefault("io", []).append({
            "files_written": sum(len(v) for v in new.values()),
            "bytes_written": sum(sum(v.values()) for v in new.values()),
            "bytes_by_writer": {k: sum(v.values()) for k, v in new.items()},
            "rewrite_bytes": sum(new["upsert"].values()) + sum(new["compact"].values()),
            "updated_bytes": self.landed_bytes[-1],
            "raw_files": len(raw_now),
            "stored_bytes": sum(raw_now.values()) + sum(current.values()),
            "live_landed_bytes": live_landed,
        })

    def warmup(self, spark, layers: Layers, out: Outcome) -> None:
        """Untimed warm-up passes: the first KEY_BLOCKS fill the keyed
        table; pass times then fall as the JIT compiles the write path, so
        WARM_PASSES run before timing (timed passes stay within ~10% of
        each other after six)."""
        for rep in range(WARM_PASSES):
            try:
                self.one_pass(spark, layers, out, -1 - rep, timed=False)
            except Exception as e:
                out.fail("warmup", f"{type(e).__name__}: {str(e)[:300]}")
                return
        out.checks.update({s: "final-table" for s in INGEST_STEPS})

    def run(self, spark, layers: Layers, out: Outcome, seconds: float) -> None:
        out.rows_per_pass = SLICE_ROWS
        deadline = time.perf_counter() + seconds
        rep = 0
        while not out.failures and (rep == 0 or time.perf_counter() < deadline):
            out.ext_busy.append(ext_busy())
            out.extra.setdefault("cpu_probe_s", []).append(cpu_probe())
            try:
                self.one_pass(spark, layers, out, rep, timed=True)
            except Exception as e:
                out.fail("pass", f"{type(e).__name__}: {str(e)[:300]}")
            rep += 1

    def check(self, spark, out: Outcome) -> None:
        """The final keyed table must equal the latest landed version of
        every key, and the run-stamped table must hold exactly the retained
        slices, both computed by DuckDB straight from the landed files."""
        import duckdb

        out.attempted += 1
        landed = f"{self.landing}/slice_*.parquet"
        cols = "event_id, ts, user_id, event_type, value, props"
        expect = f"""
            SELECT {cols} FROM (
              SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY filename DESC) AS rn
              FROM read_parquet('{landed}', filename = true)) WHERE rn = 1"""
        actual = f"SELECT {cols} FROM read_parquet('{self.current}/*.parquet')"
        raw_expect = f"""
            SELECT {cols} FROM read_parquet('{landed}', filename = true)
            WHERE filename IN (SELECT DISTINCT filename FROM read_parquet('{landed}', filename = true)
                               ORDER BY filename DESC LIMIT {RETAIN_RUNS})"""
        raw_actual = f"SELECT {cols} FROM read_parquet('{self.raw}/*/*.parquet')"
        con = duckdb.connect()
        try:
            for what, a, b in (("current", actual, expect), ("raw", raw_actual, raw_expect)):
                n_a = con.execute(f"SELECT count(*) FROM ({a})").fetchone()[0]
                n_b = con.execute(f"SELECT count(*) FROM ({b})").fetchone()[0]
                diff = con.execute(
                    f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b})) UNION ALL "
                    f"SELECT count(*) FROM (({b}) EXCEPT ALL ({a}))").fetchall()
                if n_a != n_b or any(d[0] for d in diff):
                    out.fail(what, f"{what} table: {n_a} rows vs {n_b} expected, "
                                   f"{diff[0][0]}/{diff[1][0]} rows differ")
        finally:
            con.close()


WORKLOADS = {
    "orchestration_sf0.1": lambda work: QueryWorkload("orchestration_sf0.1", ORCHESTRATION_STEPS, orchestration),
    "llm_ops_scaled": lambda work: QueryWorkload("llm_ops_scaled", LLM_STEPS, llm_scaled),
    "ingest_append": IngestWorkload,
}

"""SparkSession factory.

One place to configure the session so tests, the driver contract, and the
benchmark all run with identical semantics:

- UTC session timezone (the reference stamps UTC strings,
  web_scraper.py:32; we make it a session invariant).
- ANSI on: Spark 4's default and what the driver harness / any stock
  cluster runs.  Rounds 2-3 each shipped a red driver row through a
  local-vs-driver semantics gap (float tolerance, then a wrapping-int64
  overflow that only ANSI-off forgives); pinning the session to the
  driver's semantics makes the 468-test suite exercise exactly what the
  driver executes.  All plans are verified ANSI-safe as written (the full
  test suite runs ANSI-on); the one permissive boundary is untrusted
  ingest, where the CSV readers' PERMISSIVE mode (readers.py) nulls or
  dead-letters malformed cells independently of ANSI, and all internal
  timestamp casts are typed-to-typed, never raw-string coercions.
- Arrow on: every Pandas-UDF boundary is Arrow-batched (the only sanctioned
  Python path; row-at-a-time UDFs are banned in this codebase).
- AQE on with coalescing + skew-join handling: at 100 TB the runtime
  re-plan (skew splitting, dynamic partition coalescing) is what keeps
  shuffle-heavy plans healthy; at local test scale it is harmless.
- shuffle partitions default to the local core count (overridable via
  SPARK_GRAFT_CPUS) — on a real cluster this would be set to ~2-3x total
  cores or left to AQE's coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_JDBC_JAR_CACHE: list = []  # [result] once resolved — the cache walk runs once per process


def find_jdbc_jar() -> str | None:
    """Locate a JDBC driver jar for the S7 append sink, if one exists.

    Production clusters ship the warehouse's JDBC driver on the
    classpath; locally we look for a DuckDB JDBC jar (the same embedded
    warehouse the transactional sinks use) in the usual dependency
    caches.  Returns None when absent — callers (and the JDBC tests)
    degrade to the documented call-shape-only behavior.

    SPARK_GRAFT_JDBC_JAR overrides: a path forces that jar (and raises
    if the file is missing — an explicit override that cannot be
    honored must not silently skip the end-to-end JDBC coverage); an
    empty string disables discovery entirely.  The cache walk is
    memoized per process and skips -sources/-javadoc jars, preferring
    the numerically (not lexicographically) newest version.
    """
    if _JDBC_JAR_CACHE:
        return _JDBC_JAR_CACHE[0]
    override = os.environ.get("SPARK_GRAFT_JDBC_JAR")
    if override is not None:
        if override == "":
            return None
        if not os.path.isfile(override):
            raise FileNotFoundError(f"SPARK_GRAFT_JDBC_JAR={override} does not exist")
        _JDBC_JAR_CACHE.append(override)
        return override
    import glob
    import re

    def version_key(p: str):
        m = re.search(r"duckdb_jdbc-([0-9][0-9.]*)\.jar$", os.path.basename(p))
        return tuple(int(x) for x in m.group(1).rstrip(".").split(".")) if m else ()

    found = None
    for root in (
        os.path.expanduser("~/.cache/coursier"),
        os.path.expanduser("~/.m2/repository"),
        os.path.expanduser("~/.ivy2"),
    ):
        hits = [
            h
            for h in glob.glob(f"{root}/**/duckdb_jdbc*.jar", recursive=True)
            if not h.endswith(("-sources.jar", "-javadoc.jar"))
        ]
        if hits:
            found = max(hits, key=version_key)
            break
    _JDBC_JAR_CACHE.append(found)
    return found


def get_spark(
    app_name: str = "dffoo-data-pipeline-spark", extra_conf: dict | None = None
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Deploy target comes from SPARK_GRAFT_MASTER (default: local[$CPUS]).
    Pointing it at a yarn/k8s/standalone master is the ONLY change needed
    to run every query on a real cluster — plans are already shaped for
    multi-executor execution (broadcasts, partitioning, AQE).

    `extra_conf` adds settings on top of the standard ones (the query
    profiler's event log).  As for every setting here, static ones take
    effect only when this call creates the session.
    """
    # make the package importable by Python WORKERS even when the driver
    # process found it via sys.path alone (e.g. launched from another
    # cwd): mapInPandas closures reference module-level functions, and
    # cloudpickle resolves those by module import on the worker side
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # decoupled from CPUS for the robustness matrix (PERF.md): the
    # degenerate shuffle.partitions=1 sweep proves no plan depends on
    # shuffle layout, while executor parallelism stays at `cpus`
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # AQE on is the performance default; the robustness matrix
        # (PERF.md) also sweeps the oracle suite with it OFF, proving no
        # plan depends on runtime coalescing/skew-splitting for
        # correctness — only for speed
        .config("spark.sql.adaptive.enabled", os.environ.get("SPARK_GRAFT_AQE", "true"))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.ansi.enabled", os.environ.get("SPARK_GRAFT_ANSI", "true"))
        # this build ships legacy.sizeOfNull=true, whose EFFECTIVE value
        # is (legacy AND NOT ansi): with ANSI on, size(NULL) is NULL, but
        # an ANSI-off session silently flips every size(NULL) in the
        # engine to -1 — miscounting NULL-text docs as -1 tokens in
        # corpus totals and defeating isNotNull length guards (r11
        # hostile sweep under the SPARK_GRAFT_ANSI=false knob).  Pin the
        # SQL-standard NULL so the two ANSI modes agree
        .config("spark.sql.legacy.sizeOfNull", "false")
        # Python DataSource filter pushdown (sources/pysource.py prunes
        # charwiki partitions on pushed char_name equality)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    jdbc_jar = find_jdbc_jar()
    if jdbc_jar:  # S7: makes df.write.jdbc exercisable end-to-end.
        # MERGE with any spark.jars from spark-defaults / spark-submit —
        # overwriting would silently drop the production warehouse driver
        from pyspark import SparkConf

        existing = SparkConf().get("spark.jars", None)
        builder = builder.config(
            "spark.jars", ",".join(filter(None, [existing, jdbc_jar]))
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # reliable checkpointing for iterative operators (operators/graph.py):
    # point this at durable shared storage (HDFS/S3) on a real cluster so
    # an executor loss mid-iteration recovers instead of killing the job
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    return spark

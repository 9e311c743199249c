"""Record linkage and mergeable-sketch rollups (SURVEY.md §2k surface).

Two operators a large-scale data platform runs constantly that were not
yet first-class here:

* ``linkage_blocked_match`` — fuzzy record linkage with BLOCKING: a
  deterministic dirty feed (one character deleted from ``c_name`` at a
  key-derived position) is linked back to the customer master by an
  equality join on unperturbed blocking attributes
  ``(c_nationkey, c_mktsegment)`` followed by Levenshtein verification
  and a best-match window.  This is the candidate→verify discipline of
  every entity-resolution system (same shape as the repo's LSH → exact
  Jaccard near-dup): the quadratic comparison only ever happens INSIDE
  a block, never corpus × corpus.  Reference analog: the
  correction-table override join of web_scraper.py's enrichment step,
  generalized to non-exact keys.

* ``events_sketch_rollup`` — per-day HyperLogLog sketches of distinct
  users (Apache DataSketches via ``hll_sketch_agg``) merged upward with
  ``hll_union_agg``.  The point is MERGEABILITY: the daily sketch table
  is tiny and answers any date-range distinct-count by unioning
  sketches — no rescan of the raw events.  At 100 TB this turns an
  O(corpus) COUNT(DISTINCT) per dashboard query into O(days) sketch
  merges against a table that fits in one executor.

Cross-engine determinism: the linkage query is exact (integer edit
distances, deterministic tie-breaks) and fully oracled; the sketch
rollup's estimates are engine-specific (DataSketches HLL vs DuckDB's
approx_count_distinct) so it registers rows-only, with the error bound
asserted against exact counts in tests/test_linkage.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dffoo_data_pipeline_spark.sources.readers import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Deletion position is derived from the key so the perturbation is
# reproducible on both engines: 1-based pos in [1, len].
_DIRTY_NAME = (
    "concat(substring(c_name, 1, 1 + c_custkey % length(c_name) - 1),"
    " substring(c_name, 1 + c_custkey % length(c_name) + 1, 100))"
)

_LINKAGE_ORACLE = f"""
WITH dirty AS (
    SELECT c_custkey AS dirty_id,
           concat(substr(c_name, 1, 1 + c_custkey % length(c_name) - 1),
                  substr(c_name, 1 + c_custkey % length(c_name) + 1, 100))
               AS dirty_name,
           c_nationkey, c_mktsegment
    FROM customer WHERE c_custkey % 10 = 0
),
cand AS (
    SELECT d.dirty_id, d.dirty_name, c.c_custkey AS matched_id,
           levenshtein(d.dirty_name, c.c_name) AS dist,
           COUNT(*) OVER (PARTITION BY d.dirty_id) AS n_candidates
    FROM dirty d
    JOIN customer c
      ON d.c_nationkey = c.c_nationkey AND d.c_mktsegment = c.c_mktsegment
),
best AS (
    SELECT dirty_id, matched_id,
           CAST(dist AS BIGINT) AS edit_dist,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           ROW_NUMBER() OVER (PARTITION BY dirty_id
                              ORDER BY dist, matched_id) AS rn
    FROM cand WHERE dist <= 2
)
SELECT dirty_id, matched_id, edit_dist, n_candidates
FROM best WHERE rn = 1
"""


@_register("linkage_blocked_match", _LINKAGE_ORACLE)
def linkage_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage: dirty feed → blocking join →
    Levenshtein verify → best match per dirty record.

    Scale: the only join is an equality hash join on the blocking key —
    one shuffle, candidate volume = Σ per-block |dirty|·|clean|, bounded
    by block granularity (add more blocking attributes, or union several
    blocking passes, to shrink blocks; recall survives any perturbation
    that leaves at least one pass's key intact).

    r13 (measured at sf1, where this query was the worst real scaler:
    70 s cold, 100× the pair volume of sf0.1):
    - the edit distance runs in ``levenshtein``'s THRESHOLD form — a
      banded O(len·t) DP that early-exits past t=2 instead of filling
      the O(len²) table for pairs that are then discarded anyway.  The
      form returns −1 past the bound and the EXACT distance under it,
      so with the ``dist >= 0`` guard the surviving rows (and their
      emitted edit_dist) are bit-identical to the plain form — the
      DuckDB oracle stays value-exact (verified sf0.001/sf0.01).
    - ``n_candidates`` (count of blocked candidates per dirty row) is by
      construction the CLEAN side's block size, so it now comes from a
      125-row block aggregate broadcast back onto the dirty feed —
      the old count window shuffled the ENTIRE candidate pair relation
      (guide §2.4: that was the plan's largest exchange) just to count
      rows per block.  The row_number window now sorts survivors only.
    """
    c = load_table(spark, sf_dir, "customer")
    bsz = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    dirty = (
        c.where(F.col("c_custkey") % 10 == 0)
        .select(
            F.col("c_custkey").alias("dirty_id"),
            F.expr(_DIRTY_NAME).alias("dirty_name"),
            "c_nationkey",
            "c_mktsegment",
        )
        .join(F.broadcast(bsz), ["c_nationkey", "c_mktsegment"])
    )
    cand = dirty.join(c, ["c_nationkey", "c_mktsegment"]).select(
        "dirty_id",
        F.col("c_custkey").alias("matched_id"),
        F.levenshtein("dirty_name", "c_name", 2).alias("dist"),
        "n_candidates",
    )
    w = Window.partitionBy("dirty_id").orderBy("dist", "matched_id")
    return (
        # threshold form: −1 means "> 2", so the guard is two-sided
        cand.where((F.col("dist") >= 0) & (F.col("dist") <= 2))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "dirty_id",
            "matched_id",
            F.col("dist").cast("bigint").alias("edit_dist"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
        )
    )


@_register("events_sketch_rollup")  # rows-only: HLL estimates are engine-specific
def events_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-user rollup: one HLL sketch per day, day rows
    estimated from their own sketch, the total row estimated from the
    UNION of the daily sketches — never from a rescan of raw events.

    Scale: pass 1 is a map-side-combined groupBy(day) producing |days|
    sketch blobs (~KB each); every coarser grain (week, month, lifetime,
    arbitrary dashboard ranges) is an ``hll_union_agg`` over that tiny
    table.  This is the standard pre-aggregation contract for distinct
    counts at 100 TB: sketches commute with union, exact counts don't.
    Accuracy (~2% for lgConfigK=12) is asserted against exact
    COUNT(DISTINCT) in tests/test_linkage.py.

    Invariant: the final sort runs in one partition.  Its input is
    |days| + 1 rows at any scale, so a range sort's sampling job and
    range shuffle cost more than the sort.  ``coalesce(1)`` drops both,
    so the query runs 3 jobs: the daily sketch stage, the rollup stage
    and the sorted result.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("period")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # ONE scan of events: both grains re-aggregate the |days|-row sketch
    # table (each daily row tagged into its own group AND the total
    # group), never the raw input — a naive day_rows UNION daily.agg()
    # compiles to two full scans because the shared subtree isn't reused.
    tagged = daily.select(
        F.explode(
            F.array(
                F.struct(F.lit("day").alias("scope"), F.col("period").alias("period")),
                F.struct(
                    F.lit("total").alias("scope"),
                    F.lit(None).cast("date").alias("period"),
                ),
            )
        ).alias("g"),
        "sk",
        "n_events",
    )
    return (
        tagged.groupBy(F.col("g.scope").alias("scope"), F.col("g.period").alias("period"))
        .agg(
            F.hll_union_agg("sk").alias("sk"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            "scope",
            "period",
            F.hll_sketch_estimate("sk").cast("bigint").alias("est_users"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .coalesce(1)
        .orderBy("scope", F.col("period").asc_nulls_last())
    )


_HIST_W = 20.0   # fixed bin width over events.value (range ~[0, 600))
_HIST_B = 64     # bins; top bin clamps the tail

_HIST_QUANTILE_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS period,
           LEAST(CAST(FLOOR(value / {_HIST_W}) AS BIGINT), {_HIST_B - 1}) AS bin,
           COUNT(*) AS cnt
    FROM events GROUP BY 1, 2),
tagged AS (
    SELECT 'day' AS scope, period, bin, cnt FROM daily
    UNION ALL
    SELECT 'total' AS scope, CAST(NULL AS DATE) AS period, bin, cnt FROM daily),
hist AS (
    SELECT scope, period, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
    FROM tagged GROUP BY scope, period, bin),
cum AS (
    SELECT scope, period, bin, cnt,
           CAST(SUM(cnt) OVER (PARTITION BY scope, period ORDER BY bin
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum,
           CAST(SUM(cnt) OVER (PARTITION BY scope, period) AS BIGINT) AS n
    FROM hist),
cand AS (
    SELECT scope, period, bin, cnt, cum, n,
           CAST(FLOOR((n + 1) / 2.0) AS BIGINT) AS r50,
           CAST(FLOOR((19 * n + 19) / 20.0) AS BIGINT) AS r95
    FROM cum)
SELECT scope, CAST(period AS VARCHAR) AS period, MAX(n) AS n_events,
       MAX(CASE WHEN cum >= r50 AND cum - cnt < r50 THEN
           FLOOR((bin * {_HIST_W} + (r50 - (cum - cnt)) / CAST(cnt AS DOUBLE)
                  * {_HIST_W}) * 1000000 + 0.5) / 1000000 END) AS p50_est,
       MAX(CASE WHEN cum >= r95 AND cum - cnt < r95 THEN
           FLOOR((bin * {_HIST_W} + (r95 - (cum - cnt)) / CAST(cnt AS DOUBLE)
                  * {_HIST_W}) * 1000000 + 0.5) / 1000000 END) AS p95_est
FROM cand GROUP BY scope, period
"""


@_register("events_hist_quantile_rollup", _HIST_QUANTILE_ORACLE)
def events_hist_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE rollup — the numeric twin of
    events_sketch_rollup: per-day fixed-bin histograms of ``value``
    (width 20, 64 bins), every coarser grain derived by summing bin
    counts, p50/p95 estimated from the merged histogram's cumulative
    counts with linear interpolation inside the hit bin.

    Scale: histograms commute with union the way HLL sketches do — the
    daily (day, bin) table is ≤ |days|·64 rows, so any date-range
    quantile is O(bins) bin-sums over that tiny table instead of an
    O(corpus) exact percentile (an exact distributed percentile needs a
    global sort or multi-pass select).  Pass 1 is the only events scan
    (map-side-combined groupBy); both grains re-aggregate the daily
    histogram via the tagged-explode idiom (ONE scan — a day-rows UNION
    total-agg plan recompiles the shared subtree into two scans).
    Accuracy is bounded by bin width (≤ W/2 for interior bins), asserted
    against exact percentiles in tests/test_linkage.py.

    Determinism: bins and ranks are integer-exact (ceil via the
    floor((a+b-1)/b) idiom over doubles whose quotients are exact or
    ≥ 0.05 from an integer); the interpolation arithmetic is the same
    IEEE expression on both engines, floor-rounded at 1e-6.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("period"),
        F.least(
            F.floor(F.col("value") / F.lit(_HIST_W)), F.lit(_HIST_B - 1).cast("bigint")
        ).alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tagged = daily.select(
        F.explode(
            F.array(
                F.struct(F.lit("day").alias("scope"), F.col("period").alias("period")),
                F.struct(
                    F.lit("total").alias("scope"),
                    F.lit(None).cast("date").alias("period"),
                ),
            )
        ).alias("g"),
        "bin",
        "cnt",
    )
    hist = tagged.groupBy(
        F.col("g.scope").alias("scope"), F.col("g.period").alias("period"), F.col("bin")
    ).agg(F.sum("cnt").alias("cnt"))
    grp = Window.partitionBy("scope", "period")
    wcum = grp.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select(
        "scope",
        "period",
        "bin",
        "cnt",
        F.sum("cnt").over(wcum).cast("bigint").alias("cum"),
        F.sum("cnt").over(grp).cast("bigint").alias("n"),
    )
    cand = cum.select(
        "scope",
        "period",
        "bin",
        "cnt",
        "cum",
        "n",
        F.floor((F.col("n") + 1) / 2.0).alias("r50"),
        F.floor((19 * F.col("n") + 19) / 20.0).alias("r95"),
    )

    def _est(rank):
        hit = (F.col("cum") >= rank) & (F.col("cum") - F.col("cnt") < rank)
        est = F.col("bin") * _HIST_W + (
            rank - (F.col("cum") - F.col("cnt"))
        ) / F.col("cnt").cast("double") * _HIST_W
        return F.max(F.when(hit, F.floor(est * 1000000 + F.lit(0.5)) / 1000000))

    return (
        cand.groupBy("scope", "period")
        .agg(
            F.max("n").alias("n_events"),
            _est(F.col("r50")).alias("p50_est"),
            _est(F.col("r95")).alias("p95_est"),
        )
        # string period: a nullable DATE round-trips through pandas as
        # datetime64-with-NaT on one engine and object-of-date on the
        # other — the hash compare needs one common representation
        .select(
            "scope",
            F.col("period").cast("string").alias("period"),
            "n_events",
            "p50_est",
            "p95_est",
        )
    )


_CM_D = 4     # independent hash rows
_CM_W = 512   # buckets per row
_CM_TOP = 10  # probe set: exact top-N users

_CM_HASH_SQL = (
    "(('0x' || substr(md5(CAST({d} AS VARCHAR) || ':' || CAST({u} AS VARCHAR)), 1, 8))"
    f"::BIGINT) % {_CM_W}"
)

_COUNTMIN_ORACLE = f"""
WITH probes AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
    FROM events GROUP BY user_id
    ORDER BY exact_cnt DESC, user_id LIMIT {_CM_TOP}),
exploded AS (
    SELECT CAST(e.ts AS DATE) AS day, u.d,
           {_CM_HASH_SQL.format(d="u.d", u="e.user_id")} AS bucket
    FROM events e, unnest(range(0, {_CM_D})) AS u(d)),
daily AS (
    SELECT day, d, bucket, CAST(COUNT(*) AS BIGINT) AS c
    FROM exploded GROUP BY day, d, bucket),
merged AS (
    SELECT d, bucket, CAST(SUM(c) AS BIGINT) AS c
    FROM daily GROUP BY d, bucket),
pb AS (
    SELECT p.user_id, p.exact_cnt, u.d,
           {_CM_HASH_SQL.format(d="u.d", u="p.user_id")} AS bucket
    FROM probes p, unnest(range(0, {_CM_D})) AS u(d)),
est AS (
    SELECT pb.user_id, pb.exact_cnt, CAST(MIN(m.c) AS BIGINT) AS cm_est
    FROM pb JOIN merged m USING (d, bucket)
    GROUP BY pb.user_id, pb.exact_cnt)
SELECT user_id, exact_cnt, cm_est, cm_est - exact_cnt AS overestimate
FROM est
"""


def _cm_bucket(d_col, u_col) -> F.Column:
    """Cross-engine count-min bucket: md5 hex prefix as integer, mod W
    (the md5-uniform idiom verified identical Spark↔DuckDB in
    plans/selection.py)."""
    key = F.concat(d_col.cast("string"), F.lit(":"), u_col.cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % _CM_W


@_register("events_countmin_topk", _COUNTMIN_ORACLE)
def events_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch rollup — the FREQUENCY member of the mergeable-
    sketch trio (distinct = events_sketch_rollup's HLL, quantile =
    events_hist_quantile_rollup's histogram): per-day D×W counter grids
    (D=4 seeded md5 hash rows, W=512 buckets) merged upward by
    elementwise sum; a key's count estimate at any grain is the MIN of
    its D bucket counters (Cormode & Muthukrishnan 2005).  The query
    reports the exact top-10 users alongside their estimate from the
    merged sketch plus the overestimate (count-min NEVER underestimates
    — pinned in tests/test_linkage.py).

    Scale: the sketch table is |days|·D·W rows regardless of key
    cardinality — at billions of users a day's frequency state is 2048
    counters, and any date-range heavy-hitter check is O(D·W) sums over
    that tiny table.  At test scale the sketch is BIGGER than the exact
    count table (~1.5k users) — the break-even is keys ≫ D·W, which is
    exactly the 100 TB regime.  The exact probe side exists to measure
    the sketch and is the inherent second corpus pass (stats + probe,
    per the PERF.md two-pass policy); production probes arrive from the
    application.  Determinism: buckets are md5-uniform integers, all
    counters BIGINT — no floats anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    ds = F.explode(F.sequence(F.lit(0), F.lit(_CM_D - 1))).alias("d")
    daily = (
        ev.select(F.to_date("ts").alias("day"), "user_id", ds)
        .select("day", "d", _cm_bucket(F.col("d"), F.col("user_id")).alias("bucket"))
        .groupBy("day", "d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    merged = daily.groupBy("d", "bucket").agg(F.sum("c").cast("bigint").alias("c"))
    probes = (
        ev.groupBy("user_id")
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
        pb.join(merged, ["d", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("c").alias("cm_est"))
    )
    return est.select(
        "user_id",
        "exact_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("exact_cnt")).alias("overestimate"),
    )

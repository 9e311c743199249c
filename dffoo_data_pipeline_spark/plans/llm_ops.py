"""LLM-data-pipeline operators over `documents`/`embeddings` (§2k).

Dedup, fingerprinting, text quality, language heuristics, similarity — the
operations a 100 TB training-data pipeline runs.  SQL-expressible ones get
DuckDB oracles; sketch/hash-partition ops (MinHash-LSH, SimHash) are Spark
primitives whose hash functions are engine-specific → rows-only checks,
with their pair-level *outputs* validated by unit tests instead
(tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dffoo_data_pipeline_spark.functions import numeric as N
from dffoo_data_pipeline_spark.functions import text as TX
from dffoo_data_pipeline_spark.operators import dedup, similarity
from dffoo_data_pipeline_spark.plans.embeddings import (
    _IVFPQ_ORACLE,
    _IVFPQ_RERANK_ORACLE,
    _PQ_TOPK_ORACLE,
    CODES_NORMS_SQL,
    int8_codes,
)
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


# ---------------------------------------------------------------------------
# Exact dedup + fingerprinting
# ---------------------------------------------------------------------------


@_register(
    "dedup_exact_groups",
    """
    SELECT md5(lower(trim(text))) AS content_hash,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*)    AS n_copies
    FROM documents
    GROUP BY md5(lower(trim(text)))
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (hash-groupBy; SURVEY.md §2k).

    Scale: the shuffle key is the 128-bit content hash — uniformly
    distributed, no skew; the canonical pick (min doc_id) is a partial agg.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.lower(F.trim("text"))).alias("content_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@_register(
    "dedup_exact_keep_first",
    """
    SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                                  ORDER BY doc_id) AS rn
        FROM documents)
    WHERE rn = 1
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first exact dedup (deterministic survivor, unlike
    dropDuplicates whose survivor is partition-order dependent)."""
    return dedup.exact_keep_first(
        load_table(spark, sf_dir, "documents"), text_col="text", order_col="doc_id"
    ).select("doc_id", "lang", "n_chars")


@_register(
    "dedup_incremental_novel",
    r"""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
    new_batch AS (SELECT * FROM fp WHERE doc_id % 10 < 3),
    seen AS (SELECT fp FROM fp WHERE doc_id % 10 >= 3)
    SELECT n.doc_id, n.fp
    FROM new_batch n
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = n.fp)
    """,
)
def dedup_incremental_novel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (operators/dedup.py:dedup_against_seen):
    today's batch (docs with doc_id % 10 < 3 as the proxy) anti-joined on
    content fingerprint against the already-ingested corpus — the daily
    operation where re-deduping 100 TB per batch is off the table.

    Scale: shuffle anti-join on md5 (seen side is corpus-cumulative, never
    broadcast); runtime bloom-filter injection prunes the novel side
    before the shuffle."""
    d = load_table(spark, sf_dir, "documents")
    novel, _dupes = dedup.dedup_against_seen(
        new_docs=d.where(F.col("doc_id") % 10 < 3),
        seen_fingerprints=d.where(F.col("doc_id") % 10 >= 3).select(
            TX.fingerprint_md5("text").alias("fp")
        ),
    )
    return novel.select("doc_id", "fp")


# shared with the streaming twin (streaming/jobs.py:streaming_bloom_dedup):
# the bloom prefilter provably never changes the answer, so batch and
# stream certify against the same plain-NOT-EXISTS truth
_BLOOM_NOVEL_ORACLE = r"""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
    new_batch AS (SELECT * FROM fp WHERE doc_id % 7 < 2),
    seen AS (SELECT fp FROM fp WHERE doc_id % 7 >= 2)
    SELECT n.doc_id, n.fp
    FROM new_batch n
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = n.fp)
    """


@_register("dedup_bloom_prefilter_novel", _BLOOM_NOVEL_ORACLE)
def dedup_bloom_prefilter_novel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup behind an EXPLICIT broadcast-Bloom
    prefilter (operators/dedup.py:dedup_against_seen_bloom at one shard):
    the seen ledger folds into a one-row packed bitmap (map-side bit_or,
    8 KiB, never collected), the batch tests it as a pure column expression,
    and only bloom-positive rows (true dupes + the fpp sliver) pay the
    exact shuffle anti-join.  Bloom false negatives are impossible, so
    the result is byte-identical to the plain anti-join — same oracle
    shape as dedup_incremental_novel, different batch split (% 7).

    Scale: this is the shape when the ledger is 100 TB-cumulative and
    the daily batch is small — the runtime-injected bloom only fires
    when the join's creation side is cheap to scan, so the pipeline
    owns the bitmap explicitly (build it once per day, reuse across
    every ingest job).
    """
    d = load_table(spark, sf_dir, "documents")
    novel = dedup.dedup_against_seen_bloom(
        new_docs=d.where(F.col("doc_id") % 7 < 2),
        seen_fingerprints=d.where(F.col("doc_id") % 7 >= 2).select(
            TX.fingerprint_md5("text").alias("fp")
        ),
    )
    return novel.select("doc_id", "fp")


# the sharded prefilter is answer-identical to the one-shard one (the
# Bloom never changes the answer), so it certifies against the same
# plain-NOT-EXISTS truth on a different batch split (% 9) — each path's
# driver row evidences its own plan
_BLOOM_SHARDED_ORACLE = r"""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
    new_batch AS (SELECT * FROM fp WHERE doc_id % 9 < 2),
    seen AS (SELECT fp FROM fp WHERE doc_id % 9 >= 2)
    SELECT n.doc_id, n.fp
    FROM new_batch n
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = n.fp)
    """


@_register("dedup_bloom_sharded_novel", _BLOOM_SHARDED_ORACLE)
def dedup_bloom_sharded_novel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_bloom_prefilter_novel past the broadcast ceiling
    (operators/dedup.py:dedup_against_seen_bloom with shards=8):
    fingerprints route to pmod(xxhash64(fp), shards) and each shard folds
    into its own packed bitmap row, so total Bloom capacity is
    shards × num_bits while every row stays broadcast-sized — the form
    for a multi-billion-fingerprint ledger, where one row would need
    ~10^10 bits.  The prefilter is a broadcast EQUI-join of the batch
    onto the shards-row bitmap relation on the shard id (each doc reads
    exactly its shard's words).  False negatives remain impossible, so
    the result is byte-identical to the plain anti-join truth.

    Scale: capacity grows linearly in `shards` with constant row size;
    the fold is one (shard, word) shuffle with map-side bit_or partials;
    per-shard fill ratios are stamped and probes refuse any shard past
    max_fill (0.55 by default: saturation fails loud, not slow).
    """
    d = load_table(spark, sf_dir, "documents")
    novel = dedup.dedup_against_seen_bloom(
        new_docs=d.where(F.col("doc_id") % 9 < 2),
        seen_fingerprints=d.where(F.col("doc_id") % 9 >= 2).select(
            TX.fingerprint_md5("text").alias("fp")
        ),
        shards=8,
    )
    return novel.select("doc_id", "fp")


# the md5 ("portable") bloom family derives each bit position straight
# from the fingerprint's own hex (bit_i = int(fp[8i:8i+8], 16) mod
# num_bits), so the bitmap WORDS and every membership answer — false
# positives included — are reproducible by any engine with md5 + hex
# parsing: DuckDB rebuilds the artifact bit-for-bit below.  The bloom
# sibling of the md5-portable MinHash/SimHash twins (hash-family
# routing note, README).  DuckDB refuses 1<<63 (overflow-checked), so
# the bit-63 mask is spelled as the min-bigint literal; every other
# word value matches Spark's two's-complement bigint exactly.
_BLOOM_PORTABLE_MASK_SQL = (
    "CASE WHEN {bit} % 64 = 63 THEN -9223372036854775807 - 1 "
    "ELSE (CAST(1 AS BIGINT) << CAST({bit} % 64 AS INT)) END"
)

_BLOOM_PORTABLE_WORDS_ORACLE = r"""
    WITH fp AS (
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents WHERE doc_id % 7 >= 2),
    bits AS (
        SELECT (('0x' || substr(fp, 1 + 8 * h.i, 8))::BIGINT % 65536) AS bit
        FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) h(i)
        WHERE fp IS NOT NULL)
    SELECT CAST(bit // 64 AS INT) AS word_idx,
           bit_or({mask}) AS word
    FROM bits GROUP BY word_idx
    """.format(mask=_BLOOM_PORTABLE_MASK_SQL.format(bit="bit"))


@_register("dedup_bloom_portable_words", _BLOOM_PORTABLE_WORDS_ORACLE)
def dedup_bloom_portable_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PORTABLE Bloom bitmap itself, certified as an artifact: the
    ledger's md5-family bitmap (operators/dedup.py:bloom_bitmap with
    family='md5') unpacked to one (word_idx, word) row per non-zero
    64-bit word and value-hash compared against DuckDB rebuilding the
    same words from scratch.  The xx64 default family is faster but
    Spark-specific; this family is what a pipeline persists when the
    bitmap must be probed, audited, or rebuilt by a NON-Spark engine
    over the same lakehouse — and this query is the proof that such an
    engine derives the identical artifact.

    Scale: identical fold to the default family (map-side bit_or into a
    one-row packed array, never collected); the unpack is posexplode of
    ≤1024 words."""
    d = load_table(spark, sf_dir, "documents")
    seen = (
        d.where(F.col("doc_id") % 7 >= 2)
        .select(TX.fingerprint_md5("text").alias("fp"))
        .where(F.col("fp").isNotNull())
    )
    bm = dedup.bloom_bitmap(seen, family="md5")
    return (
        bm.select(F.posexplode("bloom").alias("word_idx", "word"))
        .where(F.col("word") != 0)
    )


_BLOOM_PORTABLE_FLAGS_ORACLE = r"""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
    bits AS (
        SELECT (('0x' || substr(fp, 1 + 8 * h.i, 8))::BIGINT % 65536) AS bit
        FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) h(i)
        WHERE doc_id % 7 >= 2 AND fp IS NOT NULL),
    words AS (
        SELECT CAST(bit // 64 AS INT) AS word_idx,
               bit_or({mask}) AS word
        FROM bits GROUP BY word_idx),
    dbits AS (
        SELECT doc_id,
               (('0x' || substr(fp, 1 + 8 * h.i, 8))::BIGINT % 65536) AS bit
        FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) h(i)
        WHERE doc_id % 7 < 2),
    dtest AS (
        SELECT d.doc_id,
               CASE WHEN w.word IS NULL THEN FALSE
                    ELSE (w.word & {dmask}) != 0 END AS hit
        FROM dbits d
        LEFT JOIN words w ON w.word_idx = CAST(d.bit // 64 AS INT))
    SELECT doc_id, bool_and(hit) AS maybe_seen
    FROM dtest GROUP BY doc_id
    """.format(
    mask=_BLOOM_PORTABLE_MASK_SQL.format(bit="bit"),
    dmask=_BLOOM_PORTABLE_MASK_SQL.format(bit="d.bit"),
)


@_register("dedup_bloom_portable_flags", _BLOOM_PORTABLE_FLAGS_ORACLE)
def dedup_bloom_portable_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable Bloom's MEMBERSHIP ANSWERS, certified exactly: one
    (doc_id, maybe_seen) row per batch doc, where maybe_seen is the raw
    bloom verdict against the ledger's md5-family bitmap — INCLUDING the
    false positives, which for this family are deterministic and
    engine-independent, so DuckDB recomputes the byte-identical flag set
    (the answer-level oracles on the novel queries can only show the
    bloom never changes the final answer; this one pins the prefilter's
    own behavior).  A NULL-text doc has no fingerprint and flags
    maybe_seen=false (proven novel) in both engines.

    Scale: the probe is the production one (operators/dedup.py:
    bloom_probe) — broadcast one-row bitmap, pure column-expression bit
    tests, no exact-join stage at all (this query IS the prefilter
    output)."""
    d = load_table(spark, sf_dir, "documents")
    seen = (
        d.where(F.col("doc_id") % 7 >= 2)
        .select(TX.fingerprint_md5("text").alias("fp"))
        .where(F.col("fp").isNotNull())
    )
    batch = d.where(F.col("doc_id") % 7 < 2).withColumn(
        "fp", TX.fingerprint_md5("text")
    )
    bm = dedup.bloom_bitmap(seen, family="md5")
    return dedup.bloom_probe(batch, bm, family="md5").select("doc_id", "maybe_seen")


# the md5 SHARDED artifact: routing is an md5-REHASH prefix modulus
# (('0x'||substr(md5(fp),1,8))::BIGINT % shards — rehashing keeps
# routing independent of the fp's own four probe windows, so per-shard
# bit positions stay uniform), and positions are the fp windows as in
# the one-shard portable family.  DuckDB rebuilds every non-zero word of
# every shard row below, so the sharded artifact is cross-engine too
_BLOOM_SHARDED_PORTABLE_ORACLE = r"""
    WITH fp AS (
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents WHERE doc_id % 7 >= 2),
    routed AS (
        SELECT fp, ('0x' || substr(md5(fp), 1, 8))::BIGINT % 8 AS shard
        FROM fp WHERE fp IS NOT NULL),
    bits AS (
        SELECT shard,
               (('0x' || substr(fp, 1 + 8 * h.i, 8))::BIGINT % 65536) AS bit
        FROM routed CROSS JOIN (VALUES (0), (1), (2), (3)) h(i))
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(bit // 64 AS INT) AS word_idx,
           bit_or({mask}) AS word
    FROM bits GROUP BY shard, word_idx
    """.format(mask=_BLOOM_PORTABLE_MASK_SQL.format(bit="bit"))


@_register("dedup_bloom_sharded_portable", _BLOOM_SHARDED_PORTABLE_ORACLE)
def dedup_bloom_sharded_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PORTABLE **sharded** Bloom bitmap, certified as an artifact:
    the ledger's md5-family sharded bitmap (operators/dedup.py:
    bloom_bitmap with shards=8, family='md5') unpacked to one
    (shard, word_idx, word) row per non-zero 64-bit word and value-hash
    compared against DuckDB deriving the identical shard rows from
    scratch — router included.  This is the capacity story and the
    portability story at once: shards × num_bits bits of ledger, every
    row broadcast-sized, and any md5-capable engine can rebuild, audit,
    or probe the artifact bit-for-bit.

    Scale: identical fold to the xx64 sharded form — one shuffle on
    (shard, word_idx) with map-side bit_or partials, then one on shard;
    the unpack is posexplode of ≤1024 words per shard row; nothing is
    collected."""
    d = load_table(spark, sf_dir, "documents")
    seen = (
        d.where(F.col("doc_id") % 7 >= 2)
        .select(TX.fingerprint_md5("text").alias("fp"))
        .where(F.col("fp").isNotNull())
    )
    bm = dedup.bloom_bitmap(seen, shards=8, family="md5")
    return (
        bm.select("shard", F.posexplode("bloom").alias("word_idx", "word"))
        .where(F.col("word") != 0)
    )


_BLOOM_SHARDED_PORTABLE_FLAGS_ORACLE = r"""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
    bits AS (
        SELECT ('0x' || substr(md5(fp), 1, 8))::BIGINT % 8 AS shard,
               (('0x' || substr(fp, 1 + 8 * h.i, 8))::BIGINT % 65536) AS bit
        FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) h(i)
        WHERE doc_id % 7 >= 2 AND fp IS NOT NULL),
    words AS (
        SELECT shard, CAST(bit // 64 AS INT) AS word_idx,
               bit_or({mask}) AS word
        FROM bits GROUP BY shard, word_idx),
    dbits AS (
        SELECT doc_id,
               ('0x' || substr(md5(fp), 1, 8))::BIGINT % 8 AS shard,
               (('0x' || substr(fp, 1 + 8 * h.i, 8))::BIGINT % 65536) AS bit
        FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) h(i)
        WHERE doc_id % 7 < 2),
    dtest AS (
        SELECT d.doc_id,
               CASE WHEN w.word IS NULL THEN FALSE
                    ELSE (w.word & {dmask}) != 0 END AS hit
        FROM dbits d
        LEFT JOIN words w
          ON w.shard = d.shard AND w.word_idx = CAST(d.bit // 64 AS INT))
    SELECT doc_id, bool_and(hit) AS maybe_seen
    FROM dtest GROUP BY doc_id
    """.format(
    mask=_BLOOM_PORTABLE_MASK_SQL.format(bit="bit"),
    dmask=_BLOOM_PORTABLE_MASK_SQL.format(bit="d.bit"),
)


@_register(
    "dedup_bloom_sharded_portable_flags", _BLOOM_SHARDED_PORTABLE_FLAGS_ORACLE
)
def dedup_bloom_sharded_portable_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable SHARDED Bloom's membership answers, certified
    exactly — false positives included: one (doc_id, maybe_seen) row per
    batch doc, probed against the md5-family sharded bitmap via the
    production plan (operators/dedup.py:bloom_probe — broadcast
    equi-join on the md5-rehash shard id; an all-zeros shard row is
    proof of absence).  Same batch split as the one-shard
    `dedup_bloom_portable_flags`, deliberately: sharding partitions the
    bit space, so the two paths' false-positive SETS differ while both
    are deterministic and engine-independent — DuckDB reproduces each
    byte-for-byte, pinning router and positions at once.  Completes the
    sharded family's certification triple (artifact / flags /
    end-to-end novel), mirroring the one-shard portable family's.

    Scale: the probe is the production prefilter shape — shards
    broadcast rows, pure column-expression bit tests, no exact-join
    stage (this query IS the prefilter output).  A NULL-text doc routes
    to a NULL shard, misses the join, and flags false in both engines."""
    d = load_table(spark, sf_dir, "documents")
    seen = (
        d.where(F.col("doc_id") % 7 >= 2)
        .select(TX.fingerprint_md5("text").alias("fp"))
        .where(F.col("fp").isNotNull())
    )
    batch = d.where(F.col("doc_id") % 7 < 2).withColumn(
        "fp", TX.fingerprint_md5("text")
    )
    bm = dedup.bloom_bitmap(seen, shards=8, family="md5")
    return dedup.bloom_probe(batch, bm, shards=8, family="md5").select(
        "doc_id", "maybe_seen"
    )


# answer-identical to the plain anti-join truth (the Bloom never changes
# the answer), certified on its own batch split (% 11) so each bloom
# path's certification row evidences its own plan — % 7 is the one-shard
# portable family's split, % 9 the xx64 sharded one
_BLOOM_SHARDED_PORTABLE_NOVEL_ORACLE = r"""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
    new_batch AS (SELECT * FROM fp WHERE doc_id % 11 < 2),
    seen AS (SELECT fp FROM fp WHERE doc_id % 11 >= 2)
    SELECT n.doc_id, n.fp
    FROM new_batch n
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = n.fp)
    """


@_register(
    "dedup_bloom_sharded_portable_novel", _BLOOM_SHARDED_PORTABLE_NOVEL_ORACLE
)
def dedup_bloom_sharded_portable_novel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-day novelty split through the PORTABLE sharded prefilter
    end-to-end (family='md5', routing and positions both md5-derived):
    proves the cross-engine sharded path keeps the family's exactness
    contract — false negatives impossible, result byte-identical to the
    plain anti-join — while `dedup_bloom_sharded_portable` separately
    certifies the artifact it probes.  Together the pair is the full
    portable story past the broadcast ceiling: a non-Spark engine can
    rebuild the index AND reproduce the verdicts.

    Scale: same plan as dedup_bloom_sharded_novel — broadcast equi-join
    prefilter on the shard id (broadcast=False flips it to a shuffle
    equi-join past ~1 GiB of total shard rows), exact anti-join only for
    the maybe-seen slice."""
    d = load_table(spark, sf_dir, "documents")
    novel = dedup.dedup_against_seen_bloom(
        new_docs=d.where(F.col("doc_id") % 11 < 2),
        seen_fingerprints=d.where(F.col("doc_id") % 11 >= 2).select(
            TX.fingerprint_md5("text").alias("fp")
        ),
        shards=8,
        family="md5",
    )
    return novel.select("doc_id", "fp")


@_register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           length(text) AS text_len
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form md5 fingerprint per document (§2k text analysis)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.fingerprint_md5("text").alias("fingerprint"),
        F.length("text").alias("text_len"),
    )


# ---------------------------------------------------------------------------
# Text analysis: token stats, quality, language heuristic
# ---------------------------------------------------------------------------


@_register(
    "text_token_stats",
    """
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''))  AS n_tokens,
           length(text)                                  AS n_chars_measured,
           FLOOR((list_sum(list_transform(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                                          t -> length(t))) * 1.0
                  / NULLIF(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')), 0)) * 10000 + 0.5) / 10000
             AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + shape stats, array-expression only (no UDF).
    Tokenizes once via a staged projection (same rationale as
    text_quality_score: the split would otherwise run 3× per row and
    interpreted folds defeat codegen CSE)."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text", TX.tokens("text").alias("__toks"))
    return staged.select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        TX.char_count("text").alias("n_chars_measured"),
        TX.avg_token_len("text", toks=F.col("__toks")).alias("avg_token_len"),
    )


@_register(
    "text_quality_score",
    """
    WITH t AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS n_tok,
               FLOOR((list_sum(list_transform(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                                              x -> length(x))) * 1.0
                      / NULLIF(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')), 0)) * 10000 + 0.5) / 10000 AS avg_len,
               FLOOR((length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0
                      / NULLIF(length(text), 0)) * 10000 + 0.5) / 10000 AS pr,
               FLOOR((length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                      / NULLIF(length(text), 0)) * 10000 + 0.5) / 10000 AS dr
        FROM documents)
    SELECT doc_id,
           FLOOR(((CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END
                   + CASE WHEN avg_len >= 2 AND avg_len <= 12 THEN 1.0 ELSE 0.0 END
                   + (1 - LEAST(pr + dr, 1.0))) / 3) * 10000 + 0.5) / 10000 AS quality
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length / word-shape / noise gates).

    Staged selects: the token array is materialized once (the split
    otherwise ran 3× per row) and the avg-token-length fold once (it is
    an interpreted higher-order function, referenced twice by the
    word-shape gate — codegen CSE can't dedupe interpreted exprs).
    CollapseProject keeps both staging projections because each alias is
    referenced more than once and the expressions aren't cheap.
    """
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text", TX.tokens("text").alias("__toks"))
    parts = staged.select(
        "doc_id",
        "text",
        F.size("__toks").alias("__n_tok"),
        TX.avg_token_len("text", toks=F.col("__toks")).alias("__avg_len"),
    )
    return parts.select(
        "doc_id",
        TX.quality_score_from_parts(
            F.col("__n_tok"), F.col("__avg_len"), "text"
        ).alias("quality"),
    )


@_register(
    "text_bpe_token_stats",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '''?[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             AS n_bpe_tokens,
           len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS n_ws_tokens,
           len(list_distinct(regexp_extract_all(text, '''?[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
             AS n_unique_bpe
    FROM documents
    """,
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish: GPT-2-style pre-tokenizer regex (letters /
    digit-runs / single symbols) next to the whitespace count — the pair a
    curation pipeline budgets context lengths with.  Pure JVM regex; the
    pattern is RE2-compatible so DuckDB tokenizes identically."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.bpe_token_count("text").alias("n_bpe_tokens"),
        TX.token_count("text").alias("n_ws_tokens"),
        F.size(F.array_distinct(TX.bpe_tokens("text"))).alias("n_unique_bpe"),
    )


@_register(
    "text_lang_signal",
    """
    SELECT lang, COUNT(*) AS n_docs,
           FLOOR((CAST(SUM(CAST(FLOOR((len(list_filter(string_split_regex(trim(text), '\\s+'),
                       t -> t IN ('the','a','of','and','to','in','is','it')))
                       * 1.0 / NULLIF(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')), 0)) * 10000 + 0.5) / 10000
                     AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)) * 10000 + 0.5) / 10000
             AS avg_stopword_ratio
    FROM documents
    GROUP BY lang
    """,
)
def text_lang_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID signal: English-stopword ratio aggregated per labeled
    lang (the n-gram-heuristic building block; classification = argmax of
    per-language signals)."""
    d = load_table(spark, sf_dir, "documents")
    from dffoo_data_pipeline_spark.functions.numeric import round_det

    ratio_dec = TX.stopword_ratio("text").cast("decimal(18,4)")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        round_det(F.sum(ratio_dec).cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_stopword_ratio"
        ),
    )


@_register(
    "text_repetition_signals",
    r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), t -> t <> '') AS t
        FROM documents),
    base AS (
        SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct, t
        FROM toks),
    bi AS (
        SELECT doc_id, n_tokens, n_distinct,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM base),
    counts AS (
        SELECT doc_id, n_tokens, n_distinct, bigram, COUNT(*) AS c
        FROM bi GROUP BY 1, 2, 3, 4),
    per_doc AS (
        SELECT doc_id, n_tokens, n_distinct, MAX(c) AS top_c, SUM(c) AS n_bigrams
        FROM counts GROUP BY 1, 2, 3)
    SELECT doc_id, n_tokens,
           FLOOR((1 - n_distinct * 1.0 / n_tokens) * 10000 + 0.5) / 10000 AS dup_token_frac,
           FLOOR((top_c * 1.0 / n_bigrams) * 10000 + 0.5) / 10000         AS top_bigram_frac
    FROM per_doc
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-token
    fraction and the share of word bigrams taken by the single most
    frequent bigram — the standard filters for boilerplate / generated
    spam in a pretraining-curation pass (the corpus has no newlines, so
    the word-level variants stand in for duplicate-line fraction).

    Scale: the dup-token fraction is a pure array expression inside the
    scan's codegen (no shuffle).  The top-bigram share explodes bigrams
    and aggregates on (doc_id, bigram) — high-cardinality uniform shuffle
    key, map-side partial combine, then a second tiny per-doc agg that
    reuses the doc_id clustering.  Nothing is quadratic in document
    length or corpus size.
    """
    from dffoo_data_pipeline_spark.functions.numeric import round_det

    d = load_table(spark, sf_dir, "documents")
    toks = TX.tokens(TX.normalized_text(F.col("text")))
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        TX.word_shingles("text", 2).alias("bigrams"),
    )
    counts = base.select(
        "doc_id", "n_tokens", "n_distinct", F.explode("bigrams").alias("bigram")
    ).groupBy("doc_id", "n_tokens", "n_distinct", "bigram").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id", "n_tokens", "n_distinct").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_bigrams")
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        round_det(1 - F.col("n_distinct") / F.col("n_tokens"), 4).alias("dup_token_frac"),
        round_det(F.col("top_c") / F.col("n_bigrams"), 4).alias("top_bigram_frac"),
    )


@_register(
    "text_contamination_overlap",
    r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), t -> t <> '') AS t
        FROM documents),
    tri AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
                 AS shingle
        FROM toks),
    bench AS (SELECT DISTINCT shingle FROM tri WHERE doc_id % 100 = 0),
    corpus AS (SELECT doc_id, shingle FROM tri WHERE doc_id % 100 <> 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
    hits AS (
        SELECT c.doc_id, COUNT(*) AS n_contaminated
        FROM corpus c JOIN bench b ON c.shingle = b.shingle
        GROUP BY c.doc_id)
    SELECT s.doc_id, s.n_shingles,
           COALESCE(h.n_contaminated, 0) AS n_contaminated,
           FLOOR((COALESCE(h.n_contaminated, 0) * 1.0 / s.n_shingles) * 10000 + 0.5) / 10000
             AS contamination_frac
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    """,
)
def text_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: per corpus document, the fraction of
    its distinct word 3-grams that also appear in a held-out benchmark set.
    The decontamination gate every pretraining pipeline runs before
    training — implemented by :func:`operators.contamination.
    contamination_overlap`, which takes the benchmark as an EXPLICIT
    bounded DataFrame (broadcast-safe by contract, guarded probe).

    Here, at oracle test scale only, docs with doc_id % 100 == 0 stand in
    for the eval suite; a real deployment passes the actual eval-suite
    table, which is bounded regardless of corpus size.
    """
    from dffoo_data_pipeline_spark.operators.contamination import contamination_overlap

    d = load_table(spark, sf_dir, "documents")
    return contamination_overlap(
        corpus=d.where(F.col("doc_id") % 100 != 0),
        benchmark=d.where(F.col("doc_id") % 100 == 0),
        n=3,
        max_shingles=None,  # test-scale proxy; bound is enforced for real callers
    )


@_register(
    "text_sentences_udtf",
    """
    SELECT doc_id,
           CAST(generate_subscripts(string_split(text, '. '), 1) AS INT) AS sent_no,
           unnest(string_split(text, '. ')) AS sentence
    FROM documents
    """,
)
def text_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → sentence rows via a Python UDTF (SURVEY.md §2j: the
    reference's per-blob parse loop is UDTF-shaped — one blob in, N typed
    rows out).  Lateral-joined in SQL; the split itself is trivial so the
    point here is the table-function surface, not the tokenizer."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_no int, sentence string")
    class SplitSentences:
        def eval(self, text: str | None):
            # NULL doc → zero sentence rows, same as the oracle's
            # unnest(string_split(NULL, '. ')) (r11 hostile-input sweep;
            # None.split previously crashed the whole lateral join)
            if text is None:
                return
            for i, s in enumerate(text.split(". "), 1):
                yield (i, s)

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_for_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_no, s.sentence
        FROM __docs_for_udtf d, LATERAL split_sentences(d.text) s
        """
    )


# ---------------------------------------------------------------------------
# Near-dup: n-gram Jaccard (oracle-checked) + MinHash/SimHash (Spark-native)
# ---------------------------------------------------------------------------


def _jaccard_oracle(threshold: float, doc_where: str = "TRUE") -> str:
    """The exhaustive 3-gram-shingle Jaccard pairs ≥ `threshold` among
    the `doc_where` documents."""
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '') AS t
    FROM documents
    WHERE {doc_where}
),
shingles AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isect
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       ROUND(i.isect * 1.0 / (sa.sz + sb.sz - i.isect), 4) AS jaccard
FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
             JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE i.isect * 1.0 / (sa.sz + sb.sz - i.isect) >= {threshold}
"""


@_register("dedup_ngram_jaccard_pairs", _jaccard_oracle(0.2))
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram-shingle Jaccard near-dup pairs (threshold 0.2).

    Scale: relational formulation — explode shingles, self-equi-join on the
    shingle (the join only materializes pairs that SHARE a shingle, which
    is exactly the LSH-style candidate pruning), group to intersection
    counts, derive |A∪B| from per-doc sizes.  No O(n²) cross join; shuffle
    keys are shingles (high cardinality, low skew).
    """
    d = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, id_col="doc_id", text_col="text", n=3, threshold=0.2)


# the exhaustive exact computation at t=0.5 — hash-equality against it
# IS the losslessness proof for the prefix filter
@_register("dedup_prefix_filter_pairs", _jaccard_oracle(0.5))
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs Jaccard ≥ 0.5 via PREFIX FILTERING
    (operators/dedup.py:prefix_filter_pairs, after Bayardo et al. 2007):
    shingles ranked rarest-first, only the first |x| − ⌈t·|x|⌉ + 1 per
    doc enter posting lists, candidates verified with exact Jaccard.
    The oracle is the EXHAUSTIVE all-sharing-pairs computation — value
    equality against it is the filter's losslessness proof, per round.

    Scale: the threshold-aware lossless alternative to the df
    stop-shingle cap — hot shingles never generate pairs because they
    rank last and fall outside every prefix; posting-list volume drops
    to ~(1−t) of the corpus shingles, and pair fan-out concentrates in
    RARE shingles whose lists are short by definition.  Heavy by
    contract (it is the exactness auditor for the LSH path); at 100 TB
    scope the audit with ``sample_hex_cutoff`` — a deterministic md5
    corpus slice, exact for every pair within it
    (tests/test_dedup.py::test_prefix_filter_sample_slice_is_exact).
    The registered query audits the full corpus (cutoff None) so the
    losslessness proof stays corpus-wide at driver scale.
    """
    d = load_table(spark, sf_dir, "documents")
    return dedup.prefix_filter_pairs(
        d, id_col="doc_id", text_col="text", n=3, threshold=0.5
    )


# the same exhaustive oracle restricted to the md5-prefix corpus slice:
# the sampled audit must be EXACT for every pair within the slice
@_register(
    "dedup_prefix_filter_sampled",
    _jaccard_oracle(0.5, "substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'"),
)
def dedup_prefix_filter_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAMPLED prefix-filter audit — `dedup_prefix_filter_pairs` with
    ``sample_hex_cutoff="4000"``: only documents whose md5(doc_id) 4-hex
    prefix sorts below '4000' (¼ of the corpus, deterministic and
    partitioning-independent) enter the exhaustive Jaccard ≥ 0.5 pair
    check, which is then EXACT for every pair within the slice.  The ¼
    cutoff is the smallest power-of-2 hex slice whose driver-scale
    (sf0.01) result is NON-EMPTY — 1 of the corpus's 25 qualifying pairs
    survives both-endpoint filtering — so the certified row evidences
    real pair values, not just that both engines return empty (the r8
    row's 1/16 slice admitted 0 pairs).

    At 100 TB this IS the product: the full audit's posting-list volume
    is a corpus-sized quadratic-tail cost you pay once, while the
    per-ingest losslessness proof runs on a rotating deterministic slice
    (vary the cutoff window to cover the corpus across runs).  md5 is
    engine-portable, so the oracle applies the identical slice predicate
    — the sampled audit itself is value-hash verified, not just the
    mechanism (measured vs the full audit in PERF.md round 8).
    """
    d = load_table(spark, sf_dir, "documents")
    return dedup.prefix_filter_pairs(
        d, id_col="doc_id", text_col="text", n=3, threshold=0.5, sample_hex_cutoff="4000"
    )


# the NEXT rotation window of the same audit — disjoint from the sampled
# query's ["0000","4000") slice, proving the walk-the-corpus claim with
# two certified windows instead of one
@_register(
    "dedup_prefix_filter_rotated",
    _jaccard_oracle(
        0.5,
        "substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '4000'\n"
        "      AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'",
    ),
)
def dedup_prefix_filter_rotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROTATION step of the sampled prefix-filter audit:
    ``sample_hex_window=("4000", "8000")`` — the ¼ md5 slice immediately
    AFTER `dedup_prefix_filter_sampled`'s ["0000","4000") window.  At
    100 TB the audit walks these disjoint windows across ingest runs
    ("0000"→"4000"→"8000"→"c000"→wrap), so the losslessness proof covers
    the whole corpus over a rotation cycle while each run pays only the
    slice's posting-list volume.  Registering two consecutive windows
    certifies the rotation itself: both slices are value-hash checked
    against the same exhaustive oracle under their own window predicate,
    and their results are disjoint by construction.
    """
    d = load_table(spark, sf_dir, "documents")
    return dedup.prefix_filter_pairs(
        d,
        id_col="doc_id",
        text_col="text",
        n=3,
        threshold=0.5,
        sample_hex_window=("4000", "8000"),
    )


_SURVIVOR_ORACLE = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), t -> t <> '') AS t
    FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isect
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
dups AS (
    SELECT DISTINCT i.doc_b AS doc_id
    FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
                 JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE i.isect * 1.0 / (sa.sz + sb.sz - i.isect) >= 0.6
)
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM dups)
"""


@_register("dedup_near_dup_survivors", _SURVIVOR_ORACLE)
def dedup_near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup dedup DECISION: a document is dropped when any
    lower-id document is ≥0.6 Jaccard-similar; survivors keep the corpus.

    Uses the exact shared-shingle pair path (deterministic → oracle-safe);
    at corpus scale the same decision runs over MinHash-LSH candidates
    (dedup_minhash_lsh) with exact verification confined to candidates —
    identical plan shape, probabilistic recall.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, id_col="doc_id", text_col="text", n=3, threshold=0.6)
    dups = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return d.join(dups, "doc_id", "left_anti").select("doc_id", "lang")


_CLUSTERS_ORACLE = r"""
WITH RECURSIVE
toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), t -> t <> '') AS t
    FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS isect
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT i.a, i.b FROM inter i
    JOIN sizes sa ON i.a = sa.doc_id JOIN sizes sb ON i.b = sb.doc_id
    WHERE i.isect * 1.0 / (sa.sz + sb.sz - i.isect) >= 0.6
),
edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
)
SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
"""


@_register("dedup_connected_clusters", _CLUSTERS_ORACLE)
def dedup_connected_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITIVE dedup clusters: connected components over the ≥0.6
    Jaccard pair graph via iterative min-label propagation
    (operators/graph.py) — A≈B≈C collapse into one cluster even when A,C
    don't directly match.  The oracle walks the same graph with a
    recursive CTE."""
    from dffoo_data_pipeline_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, id_col="doc_id", text_col="text", n=3, threshold=0.6)
    out = connected_components(
        d.select("doc_id"), pairs, id_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    return out.select(F.col("id").alias("doc_id"), "cluster_id")


@_register("dedup_minhash_lsh")  # rows-only: engine-specific hash functions
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (shingle → 64 minhashes → 16 bands →
    bucket join).  The scale path for near-dup at 100 TB: candidate
    generation is linear in corpus size.  Pair quality is unit-tested
    against exact Jaccard (tests/test_dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.lsh_candidates(
        d, id_col="doc_id", text_col="text", n=3, num_hashes=64, bands=16
    )


@_register("dedup_simhash")  # rows-only: engine-specific hash functions
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document + bucket key (near-dup via identical
    16-bit bands; hamming-distance verification in tests)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.simhash(d, id_col="doc_id", text_col="text")


@_register("dedup_simhash_pairs")  # rows-only: engine-specific hash functions
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: banded candidate join (pigeonhole-complete
    for hamming ≤ 3 over 4×16-bit bands) + exact popcount verification —
    the full candidate→verify loop, linear-shuffle candidate generation."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(d, id_col="doc_id", text_col="text", max_hamming=3)


def _minhash_portable_oracle(num_hashes: int = 15, bands: int = 5, threshold: float = 0.7) -> str:
    """DuckDB twin of `dedup.lsh_verified_pairs(family="md5")`: the md5-string-min
    hash family makes every stage — signature, band key, candidate set,
    verified pairs — bit-identical cross-engine."""
    rows = num_hashes // bands
    mins = ",\n           ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(num_hashes)
    )
    band_rows = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band_id, md5({key}) AS band_hash FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"h{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '') AS t
    FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
),
sig AS (
    SELECT doc_id,
           {mins}
    FROM shingles GROUP BY doc_id
),
bands AS (
{band_rows}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS isect
    FROM cand c
    JOIN shingles sa ON sa.doc_id = c.doc_a
    JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
    GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       ROUND(i.isect * 1.0 / (sa.sz + sb.sz - i.isect), 4) AS jaccard
FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
             JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE i.isect * 1.0 / (sa.sz + sb.sz - i.isect) >= {threshold}
"""


@_register("dedup_minhash_portable", _minhash_portable_oracle())
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with the engine-PORTABLE md5 hash family
    (operators/dedup.py:lsh_verified_pairs, family="md5"): h_i = string-MIN of
    md5('<i>:'||shingle), band key = md5 of the joined signature slice,
    candidates verified with exact Jaccard ≥ 0.7.  Unlike the xxhash64
    fast path (dedup_minhash_lsh, rows-only), every value here is
    reproducible by any engine with md5 — so the full LSH pipeline gets a
    value-hash DuckDB oracle, and a non-Spark auditor can re-derive the
    same pair evidence from the same parquet.

    max_bucket=None matches dedup_simhash_portable's convention: the
    DuckDB oracle has no degenerate-bucket cap, so the registered plan
    must not drop buckets either — a >1000-doc band bucket at driver
    scale would otherwise silently diverge from the value oracle.  The
    guard stays available on the operator for at-scale production runs."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.lsh_verified_pairs(
        d,
        id_col="doc_id",
        text_col="text",
        n=3,
        threshold=0.7,
        num_hashes=15,
        bands=5,
        max_bucket=None,  # oracle has no bucket cap — keep the twin exact
        family="md5",
    )


def _simhash_portable_oracle(sig_bits: int = 48, bands: int = 4, max_hamming: int = 3) -> str:
    """DuckDB twin of `dedup.simhash_pairs(family="md5")`: per-token 60-bit
    md5-derived integers, ±1 frequency-weighted bit votes, band-sliced
    candidate join, exact popcount verify — all integer arithmetic both
    engines evaluate identically."""
    width = sig_bits // bands
    votes = ",\n           ".join(
        f"SUM(((th >> {i}) & 1) * 2 - 1) AS v{i}" for i in range(sig_bits)
    )
    bits = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(sig_bits)
    )
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, sig, {b} AS band_id,"
        f" (sig >> {width * b}) & {(1 << width) - 1} AS band_val FROM sig"
        for b in range(bands)
    )
    return f"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '')) AS tok
    FROM documents
),
hashed AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS th
    FROM toks
),
votes AS (
    SELECT doc_id,
           {votes}
    FROM hashed GROUP BY doc_id
),
sig AS (
    SELECT doc_id, {bits} AS sig FROM votes
),
bands AS (
{band_rows}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) AS hamming
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) <= {max_hamming}
"""


def _portable_quality_oracle(num_hashes: int = 15, bands: int = 5) -> str:
    """DuckDB twin of dedup_portable_quality_report: exact sharing-pair
    Jaccard vs portable-band capture, rolled up per Jaccard decile."""
    rows = num_hashes // bands
    mins = ",\n           ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(num_hashes)
    )
    band_rows = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band_id, md5({key}) AS band_hash FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"h{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '') AS t
    FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
),
sig AS (
    SELECT doc_id,
           {mins}
    FROM shingles GROUP BY doc_id
),
bands AS (
{band_rows}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isect
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT i.doc_a, i.doc_b,
           ROUND(i.isect * 1.0 / (sa.sz + sb.sz - i.isect), 4) AS jac
    FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
                 JOIN sizes sb ON i.doc_b = sb.doc_id
)
SELECT CAST(LEAST(FLOOR(p.jac * 10), 9) AS BIGINT) AS jaccard_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_captured,
       FLOOR(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*) * 1000000 + 0.5) / 1000000 AS capture_rate
FROM pairs p LEFT JOIN cand c
  ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
GROUP BY 1
"""


@_register("dedup_portable_quality_report", _portable_quality_oracle())
def dedup_portable_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED S-curve of the portable banding: exact Jaccard for every
    sharing pair (posting-list plan, no banding) left-joined against the
    portable band candidates, rolled up per Jaccard decile →
    (jaccard_bucket, n_pairs, n_captured, capture_rate).  The portable
    twin of dedup_lsh_quality_report — and because the md5 band family is
    engine-portable, the MEASUREMENT itself carries a full DuckDB value
    oracle, not just a contract test: capture rates must rise with the
    decile exactly as the 5-band/3-row S-curve predicts, in both engines.

    Scale: the exact side is the quadratic auditor (run it on a
    deterministic corpus slice at 100 TB — the prefix-filter
    `sample_hex_cutoff` idiom); the candidate side is the linear
    production path being audited.

    Both guards are disabled here (max_doc_frequency=None,
    max_bucket=None) because the DuckDB oracle has neither: a hot
    shingle or degenerate band bucket at driver scale must show up
    identically on both sides of the comparison, not get dropped on
    the Spark side only.
    """
    from dffoo_data_pipeline_spark.functions.numeric import round_det

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", n=3, threshold=0.0, max_doc_frequency=None
    )
    cand = dedup.lsh_candidates(
        d, id_col="doc_id", text_col="text", n=3, num_hashes=15, bands=5,
        max_bucket=None, family="md5",
    ).select("doc_a", "doc_b", F.lit(1).alias("captured"))
    j = pairs.join(cand, ["doc_a", "doc_b"], "left")
    bucket = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("bigint")
    return (
        j.groupBy(bucket.alias("jaccard_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.coalesce(F.col("captured"), F.lit(0))).cast("bigint").alias("n_captured"),
        )
        .select(
            "jaccard_bucket",
            "n_pairs",
            "n_captured",
            round_det(F.col("n_captured") / F.col("n_pairs"), 6).alias("capture_rate"),
        )
    )


@_register("dedup_simhash_portable", _simhash_portable_oracle())
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the engine-PORTABLE md5 hash family
    (operators/dedup.py:simhash_pairs, family="md5"): per-token hash = top 60
    md5 bits as BIGINT, 48-bit signature from frequency-weighted ±1 bit
    votes, 4×12-bit band candidates (pigeonhole-complete for hamming ≤ 3),
    exact popcount verify.  The portable twin of dedup_simhash_pairs
    (xxhash64, rows-only) — this one's full pipeline is value-hash
    oracled against DuckDB."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(
        d, id_col="doc_id", text_col="text", sig_bits=48, bands=4, max_hamming=3,
        family="md5",
    )


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

_COSINE_TOPK_ORACLE = """
WITH nz AS (
    -- a NULL or zero-norm vector has no angle: it is neither a query
    -- nor a neighbor (r11 hostile embeddings sweep — DuckDB's
    -- list_cosine_similarity returns -1.0 for a zero vector and NULL
    -- for a NULL one, both of which would otherwise survive the window)
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    WHERE embedding IS NOT NULL
      AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
pairs AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           list_cosine_similarity(a.v, b.v) AS cos_sim
    FROM nz a JOIN nz b ON a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos_sim, 6) AS cos_sim FROM (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM pairs)
WHERE rn <= 5
"""


@_register("similarity_cosine_topk", _COSINE_TOPK_ORACLE)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-5 neighbors per vector — exact while the corpus fits the
    broadcast-index ceiling (DEFAULT_MAX_INDEX_ROWS, a bounded
    `limit(cap+1)` probe, never an unbounded collect), automatically
    routed to the LSH-bucketed partitioned index beyond it
    (`operators/similarity.py:cosine_topk_auto`).
    """
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_auto(e, id_col="vec_id", vec_col="embedding", k=5)


_EMB_NEARDUP_ORACLE = """
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
         AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
      >= 0.35
"""


@_register("dedup_embedding_cosine", _EMB_NEARDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.35 — the synthetic
    embeddings are near-orthogonal, max pairwise cosine ≈0.51, so a
    realistic 0.95 would return nothing; semantics are identical at any
    threshold).

    Scale: broadcast-index matmul while the index fits the explicit
    ceiling; beyond it `cosine_neardup_auto` routes to
    `lsh_neardup_pairs` (bucketed candidates + exact verify, nothing
    collected or broadcast).
    """
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_auto(
        e, id_col="vec_id", vec_col="embedding", threshold=0.35
    )


_PACKING_ORACLE = r"""
WITH RECURSIVE docs AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS n,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS chunk
    FROM documents),
seq AS (
    -- NULL-length docs are not packable and are excluded (r11, matches
    -- the operator's input contract)
    SELECT doc_id, n, chunk,
           ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY n DESC, doc_id) AS rn
    FROM docs WHERE n IS NOT NULL),
pack AS (
    SELECT chunk, rn, doc_id, n,
           CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS off, n AS fill
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.chunk, s.rn, s.doc_id, s.n,
           CASE WHEN p.fill + s.n <= 512 THEN p.bin ELSE p.bin + 1 END,
           CASE WHEN p.fill + s.n <= 512 THEN p.fill ELSE CAST(0 AS BIGINT) END,
           CASE WHEN p.fill + s.n <= 512 THEN p.fill + s.n ELSE s.n END
    FROM pack p JOIN seq s ON s.chunk = p.chunk AND s.rn = p.rn + 1)
SELECT doc_id, n AS n_tokens,
       chunk || ':' || CAST(bin AS VARCHAR) AS bin_id,
       off AS "offset"
FROM pack
"""


@_register("text_sequence_packing", _PACKING_ORACLE)
def text_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing into 512-token bins, deterministic variant:
    next-fit-decreasing within md5-hash chunks
    (operators/packing.py:pack_sequences_deterministic), so the bin
    layout is a pure function of the data and the DuckDB oracle replays
    it exactly with a recursive CTE.  The physical-partition
    first-fit packer (`pack_sequences`, fastest layout) remains the
    throughput path; its invariants are pinned in tests/test_packing.py.
    """
    from dffoo_data_pipeline_spark.functions import text as TX
    from dffoo_data_pipeline_spark.operators.packing import (
        pack_sequences_deterministic,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", TX.token_count("text").cast("long").alias("n_tokens")
    )
    return pack_sequences_deterministic(d, "doc_id", "n_tokens", budget=512)


# ---------------------------------------------------------------------------
# Integer ANN paths and their recall reports.  Every path ranks candidate
# pairs (query_id, neighbor_id, d, na2, nb2) by one exact key: d·|d| /
# (na2·nb2), integers ≤ 2^40 through one IEEE division, ties broken on
# neighbor_id.  The same key ranks each path's top-5, its DuckDB oracle,
# and the exact truth its recall report measures against, so every
# number below is engine-exact.
# ---------------------------------------------------------------------------

# search(queries, index): the query batch and the indexed corpus
_PROBE_SLICES = ("vec_id % 10 = 0", "vec_id % 10 <> 0")
# deterministic, partitioning-independent quarter of the queries
_SAMPLE_SLICE = "substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '4'"


def _int_pairs_sql(left: str, right: str, on: str) -> str:
    """Pairs (query_id, neighbor_id, d, na2, nb2) of two code relations
    (vec_id, c, n2), aliased a (queries) and b (neighbors)."""
    return f"""
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(list_zip(a.c, b.c),
                                        z -> z[1] * z[2])) AS BIGINT) AS d,
           a.n2 AS na2, b.n2 AS nb2
    FROM {left} a JOIN {right} b ON {on}"""


def _int_top5_sql(pairs: str) -> str:
    """The top-5 rows of relation `pairs` per query, by the exact key."""
    return f"""
    SELECT * FROM (
        SELECT query_id, neighbor_id, d, na2, nb2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY CAST(d * abs(d) AS DOUBLE) / CAST(na2 * nb2 AS DOUBLE) DESC,
                            neighbor_id) AS rn
        FROM {pairs})
    WHERE rn <= 5"""


def _recall_summary_sql(
    keys: tuple[str, str] = ("query_id", "neighbor_id"),
    recall_col: str = "recall_at_5",
) -> str:
    """The SQL twin of `_recall_summary`: how much of CTE `truth` the CTE
    `hits` covers, as one (n_queries, n_truth, n_hits, <recall_col>) row."""
    q, n = keys
    hit = f"CASE WHEN h.{q} IS NOT NULL THEN 1 ELSE 0 END"
    return f"""
SELECT CAST(COUNT(DISTINCT t.{q}) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(SUM({hit}) AS BIGINT) AS n_hits,
       FLOOR(SUM({hit}) * 1.0 / COUNT(*) * 1000000 + 0.5) / 1000000 AS {recall_col}
FROM truth t LEFT JOIN hits h ON t.{q} = h.{q} AND t.{n} = h.{n}
"""


def _int_topk_oracle(cands: str) -> str:
    """A path's top-5 with cosine; `cands` is its WITH list, ending in
    the candidate-pair CTE `cand`."""
    return (
        cands
        + f""",
ranked AS ({_int_top5_sql("cand")})
SELECT query_id, neighbor_id,
       CAST(d AS DOUBLE) / sqrt(CAST(na2 * nb2 AS DOUBLE)) AS cos_sim
FROM ranked
"""
    )


def _int_recall_oracle(
    cands: str, query_where: str = "TRUE", index_where: str = "TRUE"
) -> str:
    """Recall@5 of a path (`cands` as in `_int_topk_oracle`) against the
    exact top-5 of the live query slice over the live index slice — the
    SQL twin of `_recall_summary(exact_topk_int(queries, index), path)`."""
    return (
        cands
        + f""",
hits AS ({_int_top5_sql("cand")}),
qlive AS (SELECT vec_id, c, n2 FROM norms WHERE n2 > 0 AND {query_where}),
ilive AS (SELECT vec_id, c, n2 FROM norms WHERE n2 > 0 AND {index_where}),
truth_cand AS ({_int_pairs_sql("qlive", "ilive", "a.vec_id <> b.vec_id")}),
truth AS ({_int_top5_sql("truth_cand")})"""
        + _recall_summary_sql()
    )


def _ivf_cands_sql() -> str:
    """Seeded-IVF candidates: cells seeded by the 16 lowest-id live codes,
    each code indexed in its nearest cell and probing its 2 nearest."""
    return (
        CODES_NORMS_SQL
        + f""",
seeds AS (
    SELECT vec_id AS cell, c AS sc, n2 AS sn2
    FROM norms WHERE vec_id < 16 AND n2 > 0),
scored AS (
    SELECT v.vec_id, s.cell, s.sn2,
           CAST(list_sum(list_transform(list_zip(v.c, s.sc),
                                        z -> z[1] * z[2])) AS BIGINT) AS d
    FROM norms v CROSS JOIN seeds s WHERE v.n2 > 0),
assigned AS (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY CAST(d * abs(d) AS DOUBLE) / CAST(sn2 AS DOUBLE) DESC,
                        cell) AS rn
    FROM scored),
members AS (
    SELECT a.vec_id, a.cell, n.c, n.n2
    FROM assigned a JOIN norms n USING (vec_id) WHERE a.rn = 1),
probes AS (
    SELECT a.vec_id, a.cell, n.c, n.n2
    FROM assigned a JOIN norms n USING (vec_id) WHERE a.rn <= 2),
cand AS ({_int_pairs_sql("probes", "members", "a.cell = b.cell AND a.vec_id <> b.vec_id")})"""
    )


def _lsh_cands_sql(
    n_flip: int = 0, query_where: str = "TRUE", index_where: str = "TRUE"
) -> str:
    """Sign-LSH candidates over the 6 integer lattice planes
    (`int_lsh_weights`): the index_where codes sit in their own bucket;
    each query_where code probes its own bucket plus the `n_flip` buckets
    across its lowest-|projection| planes (ties on plane index).
    n_flip=0 is single-probe LSH."""
    W = similarity.int_lsh_weights(64, 6)
    plane_rows = ",\n  ".join(f"({p}, {W[p]}::BIGINT[])" for p in range(6))
    return (
        CODES_NORMS_SQL
        + f""",
planes(p, w) AS (VALUES
  {plane_rows}),
dots AS (
    SELECT n.vec_id, pl.p,
           CAST(list_sum(list_transform(range(1, 65),
                          i -> n.c[i] * pl.w[i])) AS BIGINT) AS d
    FROM norms n CROSS JOIN planes pl WHERE n.n2 > 0),
buckets AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << p)
                    ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id),
flips AS (
    SELECT vec_id, p FROM (
        SELECT vec_id, p,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY abs(d), p) AS rn
        FROM dots WHERE {query_where})
    WHERE rn <= {n_flip}),
qbuckets AS (
    SELECT vec_id, bucket FROM buckets WHERE {query_where}
    UNION ALL
    SELECT f.vec_id, xor(b.bucket, (CAST(1 AS BIGINT) << f.p))
    FROM flips f JOIN buckets b USING (vec_id)),
mem AS (
    SELECT b.vec_id, b.bucket, n.c, n.n2
    FROM buckets b JOIN norms n USING (vec_id) WHERE {index_where}),
qm AS (
    SELECT q.vec_id, q.bucket, n.c, n.n2
    FROM qbuckets q JOIN norms n USING (vec_id)),
cand AS ({_int_pairs_sql("qm", "mem", "a.bucket = b.bucket AND a.vec_id <> b.vec_id")})"""
    )


_LSH_PROBE_ORACLE = _int_topk_oracle(_lsh_cands_sql(2, *_PROBE_SLICES))


@_register("similarity_ivf_topk", _int_topk_oracle(_ivf_cands_sql()))
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN, driver-verifiable form: cells seeded by the 16
    lowest-id vectors over centered int8 codes, every vector indexed in
    its 1 nearest cell and probing its 2 nearest, exact-integer cosine
    re-rank per cell (operators/similarity.py:ivf_topk_int).  Cell
    assignment and ranking are BIGINT dot products + one correctly-
    rounded IEEE division, so the DuckDB oracle replays the WHOLE
    index+search bit-for-bit.  The kmeans-trained float variant
    (`similarity.ivf_topk`) remains the quality path, recall-measured in
    tests/test_similarity_ivf.py and similarity_ann_recall_report.

    The codes frame is materialized once (lazy localCheckpoint): the
    operator fans it into seed scoring, members, and probes, and without
    a barrier CollapseProject re-inlines the 64-element quantization
    transform into every consumer (measured 3.4 s → 2.2 s at sf0.1)."""
    e = load_table(spark, sf_dir, "embeddings")
    codes = int8_codes(e).localCheckpoint(eager=False)
    return similarity.ivf_topk_int(codes, k=5, n_cells=16, n_probe=2)


@_register("similarity_lsh_topk", _int_topk_oracle(_lsh_cands_sql()))
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via sign-LSH bucketing, driver-verifiable form: buckets from
    integer hyperplane projections over centered int8 codes
    (operators/similarity.py:lsh_topk_int — deterministic lattice
    weights, Achlioptas-style), exact-integer cosine re-rank inside each
    bucket.  The float-hyperplane variant (`similarity.lsh_topk`) stays
    for raw-embedding callers; recall vs brute force is unit-tested
    (tests/test_similarity.py) and reported by
    similarity_ann_recall_report.

    The codes frame is materialized once (lazy localCheckpoint): the 6
    hyperplane dots + n2 each re-inline the quantization transform when
    CollapseProject flattens the projection chain (measured 2.8 s →
    2.3 s at sf0.1)."""
    e = load_table(spark, sf_dir, "embeddings")
    codes = int8_codes(e).localCheckpoint(eager=False)
    return similarity.lsh_topk_int(codes, k=5, prefix_bits=6, dim=64)


@_register("similarity_lsh_multiprobe_topk", _int_topk_oracle(_lsh_cands_sql(n_flip=2)))
def similarity_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN (Lv et al. 2007): each query probes its
    own bucket PLUS the 2 buckets across its lowest-|projection| sign
    bits — the planes a true neighbor most plausibly fell on the other
    side of (operators/similarity.py:lsh_multiprobe_topk_int).  Buys the
    recall of extra hash tables for zero extra index: membership stays
    single-bucket, only the query side fans out 3×.  The probe schedule
    (margin = |d_p|, ties on plane index), bucket XORs, and rankings are
    all exact integer arithmetic, so the WHOLE index+probe+search
    pipeline is value-hash oracled against DuckDB — the multiprobe
    sibling of similarity_lsh_topk.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # no codes checkpoint here: the operator materializes its own
    # (bucket, flips) frame and codes has a single consumer before it
    return similarity.lsh_multiprobe_topk_int(
        int8_codes(e), k=5, prefix_bits=6, dim=64, n_flip=2
    )


@_register("similarity_lsh_probe_topk", _LSH_PROBE_ORACLE)
def similarity_lsh_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC ANN search — search(queries, index), the API every
    retrieval/near-dup ingest pipeline actually calls, as opposed to the
    symmetric corpus-vs-itself rankings (`similarity_lsh_topk`): the
    vec_id % 10 == 0 slice plays the incoming query batch, the rest is
    the indexed corpus (operators/similarity.py:lsh_probe_topk_int).
    Queries multi-probe their 2 lowest-margin flip buckets; the index
    stays single-bucket, so the search cost is query-batch-sized — the
    corpus side is never re-shuffled (in steady state it is the
    PERSISTED `lsh_bucket_index_int` table; `streaming_ann_probe` runs
    this exact probe per micro-batch and shares this oracle).  All
    integer arithmetic end-to-end: the whole index+probe+search
    pipeline is value-hash checked.

    The codes frame is materialized once (lazy localCheckpoint) before
    the query/index fan-out — both slices re-inline the 64-element
    quantization transform otherwise (the CollapseProject idiom,
    measured on similarity_lsh_topk)."""
    e = load_table(spark, sf_dir, "embeddings")
    codes = int8_codes(e).localCheckpoint(eager=False)
    return similarity.lsh_probe_topk_int(
        codes.where(F.col("vec_id") % 10 == 0),
        codes.where(F.col("vec_id") % 10 != 0),
        k=5,
        prefix_bits=6,
        dim=64,
        n_flip=2,
    )


def _recall_summary(
    truth: DataFrame,
    approx: DataFrame,
    keys: tuple[str, str] = ("query_id", "neighbor_id"),
    recall_col: str = "recall_at_5",
) -> DataFrame:
    """One-row (n_queries, n_truth, n_hits, <recall_col>) summary of how
    much of `truth` the `approx` pairs cover — the shared tail of every
    oracled recall report (`_recall_summary_sql` is its DuckDB twin).
    `truth` carries each pair's 1-based `rank`, so a query is counted by
    its rank-1 row: no distinct, hence no shuffle on the query id."""
    from dffoo_data_pipeline_spark.functions.numeric import round_det

    hits = approx.select(*keys, F.lit(1).alias("hit"))
    n_truth = F.count(F.lit(1))
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return truth.join(hits, list(keys), "left").agg(
        F.count_if(F.col("rank") == 1).cast("bigint").alias("n_queries"),
        n_truth.cast("bigint").alias("n_truth"),
        n_hits.cast("bigint").alias("n_hits"),
        round_det(n_hits / n_truth, 6).alias(recall_col),
    )


@_register(
    "similarity_lsh_probe_recall_report",
    _int_recall_oracle(_lsh_cands_sql(2, *_PROBE_SLICES), *_PROBE_SLICES),
)
def similarity_lsh_probe_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the ASYMMETRIC probe path (similarity_lsh_probe_topk's
    exact plan) against the exact top-5 INDEX members per query, so the
    search(queries, index) API ships with the same measured quality as
    every other ANN path.  Truth excludes other queries: they are not
    searchable through the index, so recall measures what the probe
    COULD have found.  The truth side is query-slice × index — already
    the sampled shape, since the query batch IS the slice.
    """
    e = load_table(spark, sf_dir, "embeddings")
    codes = int8_codes(e).localCheckpoint(eager=False)  # feeds probe + truth
    queries = codes.where(F.col("vec_id") % 10 == 0)
    index = codes.where(F.col("vec_id") % 10 != 0)
    probe = similarity.lsh_probe_topk_int(
        queries, index, k=5, prefix_bits=6, dim=64, n_flip=2
    )
    return _recall_summary(similarity.exact_topk_int(queries, index), probe)


@_register("similarity_lsh_recall_report", _int_recall_oracle(_lsh_cands_sql()))
def similarity_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the integer-lattice sign-LSH path against the EXACT
    top-5 over the same int8 codes — one summary row (n_queries, n_truth,
    n_hits, recall_at_5).  similarity_ann_recall_report measures the
    float/seed-specific production paths and is necessarily rows-only;
    every quantity here — bucket assignment, both rankings, the overlap
    count — is exact integer arithmetic, so the recall MEASUREMENT itself
    is value-hash oracled against DuckDB (the ANN analog of
    dedup_portable_quality_report).

    Interpreting the number: single-probe 6-bit sign-LSH restricts
    candidates to one 64-bucket cell, so recall on the near-uniform
    synthetic embeddings is low by design (~0.05–0.09 here, agreeing
    with similarity_ann_recall_report's lsh_int row) — the knob is
    prefix_bits/multi-probe (the 2-flip multiprobe path measures 2.0×
    higher, see similarity_lsh_multiprobe_recall_report), and the IVF
    path (n_probe=2) measures ~3–5× higher on the same data.  The point
    of this query is that the audit itself is engine-exact.
    """
    e = load_table(spark, sf_dir, "embeddings")
    codes = int8_codes(e).localCheckpoint(eager=False)  # feeds LSH + truth
    lsh = similarity.lsh_topk_int(codes, k=5, prefix_bits=6, dim=64)
    return _recall_summary(similarity.exact_topk_int(codes, codes), lsh)


@_register(
    "similarity_lsh_recall_sampled",
    _int_recall_oracle(_lsh_cands_sql(), query_where=_SAMPLE_SLICE),
)
def similarity_lsh_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAMPLED form of similarity_lsh_recall_report, the shape the
    exact truth takes at 100 TB (the ANN twin of
    dedup_prefix_filter_sampled): recall@5 is measured only for queries
    in the deterministic md5(vec_id) < '4' quarter-slice, while BOTH
    rankings still run against the FULL index — the exact-truth side's
    quadratic cost drops by the slice factor, the number it estimates is
    unchanged in expectation, and the slice is partitioning-independent
    so any engine draws the same one.
    """
    e = load_table(spark, sf_dir, "embeddings")
    codes = int8_codes(e).localCheckpoint(eager=False)  # feeds LSH + truth
    in_slice = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < F.lit("4")
    lsh = similarity.lsh_topk_int(codes, k=5, prefix_bits=6, dim=64)
    truth = similarity.exact_topk_int(codes.where(in_slice), codes)
    return _recall_summary(truth, lsh)


@_register(
    "similarity_lsh_multiprobe_recall_report",
    _int_recall_oracle(_lsh_cands_sql(n_flip=2)),
)
def similarity_lsh_multiprobe_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the MULTI-PROBE sign-LSH path against the exact top-5
    over the same int8 codes — the measurement that justifies the
    multiprobe trade: at sf0.01 the 2-flip schedule lifts recall
    0.088 → 0.176 (2.0×) over single-probe for ZERO extra index, only a
    3× query-side probe fan-out.
    """
    e = load_table(spark, sf_dir, "embeddings")
    codes = int8_codes(e).localCheckpoint(eager=False)  # feeds probe + truth
    mp = similarity.lsh_multiprobe_topk_int(codes, k=5, prefix_bits=6, dim=64, n_flip=2)
    return _recall_summary(similarity.exact_topk_int(codes, codes), mp)


@_register("similarity_ivf_recall_report", _int_recall_oracle(_ivf_cands_sql()))
def similarity_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the seeded-IVF path (similarity_ivf_topk's exact plan:
    16 lowest-id seed cells, n_probe=2, exact-integer re-rank) against
    the EXACT top-5 over the same int8 codes — the IVF twin of
    similarity_lsh_recall_report.  The IVF side is the linear production
    plan being audited (one broadcast of 16 seed code rows + one shuffle
    on cell id).

    Interpreting the number: 16 cells / 2 probes covers 2/16 of the
    space per query on the near-uniform synthetic embeddings, so expect
    recall well above the single-probe 64-bucket LSH path (~3–5× in
    similarity_ann_recall_report) but far below a trained index; the
    point of this query is that the audit itself is engine-exact.
    """
    e = load_table(spark, sf_dir, "embeddings")
    codes = int8_codes(e).localCheckpoint(eager=False)  # feeds IVF + truth
    ivf = similarity.ivf_topk_int(codes, k=5, n_cells=16, n_probe=2)
    return _recall_summary(similarity.exact_topk_int(codes, codes), ivf)


def _exact_l2_truth_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT squared-L2 top-_PQ_TOPK (vec_id, index_id, rank) per probe
    over the PQ index subset (vec_id < _PQ_N_INDEX) with the family's
    determinism discipline — the shared ground truth for the IVF-PQ
    recall reports."""
    from pyspark.sql.window import Window

    from dffoo_data_pipeline_spark.functions.numeric import round_det
    from dffoo_data_pipeline_spark.plans import embeddings as EMB

    e = load_table(spark, sf_dir, "embeddings")
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    probes = e.select("vec_id", emb_d.alias("q_emb"))
    cands = e.where(F.col("vec_id") < EMB._PQ_N_INDEX).select(
        F.col("vec_id").alias("index_id"), emb_d.alias("i_emb")
    )
    d2 = round_det(EMB._l2sq("q_emb", "i_emb"), 6)
    w = Window.partitionBy("vec_id").orderBy("d2", "index_id")
    return (
        probes.crossJoin(F.broadcast(cands))
        .select("vec_id", "index_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= EMB._PQ_TOPK)
        .select("vec_id", "index_id", F.col("rn").alias("rank"))
    )


def _ivfpq_recall_report_sql(inner_sql: str) -> str:
    """The shared truth+summary SQL of the IVF-PQ recall-report pair:
    nest the measured plan's full oracle as the `hits` CTE.  ONE
    template so the two reports can never measure against different
    ground truths."""
    from dffoo_data_pipeline_spark.plans.embeddings import _PQ_N_INDEX, _PQ_TOPK

    return f"""
WITH hits AS ({inner_sql}),
base2 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
truth AS (
    SELECT vec_id, index_id FROM (
        SELECT q.vec_id, i.vec_id AS index_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   FLOOR(list_sum(list_transform(list_zip(q.emb, i.emb),
                                                 z -> (z[1]-z[2])*(z[1]-z[2])))
                         * 1000000 + 0.5) / 1000000,
                   i.vec_id) AS rn
        FROM base2 q JOIN base2 i ON i.vec_id < {_PQ_N_INDEX})
    WHERE rn <= {_PQ_TOPK})""" + _recall_summary_sql(("vec_id", "index_id"), "recall_at_3")


@_register("similarity_ivfpq_recall_report", _ivfpq_recall_report_sql(_IVFPQ_ORACLE))
def similarity_ivfpq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF-PQ path (similarity_ivfpq_topk's exact plan)
    against the EXACT squared-L2 top-3 over the same 64-vector index —
    one summary row, the IVFADC member of the oracled recall-report
    family (LSH / multiprobe / IVF / probe-API all have one; an ANN path
    without a certified recall number can't be routed honestly).  The
    measurement folds two quantization losses the other reports don't
    have: the coarse cell restriction (n_probe/cells of the index
    scored) AND the PQ code approximation inside the kept cells.

    Scale: the IVF-PQ side is the linear production plan being audited;
    the exact side is the quadratic auditor — at 100 TB run it on a
    deterministic md5-prefix probe slice (the `sample_hex_cutoff`
    idiom), never the full corpus.  The exact-truth boundary is
    deterministic (1e-6 floor-rounded distances, index_id tiebreak), so
    the recall MEASUREMENT is value-hash oracled, same discipline as
    similarity_ivf_recall_report.
    """
    from dffoo_data_pipeline_spark.plans import embeddings as EMB

    return _recall_summary(
        _exact_l2_truth_top3(spark, sf_dir),
        EMB.QUERIES["similarity_ivfpq_topk"](spark, sf_dir),
        keys=("vec_id", "index_id"),
        recall_col="recall_at_3",
    )


@_register(
    "similarity_ivfpq_rerank_recall_report", _ivfpq_recall_report_sql(_IVFPQ_RERANK_ORACLE)
)
def similarity_ivfpq_rerank_recall_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@3 of the FULL IVFADC+R stack (similarity_ivfpq_rerank_topk)
    against the same exact-L2 truth as similarity_ivfpq_recall_report —
    the pair of reports certifies the rerank stage's buy-back as a
    DRIVER-CHECKED number, not just a PERF.md measurement: 0.478 vs the
    unreranked 0.263 at sf0.01 (+82%), i.e. the code-approximation half
    of the IVF-PQ deficit removed by paying floats for |probes|·8
    shortlist pairs.  Same quadratic-auditor caveat as every recall
    report: at 100 TB run it on a deterministic md5-prefix probe slice.
    """
    from dffoo_data_pipeline_spark.plans import embeddings as EMB

    return _recall_summary(
        _exact_l2_truth_top3(spark, sf_dir),
        EMB.QUERIES["similarity_ivfpq_rerank_topk"](spark, sf_dir),
        keys=("vec_id", "index_id"),
        recall_col="recall_at_3",
    )


_CONTAINMENT_ORACLE = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), t -> t <> '') AS t
    FROM documents),
shingles AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isect
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id),
directed AS (
    SELECT i.doc_a AS contained, i.doc_b AS container, i.isect * 1.0 / sa.sz AS c
    FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
    UNION ALL
    SELECT i.doc_b, i.doc_a, i.isect * 1.0 / sb.sz
    FROM inter i JOIN sizes sb ON i.doc_b = sb.doc_id)
SELECT contained, container, ROUND(c, 4) AS containment
FROM directed WHERE c >= 0.8
"""


@_register("dedup_shingle_containment", _CONTAINMENT_ORACLE)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment near-dup pairs (|A∩B|/|A| ≥ 0.8 over 3-gram
    shingles): catches a document embedded inside a longer one — the
    quote/excerpt/wrapper case symmetric Jaccard misses because the union
    is dominated by the longer side (operators/dedup.py:
    shingle_containment_pairs has the plan and scale analysis).
    """
    d = load_table(spark, sf_dir, "documents")
    return dedup.shingle_containment_pairs(
        d, id_col="doc_id", text_col="text", n=3, threshold=0.8
    )


_KWIC_TERMS = ("spark", "window")
_KWIC_CTX = 3

_KWIC_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), t -> t <> '') AS t
    FROM documents),
hits AS (
    SELECT doc_id, t, u.p, t[u.p] AS term
    FROM toks, unnest(range(1, len(t) + 1)) AS u(p)
    WHERE t[u.p] IN ('spark', 'window'))
SELECT doc_id, term, CAST(p AS INT) AS pos,
       COALESCE(array_to_string(list_slice(t, greatest(p - {_KWIC_CTX}, 1), p - 1),
                                ' '), '') AS left_ctx,
       COALESCE(array_to_string(list_slice(t, p + 1, p + {_KWIC_CTX}), ' '), '')
         AS right_ctx
FROM hits
"""


@_register("text_kwic", _KWIC_ORACLE)
def text_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance: every occurrence of the watch
    terms with 3 tokens of context either side — the positional-search
    primitive behind corpus QA ("show me how the corpus uses X"),
    PII-hit review, and contamination spot checks.

    Scale: posexplode → same-stage filter on the term set, so only
    matching positions survive past the Generate (the full token array
    rides each row only within the map task, never through a shuffle);
    there is NO shuffle at all — output is written partition-local.  The
    term set is a literal here; an operator taking a benchmark-sized
    term table would broadcast-semi-join it instead.  Positions are
    1-based on both engines.
    """
    from dffoo_data_pipeline_spark.functions import text as TX

    d = load_table(spark, sf_dir, "documents", fan_out=True)
    staged = d.select("doc_id", TX.tokens(TX.normalized_text("text")).alias("t"))
    hits = staged.select(
        "doc_id", "t", F.posexplode("t").alias("p0", "term")
    ).where(F.col("term").isin(*_KWIC_TERMS))
    p = F.col("p0") + 1  # 1-based position
    left_start = F.greatest(p - _KWIC_CTX, F.lit(1))
    return hits.select(
        "doc_id",
        "term",
        p.cast("int").alias("pos"),
        F.concat_ws(" ", F.slice(F.col("t"), left_start, p - left_start)).alias(
            "left_ctx"
        ),
        F.concat_ws(" ", F.slice(F.col("t"), p + 1, _KWIC_CTX)).alias("right_ctx"),
    )


_CHAR_NGRAM_N = 3
_CHAR_NGRAM_TOPK = 10

_CHAR_NGRAM_ORACLE = rf"""
WITH norm AS (
    SELECT lang, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
    FROM documents),
grams AS (
    SELECT lang, substr(s, u.i, {_CHAR_NGRAM_N}) AS gram
    FROM norm, unnest(range(1, length(s) - {_CHAR_NGRAM_N} + 2)) AS u(i)
    WHERE length(s) >= {_CHAR_NGRAM_N}),
cnt AS (
    SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS n
    FROM grams GROUP BY lang, gram)
SELECT lang, gram, n, CAST(rn AS INT) AS rank FROM (
    SELECT lang, gram, n,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS rn
    FROM cnt)
WHERE rn <= {_CHAR_NGRAM_TOPK}
"""


@_register("text_char_ngram_profile", _CHAR_NGRAM_ORACLE)
def text_char_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 character trigrams per language — the feature basis real
    language-ID models train on (text_lang_predict's stopword signal is
    the word-level shortcut; character n-grams survive unknown words,
    code-switching, and missing whitespace).

    Scale: char grams explode ~|text| rows per doc, so the count shuffle
    keys on (lang, gram) with map-side combine collapsing each
    partition's repeats BEFORE the exchange — shuffle volume is
    per-partition-distinct grams (bounded by alphabet³ per language),
    not character instances.  The top-k window then runs over the
    aggregated (lang, gram) frame only.  Substring positions are 1-based
    in both engines; normalization (lowercase, whitespace collapse) is
    byte-identical.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents", fan_out=True)
    norm = d.select("lang", TX.normalized_text("text").alias("s"))
    grams = norm.where(F.length("s") >= _CHAR_NGRAM_N).select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("s") - _CHAR_NGRAM_N + 1),
                lambda i: F.substring(F.col("s"), i, _CHAR_NGRAM_N),
            )
        ).alias("gram"),
    )
    cnt = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "gram")
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _CHAR_NGRAM_TOPK)
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rule battery
# ---------------------------------------------------------------------------

# Shared per-doc base for the Gopher rule battery: `m` carries the raw
# metrics plus `source` so the streaming pass-rate oracle can reuse it.
_GOPHER_BASE_SQL = r"""
WITH t AS (
    SELECT doc_id, source, text,
           list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
    FROM documents),
m AS (
    SELECT doc_id, source,
           CAST(len(toks) AS BIGINT) AS n_words,
           FLOOR((list_sum(list_transform(toks, x -> length(x))) * 1.0
                  / len(toks)) * 10000 + 0.5) / 10000 AS mean_word_len,
           FLOOR((length(regexp_replace(text, '[^#…]', '', 'g')) * 1.0
                  / len(toks)) * 10000 + 0.5) / 10000 AS symbol_word_ratio,
           FLOOR((len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
                  / len(toks)) * 10000 + 0.5) / 10000 AS alpha_word_ratio,
           CAST(len(list_filter(toks,
                x -> x IN ('the','a','of','and','to','in','is','it')))
                AS BIGINT) AS stop_hits
    FROM t)
"""

# rule flags are definite booleans — NULL ratios (zero-token docs) FAIL
# the ratio rules, mirroring gopher_rule_flags (r11)
_GOPHER_PASS_SQL = (
    "COALESCE(n_words BETWEEN 50 AND 100000, FALSE)"
    " AND COALESCE(mean_word_len BETWEEN 3 AND 10, FALSE)"
    " AND COALESCE(symbol_word_ratio <= 0.1, FALSE)"
    " AND COALESCE(alpha_word_ratio >= 0.8, FALSE)"
    " AND COALESCE(stop_hits >= 2, FALSE)"
)

_GOPHER_ORACLE = _GOPHER_BASE_SQL + f"""
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, alpha_word_ratio,
       stop_hits,
       COALESCE(n_words BETWEEN 50 AND 100000, FALSE)       AS r_word_count,
       COALESCE(mean_word_len BETWEEN 3 AND 10, FALSE)      AS r_mean_len,
       COALESCE(symbol_word_ratio <= 0.1, FALSE)            AS r_symbol,
       COALESCE(alpha_word_ratio >= 0.8, FALSE)             AS r_alpha,
       COALESCE(stop_hits >= 2, FALSE)                      AS r_stops,
       {_GOPHER_PASS_SQL}                                   AS passes_gopher
FROM m
"""


@_register("text_gopher_rules", _GOPHER_ORACLE)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document quality gates (Rae et al. 2021, table A1
    — the published rule set, not the composite score of
    `text_quality_score`): word count in [50, 100k], mean word length in
    [3, 10], symbol-to-word ratio ('#'/'…') <= 0.1, >=80% of words contain
    an alphabetic character, and >=2 stop-word hits.  Emits every raw
    ratio plus per-rule booleans plus the AND — downstream mixes filter on
    `passes_gopher` but audit on the per-rule columns (which rule kills
    how much of which source is the first question every curation run
    asks).

    Scale: one projection, zero shuffles — all per-row JVM expressions.
    The token array is materialized ONCE in a staged select (the
    higher-order folds are interpreted, so Catalyst would not CSE a
    repeated split; same pattern as text_quality_score).  Determinism:
    ratios go through round_det's floor-half-up before the threshold
    compare, so rule booleans can't flip on engine ulps.
    """
    d = load_table(spark, sf_dir, "documents")
    return gopher_rule_flags(d).drop("source")


def gopher_rule_flags(d: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Per-doc Gopher metrics + rule flags for any frame with
    (doc_id, source, text) — pure projections, so it applies unchanged to
    a STREAMING DataFrame (streaming/jobs.py:streaming_quality_gate).

    ``extra_cols``: input columns carried through to the output, letting
    a caller fuse further per-row derivations (e.g. the quality/length
    gates of curation_gate_overlap) into the SAME projection — one scan
    instead of a join of two scans of the corpus."""
    toks = d.select(
        "doc_id",
        "source",
        "text",
        TX.tokens(F.lower(F.trim("text"))).alias("toks"),
    )
    n_words = F.size("toks").cast("bigint")
    mean_len = TX.avg_token_len(None, toks=F.col("toks"))
    # a zero-token doc (empty/whitespace-only under the non-empty-token
    # spec) gets NULL ratios like the oracle's x*1.0/0, not an ANSI
    # DIVIDE_BY_ZERO; its rule booleans are then NULL and passes_gopher
    # falls out false-y in both engines (r11 hostile-input sweep)
    n_toks = F.size("toks")
    symbol_ratio = N.round_det(
        F.when(n_toks > 0, F.length(F.regexp_replace("text", "[^#…]", "")) / n_toks),
        4,
    )
    alpha_ratio = N.round_det(
        F.when(
            n_toks > 0,
            F.size(F.filter(F.col("toks"), lambda t: t.rlike("[A-Za-z]"))) / n_toks,
        ),
        4,
    )
    stop_hits = F.size(
        F.filter(F.col("toks"), lambda t: t.isin(*TX.EN_STOPWORDS))
    ).cast("bigint")
    m = toks.select(
        "doc_id",
        "source",
        *extra_cols,
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        stop_hits.alias("stop_hits"),
    )
    # rule flags are DEFINITE booleans: a zero-token doc has NULL
    # ratios, and a NULL rule would (a) leak SQL three-valued logic
    # into the pass gate and (b) come back as float-NaN from some
    # client dtypes — such a doc FAILS the ratio rules outright (r11
    # hostile-input sweep; Gopher rejects empty docs by definition)
    r_word = F.coalesce(F.col("n_words").between(50, 100000), F.lit(False))
    r_mean = F.coalesce(F.col("mean_word_len").between(3, 10), F.lit(False))
    r_symbol = F.coalesce(F.col("symbol_word_ratio") <= 0.1, F.lit(False))
    r_alpha = F.coalesce(F.col("alpha_word_ratio") >= 0.8, F.lit(False))
    r_stops = F.coalesce(F.col("stop_hits") >= 2, F.lit(False))
    return m.select(
        "*",
        r_word.alias("r_word_count"),
        r_mean.alias("r_mean_len"),
        r_symbol.alias("r_symbol"),
        r_alpha.alias("r_alpha"),
        r_stops.alias("r_stops"),
        (r_word & r_mean & r_symbol & r_alpha & r_stops).alias("passes_gopher"),
    )


# ---------------------------------------------------------------------------
# GROUPED_AGG pandas UDF (the UDAF slot of the §2j surface)
# ---------------------------------------------------------------------------

_TRIMMED_ORACLE = r"""
WITH r AS (
    -- NULL lengths carry no location information and are excluded
    -- BEFORE trimming in both engines (r11: a NULL previously sorted
    -- NULLS-LAST here but NaN->INT64_MIN-first in the pandas UDF,
    -- shifting the trim window differently per engine)
    SELECT lang, n_chars,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
           COUNT(*)    OVER (PARTITION BY lang) AS n
    FROM documents WHERE n_chars IS NOT NULL),
kept AS (
    SELECT lang, n_chars, n FROM r
    WHERE rn > n // 10 AND rn <= n - n // 10)
SELECT lang,
       CAST(MAX(n) AS BIGINT) AS n_docs,
       FLOOR((SUM(n_chars) * 1.0 / COUNT(*)) * 1000000 + 0.5) / 1000000
         AS trimmed_mean_chars
FROM kept GROUP BY lang
"""


@_register("udaf_trimmed_mean_length", _TRIMMED_ORACLE)
def udaf_trimmed_mean_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean document length per language via a GROUPED_AGG
    pandas UDF (Series → scalar — the user-defined AGGREGATE slot of the
    §2j surface; the scalar pandas_udf, mapInPandas/mapInArrow,
    applyInPandas[WithState] and UDTF forms are exercised elsewhere).
    Trimmed means are the robust-location standard for corpus length
    dashboards — a few giant concatenation bugs can move a plain AVG by
    × but barely touch the trimmed form.

    Determinism without tolerance: the trimmed SUM is over BIGINT
    n_chars — exact in int64 AND in any engine's 53-bit-exact double
    range — so the single final division is bit-identical to the
    oracle's SUM/COUNT.  (A float-valued metric would need the DECIMAL
    staging the other aggs use.)  Scale: Arrow-batched partial groups —
    Spark feeds each group's Series to ONE python call; the shuffle is
    the same hash-partition on lang a JVM agg would do.
    """
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the module's `from __future__ import
    # annotations` stringifies type hints, which defeats pandas_udf's
    # hint-based eval-type inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean(v):
        vals = np.sort(v.to_numpy(dtype=np.int64))
        k = len(vals) // 10
        kept = vals[k : len(vals) - k]
        return float(kept.sum(dtype=np.int64)) / len(kept)

    # Spark disallows mixing a GROUPED_AGG pandas UDF with JVM aggregates
    # in one agg (INVALID_PANDAS_UDF_PLACEMENT) — count via a second
    # pandas aggregate in the same (single-shuffle) groupBy instead
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def group_count(v):
        return len(v)

    d = load_table(spark, sf_dir, "documents")
    return (
        d.where(F.col("n_chars").isNotNull())
        .groupBy("lang")
        .agg(
            group_count("n_chars").alias("n_docs"),
            N.round_det(trimmed_mean("n_chars"), 6).alias("trimmed_mean_chars"),
        )
    )


@_register("dedup_incremental_neardup")  # rows-only: engine-specific hashes
def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup the NEW batch against the existing corpus's LSH band
    index — the near-dup half of continuous ingest (the exact half is
    dedup_incremental_novel): docs with doc_id % 10 == 0 play the
    incoming batch, the rest the already-indexed corpus.  Per new doc:
    strongest index match + novel flag.  Pair quality inherits the
    MinHash tests; batch/index split semantics are pinned in
    tests/test_dedup.py.

    Scale: the corpus is banded in-plan here; the steady-state shape
    persists it once (`band_index` + write_bucketed on the band key, as
    dedup_incremental_indexed does) so each probe shuffles the batch only.
    """
    d = load_table(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 10 == 0)
    old = d.where(F.col("doc_id") % 10 != 0)
    return dedup.neardup_against_index(new, old, id_col="doc_id", text_col="text")


def _portable_band_cte_sql(num_hashes: int = 15, bands: int = 5) -> str:
    """The toks/shingles/sig/bands CTE body (no leading WITH) of the
    portable md5 band family — shared by the incremental-dedup oracles
    and the ingest-day pipeline oracle."""
    rows = num_hashes // bands
    mins = ",\n           ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(num_hashes)
    )
    band_rows = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band_id, md5({key}) AS band_hash FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"h{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"""toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '') AS t
    FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
),
sig AS (
    SELECT doc_id,
           {mins}
    FROM shingles GROUP BY doc_id
),
bands AS (
{band_rows}
)"""


def _incremental_portable_oracle(num_hashes: int = 15, bands: int = 5) -> str:
    """DuckDB twin of `dedup.neardup_against_index(family="md5")` over the same
    batch/index split as dedup_incremental_neardup (doc_id % 10)."""
    return f"""
WITH {_portable_band_cte_sql(num_hashes, bands)},
hits AS (
    SELECT p.doc_id, i.doc_id AS matched_id, COUNT(*) AS n_shared_bands
    FROM bands p JOIN bands i
      ON p.band_id = i.band_id AND p.band_hash = i.band_hash
    WHERE p.doc_id % 10 = 0 AND i.doc_id % 10 != 0
    GROUP BY p.doc_id, i.doc_id
),
best AS (
    SELECT doc_id, matched_id, n_shared_bands FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id
            ORDER BY n_shared_bands DESC, matched_id) AS rn
        FROM hits)
    WHERE rn = 1
)
SELECT d.doc_id, b.matched_id,
       CAST(COALESCE(b.n_shared_bands, 0) AS BIGINT) AS n_shared_bands,
       CAST(b.matched_id IS NULL AS INT) AS novel
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN best b USING (doc_id)
"""


@_register("dedup_incremental_portable", _incremental_portable_oracle())
def dedup_incremental_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental_neardup's cross-engine twin: probe the incoming
    batch (doc_id % 10 == 0) against the corpus band index built with the
    PORTABLE md5 family (operators/dedup.py:neardup_against_index, family="md5").
    Because the band hashes are md5-derived, the persisted index is
    probe-able by any engine with md5 — and unlike the xxhash64 original
    (rows-only), this probe's full result — strongest match, shared-band
    count, novel flag — is value-hash oracled against DuckDB."""
    d = load_table(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 10 == 0)
    old = d.where(F.col("doc_id") % 10 != 0)
    return dedup.neardup_against_index(
        new, old, id_col="doc_id", text_col="text", n=3, num_hashes=15, bands=5,
        family="md5",
    )


def _ingest_day_oracle() -> str:
    gopher_ctes = _GOPHER_BASE_SQL.strip()
    assert gopher_ctes.startswith("WITH")
    gopher_ctes = gopher_ctes[len("WITH"):].strip()
    return f"""
WITH fpx AS (
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents),
exact_novel AS (
    SELECT n.doc_id FROM fpx n
    WHERE n.doc_id % 7 < 2
      AND NOT EXISTS (SELECT 1 FROM fpx s
                      WHERE s.doc_id % 7 >= 2 AND s.fp = n.fp)),
{gopher_ctes},
gated AS (
    SELECT m.doc_id FROM m JOIN exact_novel e USING (doc_id)
    WHERE {_GOPHER_PASS_SQL}),
{_portable_band_cte_sql()},
hits AS (
    SELECT p.doc_id, i.doc_id AS matched_id, COUNT(*) AS n_shared_bands
    FROM bands p JOIN bands i
      ON p.band_id = i.band_id AND p.band_hash = i.band_hash
    WHERE p.doc_id IN (SELECT doc_id FROM gated) AND i.doc_id % 7 >= 2
    GROUP BY p.doc_id, i.doc_id),
best AS (
    SELECT doc_id, matched_id FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id
            ORDER BY n_shared_bands DESC, matched_id) AS rn
        FROM hits)
    WHERE rn = 1)
SELECT b.doc_id,
       CASE WHEN e.doc_id IS NULL THEN 'dup_exact'
            WHEN g.doc_id IS NULL THEN 'low_quality'
            WHEN bb.matched_id IS NOT NULL THEN 'near_dup'
            ELSE 'admitted' END AS verdict,
       bb.matched_id AS matched_id
FROM (SELECT doc_id FROM documents WHERE doc_id % 7 < 2) b
LEFT JOIN exact_novel e USING (doc_id)
LEFT JOIN gated g USING (doc_id)
LEFT JOIN best bb USING (doc_id)
"""


def ingest_day_verdicts(
    batch: DataFrame,
    ledger: DataFrame,
    *,
    bitmap: DataFrame | None = None,
    index_bands: DataFrame | None = None,
) -> DataFrame:
    """The ingest-day stage chain shared by pipeline_ingest_day (batch)
    and streaming/jobs.py:streaming_ingest_day (per micro-batch, with a
    once-per-run pre-built ``bitmap`` AND ``index_bands`` — without the
    latter every micro-batch would re-shingle and re-minhash the whole
    ledger for the near-dup stage; with it only the batch is hashed per
    trigger).  ``index_bands`` must be an md5 `band_index` built
    with the probe parameters pinned here (n=3, num_hashes=15,
    bands=5); validation is skipped since both ends live in this
    function's callers within one run.  One row per batch doc:
    (doc_id, verdict, matched_id).  See pipeline_ingest_day for the
    full design notes."""
    seen = ledger.select(TX.fingerprint_md5("text").alias("fp"))
    novel = dedup.dedup_against_seen_bloom(batch, seen, bitmap=bitmap)
    # NULL-text docs get NULL gopher metrics → NULL passes_gopher; both
    # plain where() branches would drop the row (no verdict emitted)
    # while the oracle's CASE routes it to 'low_quality'.  Coalesce to
    # False so undecidable == rejected, matching the oracle.
    passes = F.coalesce(F.col("passes_gopher"), F.lit(False))
    # The gopher battery rides INSIDE the stage-boundary checkpoint: its
    # three consumers (the qualified probe side, the low-quality verdict,
    # the dup_exact anti-set) read one materialized (doc_id, text,
    # passes) frame, so the ~8-regex tokenization battery runs once per
    # doc instead of once per consumer — previously each where() branch
    # re-inlined the whole battery above the checkpoint (r12 before-plan,
    # Filter node ~19), doubling the regex work per surviving row.
    gated = (
        gopher_rule_flags(novel, extra_cols=("text",))
        .select("doc_id", "text", passes.alias("__passes"))
        .localCheckpoint(eager=False)
    )
    qualified = gated.where(F.col("__passes")).select("doc_id", "text")
    lowq = gated.where(~F.col("__passes")).select("doc_id")
    if index_bands is not None:
        probe = dedup.neardup_against_index(
            qualified, None, id_col="doc_id", text_col="text",
            n=3, num_hashes=15, bands=5,
            index_bands=index_bands, validate_index=False, family="md5",
        )
    else:
        probe = dedup.neardup_against_index(
            qualified, ledger, id_col="doc_id", text_col="text",
            n=3, num_hashes=15, bands=5, family="md5",
        )
    nulid = F.lit(None).cast("bigint")
    dup_exact = batch.join(gated.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", F.lit("dup_exact").alias("verdict"), nulid.alias("matched_id")
    )
    low_quality = lowq.select(
        "doc_id", F.lit("low_quality").alias("verdict"), nulid.alias("matched_id")
    )
    # ONE pass over the probe result: the former near/admitted where()
    # pair gave the whole probe subtree (batch shingler, 15-md5 minhash
    # aggregation, band join, best-match window) two consumers, and
    # Spark clones unshared subtrees per consumer — every probe stage
    # ran twice (r12 before-plan: 2× the band-probe tree).  novel is
    # 0/1 by construction and matched_id IS NULL exactly when novel=1,
    # so a single projection emits the identical verdict rows.
    probed = probe.select(
        "doc_id",
        F.when(F.col("novel") == 0, F.lit("near_dup"))
        .otherwise(F.lit("admitted"))
        .alias("verdict"),
        "matched_id",
    )
    return dup_exact.unionByName(low_quality).unionByName(probed)


@_register("pipeline_ingest_day", _ingest_day_oracle())
def pipeline_ingest_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE INGEST DAY, end to end: one verdict per batch document
    ('dup_exact' | 'low_quality' | 'near_dup' | 'admitted'), staged
    cheapest-filter-first the way a daily 100 TB ingest actually runs —
    (1) exact novelty behind the broadcast-Bloom prefilter
    (dedup_against_seen_bloom: proven-novel rows never touch the
    ledger), (2) Gopher quality gates as one fused projection over the
    survivors (gopher_rule_flags with text carried through — no second
    scan), (3) the portable md5 near-dup band probe against the ledger
    index, run ONLY for docs that survived both cheaper stages (the
    shingle+minhash cost is the expensive one, so it sees the smallest
    set).  Composes the certified pieces: the bloom stage shares
    dedup_bloom_prefilter_novel's semantics, the gate text_gopher_rules',
    the probe dedup_incremental_portable's — and the composition itself
    is value-hash oracled.

    Scale: the novel set — with the gopher verdict fused in — is lazily
    checkpointed at the stage boundary (consumed by the probe side, the
    low-quality verdict AND the dup_exact verdict anti-set — a real
    pipeline materializes stage outputs anyway); each stage's join
    inputs shrink monotonically; verdict assembly is a union of
    disjoint-by-construction sets, no final dedup needed.
    """
    d = load_table(spark, sf_dir, "documents")
    return ingest_day_verdicts(
        d.where(F.col("doc_id") % 7 < 2), d.where(F.col("doc_id") % 7 >= 2)
    )



# Persisted-index bookkeeping: one live (table, external path) per
# logical index, the previous run dropped before the next is built (so
# repeated invocations leak no directories), the final one removed at
# interpreter exit.  The lifecycle lives
# in sources/writers.RunScopedTable so the band (dedup) and bucket (ANN)
# indexes share it.
_RUN_SCOPED: dict = {}  # lazily constructed RunScopedTables, one per logical index
_RUN_SCOPED_NAMES = {
    "band": "sg_portable_band_index",
    "ann": "sg_ann_bucket_index",
    "pq_codebook": "sg_pq_codebook",
    "pq_codes": "sg_pq_codes",
}


def _run_scoped(which: str):
    from dffoo_data_pipeline_spark.sources.writers import RunScopedTable

    # a typo'd key silently returning the wrong live index would let
    # replace() drop the other family's table — fail loudly instead
    if which not in _RUN_SCOPED_NAMES:
        raise ValueError(
            f"unknown run-scoped index {which!r}: expected one of "
            f"{sorted(_RUN_SCOPED_NAMES)}"
        )
    if which not in _RUN_SCOPED:
        _RUN_SCOPED[which] = RunScopedTable(_RUN_SCOPED_NAMES[which])
    return _RUN_SCOPED[which]


@_register("dedup_incremental_indexed", _incremental_portable_oracle())
def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental_portable through the STEADY-STATE path the
    incremental docstrings promise: the corpus band index is built once
    (`operators/dedup.py:band_index`, family="md5"), PERSISTED hash-bucketed
    on the band key (`sources/writers.write_bucketed`), and the batch is
    probed against the bucketed TABLE — the index is neither re-shingled
    nor re-shuffled per run; its bucketed scan satisfies the probe
    join's distribution, so only the batch side exchanges
    (tests/test_bucketing.py pins the plan shape).  Output — and oracle —
    are identical to dedup_incremental_portable: persisting the index
    must not change a single verdict.

    Scale: this IS the 100 TB shape — pay the corpus shingle+shuffle
    once at index build, then every ingest batch costs
    batch-shingle + one batch-sized exchange against the colliding
    index slice.  The bucketed write also makes the index the
    cross-engine artifact (md5 band hashes, plain parquet under the
    table), and its TBLPROPERTIES carry the build parameters — the
    probe REFUSES a mismatched family instead of silently reporting
    everything novel (the metadata half of the params-must-match
    contract; the band_id-domain data check covers non-catalog frames).
    """
    from dffoo_data_pipeline_spark.sources.writers import expect_table_properties

    d = load_table(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 10 == 0)
    old = d.where(F.col("doc_id") % 10 != 0)
    params = {"sg.n": "3", "sg.num_hashes": "15", "sg.bands": "5"}
    idx = dedup.band_index(
        old, id_col="doc_id", text_col="text", n=3, num_hashes=15, bands=5,
        family="md5",
    )
    table = _run_scoped("band").replace(
        spark, idx, ["band_id", "band_hash"], num_buckets=16, properties=params
    )
    expect_table_properties(spark, table, params)  # probe/build co-versioned
    return dedup.neardup_against_index(
        new,
        None,
        id_col="doc_id",
        text_col="text",
        n=3,
        num_hashes=15,
        bands=5,
        family="md5",
        index_bands=spark.table(table),
        # the TBLPROPERTIES check above already verified ALL build params
        # from the catalog (no data scanned); the default band_id-domain
        # validation would add a full distinct scan of the index per probe
        # for a strictly weaker check
        validate_index=False,
    )


@_register("similarity_lsh_probe_indexed", _LSH_PROBE_ORACLE)
def similarity_lsh_probe_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity_lsh_probe_topk through the STEADY-STATE path — the ANN
    member of the persisted-index pair (the dedup member is
    dedup_incremental_indexed): the corpus is quantized and bucketed
    once (`operators/similarity.py:lsh_bucket_index_int`), PERSISTED
    hash-bucketed on `bucket` with its build parameters in
    TBLPROPERTIES, and the query batch is probed against the bucketed
    TABLE — the bucketed scan satisfies the cogroup's index-side
    distribution, so only the query side exchanges
    (tests/test_bucketing.py pins the plan shape).  Output — and oracle —
    are identical to similarity_lsh_probe_topk: persisting the index
    must not change a single neighbor.

    Scale: pay the corpus quantize+shuffle once at index build; every
    search batch costs batch-quantize + one batch-sized exchange against
    the colliding buckets.  The probe refuses an index whose stored
    (prefix_bits, dim, codes) parameters differ from its own — hashes
    from another family never collide, so without the check a mismatch
    would 'work' and return garbage neighbors.
    """
    from dffoo_data_pipeline_spark.sources.writers import expect_table_properties

    e = load_table(spark, sf_dir, "embeddings")
    codes = int8_codes(e).localCheckpoint(eager=False)  # feeds index + queries
    params = {"sg.prefix_bits": "6", "sg.dim": "64", "sg.codes": "int8_minmax"}
    idx = similarity.lsh_bucket_index_int(
        codes.where(F.col("vec_id") % 10 != 0), prefix_bits=6, dim=64
    )
    table = _run_scoped("ann").replace(
        spark, idx, ["bucket"], num_buckets=16, properties=params
    )
    expect_table_properties(spark, table, params)  # probe/build co-versioned
    return similarity.lsh_probe_topk_int(
        codes.where(F.col("vec_id") % 10 == 0),
        k=5,
        prefix_bits=6,
        dim=64,
        n_flip=2,
        indexed=spark.table(table),
        # TBLPROPERTIES above already verified (prefix_bits, dim, codes)
        # from the catalog — the data-domain check would be weaker + a scan
        validate_index=False,
    )


@_register("similarity_pq_indexed", _PQ_TOPK_ORACLE)
def similarity_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity_pq_topk through the STEADY-STATE path — the PQ member
    of the persisted-index family (siblings: dedup_incremental_indexed,
    similarity_lsh_probe_indexed): the
    codebook and the PQ CODES of the indexed vectors are built once and
    PERSISTED (plain bucketed parquet tables with the build parameters
    in TBLPROPERTIES), and the probe batch scores the index by joining
    its LUT against the persisted codes — the in-query path's 2 extra
    embeddings scans (codebook + index encode) become table reads, so
    the indexed plan scans `embeddings` exactly ONCE (the probes).
    Output — and oracle — are identical to similarity_pq_topk:
    persisting the codes must not change a single neighbor or distance.

    Scale: this is how PQ is actually deployed — encode the corpus once
    (the expensive argmin over K codebook entries per subspace), then
    every query batch pays only its own LUT build (|batch|·M·K partial
    distances) plus the join-ADC sum over the M-byte codes.  The join
    carries no hint: the size-based planner broadcasts the codes table
    while it fits under the broadcast threshold (it is 32× smaller than
    the float vectors, so that ceiling moves 32× up) and shuffle-joins
    on (m, cid) past it.  The probe refuses a codes table whose
    stored (m, sub, k, n_index) differ from its own — codes from a
    different quantizer family would 'work' and return garbage."""
    from dffoo_data_pipeline_spark.plans.embeddings import (
        _PQ_K,
        _PQ_M,
        _PQ_N_INDEX,
        _PQ_SUB,
        _pq_codebook,
        _pq_codes,
        _pq_lut,
        _pq_rank_topk,
    )
    from dffoo_data_pipeline_spark.sources.writers import expect_table_properties

    e = load_table(spark, sf_dir, "embeddings")
    params = {
        "sg.pq_m": str(_PQ_M),
        "sg.pq_sub": str(_PQ_SUB),
        "sg.pq_k": str(_PQ_K),
        "sg.pq_n_index": str(_PQ_N_INDEX),
    }
    cb = _pq_codebook(e).localCheckpoint(eager=False)  # feeds codes + its write
    cb_table = _run_scoped("pq_codebook").replace(
        spark, cb, ["m"], num_buckets=4, properties=params
    )
    codes_table = _run_scoped("pq_codes").replace(
        spark,
        _pq_codes(e, spark.table(cb_table)),
        ["m", "cid"],
        num_buckets=8,
        properties=params,
    )
    expect_table_properties(spark, cb_table, params)
    expect_table_properties(spark, codes_table, params)
    lut = _pq_lut(e, spark.table(cb_table))
    adc = (
        lut.join(spark.table(codes_table), ["m", "cid"])
        .groupBy("vec_id", "index_id")
        .agg(F.sum("pd").alias("adist"))
    )
    return _pq_rank_topk(adc)


@_register("similarity_ann_recall_report")  # rows-only: LSH/IVF are seed-specific
def similarity_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured — not guessed — ANN quality: recall@5 of the LSH and IVF
    indexes against exact brute force over the same embeddings, one
    summary row per method (n_queries, mean/min/p10 recall).  This is
    the audit you run after every index parameter change; the per-round
    recall floors in tests/test_similarity_ivf.py pin regressions, this
    query makes the number a first-class pipeline output.

    Five methods are audited with parameters deliberately MATCHING the
    production configurations: the float-hyperplane LSH and kmeans IVF
    quality paths, and the integer-exact lsh_int / lsh_multiprobe_int /
    ivf_int variants that back the registered similarity_lsh_topk /
    similarity_lsh_multiprobe_topk / similarity_ivf_topk queries — the
    audit measures the paths users run, not a tuned
    showcase.  On this synthetic corpus the
    vectors are near-isotropic (no cluster structure), so absolute
    recall is low — which is exactly what the report should say: these
    embeddings need brute force or better index parameters, and the
    mean/p10/min columns are the evidence.

    Scale: the exact side is the broadcast-bounded brute-force path —
    recall audits run on a SAMPLE at real scale (the operator caps via
    IndexTooLargeError, so an oversized audit fails loudly rather than
    OOMing); the ANN sides are the partitioned production paths being
    audited.  The recall join is (query, neighbor)-keyed.
    """
    from dffoo_data_pipeline_spark.operators import similarity as sim

    e = load_table(spark, sf_dir, "embeddings")
    k = 5
    exact = sim.cosine_topk_bruteforce(e, "vec_id", "embedding", k=k)
    exact = exact.localCheckpoint(eager=False)  # feeds every method's join once

    def recall_row(method: str, approx: DataFrame) -> DataFrame:
        hits = exact.alias("x").join(
            approx.alias("a"),
            (F.col("x.query_id") == F.col("a.query_id"))
            & (F.col("x.neighbor_id") == F.col("a.neighbor_id")),
            "left",
        )
        per_q = hits.groupBy("x.query_id").agg(
            (F.count(F.col("a.neighbor_id")) / F.count(F.lit(1))).alias("recall")
        )
        return per_q.agg(
            F.lit(method).alias("method"),
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.lit(k).cast("bigint").alias("k"),
            F.round(F.avg("recall"), 4).alias("mean_recall"),
            F.round(F.expr("percentile(recall, 0.1)"), 4).alias("p10_recall"),
            F.round(F.min("recall"), 4).alias("min_recall"),
        )

    codes = int8_codes(e).localCheckpoint(eager=False)  # shared by both int paths
    rows = [
        recall_row(
            "lsh", sim.lsh_topk(e, "vec_id", "embedding", k=k, planes=16, prefix_bits=6)
        ),
        recall_row(
            "ivf", sim.ivf_topk(e, "vec_id", "embedding", k=k, n_cells=16, n_probe=2)
        ),
        # the integer-exact driver-verified variants (the registered
        # similarity_lsh_topk / similarity_ivf_topk /
        # similarity_lsh_multiprobe_topk paths)
        recall_row("lsh_int", sim.lsh_topk_int(codes, k=k, prefix_bits=6, dim=64)),
        recall_row(
            "lsh_multiprobe_int",
            sim.lsh_multiprobe_topk_int(codes, k=k, prefix_bits=6, dim=64, n_flip=2),
        ),
        recall_row("ivf_int", sim.ivf_topk_int(codes, k=k, n_cells=16, n_probe=2)),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@_register("dedup_lsh_quality_report")  # rows-only: minhash is engine-specific
def dedup_lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup twin of the ANN recall audit: precision/recall of the
    MinHash-LSH candidate pairs against exact n-gram Jaccard at the 0.5
    similarity the 16×4 banding targets — one summary row
    (candidate/truth/hit counts, precision, recall).  Run after any
    banding-parameter change; the S-curve says ~50% capture at J=0.5,
    this query says what you actually got on YOUR corpus.

    Scale: both sides are the production linear-shuffle plans (posting
    lists with the stop-shingle guard; banded LSH); the compare joins on
    the (doc_a, doc_b) pair key.  At 100 TB you audit a deterministic
    corpus slice — the md5-prefix sampling idiom of
    curation_sample_stratified — not every pair.

    This is rows-only because xxhash64 has no cross-engine twin; the
    SAME measurement over the portable md5 band family is fully
    value-hash oracled as dedup_portable_quality_report (per-decile
    capture curve).
    """
    d = load_table(spark, sf_dir, "documents")
    truth = dedup.ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.5)
    cand = dedup.lsh_candidates(d, "doc_id", "text").select("doc_a", "doc_b")
    truth = truth.localCheckpoint(eager=False)
    cand = cand.localCheckpoint(eager=False)
    hits = truth.join(cand, ["doc_a", "doc_b"], "semi")
    n_truth = truth.select(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.select(F.count(F.lit(1)).alias("n_cand"))
    n_hit = hits.select(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_truth.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_truth",
            "n_cand",
            "n_hit",
            F.round(
                F.when(F.col("n_cand") > 0, F.col("n_hit") / F.col("n_cand")).otherwise(
                    F.lit(1.0)
                ),
                4,
            ).alias("precision"),
            F.round(
                F.when(F.col("n_truth") > 0, F.col("n_hit") / F.col("n_truth")).otherwise(
                    F.lit(1.0)
                ),
                4,
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-gate overlap report (which filters are redundant?)
# ---------------------------------------------------------------------------

def _gate_overlap_oracle() -> str:
    from dffoo_data_pipeline_spark.functions.text import quality_score_sql
    from dffoo_data_pipeline_spark.plans.retrieval import _CLF_ORACLE

    gates = ["quality", "length", "gopher", "clf"]
    pairs = [(a, b) for i, a in enumerate(gates) for b in gates[i + 1 :]]
    singles = ",\n       ".join(
        f"CAST(COUNT(*) FILTER (WHERE g_{g}) AS BIGINT) AS n_{g}" for g in gates
    )
    boths = ",\n       ".join(
        f"CAST(COUNT(*) FILTER (WHERE g_{a} AND g_{b}) AS BIGINT) AS b_{a}_{b}"
        for a, b in pairs
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT '{a}' AS gate_a, '{b}' AS gate_b, n_{a} AS n_a, n_{b} AS n_b,"
        f" b_{a}_{b} AS n_both,"
        f" CASE WHEN n_{a} + n_{b} - b_{a}_{b} = 0 THEN 1.0"
        f" ELSE FLOOR(b_{a}_{b} * 1.0 / (n_{a} + n_{b} - b_{a}_{b}) * 1000000 + 0.5)"
        f" / 1000000 END AS jaccard FROM agg"
        for a, b in pairs
    )
    return rf"""
WITH ql AS (
    SELECT doc_id,
           {quality_score_sql('text')} >= 0.5 AS g_quality,
           len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) BETWEEN 50 AND 5000
             AS g_length
    FROM documents),
gop AS (SELECT doc_id, passes_gopher AS g_gopher FROM ({_GOPHER_ORACLE})),
clf AS (SELECT doc_id, keep_flag = 1 AS g_clf FROM ({_CLF_ORACLE})),
f AS (
    SELECT ql.doc_id, g_quality, g_length, g_gopher, g_clf
    FROM ql JOIN gop USING (doc_id) JOIN clf USING (doc_id)),
agg AS (
    SELECT {singles},
       {boths}
    FROM f)
{rows}
"""


@_register("curation_gate_overlap", _gate_overlap_oracle())
def curation_gate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which quality gates are redundant?  Pairwise Jaccard overlap of
    the pass-sets of four filters (heuristic quality ≥ 0.5, 50-5000-word
    length, the Gopher battery, the hashed linear classifier) — high
    overlap means one gate subsumes another and can be dropped from the
    pipeline; low overlap means they encode different signals and stack.

    Scale: the three projection gates fuse into ONE per-row projection of
    the corpus (quality/length flags ride `gopher_rule_flags`'s
    `extra_cols` pass-through — one scan, no flag-vs-flag join); the
    classifier inherently needs its own token-explode pipeline, joined
    back on doc_id (scan two); ONE conditional aggregation then computes
    all 4 singles + 6 pairwise counts in a single pass over the joined
    flags, and the pair unpivot (stack) runs on the one aggregate row.
    """
    from dffoo_data_pipeline_spark.functions.text import quality_score
    from dffoo_data_pipeline_spark.plans.retrieval import text_classifier_score

    d = load_table(spark, sf_dir, "documents", fan_out=True)
    g = gopher_rule_flags(d, extra_cols=("text",))
    toks = TX.tokens("text")
    flags = g.select(
        "doc_id",
        (quality_score("text", toks=toks) >= 0.5).alias("g_quality"),
        F.size(toks).between(50, 5000).alias("g_length"),
        F.col("passes_gopher").alias("g_gopher"),
    )
    clf = text_classifier_score(spark, sf_dir).select(
        "doc_id", (F.col("keep_flag") == 1).alias("g_clf")
    )
    f = flags.join(clf, "doc_id")
    gates = ["quality", "length", "gopher", "clf"]
    pairs = [(a, b) for i, a in enumerate(gates) for b in gates[i + 1 :]]
    agg = f.agg(
        *[F.count(F.when(F.col(f"g_{g}"), 1)).alias(f"n_{g}") for g in gates],
        *[
            F.count(F.when(F.col(f"g_{a}") & F.col(f"g_{b}"), 1)).alias(f"b_{a}_{b}")
            for a, b in pairs
        ],
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', CAST(n_{a} AS BIGINT), CAST(n_{b} AS BIGINT), CAST(b_{a}_{b} AS BIGINT)"
        for a, b in pairs
    )
    unp = agg.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (gate_a, gate_b, n_a, n_b, n_both)"
        )
    )
    denom = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return unp.select(
        "gate_a",
        "gate_b",
        "n_a",
        "n_b",
        "n_both",
        F.when(denom == 0, F.lit(1.0))
        .otherwise(N.round_det(F.col("n_both") / denom, 6))
        .alias("jaccard"),
    )


@_register("dedup_lsh_verified", _jaccard_oracle(0.5))
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-bounded exact near-dup: MinHash-LSH candidates verified
    with true Jaccard on the candidate set only
    (operators/dedup.py:lsh_verified_pairs) — the plan a 100 TB run
    executes (linear candidates, per-candidate verification), where
    dedup_ngram_jaccard_pairs is the all-sharing-pairs exact baseline.
    Soundness (verified ⊆ exact, true similarities) pinned in
    tests/test_dedup.py.

    Oracle: the EXHAUSTIVE ≥0.5 pair computation.  Hash-equality asserts
    the LSH path lost nothing on this corpus — sound here because every
    true pair sits at J ≥ 0.89 (measured at sf0.001 and sf0.01), where
    the deterministic 16×4 banding's miss probability is ≈ 4e-7 per pair
    and the seeded-xxhash64 signatures make the outcome reproducible,
    not sampled.  dedup_lsh_quality_report is the measured
    recall/precision companion (1.0/1.0 at both SFs).
    """
    d = load_table(spark, sf_dir, "documents")
    return dedup.lsh_verified_pairs(d, "doc_id", "text", threshold=0.5)


@_register("text_compression_ratio")  # rows-only: zlib is not SQL-expressible
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal: zlib-compressed bytes over raw
    bytes per document — the cheap entropy proxy production curation
    stacks run beside the Gopher rules (highly compressible text is
    repeated boilerplate or generated spam; near-incompressible text is
    often binary junk or dense markup; natural prose sits in between,
    and both tails get gated).  Registered rows-only: zlib is a codec,
    not SQL — the honest non-oracle boundary, with the discriminative
    contract pinned instead (constructed repeated-text fixture
    compresses far better than normal docs, tests/test_dedup.py).

    Scale: Arrow-batched mapInPandas (the sanctioned Python path) — one
    map-side pass, no shuffle, CPU-bound per executor exactly like the
    production implementation; level=6 is the zlib default, spelled
    explicitly so results are reproducible across zlib builds.
    """
    import pandas as pd

    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"), "doc_id")

    def comp(batches):
        import zlib

        for pdf in batches:
            # NULL text == empty bytes for compression purposes: the
            # metric is bytes-in vs bytes-out, and a crash on the first
            # NULL doc (NaN from .str.len() breaking the int64 cast)
            # is not an acceptable reading (r11 hostile-input sweep)
            raw = pdf["text"].fillna("").str.encode("utf-8")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw.str.len().astype("int64"),
                    "zlib_bytes": raw.map(
                        lambda b: len(zlib.compress(b, 6))
                    ).astype("int64"),
                }
            )

    out = d.select("doc_id", "text").mapInPandas(
        comp, "doc_id long, raw_bytes long, zlib_bytes long"
    )
    return out.select(
        "doc_id",
        "raw_bytes",
        "zlib_bytes",
        # zero raw bytes → NULL ratio (zlib's 8-byte header over 0 bytes
        # would otherwise read as Infinity), consistent with every other
        # guarded ratio in the package
        F.round(
            F.when(F.col("raw_bytes") > 0, F.col("zlib_bytes") / F.col("raw_bytes")),
            4,
        ).alias("compress_ratio"),
    )

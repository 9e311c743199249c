"""Retrieval and model-based filtering operators over the document corpus.

Three operators a pretraining / RAG data pipeline runs between curation
and export (SURVEY.md §2k north-star surface; reference analog: the
keep/drop gates and lookup joins of web_scraper.py's parse loop, lifted
to corpus statistics):

* ``text_bm25_topk`` — full-corpus BM25 retrieval (Robertson/Sparck
  Jones probabilistic idf, k1/b length normalization): inverted-index
  statistics (tf, df, doclen, avgdl) built as plain aggregations, a
  broadcast query-term probe, and per-query top-k.  This is the lexical
  retrieval half of retrieval-based dedup/decontamination and of RAG
  corpus construction.

* ``text_classifier_score`` — hashed-feature linear classifier
  inference (fastText/CCNet-style quality filter): unigram features
  hashed into ``N_CLF_BUCKETS`` buckets, a broadcast (bucket, weight)
  table standing in for trained weights, mean feature weight →
  sigmoid → keep flag.  A production run swaps the deterministic
  weight table for learned weights; the PLAN — explode, hash, tf
  rollup, broadcast weight join, per-doc reduce — is unchanged.

* ``text_cdc_chunks`` — content-defined chunking (FastCDC-style):
  a chunk boundary falls after token position p whenever the rolling
  hash of the ``W_CDC``-token window ending at p is ≡ 0 mod
  ``CDC_DIVISOR``.  Boundaries depend only on local content, so edits
  re-chunk only the edited neighborhood — the property that makes CDC
  the standard unit for large-document dedup and incremental ingest.

Cross-engine determinism follows the repo discipline: integer counts,
md5-prefix hashes (bit-identical in Spark and DuckDB), every ln/exp
floor-rounded at 1e-6 into DECIMAL before any float aggregation, and
identical textual arithmetic on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dffoo_data_pipeline_spark.functions import text as TX
from dffoo_data_pipeline_spark.functions.numeric import round_det
from dffoo_data_pipeline_spark.operators import dedup
from dffoo_data_pipeline_spark.operators.similarity import dot
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


# DuckDB twin of TX.tokens(TX.normalized_text(text))
_SQL_TOKS = r"list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), t -> t <> '')"


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
# fixed query set over the fixture vocabulary; a real run reads a query table
BM25_QUERIES = (
    ("q_join", "hash join table"),
    ("q_sort", "sort merge batch"),
    ("q_scan", "window scan value"),
)

_BM25_QUERY_VALUES = ", ".join(f"('{qid}', '{qtext}')" for qid, qtext in BM25_QUERIES)

_BM25_ORACLE = rf"""
WITH q(query_id, qtext) AS (VALUES {_BM25_QUERY_VALUES}),
qt AS (SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM q),
toks AS (
    SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl
    FROM (SELECT doc_id, {_SQL_TOKS} AS t FROM documents)),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(t) AS term FROM toks)
    GROUP BY doc_id, dl, term),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           FLOOR(CAST(SUM(dl) AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000
             AS avgdl
    FROM toks),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
qidf AS (
    SELECT query_id, term,
           CAST(FLOOR(ln((n_docs - df + 0.5) / (df + 0.5) + 1) * 1000000 + 0.5)
                / 1000000 AS DECIMAL(18,6)) AS idf
    FROM qt JOIN dfreq USING (term) CROSS JOIN stats),
scored AS (
    SELECT query_id, doc_id,
           CAST(SUM(CAST(FLOOR(CAST(idf AS DOUBLE) * (tf * CAST(2.2 AS DOUBLE))
                                / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
                                * 1000000 + 0.5) / 1000000
                         AS DECIMAL(18,6))) AS DOUBLE) AS bm25
    FROM tf JOIN qidf USING (term) CROSS JOIN stats
    GROUP BY query_id, doc_id)
SELECT query_id, doc_id, bm25, bm25_rank FROM (
    SELECT query_id, doc_id, bm25,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY bm25 DESC, doc_id) AS BIGINT)
             AS bm25_rank
    FROM scored)
WHERE bm25_rank <= {BM25_TOP_K}
"""


@_register("text_bm25_topk", _BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BM25_TOP_K} BM25 hits per query over the whole corpus.

    idf = ln((N − df + 0.5)/(df + 0.5) + 1) (the +1 keeps it positive —
    Lucene's formulation); per-term score = idf · tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl)) with k1=1.2, b=0.75.

    Scale: ONE corpus tokenization — the (doc, term) tf rollup (map-side
    combine) is checkpointed at the stage boundary and every downstream
    (corpus stats, df, scoring) reads the materialized table; df is a
    second aggregation over tf keyed by term only.
    The query side is broadcast twice — qt into the vocab-sized df agg
    (the join output is |query terms| rows) and the resulting qidf dim
    into tf — so the only corpus-sized shuffles are the two tf/df
    aggregations; corpus rows never shuffle on anything wider than
    their own group keys.  Candidates are docs sharing ≥1 query term
    (inner join), scored with exact DECIMAL sums.  The final top-k uses
    a per-query window: with a handful of queries each candidate set is
    corpus-sized, so at 100 TB you swap the window for the two-phase
    salted top-k in plans/curation.py (per-partition heap, then a
    |queries|·k merge) — same output contract.

    Determinism: avgdl and idf are floor-rounded at 1e-6 (exact-int
    inputs → identical doubles both engines); each per-term contribution
    is rounded then summed as DECIMAL(18,6), so the per-doc score is
    partition-order-exact; ties rank by doc_id.
    """
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    staged = d.select("doc_id", TX.tokens(TX.normalized_text("text")).alias("t")).select(
        "doc_id", "t", F.size("t").cast("bigint").alias("dl")
    )
    # ONE corpus tokenization.  The naive layout (tf from staged, stats
    # from staged, dfreq from tf, scored from tf) gives the tokenize
    # subtree three unshared consumers, and Spark clones unshared
    # subtrees per consumer — the full regexp_extract_all pass ran three
    # times (r12 before-plan: 3 scans of documents.parquet).  The fix:
    # explode_OUTER keeps one NULL-term row per empty/NULL-text doc, so
    # the checkpointed tf table alone carries the complete doc set and
    # every downstream — corpus stats, document frequency, scoring —
    # reads the materialized rows (guide §2.4: share one pass; the
    # checkpoint is the batch analog of writing the stage output).
    # Value-identical: docs = distinct (doc_id, dl) over tf equals
    # staged's doc set (doc_id is unique, dl functionally depends on
    # it); NULL-term rows never reach dfreq (filtered) or scoring (the
    # inner term join drops them).
    tf = (
        staged.select("doc_id", "dl", F.explode_outer("t").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .localCheckpoint(eager=False)
    )
    docs = tf.select("doc_id", "dl").distinct()
    stats = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        round_det(F.sum("dl").cast("double") / F.count(F.lit(1)), 6).alias("avgdl"),
    )
    dfreq = (
        tf.where(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    qt = spark.createDataFrame(list(BM25_QUERIES), "query_id string, qtext string").select(
        "query_id", F.explode(F.split("qtext", " ")).alias("term")
    )
    qidf = (
        dfreq.join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "term",
            round_det(
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1), 6
            )
            .cast("decimal(18,6)")
            .alias("idf"),
        )
    )
    contrib = round_det(
        F.col("idf").cast("double")
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * (F.col("dl") / F.col("avgdl")))),
        6,
    ).cast("decimal(18,6)")
    scored = (
        tf.join(F.broadcast(qidf), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(contrib).cast("double").alias("bm25"))
    )
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), "doc_id")
    )
    return (
        scored.select("query_id", "doc_id", "bm25", rank.cast("bigint").alias("bm25_rank"))
        .where(F.col("bm25_rank") <= BM25_TOP_K)
    )


# ---------------------------------------------------------------------------
# Hashed-feature linear classifier (fastText-style quality filter)
# ---------------------------------------------------------------------------

N_CLF_BUCKETS = 256  # feature buckets (fastText uses 2M at web scale)
_CLF_BIAS = "-0.05"  # literal, spelled identically in both engines
_W_SEED = "w:"  # salt for the deterministic stand-in weights

_CLF_ORACLE = rf"""
WITH wtab AS (
    SELECT CAST(r.range AS BIGINT) AS bucket,
           CAST(FLOOR(((('0x' || substr(md5('{_W_SEED}' || r.range), 1, 8))::BIGINT
                        + 0.5) / 4294967296.0 * 2 - 1) * 1000000 + 0.5) / 1000000
                AS DECIMAL(18,6)) AS w
    FROM range({N_CLF_BUCKETS}) r),
tok AS (
    SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents),
feat AS (
    SELECT doc_id,
           (('0x' || substr(md5(tok), 1, 8))::BIGINT) % {N_CLF_BUCKETS} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, bucket),
scored AS (
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           FLOOR((CAST(SUM(w * tf) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE)
                  + {_CLF_BIAS}) * 1000000 + 0.5) / 1000000 AS clf_logit
    FROM feat JOIN wtab USING (bucket)
    GROUP BY doc_id)
SELECT doc_id, n_tokens, clf_logit,
       FLOOR(1.0 / (1.0 + exp(-clf_logit)) * 1000000 + 0.5) / 1000000
         AS clf_score,
       CAST(CASE WHEN clf_logit >= 0 THEN 1 ELSE 0 END AS INT) AS keep_flag
FROM scored
"""


@_register("text_classifier_score", _CLF_ORACLE)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-classifier quality score per document: mean hashed-unigram
    feature weight + bias → sigmoid, keep when the logit is ≥ 0.  The
    weight table is a deterministic stand-in (md5-uniform in [−1, 1))
    so the query is oracle-able; a production filter broadcasts learned
    fastText/logistic weights through the identical plan.

    Scale: one explode → (doc, bucket) tf rollup (map-side combine;
    ≤{N_CLF_BUCKETS} surviving rows per doc), then a broadcast join
    against the weight dim (256 rows here, 2M × 16 B ≈ 32 MB at
    fastText scale — still broadcastable) and a per-doc reduce.  Two
    corpus shuffles total, both on doc-sized keys; no Python anywhere.

    Determinism: weights are exact-integer-derived doubles rounded at
    1e-6 into DECIMAL; Σ(w·tf) is an exact DECIMAL sum; the logit is one
    IEEE divide + add, floor-rounded; exp() of identical doubles is
    identical in both engines (both call libm pow/exp on the same
    value), and the sigmoid is rounded again before compare.
    """
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    wtab = spark.range(N_CLF_BUCKETS).select(
        F.col("id").cast("bigint").alias("bucket"),
        round_det(
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(_W_SEED), F.col("id").cast("string"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                + 0.5
            )
            / 4294967296.0
            * 2
            - 1,
            6,
        )
        .cast("decimal(18,6)")
        .alias("w"),
    )
    feat = (
        d.select("doc_id", F.explode(TX.tokens(TX.normalized_text("text"))).alias("tok"))
        .select(
            "doc_id",
            (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % N_CLF_BUCKETS).alias(
                "bucket"
            ),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    logit = round_det(
        F.sum(F.col("w") * F.col("tf")).cast("double") / F.sum("tf").cast("double")
        + F.lit(float(_CLF_BIAS)),
        6,
    )
    scored = (
        feat.join(F.broadcast(wtab), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("tf").cast("bigint").alias("n_tokens"), logit.alias("clf_logit"))
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "clf_logit",
        round_det(1.0 / (1.0 + F.exp(-F.col("clf_logit"))), 6).alias("clf_score"),
        (F.col("clf_logit") >= 0).cast("int").alias("keep_flag"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking
# ---------------------------------------------------------------------------

W_CDC = 4  # rolling-window width in tokens
CDC_DIVISOR = 8  # boundary when window-hash % divisor == 0 (expected chunk ~8 windows)

_CDC_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id, t, len(t) AS n
    FROM (SELECT doc_id, {_SQL_TOKS} AS t FROM documents)),
cuts AS (
    SELECT doc_id, s AS pos, 1 AS cut
    FROM (SELECT doc_id, t, unnest(range({W_CDC}, n)) AS s
          FROM toks WHERE n > {W_CDC})
    WHERE (('0x' || substr(md5(array_to_string(
               list_slice(t, s - {W_CDC} + 1, s), ' ')), 1, 8))::BIGINT)
          % {CDC_DIVISOR} = 0),
tokpos AS (
    SELECT doc_id, pos, t[pos] AS tok
    FROM (SELECT doc_id, t, unnest(range(1, n + 1)) AS pos FROM toks)),
assigned AS (
    SELECT tp.doc_id, tp.pos, tp.tok,
           1 + COALESCE(SUM(c.cut) OVER (
                   PARTITION BY tp.doc_id ORDER BY tp.pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS chunk_id
    FROM tokpos tp LEFT JOIN cuts c ON tp.doc_id = c.doc_id AND tp.pos = c.pos)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(MIN(pos) AS BIGINT) AS start_pos,
       CAST(MAX(pos) AS BIGINT) AS end_pos,
       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
FROM assigned
GROUP BY doc_id, chunk_id
"""


@_register("text_cdc_chunks", _CDC_ORACLE)
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunks per document: cut after token position p
    (W_CDC ≤ p < n, so no empty trailing chunk) whenever the md5-prefix
    hash of the window t[p−W_CDC+1..p] is divisible by CDC_DIVISOR;
    emit per-chunk token count, position span, and content hash.
    Because a boundary is a pure function of the W_CDC tokens before
    it, inserting text perturbs only the chunks it touches — every
    later chunk keeps its hash, which is what makes CDC chunk hashes a
    stable dedup/delta key for large evolving documents (same role as
    FastCDC in storage dedup).

    Scale: the cut scan is the windowed-hash explode of
    plans/selection.py (rows = tokens, but each only (doc_id, pos));
    chunk assignment is a per-document ordered running sum — documents
    are the parallelism unit, which is inherent (chunking is sequential
    within a doc by definition) and bounded by max doc length, not
    corpus size.  The final rollup shuffles (doc, chunk) keys.  The
    chunk hash is built from the ordered token structs, never by
    re-reading text.
    """
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    # checkpoint: the tokenized frame feeds BOTH the cut scan and the
    # token-position explode — unshared consumers each re-ran the
    # scan→tokenize pass (2 documents scans in the r12 before-plan);
    # one materialized pass serves both explodes
    staged = (
        d.select("doc_id", TX.tokens(TX.normalized_text("text")).alias("t"))
        .select("doc_id", "t", F.size("t").alias("n"))
        .localCheckpoint(eager=False)
    )
    n = F.col("n")
    cut_positions = F.when(
        n > W_CDC, F.sequence(F.lit(W_CDC), n - 1)
    ).otherwise(F.array().cast("array<int>"))
    cuts = (
        staged.select("doc_id", "t", F.explode(cut_positions).alias("pos"))
        .where(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(F.col("t"), F.col("pos") - W_CDC + 1, W_CDC))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % CDC_DIVISOR
            == 0
        )
        .select("doc_id", "pos", F.lit(1).alias("cut"))
    )
    tokpos = staged.select("doc_id", F.posexplode("t").alias("p0", "tok")).select(
        "doc_id", (F.col("p0") + 1).alias("pos"), "tok"
    )
    running = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    assigned = (
        tokpos.join(cuts, ["doc_id", "pos"], "left")
        .select(
            "doc_id",
            "pos",
            "tok",
            (1 + F.coalesce(F.sum("cut").over(running), F.lit(0))).alias("chunk_id"),
        )
    )
    return assigned.groupBy("doc_id", F.col("chunk_id").cast("bigint").alias("chunk_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.min("pos").cast("bigint").alias("start_pos"),
        F.max("pos").cast("bigint").alias("end_pos"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
                ),
            )
        ).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: lexical + dense fused with Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

_RRF_SEEDS = (0, 100, 200, 300)
_RRF_POOL = 50  # candidate depth per ranker
_RRF_K = 60  # the standard RRF smoothing constant (Cormack et al.)
_RRF_TOP = 10

_RRF_SEED_LIST = ", ".join(str(s) for s in _RRF_SEEDS)

_HYBRID_RRF_ORACLE = rf"""
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
seed_sh AS (
    SELECT doc_id AS seed_id, shingle FROM shingles
    WHERE doc_id IN ({_RRF_SEED_LIST})),
inter AS (
    SELECT s.seed_id, a.doc_id, COUNT(*) AS isect
    FROM shingles a JOIN seed_sh s USING (shingle)
    WHERE a.doc_id <> s.seed_id
    GROUP BY s.seed_id, a.doc_id),
lex AS (
    SELECT i.seed_id, i.doc_id,
           ROUND(i.isect * 1.0 / (ss.sz + sd.sz - i.isect), 4) AS jac
    FROM inter i JOIN sizes ss ON i.seed_id = ss.doc_id
                 JOIN sizes sd ON i.doc_id = sd.doc_id),
lexk AS (
    SELECT seed_id, doc_id, r FROM (
        SELECT seed_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY seed_id
                                  ORDER BY jac DESC, doc_id) AS r
        FROM lex)
    WHERE r <= {_RRF_POOL}),
emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) AS sumsq
    FROM embeddings),
nz AS (SELECT * FROM emb WHERE sumsq > 0),
seeds AS (
    SELECT vec_id AS seed_id, e AS se, sumsq AS ssq FROM nz
    WHERE vec_id IN ({_RRF_SEED_LIST})),
cos AS (
    SELECT s.seed_id, v.vec_id AS doc_id,
           FLOOR(list_sum(list_transform(list_zip(v.e, s.se), x -> x[1] * x[2]))
                 / (sqrt(v.sumsq) * sqrt(s.ssq)) * 1000000 + 0.5) / 1000000 AS cs
    FROM nz v, seeds s
    WHERE v.vec_id <> s.seed_id),
densek AS (
    SELECT seed_id, doc_id, r FROM (
        SELECT seed_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY seed_id
                                  ORDER BY cs DESC, doc_id) AS r
        FROM cos)
    WHERE r <= {_RRF_POOL}),
fused AS (
    SELECT COALESCE(l.seed_id, d.seed_id) AS seed_id,
           COALESCE(l.doc_id, d.doc_id) AS doc_id,
           l.r AS lex_rank, d.r AS dense_rank,
           FLOOR((COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + l.r), 0)
                  + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + d.r), 0))
                 * 1000000 + 0.5) / 1000000 AS rrf
    FROM lexk l FULL JOIN densek d
      ON l.seed_id = d.seed_id AND l.doc_id = d.doc_id)
SELECT seed_id, doc_id, rrf AS rrf_score,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(dense_rank AS BIGINT) AS dense_rank,
       CAST(rn AS INT) AS fused_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY seed_id
                                   ORDER BY rrf DESC, doc_id) AS rn
      FROM fused)
WHERE rn <= {_RRF_TOP}
"""


@_register("retrieval_hybrid_rrf", _HYBRID_RRF_ORACLE)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion: for each of 4 seed
    documents, a lexical ranking (3-gram-shingle Jaccard, the posting-list
    plan) and a dense ranking (embedding cosine against the seed's vector)
    are each cut to their top-50, then fused with the standard
    rrf = Σ 1/(60 + rank) and re-ranked — the fusion step every
    production RAG / retrieval-based-dedup stack runs over its sparse and
    dense retrievers (Cormack et al., SIGIR'09; reference analog: the
    keep/drop gate joins of web_scraper.py's parse loop, lifted to ranked
    retrieval).

    Scale: the seed side of BOTH rankers is broadcast (4 shingle sets / 4
    vectors), so the corpus is scored in map-side passes; the only
    corpus-sized shuffles are the per-(seed, doc) intersection rollup and
    the two per-seed top-k windows (two-phase top-k at real query
    volume).  Fusion itself touches only 2 × 50 rows per seed.
    Determinism: both rankers rank floor/half-up-rounded scores with
    doc_id tiebreaks, the RRF terms are exact IEEE doubles of integer
    ranks spelled identically in both engines, and the fused rank orders
    the ROUNDED rrf — bit-identical inputs → identical order.
    """
    d = load_table(spark, sf_dir, "documents")
    # corpus side: ONE shingle pass, |A| carried inline past the explode
    # (the ngram_jaccard_pairs struct idiom) — a naive `sizes = sh.groupBy`
    # + `seed_sh = sh.where(...)` formulation gives the Arrow shingler
    # three consumers and re-runs the full-corpus UDF three times
    # (measured 4.4 s → 1.5 s at sf0.1)
    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    # asNondeterministic: this query needs BOTH size(__sh) and
    # explode(__sh) from one UDF call, so the array must be a named
    # column — but exploding a UDF-computed column lets Catalyst infer
    # size(__sh)>0 below the Generate and push it through the
    # projection, re-evaluating the Arrow shingler once more per row
    # (two stacked ArrowEvalPython per side without the marking).
    # The fix: a nondeterministic-marked expression cannot be
    # duplicated or reordered, so the shingler runs once and the
    # inferred filter stays above it as a cheap size(attr) check.  The
    # function itself is pure; no filters need to push past it (both
    # sides filter BEFORE shingling).
    shingler = dedup._shingles_udf(3).asNondeterministic()
    base = ensure_min_partitions(d, "doc_id").select(
        "doc_id", shingler(F.col("text")).alias("__sh")
    )
    posts = base.select(
        "doc_id", F.size("__sh").alias("sz"), F.explode("__sh").alias("shingle")
    )
    # seed side: shingle ONLY the 4 seed docs (filter pushed to the scan)
    seed_base = d.where(F.col("doc_id").isin(*_RRF_SEEDS)).select(
        F.col("doc_id").alias("seed_id"), shingler(F.col("text")).alias("__sh")
    )
    seed_sh = seed_base.select(
        "seed_id", F.size("__sh").alias("ssz"), F.explode("__sh").alias("shingle")
    )
    inter = (
        posts.join(F.broadcast(seed_sh), "shingle")
        .where(F.col("doc_id") != F.col("seed_id"))
        .groupBy("seed_id", "doc_id", "sz", "ssz")
        .agg(F.count(F.lit(1)).alias("isect"))
    )
    jac = F.col("isect") / (F.col("ssz") + F.col("sz") - F.col("isect"))
    lex = inter.select("seed_id", "doc_id", F.round(jac, 4).alias("jac"))
    wl = Window.partitionBy("seed_id").orderBy(F.desc("jac"), "doc_id")
    lexk = (
        lex.withColumn("lex_rank", F.row_number().over(wl).cast("bigint"))
        .where(F.col("lex_rank") <= _RRF_POOL)
        .select("seed_id", "doc_id", "lex_rank")
    )

    e = load_table(spark, sf_dir, "embeddings")
    sumsq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nz = e.select("vec_id", "embedding", sumsq.alias("sumsq")).where(
        F.col("sumsq") > 0
    )
    seeds = nz.where(F.col("vec_id").isin(*_RRF_SEEDS)).select(
        F.col("vec_id").alias("seed_id"),
        F.col("embedding").alias("se"),
        F.col("sumsq").alias("ssq"),
    )
    cs = dot("embedding", "se") / (F.sqrt("sumsq") * F.sqrt("ssq"))
    cos = (
        nz.join(F.broadcast(seeds))
        .where(F.col("vec_id") != F.col("seed_id"))
        .select(
            "seed_id",
            F.col("vec_id").alias("doc_id"),
            round_det(cs, 6).alias("cs"),
        )
    )
    wd = Window.partitionBy("seed_id").orderBy(F.desc("cs"), "doc_id")
    densek = (
        cos.withColumn("dense_rank", F.row_number().over(wd).cast("bigint"))
        .where(F.col("dense_rank") <= _RRF_POOL)
        .select("seed_id", "doc_id", "dense_rank")
    )

    fused = lexk.join(densek, ["seed_id", "doc_id"], "full_outer")
    term = lambda r: F.coalesce(  # noqa: E731 — tiny local twin of the SQL COALESCE
        F.lit(1.0) / (F.lit(_RRF_K) + F.col(r)), F.lit(0.0)
    )
    scored = fused.select(
        "seed_id",
        "doc_id",
        round_det(term("lex_rank") + term("dense_rank"), 6).alias("rrf_score"),
        "lex_rank",
        "dense_rank",
    )
    wf = Window.partitionBy("seed_id").orderBy(F.desc("rrf_score"), "doc_id")
    return (
        scored.withColumn("fused_rank", F.row_number().over(wf))
        .where(F.col("fused_rank") <= _RRF_TOP)
        .select("seed_id", "doc_id", "rrf_score", "lex_rank", "dense_rank", "fused_rank")
    )


# ---------------------------------------------------------------------------
# Hashed-feature classifier TRAINING (full-batch GD, unrolled + oracled)
# ---------------------------------------------------------------------------

N_TRAIN_BUCKETS = 64
_TRAIN_ROUNDS = 3
_TRAIN_LR = "1.0"  # literal, spelled identically in both engines
_R9 = "1000000000"


def _rnd9(e: str) -> str:
    return f"FLOOR(({e}) * {_R9} + 0.5) / {_R9}"


def _train_oracle() -> str:
    common = f"""
WITH tok AS MATERIALIZED (
    SELECT doc_id, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y,
           unnest({_SQL_TOKS}) AS tok FROM documents),
feat AS MATERIALIZED (
    SELECT doc_id, y, (('0x' || substr(md5(tok), 1, 8))::BIGINT) % {N_TRAIN_BUCKETS} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, y, bucket),
nd AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM feat),
mu AS MATERIALIZED (
    SELECT bucket, CAST(SUM(tf) AS BIGINT) AS s FROM feat GROUP BY bucket),
featx AS MATERIALIZED (
    SELECT f.doc_id, f.y, f.bucket,
           {_rnd9('CAST(f.tf AS DOUBLE) - CAST(m.s AS DOUBLE) / (SELECT n FROM nd)')} AS x
    FROM feat f JOIN mu m USING (bucket)),
w0 AS MATERIALIZED (
    SELECT CAST(r.range AS BIGINT) AS bucket, CAST(0 AS DOUBLE) AS w
    FROM range({N_TRAIN_BUCKETS}) r),
b0 AS MATERIALIZED (SELECT CAST(0 AS DOUBLE) AS b)"""
    rounds = ""
    for t in range(1, _TRAIN_ROUNDS + 1):
        p = t - 1
        rounds += f""",
m{t} AS MATERIALIZED (
    SELECT f.doc_id, f.y,
           CAST(SUM(CAST({_rnd9('w.w * f.x')} AS DECIMAL(24,9))) AS DOUBLE)
             + (SELECT b FROM b{p}) AS margin
    FROM featx f JOIN w{p} w USING (bucket) GROUP BY f.doc_id, f.y),
r{t} AS MATERIALIZED (
    SELECT doc_id, y, y - {_rnd9('1.0 / (1.0 + exp(-margin))')} AS resid FROM m{t}),
g{t} AS MATERIALIZED (
    SELECT f.bucket,
           CAST(SUM(CAST({_rnd9('r.resid * f.x')} AS DECIMAL(24,9))) AS DOUBLE) AS g
    FROM featx f JOIN r{t} r USING (doc_id) GROUP BY f.bucket),
w{t} AS MATERIALIZED (
    SELECT w.bucket,
           {_rnd9(f'w.w + {_TRAIN_LR} * COALESCE(g.g, 0) / (SELECT n FROM nd)')} AS w
    FROM w{p} w LEFT JOIN g{t} g USING (bucket)),
b{t} AS MATERIALIZED (
    SELECT {_rnd9(f'(SELECT b FROM b{p}) + {_TRAIN_LR} * '
                  f'(SELECT CAST(SUM(CAST(resid AS DECIMAL(24,9))) AS DOUBLE) FROM r{t})'
                  f' / (SELECT n FROM nd)')} AS b)"""
    final = (
        f"\nSELECT bucket, w FROM w{_TRAIN_ROUNDS} "
        f"UNION ALL SELECT CAST(-1 AS BIGINT), (SELECT b FROM b{_TRAIN_ROUNDS})"
    )
    return common + rounds + final


_TRAIN_ORACLE = _train_oracle()


@_register("text_classifier_train", _TRAIN_ORACLE)
def text_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the quality classifier in the engine: 3 unrolled rounds of
    full-batch logistic-regression gradient descent over mean-centered
    hashed-unigram count features, label = the length-quality gate
    (n_chars ≥ 300) — the learned replacement for Gopher's hand-set
    word-count rule, and the missing half of text_classifier_score
    (which applies a weight table this query produces).  Output is the
    model itself: 64 (bucket, w) rows plus the bias as bucket −1.
    Reaches 93.6% train accuracy vs the 51.2% majority baseline at
    sf0.01 (pinned in tests/test_retrieval.py).  Note the corpus offers
    no LEXICAL signal to learn — all five languages share one synthetic
    vocabulary (text_langid_confusion documents this) — so the
    learnable label is the frequency-profile one.

    Scale: the iterative-fixpoint discipline of operators/graph.py's
    PageRank applied to learning — per round one broadcast join of the
    64-row weight table (a 2M-bucket fastText dim still broadcasts),
    one doc-keyed margin aggregation, one doc-keyed residual join and
    one 64-key gradient aggregation with map-side partials; the feature
    relation is computed once (lazy localCheckpoint) and re-read per
    round.  Full-batch GD is the deterministic choice — production SGD
    samples batches, same plan per step.  Determinism: the pagerank
    trick transplanted to floats — every per-row term is floor-rounded
    at 1e-9 and summed as DECIMAL(24,9) (partition-order-exact), the
    sigmoid's exp runs on identical doubles in both engines, and
    weights/bias are re-rounded every round, so the whole training
    trajectory is bit-identical and the driver hash-checks the final
    MODEL.
    """
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    feat = (
        d.select(
            "doc_id",
            (F.col("n_chars") >= 300).cast("int").alias("y"),
            F.explode(TX.tokens(TX.normalized_text("text"))).alias("tok"),
        )
        .select(
            "doc_id",
            "y",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
                % N_TRAIN_BUCKETS
            ).alias("bucket"),
        )
        .groupBy("doc_id", "y", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .localCheckpoint(eager=False)
    )
    nd = feat.agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    mu = feat.groupBy("bucket").agg(F.sum("tf").cast("bigint").alias("s"))
    featx = (
        feat.join(F.broadcast(mu), "bucket")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "y",
            "bucket",
            round_det(
                F.col("tf").cast("double") - F.col("s").cast("double") / F.col("n"), 9
            ).alias("x"),
        )
        .localCheckpoint(eager=False)
    )
    lr = float(_TRAIN_LR)
    w = spark.range(N_TRAIN_BUCKETS).select(
        F.col("id").cast("bigint").alias("bucket"), F.lit(0.0).alias("w")
    )
    b = spark.range(1).select(F.lit(0.0).alias("b"))
    for _ in range(_TRAIN_ROUNDS):
        m = (
            featx.join(F.broadcast(w), "bucket")
            .groupBy("doc_id", "y")
            .agg(
                F.sum(round_det(F.col("w") * F.col("x"), 9).cast("decimal(24,9)"))
                .cast("double")
                .alias("s")
            )
            .crossJoin(F.broadcast(b))
            .select("doc_id", "y", (F.col("s") + F.col("b")).alias("margin"))
        )
        r = m.select(
            "doc_id",
            (
                F.col("y")
                - round_det(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 9)
            ).alias("resid"),
        )
        g = (
            featx.join(r, "doc_id")
            .groupBy("bucket")
            .agg(
                F.sum(round_det(F.col("resid") * F.col("x"), 9).cast("decimal(24,9)"))
                .cast("double")
                .alias("g")
            )
        )
        gb = r.agg(F.sum(F.col("resid").cast("decimal(24,9)")).cast("double").alias("gs"))
        w = (
            w.join(g, "bucket", "left")
            .crossJoin(F.broadcast(nd))
            .select(
                "bucket",
                round_det(
                    F.col("w") + lr * F.coalesce(F.col("g"), F.lit(0.0)) / F.col("n"), 9
                ).alias("w"),
            )
        )
        b = (
            b.crossJoin(F.broadcast(gb))
            .crossJoin(F.broadcast(nd))
            .select(round_det(F.col("b") + lr * F.col("gs") / F.col("n"), 9).alias("b"))
        )
    return w.unionByName(
        b.select(F.lit(-1).cast("bigint").alias("bucket"), F.col("b").alias("w"))
    )

"""Deduplication operators (SURVEY.md §2k; BASELINE north star).

All pure DataFrame ops; nothing is collected out of the cluster.

- Exact: `exact_keep_first` is a content-hash groupBy.  The ledger
  checks (`dedup_against_seen`, its Bloom prefilter, `snapshot_diff`)
  key on the md5 fingerprint of normalized text.
- Shingles: `_shingles_udf` is the one word-n-gram tokenizer; its
  whitespace class is the cross-engine spec every oracle spells.
- Overlap core: `_shingle_overlap` counts exact shingle intersections
  per sharing pair over posting lists; `ngram_jaccard_pairs` and
  `shingle_containment_pairs` differ only in the final ratio.
- Near-dup stack, built once with the hash family as data.
  `_family` names the hash expressions of each family (the MinHash
  shingle key and member, the band key, the SimHash token hash):
  ``"xx64"`` (xxhash64; fast, Spark-specific values) or ``"md5"``
  (md5-derived, so any engine with md5 reproduces every value and each
  result has a SQL oracle) — the same names as the Bloom prefilter's
  families.
  - band builder: `_bands_from_posts` turns (id, shingle) posts into
    (id, band_id, band_hash); `band_index` is the persistable index.
  - over the bands: `lsh_candidates` (posting-list pairing),
    `neardup_against_index` (batch probe) and `lsh_verified_pairs`
    (candidates + exact Jaccard verify, `_verify_exact_jaccard`).
  - SimHash: `_simhash_signatures` (token hash → ±1 votes → bits);
    `simhash` per document, `simhash_pairs` over band posting lists.
- `prefix_filter_pairs`: the lossless all-pairs audit.
- `all_pairs` is the one sorted-list (i < j) pair combinator.

Design for scale: shuffle keys are hashes/shingles (uniform), and the
only quadratic work is inside a posting list, bounded by its cap.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from dffoo_data_pipeline_spark.functions import text as TX
from dffoo_data_pipeline_spark.functions.text import WS_RE


def exact_keep_first(df: DataFrame, text_col: str, order_col: str) -> DataFrame:
    """Exact dedup keeping the lowest `order_col` row per content hash.

    Deterministic survivor choice (unlike `dropDuplicates`, whose survivor
    depends on partition order — fine for idempotence, wrong for oracles).

    Normalization level is INTENTIONALLY stricter than
    `functions.text.fingerprint_md5`: this hash is md5(lower(trim)) —
    byte-level equality after case/edge-whitespace folding — while the
    fingerprint (used by `dedup_against_seen` / `snapshot_diff`) also
    collapses internal whitespace.  Near-byte-identical dedup and
    content-identity tracking are different strictness tiers; pick the
    hash that matches the question, don't assume they agree on docs
    differing only in internal spacing.
    """
    w = Window.partitionBy(F.md5(F.lower(F.trim(F.col(text_col))))).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _shingles_udf(n: int):
    """Arrow-batched shingler: text → array of distinct word n-grams.

    A pandas UDF, deliberately: the pure-expression form
    (`functions.text.word_shingles`) re-inlines the tokenization into
    every element_at under Catalyst's projection collapse, turning one
    split per document into one split per shingle (~60× slower measured).
    Tokenization here (lower/strip/RE2-\\s+ split) matches the DuckDB
    oracle's `string_split_regex(regexp_replace(lower(trim(text)),
    '\\s+',' '), ' ')` — the cross-engine whitespace spec is RE2's \\s,
    i.e. [ \\t\\n\\r\\f] and NOTHING else (`functions.text.WS_CHARS`).
    It is deliberately NOT Python str.split()'s Unicode whitespace (a
    U+00A0 doc must shingle identically in every engine probing an md5
    band index) and NOT Java \\s either: Java \\s additionally matches
    \\v (0x0B), which RE2 does not (checked against DuckDB), so a \\v
    stays INSIDE a token here, exactly as the oracles keep it.
    Spark-side expression tokenizers spell the same explicit class
    (`functions.text.WS_CLASS`) for the same reason.
    """
    # token regex = the complement of the portable whitespace class;
    # findall avoids the empty-edge tokens a split would need filtering
    tok_re = re.compile(f"[^{WS_RE}]+")
    # str.split() additionally treats \v and \x1c-\x1f (FS/GS/RS/US
    # controls) as separators, which the RE2 spec does not — the fast
    # path must exclude docs containing any of them, not just non-ASCII
    _split_extras = "\x0b\x1c\x1d\x1e\x1f"

    @pandas_udf("array<string>")
    def shingle(texts: pd.Series) -> pd.Series:
        def sh(t: str | None):
            # NULL text shingles to the empty set, NOT a crash: real
            # corpora carry NULL docs, and every shingle consumer
            # (near-dup pairs, band indexes, containment) treats "no
            # shingles" as "participates in nothing" — the same verdict
            # the fingerprint family gives NULL docs.  t.lower() on a
            # NULL would fail every shingle-based query on its first
            # NULL doc.
            if t is None:
                return []
            tl = t.lower()
            # fast path: for pure-ASCII text without \v/FS controls,
            # C-level str.split() is spec-identical to RE2 \s+ and
            # ~40% cheaper than the regex (measured; shingling is the
            # hot loop of every near-dup query)
            if tl.isascii() and not any(c in tl for c in _split_extras):
                w = tl.split()
            else:
                w = tok_re.findall(tl)
            if len(w) < n:
                return []
            seen = dict.fromkeys(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))
            return list(seen)

        return texts.map(sh)

    return shingle


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) rows — distinct word n-grams per document.

    Scale: shingling is per-row, Arrow-batched; the explode multiplies
    rows ~tokens-per-doc× before the downstream hash shuffle.  The scan is
    fanned out first so the UDF stage uses every core even when the input
    is one small file (no-op on a properly-split 100 TB input).

    The shingler is exploded directly, never through a named array
    column: exploding a UDF-computed column lets Catalyst infer
    `size(sh) > 0` below the Generate and push it through the
    projection, which evaluates the Arrow shingler a second time per
    row.  Exploding the UDF expression is exempt from that inference
    (SPARK-36715).  Callers that also need the arrays checkpoint them
    first and explode the checkpointed column (`lsh_verified_pairs`).
    """
    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    df = ensure_min_partitions(df, id_col)
    return df.select(
        F.col(id_col),
        F.explode(_shingles_udf(n)(F.col(text_col))).alias("shingle"),
    )


def all_pairs(col: str) -> Column:
    """Every (i < j) pair of the array column `col` as struct(a, b).

    Over a SORTED array, a < b in every pair, so each unordered pair is
    emitted once and needs no dedup.  The posting-list plans explode
    this inside each list instead of self-joining the list relation:
    pair work stays proportional to the squared list length, and each
    list is read once.
    """
    arr = F.col(col)
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def _shingle_overlap(
    df: DataFrame, id_col: str, text_col: str, n: int, max_doc_frequency: int | None
) -> DataFrame:
    """(doc_a, doc_b, sz_a, sz_b, isect) for every pair sharing ≥1
    shingle, doc_a < doc_b: the distinct shingle counts of both docs and
    their exact intersection size.

    Posting-list plan: one pass shingles each doc and takes |A| inline,
    one shuffle groups (id, |A|) per shingle, pairs come from
    `all_pairs` inside each sorted list, and one more shuffle counts
    |A∩B| per pair.  The shingle subtree has exactly ONE consumer: no
    self-join, so nothing to persist.

    Stop-shingle guard: posting lists longer than `max_doc_frequency`
    are degenerate boilerplate (a shingle shared by 1% of a 100 TB
    corpus makes any pairing quadratic in that bucket) and are dropped
    BEFORE pair generation, which also bounds per-task memory for the
    collected list and the pair fan-out (≤ C(max_df, 2)).  Sizes are
    taken before the explode, so dropped stop shingles still count
    toward |A| and |B|; surviving pairs only lose the stop shingle from
    the intersection, the standard stop-filter semantics.
    """
    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    base = ensure_min_partitions(df, id_col).select(
        F.col(id_col),
        # asNondeterministic: this plan needs BOTH |A| and the exploded
        # shingles from one UDF call, so the array must be a named
        # column, and `_shingle_rows` explains why exploding a named
        # UDF column re-runs the shingler.  The marked expression cannot
        # be duplicated; the shingler runs once and the inferred filter
        # stays above it as a cheap size(attr) check.  The function is
        # pure; `df` is pre-filtered by callers, so no predicate needs
        # to push past it.
        _shingles_udf(n).asNondeterministic()(F.col(text_col)).alias("__sh"),
    )
    posts = base.select(
        F.struct(F.col(id_col).alias("id"), F.size("__sh").alias("sz")).alias("d"),
        F.explode("__sh").alias("shingle"),
    )
    lists = posts.groupBy("shingle").agg(F.array_sort(F.collect_list("d")).alias("ds"))
    if max_doc_frequency is not None:
        lists = lists.where(F.size("ds") <= max_doc_frequency)
    pairs = lists.where(F.size("ds") >= 2).select(F.explode(all_pairs("ds")).alias("p"))
    return pairs.groupBy(
        F.col("p.a.id").alias("doc_a"),
        F.col("p.b.id").alias("doc_b"),
        F.col("p.a.sz").alias("sz_a"),
        F.col("p.b.sz").alias("sz_b"),
    ).agg(F.count(F.lit(1)).alias("isect"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_doc_frequency: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle:
    (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard ≥ `threshold`,
    from `_shingle_overlap` with |A∪B| = |A|+|B|-|A∩B|.

    Testdata max DF is 7 (sf0.01) / 25 (sf0.1), so the default
    stop-shingle guard of 1000 leaves oracle results bit-identical.
    """
    inter = _shingle_overlap(df, id_col, text_col, n, max_doc_frequency)
    jac = F.col("isect") / (F.col("sz_a") + F.col("sz_b") - F.col("isect"))
    return inter.where(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_frequency: int | None = 1000,
) -> DataFrame:
    """Directed near-dup containment: emit (contained, container,
    containment) where containment = |A∩B| / |A| ≥ threshold — the
    asymmetric complement of Jaccard.  A short document fully embedded in
    a longer one scores containment ≈ 1 while its Jaccard stays low
    (|A∪B| is dominated by the long side), so symmetric dedup never sees
    it; this is the quote/excerpt/wrapper-page detector.

    Same overlap core as `ngram_jaccard_pairs`; only the final ratio
    differs: each undirected intersection row fans out to ≤2 directed
    rows, filtered by isect/|A| ≥ threshold.
    """
    inter = _shingle_overlap(df, id_col, text_col, n, max_doc_frequency)
    directed = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("contained"),
                    F.col("doc_b").alias("container"),
                    (F.col("isect") / F.col("sz_a")).alias("c"),
                ),
                F.struct(
                    F.col("doc_b").alias("contained"),
                    F.col("doc_a").alias("container"),
                    (F.col("isect") / F.col("sz_b")).alias("c"),
                ),
            )
        ).alias("d")
    ).select("d.contained", "d.container", "d.c")
    return directed.where(F.col("c") >= threshold).select(
        "contained", "container", F.round("c", 4).alias("containment")
    )


def _family(family: str):
    """(shingle_key, member, band_key, token_hash) of a near-dup hash
    family.

    - member(shingle_key(s), i): the i-th MinHash member of shingle s;
      a document's signature entry i is its MIN over the doc's
      shingles.  The key is computed once per shingle and shared by
      all members.
    - band_key(cols): the key of one band's signature slice.
    - token_hash(tok): the SimHash hash of one token, a bigint whose
      low bits vote.

    ``xx64``: key = xxhash64(s), member = xxhash64(key, i) — one string
    hash per shingle, then fixed-width JVM mixing of a long, ~60×
    cheaper than hashing the string per member, and ANSI-safe (xxhash64
    never overflows); band key = xxhash64 over the slice; token hash =
    xxhash64.  The values are Spark-specific.

    ``md5``: key = s, member = md5('<i>:' || s), a lowercase hex
    string whose string MIN is the signature entry; band key = md5 of
    the '|'-joined slice; token hash = the top 60 bits of md5 as a bigint
    (`conv(substr(md5(tok),1,15),16,10)`; DuckDB spells it
    `CAST('0x'||substr(md5(tok),1,15) AS BIGINT)`).  Any engine with
    md5 reproduces every value, so every result has a SQL oracle and a
    persisted md5 band index can be probed by another engine.  md5 per
    shingle costs ~2× xxhash64.
    """
    if family == "xx64":
        return (
            F.xxhash64,
            lambda k, i: F.xxhash64(k, F.lit(i)),
            lambda cols: F.xxhash64(*cols),
            F.xxhash64,
        )
    if family == "md5":
        return (
            lambda s: s,
            lambda s, i: F.md5(F.concat(F.lit(f"{i}:"), s)),
            lambda cols: F.md5(F.concat_ws("|", *cols)),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
    raise ValueError(f"unknown near-dup hash family {family!r} (xx64 or md5)")


def _bands_from_posts(
    posts: DataFrame, id_col: str, num_hashes: int, bands: int, family: str
) -> DataFrame:
    """(id, band_id, band_hash) from an exploded (id, shingle) posting
    frame: the per-doc MinHash signature is `num_hashes` column-wise
    MINs in one grouped aggregation (map-side partial combine), cut into
    `bands` slices of num_hashes/bands members, each keyed by the
    family's band key.  ``band_hash`` is a bigint under ``xx64`` and an
    md5 hex string under ``md5``.

    Takes POSTS, not text: a caller holding checkpointed shingle arrays
    (`lsh_verified_pairs`, which also needs them for its verify join)
    feeds them here without a second Arrow shingler pass.  A ragged
    split (bands not dividing num_hashes) is refused rather than
    silently dropping the trailing hashes from every band key.
    """
    shingle_key, member, band_key, _ = _family(family)
    if bands <= 0 or num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of bands "
            f"({bands}): a ragged split would silently drop the trailing "
            f"{num_hashes % bands if bands > 0 else num_hashes} hashes from every "
            "band key, quietly weakening recall instead of failing loudly"
        )
    rows = num_hashes // bands
    # the key takes the shingle's place; an identity key (md5) leaves a
    # no-op projection that the optimizer removes
    keyed = posts.select(id_col, shingle_key(F.col("shingle")).alias("shingle"))
    sig = keyed.groupBy(id_col).agg(
        *[F.min(member(F.col("shingle"), i)).alias(f"h{i}") for i in range(num_hashes)]
    )
    keys = [
        F.struct(
            F.lit(b).alias("band_id"),
            band_key([F.col(f"h{b * rows + r}") for r in range(rows)]).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sig.select(id_col, F.explode(F.array(*keys)).alias("band")).select(
        id_col, "band.band_id", "band.band_hash"
    )


def band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    family: str = "xx64",
) -> DataFrame:
    """The PERSISTABLE near-dup index: (id, band_id, band_hash) per
    document.  A continuous ingest pipeline writes it once per corpus
    snapshot (hash-bucketed on the band key — `sources/writers.
    write_bucketed`) and probes each batch against it with
    `neardup_against_index(index_bands=...)`, so only the batch is
    shingled and hashed per run and the probe join shuffles the batch
    side only.  An ``md5`` index can be rebuilt or probed by any engine
    with md5.

    Defaults: 16 bands × 4 rows over 64 hashes put ~50% capture at
    Jaccard ≈ (1/16)^(1/4) ≈ 0.5.
    """
    return _bands_from_posts(
        _shingle_rows(df, id_col, text_col, n), id_col, num_hashes, bands, family
    )


def _candidates_from_posts(
    posts: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    family: str,
    max_bucket: int | None,
) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands), doc_a < doc_b, for every pair
    sharing ≥1 band key: doc ids are grouped per (band_id, band_hash)
    bucket, paired by `all_pairs` inside each sorted list, and the
    shared bands counted per pair.  Callers that want distinct pairs
    select doc_a, doc_b (the count is then pruned away).

    Scale: one shuffle on the band key, then one on the pair.
    Quadratic work exists only inside a bucket; `max_bucket` drops
    degenerate buckets (boilerplate shared by >1000 docs would pair
    quadratically and is better handled by exact dedup first).
    """
    banded = _bands_from_posts(posts, id_col, num_hashes, bands, family)
    lists = banded.groupBy("band_id", "band_hash").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("ids")
    )
    lists = lists.where(F.size("ids") >= 2)
    if max_bucket is not None:
        lists = lists.where(F.size("ids") <= max_bucket)
    pairs = lists.select(F.explode(all_pairs("ids")).alias("p"))
    return pairs.groupBy(
        F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
    ).agg(F.count(F.lit(1)).alias("n_shared_bands"))


def lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = 1000,
    family: str = "xx64",
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, WITHOUT a verify:
    (doc_a, doc_b, n_shared_bands) — the raw S-curve output, for quality
    measurement and for pipelines that verify downstream.  Testdata
    buckets hold ≤7 docs, far under the `max_bucket` guard."""
    return _candidates_from_posts(
        _shingle_rows(df, id_col, text_col, n),
        id_col, num_hashes, bands, family, max_bucket,
    )


def _band_domain_guard(index_bands: DataFrame, bands: int) -> DataFrame:
    """`index_bands` unchanged, but refused at action time unless its
    band_id domain is exactly range(`bands`).  Every indexed doc emits
    one row per band, so a non-empty index built with `bands` bands has
    exactly `bands` distinct ids, min 0 and max bands-1; an empty index
    has nothing to collide with and passes.  The check is a 1-row
    asserted aggregate (map-side combined over one int column),
    broadcast-crossJoined onto the index, so building the probe runs no
    job."""
    nd, lo, hi = F.col("__nd"), F.col("__bmin"), F.col("__bmax")
    ok = (nd == 0) | ((nd == bands) & (lo == 0) & (hi == bands - 1))
    msg = F.format_string(
        f"index band_id domain (%d ids in [%s, %s]) != range({bands}): the "
        "persisted index was built with a different `bands` (probe params "
        "must equal the index build params)",
        nd, lo, hi,
    )
    guard = (
        index_bands.agg(
            F.count_distinct("band_id").alias("__nd"),
            F.min("band_id").alias("__bmin"),
            F.max("band_id").alias("__bmax"),
        )
        .where(F.assert_true(ok, msg).isNull())
        .select(F.lit(1).alias("__band_domain_checked"))
    )
    return index_bands.crossJoin(F.broadcast(guard)).drop("__band_domain_checked")


def neardup_against_index(
    new_df: DataFrame,
    index_df: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    index_bands: DataFrame | None = None,
    validate_index: bool = True,
    family: str = "xx64",
) -> DataFrame:
    """Probe a NEW batch against an existing corpus — the incremental
    near-dup shape of a continuous crawl.  Pass exactly one of
    ``index_df`` (raw documents, banded here per run) or ``index_bands``
    (a `band_index` table, typically persisted hash-bucketed on the band
    key: it is neither re-shingled nor re-shuffled, since its bucketed
    scan satisfies the probe join's distribution, so only the batch
    side exchanges).

    Returns one row per new document: (id, matched_id, n_shared_bands,
    novel) — matched_id is the strongest index match (most shared bands,
    ties to the smallest id), NULL + novel=1 when no band collides.

    **The probe's (n, num_hashes, bands, family) MUST equal the index's
    build parameters**: band hashes from another signature family never
    collide, and every batch document would silently report novel=1.
    With ``validate_index=True`` an ``index_bands`` probe checks the one
    parameter observable from the data, the band_id domain
    (`_band_domain_guard`), at action time.  A wrong n/num_hashes is not
    detectable from band hashes alone; co-version those with the index
    (`dedup_incremental_indexed` checks them from table properties).
    Pass ``validate_index=False`` for repeat probes against an
    already-validated index.

    Scale: the probe joins on (band_id, band_hash) — batch-sized × the
    colliding slice of the index, never index × index.
    """
    if (index_df is None) == (index_bands is None):
        raise ValueError("pass exactly one of index_df (raw docs) or index_bands "
                         "(a persisted band_index table)")
    probe = _bands_from_posts(
        _shingle_rows(new_df, id_col, text_col, n), id_col, num_hashes, bands, family
    )
    if index_bands is None:
        index_bands = band_index(index_df, id_col, text_col, n, num_hashes, bands, family)
    elif validate_index:
        index_bands = _band_domain_guard(index_bands, bands)
    idx = index_bands.select(F.col(id_col).alias("matched_id"), "band_id", "band_hash")
    hits = (
        probe.join(idx, ["band_id", "band_hash"])
        .groupBy(id_col, "matched_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("n_shared_bands").desc(), F.col("matched_id")
    )
    best = (
        hits.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    # one row per NEW document — from the batch itself, not the probe
    # table: a doc shorter than the shingle width yields zero shingles,
    # never reaches the signature stage, and must still come back as
    # novel=1 (dropping it would silently lose the doc from a pipeline
    # that appends novel rows to the corpus index)
    ids = new_df.select(id_col).distinct()
    return ids.join(best, id_col, "left").select(
        id_col,
        "matched_id",
        F.coalesce("n_shared_bands", F.lit(0)).cast("bigint").alias("n_shared_bands"),
        F.col("matched_id").isNull().cast("int").alias("novel"),
    )


def _simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, sig_bits: int, family: str
) -> DataFrame:
    """(id, sig): a `sig_bits`-bit SimHash per document.  Per token
    OCCURRENCE the family's token hash votes +1 on each of its low
    `sig_bits` bits that is set and -1 on each that is clear
    (frequency-weighted); signature bit k is 1 iff vote sum k is
    strictly positive.  With sig_bits=64, bit 63 is the sign bit of the
    bigint.  The votes are one grouped aggregation over the exploded
    token stream (map-side-combined sums)."""
    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    token_hash = _family(family)[3]
    toks = ensure_min_partitions(df, id_col).select(
        F.col(id_col),
        F.explode(TX.tokens(TX.normalized_text(F.col(text_col)))).alias("tok"),
    ).withColumn("th", token_hash(F.col("tok")))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{i}")
            for i in range(sig_bits)
        ]
    )
    bits = [
        F.when(F.col(f"v{i}") > 0, F.lit(1 << i if i < 63 else -(1 << 63)).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        for i in range(sig_bits)
    ]
    return votes.select(id_col, sum(bits[1:], bits[0]).alias("sig"))


def _sig_bands(sig: Column, sig_bits: int, bands: int) -> list[Column]:
    """The `bands` consecutive (sig_bits/bands)-bit slices of `sig`,
    lowest first.  Two signatures within hamming distance < bands agree
    on at least one slice (pigeonhole), so pairing by slice is complete
    for that distance.  A ragged split is refused: it would leave the
    top bits outside every band and void that guarantee."""
    if bands <= 0 or sig_bits % bands:
        raise ValueError(
            f"sig_bits ({sig_bits}) must be a positive multiple of bands "
            f"({bands}): a ragged band split leaves the top "
            f"{sig_bits % bands if bands > 0 else sig_bits} signature bits outside "
            "every band, silently voiding the pigeonhole completeness guarantee "
            "for hamming <= bands-1"
        )
    width = sig_bits // bands
    return [
        F.shiftrightunsigned(sig, width * b).bitwiseAND(F.lit((1 << width) - 1))
        for b in range(bands)
    ]


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash64, band_0..band_3): the 64-bit ``xx64`` SimHash per
    document (`_simhash_signatures`) and its four 16-bit band keys."""
    sig = _simhash_signatures(df, id_col, text_col, 64, "xx64")
    return sig.select(
        id_col,
        F.col("sig").alias("simhash64"),
        *[c.alias(f"band_{b}") for b, c in enumerate(_sig_bands(F.col("sig"), 64, 4))],
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sig_bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    family: str = "xx64",
) -> DataFrame:
    """SimHash near-dup pairs (doc_a, doc_b, hamming), doc_a < doc_b:
    candidates share ≥1 of the `bands` signature slices (`_sig_bands`;
    complete for hamming ≤ bands−1 by pigeonhole) and are verified with
    exact bit_count(sig_a XOR sig_b) ≤ `max_hamming`.  Under ``md5``
    every step is integer/string arithmetic any engine evaluates
    identically, so the pair set has a full SQL oracle.

    Scale: one grouped aggregation over the exploded token stream, one
    shuffle on the band bucket, pairs from `all_pairs` inside each
    bucket, an exact popcount on 8-byte signatures.  A pair sharing
    several bands is emitted only by the LOWEST band it shares (the
    first all-zero slice of sig_a XOR sig_b), so no distinct shuffle
    is needed.  Band cardinality is 2^(sig_bits/bands) (65536 at 64/4,
    4096 at 48/4); at corpus scale pass `max_bucket` to drop degenerate
    buckets (boilerplate collapses many docs onto one band value; such
    docs are better handled by exact dedup first).  A pair whose lowest
    shared band is dropped is not emitted.  The registered queries
    leave it None so the oracle, which has no guard, stays the exact
    twin.
    """
    slices = _sig_bands(F.col("sig"), sig_bits, bands)
    sig = _simhash_signatures(df, id_col, text_col, sig_bits, family)
    banded = sig.select(
        F.col(id_col).alias("id"),
        "sig",
        F.posexplode(F.array(*slices)).alias("band_id", "band_val"),
    )
    lists = banded.groupBy("band_id", "band_val").agg(
        F.array_sort(F.collect_list(F.struct("id", "sig"))).alias("ds")
    ).where(F.size("ds") >= 2)
    if max_bucket is not None:
        lists = lists.where(F.size("ds") <= max_bucket)
    pairs = lists.select("band_id", F.explode(all_pairs("ds")).alias("p"))
    xor = F.col("p.a.sig").bitwiseXOR(F.col("p.b.sig"))
    lowest = F.array_min(  # array_min skips the NULLs of unequal slices
        F.array(*[F.when(c == 0, b) for b, c in enumerate(_sig_bands(xor, sig_bits, bands))])
    )
    return pairs.where(lowest == F.col("band_id")).select(
        F.col("p.a.id").alias("doc_a"),
        F.col("p.b.id").alias("doc_b"),
        F.bit_count(xor).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def dedup_against_seen(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fp",
) -> tuple[DataFrame, DataFrame]:
    """Incremental ingest dedup: split a NEW batch into (novel, duplicate)
    against the fingerprint set of everything already ingested — the
    operation a daily corpus pipeline runs, where re-deduping the full
    100 TB corpus per batch is off the table.

    `seen_fingerprints` needs one column `fp_col` (md5 of normalized
    text, as produced by functions.text.fingerprint_md5 — append each
    batch's novel fingerprints to it after the run).  The seen set is
    corpus-cumulative (huge): this is a shuffle anti/semi join on the
    fingerprint, NOT a broadcast — Spark's runtime bloom-filter injection
    (pinned in tests/test_scale_behaviors.py) prunes most novel rows
    before the shuffle when the seen side is filterable.
    """
    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    stamped = new_docs.withColumn(fp_col, fingerprint_md5(text_col))
    seen = seen_fingerprints.select(fp_col)
    novel = stamped.join(seen, fp_col, "left_anti")
    dupes = stamped.join(seen, fp_col, "left_semi")
    return novel, dupes


def _bloom_positions(col, num_bits: int, num_hashes: int, family: str = "xx64"):
    """The ``num_hashes`` bit positions of one fingerprint, per hash
    family.  ``xx64`` (default): seeded xxhash64 — fastest, JVM-side,
    Spark-specific values.  ``md5``: positions are parsed straight out of
    the md5 fingerprint's own hex (bit_i = int(fp[8i:8i+8], 16) mod
    num_bits, so ≤4 probes from 32 hex chars) — any engine with md5 and
    hex parsing reproduces the positions bit-for-bit, which makes the
    BITMAP ARTIFACT itself (and every membership answer, false positives
    included) value-hash oracle-able and probe-able outside Spark: the
    Bloom member of the ``md5`` near-dup family (`_family`)."""
    if family == "xx64":
        return [
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    if family == "md5":
        if num_hashes > 4:
            raise ValueError(
                f"md5 bloom family supports at most 4 probes "
                f"(32 hex chars / 8 per position), got {num_hashes}"
            )
        return [
            F.pmod(
                F.conv(F.substring(col, 1 + 8 * i, 8), 16, 10).cast("bigint"),
                F.lit(num_bits),
            )
            for i in range(num_hashes)
        ]
    raise ValueError(f"unknown bloom family {family!r} (xx64 or md5)")


# seed column for shard ROUTING — outside [0, num_hashes), so the shard
# hash is independent of every bit-position hash (a shared seed would
# correlate shard membership with bit 0, biasing per-shard fill)
_BLOOM_SHARD_SEED = -1


def _bloom_shard_of(col, shards: int, family: str = "xx64"):
    """Shard router.  ``xx64``: seeded xxhash64.  ``md5``: the first 8
    hex chars of a FRESH md5 over the fingerprint string, mod ``shards``.
    Re-hashing — rather than reusing one of the fp's own four 8-hex
    probe windows — keeps the routing value statistically independent
    of the bit positions: with power-of-two shards and num_bits, a
    window-reusing router would fix ``position % shards`` per shard and
    concentrate that probe's bits on 1/shards of each bitmap.  Any
    md5-capable engine reproduces the routing bit-for-bit (DuckDB:
    ``('0x' || substr(md5(fp), 1, 8))::BIGINT % shards``), so the
    sharded bitmap artifact is cross-engine too.  A NULL fingerprint
    routes to a NULL shard under ``md5``."""
    if family == "md5":
        return F.pmod(
            F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint"),
            F.lit(shards),
        )
    if family != "xx64":
        raise ValueError(f"unknown bloom family {family!r} (xx64 or md5)")
    return F.pmod(F.xxhash64(col, F.lit(_BLOOM_SHARD_SEED)), F.lit(shards))


# the build parameters every bitmap row carries: a probe or union with a
# different routing modulus, geometry or family would test bits the
# build never set (silent false negatives), so each use compares them
_BLOOM_STAMP = ("bloom_shards", "bloom_num_bits", "bloom_num_hashes", "bloom_family")


def bloom_bitmap(
    fingerprints: DataFrame,
    *,
    fp_col: str = "fp",
    shards: int = 1,
    num_bits: int = 1 << 16,
    num_hashes: int = 4,
    family: str = "xx64",
) -> DataFrame:
    """Aggregate a fingerprint ledger into a sharded, packed Bloom bitmap:
    exactly one row per shard id in ``[0, shards)``, with columns
    ``shard``, ``bloom`` (array of ``num_bits // 64`` longs; bit ``b``
    lives at ``bloom[b div 64]`` position ``b mod 64``), the stamps
    ``bloom_shards``, ``bloom_num_bits``, ``bloom_num_hashes``,
    ``bloom_family``, and ``bloom_fill_ratio`` (popcount/num_bits).

    Each fingerprint routes to one shard (`_bloom_shard_of`) and sets
    its ``num_hashes`` positions (`_bloom_positions`) in that shard's
    row.  A shard that receives no fingerprint gets the all-zeros row,
    so the relation is dense and a missing row always means corruption.
    The fold is one shuffle on (shard, word) with map-side ``bit_or``
    partials, then one on shard; nothing is collected to the driver.
    A NULL fingerprint under ``md5`` derives no positions and sets no
    bit; the probe answers it not-seen, as the exact anti-join does.

    Sizing is the caller's job; an under-sized bitmap is correct but
    useless.  For ``n`` distinct fingerprints at false-positive rate
    ``fpp``, give each shard ``num_bits ≈ 1.44·(n/shards)·log2(1/fpp)``
    (≈ 9.6 bits per fingerprint at 1%) and ``num_hashes ≈ 0.69 ·
    num_bits·shards/n``.  A well-sized bitmap sits near 50% fill; probes
    refuse any shard past ``max_fill`` (see `bloom_probe`).  One row
    must fit a broadcast and a driver row, which bounds ``num_bits`` to
    about 10^9 (128 MiB); past that, raise ``shards``, which grows the
    capacity at constant row size."""
    if num_bits % 64:
        raise ValueError(f"num_bits must be a multiple of 64, got {num_bits}")
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    keys = ["shard"] if shards > 1 else []
    bits = fingerprints.select(
        _bloom_shard_of(F.col(fp_col), shards, family).alias("shard"),
        F.explode(
            F.array(*_bloom_positions(F.col(fp_col), num_bits, num_hashes, family))
        ).alias("bit"),
    ).where(F.col("bit").isNotNull())  # NULL map keys are refused by Spark
    masks = bits.select(
        *keys,
        F.floor(F.col("bit") / 64).cast("int").alias("word_idx"),
        # shiftleft's Python wrapper only takes int positions; the SQL
        # expression form takes any int expression
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(bit, 64) AS INT))").alias(
            "mask"
        ),
    )
    if keys:
        # a zero mask in word 0 of every shard id: a shard that receives
        # no fingerprint folds to the all-zeros row instead of no row
        masks = masks.unionByName(
            fingerprints.sparkSession.range(shards).select(
                F.col("id").alias("shard"),
                F.lit(0).alias("word_idx"),
                F.lit(0).cast("bigint").alias("mask"),
            )
        )
    # with no keys the fold is a global aggregate: one row even over no
    # input, and a one-row size estimate for the plans that join it
    words = masks.groupBy(*keys, "word_idx").agg(F.bit_or("mask").alias("word"))
    return (
        words.groupBy(*keys)
        .agg(
            F.map_from_entries(F.collect_list(F.struct("word_idx", "word"))).alias("m")
        )
        .select(
            F.col("shard") if keys else F.lit(0).cast("bigint").alias("shard"),
            F.expr(
                f"transform(sequence(0, {num_bits // 64 - 1}),"
                " i -> coalesce(try_element_at(m, i), CAST(0 AS BIGINT)))"
            ).alias("bloom"),
            F.lit(shards).alias("bloom_shards"),
            F.lit(num_bits).alias("bloom_num_bits"),
            F.lit(num_hashes).alias("bloom_num_hashes"),
            F.lit(family).alias("bloom_family"),
        )
        .withColumn("bloom_fill_ratio", _bloom_fill_ratio("bloom"))
    )


def _bloom_fill_ratio(bloom_col: str):
    """popcount/num_bits of a packed bitmap array, as a pure column
    expression (num_bits is derivable: 64 · size(array)).  ~0.5 is the
    optimal Bloom operating point; beyond it the filter saturates."""
    return (
        F.expr(
            f"aggregate(transform({bloom_col}, w -> bit_count(w)),"
            " 0, (acc, x) -> acc + x)"
        )
        / (F.size(F.col(bloom_col)) * F.lit(64))
    ).cast("double")


def _bloom_stats(bitmap: DataFrame, prefix: str = "") -> DataFrame:
    """One row of facts about a bitmap relation: its sorted shard ids,
    its lowest and highest stamp, its shortest and longest word array,
    and its worst fill ratio.  A global aggregate, so it has one row
    even over an empty (or statically empty) relation — the refusal it
    feeds cannot be optimized away."""
    stamp = f"struct({', '.join(_BLOOM_STAMP)})"
    return bitmap.agg(
        F.expr(f"array_sort(collect_list(shard)) AS {prefix}ids"),
        F.expr(f"min({stamp}) AS {prefix}lo"),
        F.expr(f"max({stamp}) AS {prefix}hi"),
        F.expr(f"min(size(bloom)) AS {prefix}wlo"),
        F.expr(f"max(size(bloom)) AS {prefix}whi"),
        F.expr(f"max(bloom_fill_ratio) AS {prefix}fill"),
    )


def _bloom_refusal(who: str, expect: str, max_fill: float = 1.0, prefix: str = ""):
    """Why the bitmap summarized by `_bloom_stats` must not be used, or
    NULL when it may.  In order: a duplicate shard row (it would fan its
    shard's batch rows out N×); a missing row or an id outside
    ``[0, bloom_shards)`` (a missing row would answer "proven novel" for
    every fingerprint routed there — dropped duplicates); a stamp other
    than ``expect`` (a SQL struct expression) on any row; a word array
    other than ``bloom_num_bits/64`` long on any row (with ANSI off a
    short row reads its missing words as "not seen" — dropped
    duplicates; with ANSI on the probe dies on an index error); a shard
    filled past ``max_fill`` (a saturated bitmap answers "maybe" for
    nearly everything: correct, but the prefilter stops pruning, which
    should fail loud, not slow).  One SQL expression: built column by column,
    the chain took about 0.06 s more driver time per probe."""
    ids, lo, hi, wlo, whi, fill = (
        prefix + c for c in ("ids", "lo", "hi", "wlo", "whi", "fill")
    )
    dup = (
        f"{who} must be a single row per shard id: duplicate shard rows "
        "(%d rows for %d shard ids)"
    )
    gap = (
        f"{who} must be a single row per shard id in [0, %s): got %d rows with "
        "shard ids %s..%s — build with bloom_bitmap, merge with bloom_union"
    )
    stamp = f"{who} stamp mismatch: expected %s, rows carry %s to %s"
    words = (
        f"{who} word count mismatch: bloom_num_bits=%d needs %d words per row, "
        "rows carry %d to %d — build with bloom_bitmap, merge with bloom_union"
    )
    full = (
        f"{who} saturated: worst shard fill_ratio=%.4f > max_fill={max_fill} — "
        "the prefilter would answer maybe for nearly everything; rebuild with "
        "num_bits ≈ 1.44·(n/shards)·log2(1/fpp) or more shards"
    )
    # density is checked first, against the rows' own stamp
    return F.expr(
        f"CASE WHEN size(array_distinct({ids})) != size({ids}) THEN format_string("
        f"'{dup}', size({ids}), size(array_distinct({ids}))) "
        f"WHEN NOT coalesce({ids} = sequence(0, {hi}.bloom_shards - 1), false) "
        f"THEN format_string('{gap}', {hi}.bloom_shards, size({ids}), "
        f"array_min({ids}), array_max({ids})) "
        f"WHEN NOT coalesce({lo} = {expect} AND {hi} = {expect}, false) THEN "
        f"format_string('{stamp}', to_json({expect}), to_json({lo}), to_json({hi})) "
        f"WHEN NOT coalesce({wlo} = {hi}.bloom_num_bits DIV 64 "
        f"AND {whi} = {hi}.bloom_num_bits DIV 64, false) THEN format_string("
        f"'{words}', {hi}.bloom_num_bits, {hi}.bloom_num_bits DIV 64, {wlo}, {whi}) "
        f"WHEN {fill} > CAST({float(max_fill)!r} AS DOUBLE) "
        f"THEN format_string('{full}', {fill}) END"
    )


def bloom_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two `bloom_bitmap` results shard by shard — the daily
    ledger-maintenance step: yesterday's bitmap ∪ a fold of ONLY today's
    novel fingerprints equals a rebuild over the whole ledger
    (bit-exact, pinned by test), so the cumulative ledger is never
    re-scanned.  Each side must pass the probe's row checks against its
    own stamp (one row per shard id, one stamp), and the two stamps must
    agree; otherwise the union is refused at action time.  Merged rows
    are re-stamped with their own fill ratios (OR-ing raises popcount).
    If BOTH sides are statically empty the union is an empty relation,
    which every probe refuses."""
    l_hi, r_hi = F.col("l_hi"), F.col("r_hi")
    refusal = F.coalesce(
        _bloom_refusal("bloom_union: left side", "l_hi", prefix="l_"),
        _bloom_refusal("bloom_union: right side", "r_hi", prefix="r_"),
        F.when(
            l_hi != r_hi,
            F.format_string(
                "bloom_union: mismatched bitmap geometries (left %s, right %s)",
                F.to_json(l_hi),
                F.to_json(r_hi),
            ),
        ),
    )
    guard = (
        _bloom_stats(a, "l_")
        .crossJoin(_bloom_stats(b, "r_"))
        .where(F.assert_true(refusal.isNull(), refusal).isNull())
        .select(l_hi.alias("stamp"))
    )
    # full outer, not inner: with one side statically empty the join
    # reduces to the other side, so the guard below still runs and refuses
    merged = (
        a.select("shard", "bloom")
        .join(b.select("shard", F.col("bloom").alias("__b2")), "shard", "full_outer")
        .crossJoin(F.broadcast(guard))
    )
    return merged.select(
        "shard",
        F.zip_with("bloom", "__b2", lambda x, y: x.bitwiseOR(y)).alias("bloom"),
        "stamp.*",
    ).withColumn("bloom_fill_ratio", _bloom_fill_ratio("bloom"))


def bloom_might_contain(
    col,
    bloom_col,
    *,
    num_bits: int = 1 << 16,
    num_hashes: int = 4,
    family: str = "xx64",
):
    """Membership test against a ``bloom_bitmap`` array column, as a pure
    column expression (no UDF): ``num_hashes`` probes from the bitmap's
    hash ``family`` (seeded xxhash64, or md5-hex-derived for the
    portable family — see `_bloom_positions`), each testing one bit via
    ``getbit``.  False positives possible, false negatives impossible —
    a ``false`` answer is PROOF of absence, so the caller may skip the
    exact check for those rows.  Bit positions are ``pmod(..., num_bits)``
    < num_bits by construction, so the 0-based array index never goes
    out of bounds (ANSI-safe)."""
    cond = F.lit(True)
    for bit in _bloom_positions(col, num_bits, num_hashes, family):
        word = bloom_col[F.floor(bit / 64).cast("int")]
        cond = cond & (F.getbit(word, F.pmod(bit, F.lit(64))) == 1)
    return cond


def bloom_probe(
    batch: DataFrame,
    bitmap: DataFrame,
    *,
    fp_col: str = "fp",
    shards: int = 1,
    num_bits: int = 1 << 16,
    num_hashes: int = 4,
    family: str = "xx64",
    max_fill: float = 0.55,
    broadcast: bool = True,
) -> DataFrame:
    """``batch`` plus a boolean ``maybe_seen``: the Bloom verdict of each
    row's ``fp_col`` against a `bloom_bitmap` result.  ``false`` is proof
    that the fingerprint is not in the ledger; ``true`` means it may be
    (a true duplicate or a false positive).  A NULL fingerprint the
    family cannot place answers ``false``, as the exact anti-join does.

    Each batch row equi-joins its shard's row on the shard id, so it
    reads only that shard's words.  The bitmap relation (all shards ×
    ``num_bits``/8 bytes) is broadcast by default; past about 1 GiB in
    total, pass ``broadcast=False`` to run the same join as a shuffle
    (same answers, same refusals).

    The bitmap is refused at action time, never probed, when any shard
    row is missing or duplicated, an id lies outside ``[0, shards)``,
    any row's stamp differs from this probe's shards, num_bits,
    num_hashes or family, or any shard is filled past ``max_fill``.
    The default 0.55 sits just above the 50% design fill, so a
    correctly sized bitmap is not refused on noise, while the false
    positive rate (≈ fill^k) stays under twice the design rate."""
    expect = (
        f"named_struct('bloom_shards', {int(shards)}, 'bloom_num_bits', "
        f"{int(num_bits)}, 'bloom_num_hashes', {int(num_hashes)}, "
        f"'bloom_family', '{family}')"
    )
    refusal = _bloom_refusal("bloom bitmap", expect, max_fill)
    guard = _bloom_stats(bitmap).where(
        F.assert_true(refusal.isNull(), refusal).isNull()
    )
    # the guard rides in the bitmap relation as one extra row with shard
    # -1, which no batch row joins: it is evaluated by the same broadcast,
    # and a statically empty bitmap cannot prune it away.  (A NULL shard
    # would not do: the join's inferred isnotnull filter prunes it.)
    rhs = bitmap.select(F.col("shard").alias("__shard"), "bloom").unionByName(
        guard.select(
            F.lit(-1).cast("bigint").alias("__shard"),
            F.lit(None).cast("array<bigint>").alias("bloom"),
        )
    )
    return (
        batch.withColumn("__shard", _bloom_shard_of(F.col(fp_col), shards, family))
        .join(F.broadcast(rhs) if broadcast else rhs, "__shard", "left")
        .withColumn(
            "maybe_seen",
            F.coalesce(
                bloom_might_contain(
                    F.col(fp_col),
                    F.col("bloom"),
                    num_bits=num_bits,
                    num_hashes=num_hashes,
                    family=family,
                ),
                F.lit(False),
            ),
        )
        .drop("bloom", "__shard")
    )


def dedup_against_seen_bloom(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fp",
    shards: int = 1,
    num_bits: int = 1 << 16,
    num_hashes: int = 4,
    bitmap: DataFrame | None = None,
    max_fill: float = 0.55,
    family: str = "xx64",
    broadcast: bool = True,
) -> DataFrame:
    """`dedup_against_seen` behind an explicit Bloom prefilter — the
    steady-state ingest shape when the seen ledger is so much larger
    than the daily batch that Spark's runtime-injected bloom filter is
    left on the table (it only fires when the join's creation-side scan
    is cheap; a 100 TB ledger's isn't).

    Plan: the ledger folds into a `bloom_bitmap`, the batch is stamped
    with ``fp_col`` and probed (`bloom_probe`); rows the Bloom answers
    "not seen" are PROVEN novel and never reach the exact join; only the
    "maybe" remainder (true dupes + the fpp sliver) pays the shuffle
    anti-join against the ledger.  Returns the NOVEL rows stamped with
    ``fp_col``.  The Bloom never changes the answer, only how much of
    the batch pays the exact join, so the result equals the plain
    anti-join's.

    Pass a pre-built ``bitmap`` (a `bloom_bitmap` result with the same
    ``shards``, ``num_bits``, ``num_hashes`` and ``family``) to amortize
    the ledger fold across batches; `bloom_probe` lists what is refused.

    Eager work at construction: the ledger fingerprints, the bitmap
    (when not passed in) and the probed batch are each staged with
    ``localCheckpoint(eager=False)``.  Under adaptive query execution,
    the session default, such a checkpoint still runs every shuffle and
    broadcast stage of its plan when it is taken; only its final stage
    waits for the first action.  So constructing this operator runs
    Spark jobs (4 on a small input with AQE on, 1 with it off, whatever
    ``shards`` is; pinned in tests/test_dedup.py)."""
    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    if bitmap is None:
        # the ledger fp relation feeds the bitmap fold AND the exact
        # anti-join, and the bitmap feeds the probe AND its guard: stage
        # both, so the ledger is fingerprinted and folded once
        if not seen_fingerprints.isStreaming:
            seen_fingerprints = seen_fingerprints.localCheckpoint(eager=False)
        bitmap = bloom_bitmap(
            seen_fingerprints,
            fp_col=fp_col,
            shards=shards,
            num_bits=num_bits,
            num_hashes=num_hashes,
            family=family,
        ).localCheckpoint(eager=False)
    stamped = bloom_probe(
        new_docs.withColumn(fp_col, fingerprint_md5(text_col)),
        bitmap,
        fp_col=fp_col,
        shards=shards,
        num_bits=num_bits,
        num_hashes=num_hashes,
        family=family,
        max_fill=max_fill,
        broadcast=broadcast,
    )
    # the probed batch feeds both verdict branches; staged, the batch
    # scan, md5 and probe run once.  Streaming frames cannot be staged
    # (foreachBatch callers pass batch frames)
    if not stamped.isStreaming:
        stamped = stamped.localCheckpoint(eager=False)
    proven_novel = stamped.where(~F.col("maybe_seen"))
    verified_novel = stamped.where(F.col("maybe_seen")).join(
        seen_fingerprints.select(fp_col), fp_col, "left_anti"
    )
    return proven_novel.unionByName(verified_novel).drop("maybe_seen")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Diff two corpus snapshots by stable id + content fingerprint:
    every id is classified `added` (new only), `removed` (old only),
    `changed` (both, different fingerprint), or `unchanged` — the audit a
    versioned-dump pipeline (Common-Crawl-style monthly snapshots) runs
    before deciding what to re-process.

    Scale: one full outer shuffle join on the id (both sides fingerprint
    map-side first); downstream re-processing consumes `added`+`changed`
    only, which is the whole point — never re-tokenize the unchanged 99%.
    """
    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    # presence is tracked by explicit markers, NOT fingerprint nullness —
    # a NULL-text row fingerprints to NULL, which would misclassify a doc
    # present in both snapshots as added/removed
    o = old.select(
        F.col(id_col),
        fingerprint_md5(text_col).alias("__fp_old"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        F.col(id_col),
        fingerprint_md5(text_col).alias("__fp_new"),
        F.lit(True).alias("__in_new"),
    )
    status = (
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "removed")
        .when(~F.col("__fp_old").eqNullSafe(F.col("__fp_new")), "changed")
        .otherwise("unchanged")
    )
    return o.join(n, id_col, "full_outer").select(id_col, status.alias("status"))



# Candidate-broadcast row bound for the near-dup verify joins.  A
# broadcast build of the (doc_a, doc_b) candidate set is the fast verify
# shape (neither corpus-shingle side shuffles for the first attach), but
# the candidate count is corpus-dependent — LINEAR in corpus size for the
# banded generators (per-bucket quadratic work is max_bucket-capped, but
# the number of buckets grows with the corpus) and potentially quadratic
# in near-duplicate density for the lossless prefix-filter audit — so an
# UNCONDITIONAL broadcast trades the old corpus-broadcast scale bug for a
# candidate-broadcast OOM on dup-heavy corpora.  10M rows of two ids is
# tens-to-hundreds of MB built — comfortably under the 8 GB / 512M-row
# broadcast relation cap with headroom for string ids; override per
# deployment via SPARK_GRAFT_VERIFY_BROADCAST_MAX_ROWS.
_VERIFY_BROADCAST_MAX_ROWS = 10_000_000


def _verify_exact_jaccard(
    cand: DataFrame, sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidates against the
    (lazily checkpointed) shingle relation `sh` — the shared verify join
    behind lsh_verified_pairs and prefix_filter_pairs.

    Join strategy, SIZE-GUARDED: the candidate set is
    materialized (lazy localCheckpoint + count — candidate generation ran
    exactly once either way, the count just fronts it) and broadcast only
    while it fits (`_VERIFY_BROADCAST_MAX_ROWS`); past the bound both
    attaches run as shuffled hash joins, whose build side is
    per-partition-bounded instead of whole-relation-in-every-executor.
    The corpus-sized shingle relation is NEVER the broadcast side in
    either branch, and the second attach stays a shuffled hash join
    (sort-merge would re-sort doc-length arrays).  Left to itself the
    planner broadcast the checkpointed CORPUS shingle relation for the
    second attach: a corpus-sized broadcast build per run, 3× the whole
    verify cost at sf0.1 (3.57 s → 1.18 s, identical output).  A value of
    SPARK_GRAFT_VERIFY_BROADCAST_MAX_ROWS that is not a non-negative
    integer raises ValueError naming it, before any job runs.
    """
    import os

    raw = os.environ.get(
        "SPARK_GRAFT_VERIFY_BROADCAST_MAX_ROWS", str(_VERIFY_BROADCAST_MAX_ROWS)
    )
    if not (raw.isascii() and raw.isdigit()):
        raise ValueError(
            f"SPARK_GRAFT_VERIFY_BROADCAST_MAX_ROWS={raw!r}: expected a "
            "non-negative integer row count"
        )
    limit = int(raw)
    cand = cand.localCheckpoint(eager=False)
    lhs = F.broadcast(cand) if cand.count() <= limit else cand.hint("shuffle_hash")
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = lhs.join(a, "doc_a").join(b.hint("shuffle_hash"), "doc_b")
    isect = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - isect
    jac = isect / union
    return joined.where(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = 1000,
    family: str = "xx64",
) -> DataFrame:
    """THE production near-dup plan: MinHash-LSH candidate generation
    (`_candidates_from_posts`, linear shuffle) followed by EXACT Jaccard
    verification computed only on the candidates — never all pairs,
    never the full posting lists.  Returns (doc_a, doc_b, jaccard) for
    candidates at or above `threshold`; every emitted pair carries its
    true (not estimated) similarity, and misses are exactly the LSH
    S-curve's misses (measured by dedup_lsh_quality_report and, for
    ``md5``, dedup_portable_quality_report).

    Scale: candidates are ≪ corpus² by banding; verification joins each
    candidate to its two shingle SETS (doc-sized arrays move only for
    candidate docs) and intersects per pair with array_intersect — cost
    proportional to candidate count × doc length.  Compare
    `ngram_jaccard_pairs`, which is exact for ALL sharing pairs but
    pays the posting-list fan-out; this path trades its guaranteed
    recall for candidate-bounded cost.

    Construction is not free: the verify join (`_verify_exact_jaccard`)
    counts the candidate pairs while the plan is built, to choose
    between a broadcast and a shuffled join, so building this plan runs
    the whole candidate generation as Spark jobs before any action.
    """
    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    # fan the narrow scan out BEFORE the Arrow shingler (same rule as
    # _shingle_rows).  ONE shingler pass: the checkpointed arrays feed
    # the band builder (exploding a materialized column cannot re-run
    # the UDF) AND both sides of the verify join.
    sh = ensure_min_partitions(df, id_col).select(
        F.col(id_col), _shingles_udf(n)(F.col(text_col)).alias("sh")
    ).localCheckpoint(eager=False)
    cand = _candidates_from_posts(
        sh.select(F.col(id_col), F.explode("sh").alias("shingle")),
        id_col, num_hashes, bands, family, max_bucket,
    ).select("doc_a", "doc_b")
    return _verify_exact_jaccard(cand, sh, id_col, threshold)


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    sample_hex_cutoff: str | None = None,
    sample_hex_window: tuple[str, str] | None = None,
) -> DataFrame:
    """All-pairs similarity join with PREFIX FILTERING (Chaudhuri et al.
    2006; Bayardo et al. 2007 "Scaling Up All Pairs"): order every
    document's shingles by ascending global document frequency (rarest
    first, ties on the shingle string — a total order both engines
    agree on) and index only the first ``|x| − ⌈t·|x|⌉ + 1`` of them.
    Any pair with Jaccard ≥ t must overlap in ≥ ⌈t·|x|⌉ shingles, so it
    cannot avoid the indexed prefix — the candidate set is provably
    LOSSLESS for the threshold, unlike LSH banding (probabilistic) or a
    df stop-shingle cap (loses pairs that only share hot shingles).
    Candidates are then verified with exact Jaccard over the full
    shingle sets (the lsh_verified_pairs verify join).

    Scale: the posting lists that generate pairs hold PREFIX entries
    only — for t=0.5 about half of each document's shingles, and the
    rarest half, so the hot shingles that make posting-list pair
    generation quadratic never enter a list.  Cost: one df aggregation
    (map-side combined), one per-doc row_number shuffle to rank the
    prefix, one posting-list shuffle over ~(1−t)·corpus shingle rows,
    then the candidate-bounded verify.  The shingle relation feeds the
    rank stage and both verify sides once (lazy localCheckpoint).

    Keep ``threshold`` a dyadic rational (0.5, 0.25, 0.75) if oracle
    parity matters: ``ceil(t·sz)`` is then exact in IEEE arithmetic on
    both engines.

    ``sample_hex_cutoff`` scopes an AUDIT run: only documents whose
    md5-prefix sorts below the 4-hex cutoff participate (e.g. "1000" ≈
    1/16 of the corpus — the curation md5-cutoff idiom, deterministic and
    partitioning-independent).  The exhaustive pair check is this
    operator's contract, and at 100 TB you prove losslessness on a
    deterministic corpus slice rather than paying the full posting-list
    volume; the result is exact for every pair WITHIN the slice.  None
    (default) audits everything.

    ``sample_hex_window=(lo, hi)`` is the ROTATION form of the same
    idiom: only documents with lo ≤ md5-prefix < hi participate, so
    successive audit runs walk disjoint windows ("0000"→"4000"→"8000"→
    "c000"→wrap) and jointly cover every within-window pair of the
    corpus without ever paying the full posting-list volume in one run.
    (Cross-window pairs are the LSH path's job — the exactness audit
    proves the filter lossless per slice, and the slices rotate.)

    Construction is not free: the verify join (`_verify_exact_jaccard`)
    counts the candidate pairs while the plan is built, to choose
    between a broadcast and a shuffled join, so building this plan runs
    the whole candidate generation as Spark jobs before any action.
    """
    if sample_hex_cutoff is not None and sample_hex_window is not None:
        raise ValueError("pass at most one of sample_hex_cutoff / sample_hex_window")
    if sample_hex_cutoff is not None:
        sample_hex_window = ("0000", sample_hex_cutoff)
    if sample_hex_window is not None:
        lo, hi = sample_hex_window
        pref = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
        df = df.where((pref >= F.lit(lo)) & (pref < F.lit(hi)))
    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    # fan the narrow scan out BEFORE the Arrow shingler (same rule as
    # _shingle_rows): the UDF, the posting explode and the hash all run
    # pre-exchange and would otherwise sit on one core for a 1-file scan
    sh = ensure_min_partitions(df, id_col).select(
        F.col(id_col), _shingles_udf(n)(F.col(text_col)).alias("sh")
    ).localCheckpoint(eager=False)
    # Candidate generation runs on xxhash64(shingle) — the three
    # full-posting-volume exchanges (df window, per-doc rank, posting
    # lists) move an 8-byte key instead of a ~20-byte 3-gram string, and
    # both window Sorts compare longs (guide §2.3: narrower shuffle
    # types).  Losslessness is ORDER-INDEPENDENT: the prefix-filter proof
    # only needs both docs of a pair to rank their shingles by the same
    # consistent global order, which (df, h) is; shared strings map to
    # shared hashes, so hash-space overlap ≥ string-space overlap and the
    # candidate set stays a superset.  A 64-bit collision can only ADD a
    # candidate (more overlap, never less); verification is exact string
    # Jaccard, so emitted pairs are unchanged.  sz stays the STRING
    # distinct count — plen/length/positional bounds computed from it are
    # ≥ their hash-universe values, preserving every prune's proof.
    posts = sh.select(
        F.col(id_col).alias("id"),
        F.size("sh").alias("sz"),
        F.explode("sh").alias("shingle"),
    ).select("id", "sz", F.xxhash64("shingle").alias("h"))
    # df as a COUNT window over the hash partition instead of a
    # groupBy + join-back: same shuffle, one fewer join of the
    # corpus-shingle relation (measured ~15% off the whole query)
    wdf = Window.partitionBy("h")
    w = Window.partitionBy("id").orderBy("df", "h")
    plen = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    prefix = (
        posts.withColumn("df", F.count(F.lit(1)).over(wdf))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= plen)
    )
    lists = (
        prefix.select(F.struct("id", "sz", "rn").alias("d"), "h")
        .groupBy("h")
        .agg(F.array_sort(F.collect_list("d")).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    # Two more LOSSLESS prunes before the distinct/verify (ppjoin's
    # filters, Xiao et al. 2008):
    # - length: J ≥ t ⟹ min(sz) ≥ t·max(sz) (exact for dyadic t);
    # - positional: overlap ≤ 1 + min(tokens remaining after this
    #   shared prefix token), and J ≥ t needs overlap ≥
    #   ⌈t/(1+t)·(sz_a+sz_b)⌉; a pair survives if ANY shared prefix
    #   occurrence passes (distinct() ORs the occurrences), so dropping
    #   occurrence-failures loses nothing.  The 1e-9 slack keeps the
    #   float ceil from over-rounding a boundary pair away.
    # Measured at sf0.1/t=0.5: 430k raw pair occurrences → 125k
    # candidates (2.4× fewer verifications; whole query 6.9s → 5.1s).
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("p.a.sz") + F.col("p.b.sz"))
        - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("p.a.sz") - F.col("p.a.rn"), F.col("p.b.sz") - F.col("p.b.rn")
    )
    cand = (
        lists.select(F.explode(all_pairs("ds")).alias("p"))
        .where(
            # a.id != b.id: two same-doc shingles colliding to one hash
            # would otherwise emit a degenerate self-pair (impossible in
            # string space, where per-doc shingles are distinct)
            (F.col("p.a.id") != F.col("p.b.id"))
            & (
                F.least("p.a.sz", "p.b.sz")
                >= F.lit(threshold) * F.greatest("p.a.sz", "p.b.sz")
            )
            & (ubound >= alpha)
        )
        .select(F.col("p.a.id").alias("doc_a"), F.col("p.b.id").alias("doc_b"))
        .distinct()
    )
    # this operator's candidate set is by contract a LOSSLESS all-pairs
    # audit, unbounded on dup-heavy corpora, so the verify join's size
    # guard matters most here (see _verify_exact_jaccard)
    return _verify_exact_jaccard(cand, sh, id_col, threshold)

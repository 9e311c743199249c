"""Hostile-input oracle parity (r11).

The synthetic corpus is CLEAN — no NULL/empty/whitespace-only texts, no
exotic whitespace, no non-ASCII — so the per-round driver sweep can never
see the cross-engine divergences such docs trigger (the r11 mechanized
sweep found 38 of them: NULL-text crashes in every shingle pipeline,
edge-'' phantom tokens shifting corpus totals, char-vs-byte oracle reads,
NaN-vs-NULL rule flags, Infinity ratios).  This module pins the fix: a
documents table salted with every hostile row class, and a representative
query from each affected family compared value-exact against its own
DuckDB oracle on that data.

Row classes: NULL text · empty text · space-only · exotic-whitespace-only
([\\t\\n \\r\\f]) · vertical-tab inside a token · NBSP inside a token ·
\\x1c (FS control) inside a token · single token · degenerate repeats ·
exact duplicate · NULL lang · NULL source.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import duckdb
import pytest

from tests.oracle_utils import compare, duckdb_conn

# one representative per root-cause family found by the r11 sweep
HOSTILE_QUERIES = [
    "text_chunk_windows",          # zero-token docs chunk to zero rows
    "corpus_token_budget",         # phantom '' tokens shifted totals
    "text_tfidf_top_terms",        # '' term double-counted
    "text_unigram_logprob",        # corpus-total smoothing shifted
    "corpus_bigram_logprob",       # row-count diverged on token-less docs
    "corpus_zipf_heaps",           # n_tokens off-by-one
    "text_lang_predict",           # ANSI DIVIDE_BY_ZERO on 0-token docs
    "text_langid_confusion",       # inherited the lang_predict crash
    "text_gopher_rules",           # NULL rule flags vs definite FALSE
    "curation_gate_overlap",       # fused gopher+quality, same crash
    "text_sequence_packing",       # NULL length crashed the int64 cast
    "udaf_trimmed_mean_length",    # NaN->INT64_MIN shifted the trim window
    "text_cdc_chunks",             # extra chunk from a token-less doc
    "corpus_repeated_unit_removal",  # '' vs ' ' clean_text
    "dedup_ngram_jaccard_pairs",   # shingler crashed on NULL text
    "dedup_minhash_portable",      # banded pipeline, same crash
    "dedup_prefix_filter_pairs",   # ppjoin pipeline, same crash
    "text_sentences_udtf",         # UDTF crashed on NULL text
    "dedup_bloom_prefilter_novel",  # NULL-fp handling (r10) stays green
    "pipeline_ingest_day",         # E2E: bloom -> gopher -> band probe
    "text_bm25_topk",              # corpus stats shifted by phantom tokens
    "multimodal_feature_bins",     # NULL payload frombuffer crash
    "multimodal_image_pixel_stats",  # empty payload emitted a bogus row
    "multimodal_audio_rms",        # char-vs-byte oracle read (NBSP)
    "multimodal_phash_neardup",    # char-vs-byte oracle read
    "documents_quarantine_report",  # the gate must COUNT every r11 row class
]


@pytest.fixture(scope="module")
def hostile_sf(tmp_path_factory):
    src = Path("/root/testdata/sf0.001")
    dst = tmp_path_factory.mktemp("hostile_sf")
    for p in src.glob("*.parquet"):
        shutil.copy(p, dst / p.name)
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE d AS SELECT * FROM read_parquet('{src}/documents.parquet')"
    )
    mx = con.execute("SELECT max(doc_id) FROM d").fetchone()[0]
    rows = [
        (mx + 1, None, "es", "src0"),
        (mx + 2, "", "en", "src1"),
        (mx + 3, "   ", "en", "src2"),
        (mx + 4, "\t\n \r\f", "de", "src0"),
        (mx + 5, "alpha\x0bbeta gamma delta epsilon zeta eta theta iota kappa lam mu", "en", "src1"),
        (mx + 6, "foo\xa0bar baz qux quux corge grault garply waldo fred plugh nbsp", "fr", "src2"),
        (mx + 7, "solo", "en", "src0"),
        (mx + 8, "dup dup dup dup dup dup dup dup dup dup dup dup", "en", "src1"),
        (mx + 9, con.execute("SELECT text FROM d WHERE doc_id = 0").fetchone()[0], "es", "src0"),
        (mx + 10, "normal enough text with several reasonable tokens inside it today", None, "src2"),
        (mx + 11, "another normal document with plain words and nothing strange at all", "en", None),
        (mx + 12, "fs\x1ccontrol token stays whole under re2 spec here okay fine yes", "en", "src0"),
    ]
    for i, t, lang, srcname in rows:
        con.execute(
            "INSERT INTO d VALUES (?, ?, ?, ?, ?)",
            [i, t, lang, srcname, len(t) if t is not None else None],
        )
    con.execute(f"COPY d TO '{dst}/documents.parquet' (FORMAT PARQUET)")
    con.close()
    return str(dst)


@pytest.fixture(scope="module")
def hostile_duck(hostile_sf):
    con = duckdb_conn(hostile_sf)
    yield con
    con.close()


@pytest.mark.parametrize("name", HOSTILE_QUERIES)
def test_hostile_query_matches_oracle(name, spark, hostile_sf, hostile_duck):
    import __spark_entry__ as entrymod

    q, o = entrymod.queries(), entrymod.oracle_sql()
    df = q[name](spark, hostile_sf)
    if name not in o:
        assert df.count() >= 0  # rows-only: must not crash on hostile rows
        return
    errs = compare(df, hostile_duck.execute(o[name]).fetchdf(), name)
    assert not errs, "\n".join(errs)


def test_hostile_rows_only_paths_do_not_crash(spark, hostile_sf):
    """The no-oracle documents queries must survive the hostile rows too
    (text_compression_ratio previously crashed mid-batch on NULL text)."""
    import __spark_entry__ as entrymod

    q, o = entrymod.queries(), entrymod.oracle_sql()
    for name in ("text_compression_ratio", "dedup_minhash_lsh", "dedup_simhash"):
        assert name in q
        assert q[name](spark, hostile_sf).count() >= 0, name


def test_size_of_null_is_null_in_our_session(spark):
    """This Spark build ships spark.sql.legacy.sizeOfNull=true, whose
    EFFECTIVE value is (legacy AND NOT ansi): an ANSI-off session would
    silently turn every size(NULL) into -1 — miscounting NULL-text docs
    as -1 tokens in corpus totals and defeating isNotNull guards (r11
    hostile sweep under SPARK_GRAFT_ANSI=false).  session.get_spark pins
    the SQL-standard NULL; this holds under BOTH ANSI modes and the
    stock driver-twin (whose ANSI-on default already yields NULL)."""
    from pyspark.sql import functions as F

    row = spark.range(1).select(
        F.size(F.lit(None).cast("array<string>")).alias("n")
    ).collect()[0]
    assert row["n"] is None


# ---------------------------------------------------------------------------
# Hostile EMBEDDINGS leg (r11): NULL embedding, zero vector, tiny-norm
# vector, NULL label — the degenerate-geometry classes clean testdata
# never exercises.
# ---------------------------------------------------------------------------

HOSTILE_EMB_QUERIES = [
    "similarity_cosine_topk",    # zero-vec cosine: DuckDB says -1.0, NULL rows survived the window
    "dedup_embedding_cosine",    # NULL vec crashed np.stack in the matmul kernel
    "embedding_kmeans_train",    # NULL vec won an arbitrary cluster via NULLS FIRST
    "similarity_ivf_topk",       # int-code path: n2 > 0 guards must hold
    "embedding_norm_stats",      # NULL/zero norms in the stats
    "similarity_lsh_topk",       # bucketed path on degenerate vectors
    "similarity_int8_topk",      # asymmetric probe scorer (r12 ADVICE: NULL probe vec)
]


@pytest.fixture(scope="module")
def hostile_emb_sf(tmp_path_factory):
    src = Path("/root/testdata/sf0.001")
    dst = tmp_path_factory.mktemp("hostile_emb")
    for p in src.glob("*.parquet"):
        shutil.copy(p, dst / p.name)
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE e AS SELECT * FROM read_parquet('{src}/embeddings.parquet')"
    )
    mx = con.execute("SELECT max(vec_id) FROM e").fetchone()[0]
    con.execute("INSERT INTO e VALUES (?, NULL, 3)", [mx + 1])
    con.execute("INSERT INTO e VALUES (?, ?, 1)", [mx + 2, [0.0] * 64])
    con.execute("INSERT INTO e VALUES (?, ?, NULL)", [mx + 3, [1e-30] * 64])
    con.execute(f"COPY e TO '{dst}/embeddings.parquet' (FORMAT PARQUET)")
    con.close()
    return str(dst)


@pytest.fixture(scope="module")
def hostile_emb_duck(hostile_emb_sf):
    con = duckdb_conn(hostile_emb_sf)
    yield con
    con.close()


def test_hostile_probe_side_kernels_do_not_crash(spark, hostile_emb_sf):
    """Probe-side Arrow kernels must drop NULL vectors at the boundary
    (r12 ADVICE: cosine_topk_against_index and the float-LSH bucketizer
    np.stack'd unfiltered probe batches — one NULL embedding in a batch
    crashed the whole kernel).  Value parity for the registered probe
    query is pinned by similarity_int8_topk above; this pins the raw
    operators, NULL rows mixed in."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.operators import similarity
    from dffoo_data_pipeline_spark.sources.readers import load_table

    e = load_table(spark, hostile_emb_sf, "embeddings").select(
        "vec_id", "embedding"
    )
    sumsq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x * x,
    )
    idx = e.where(F.col("vec_id") < 32).where(sumsq > 0)
    out = similarity.cosine_topk_against_index(
        e, idx, id_col="vec_id", vec_col="embedding", k=3
    ).cache()
    # the NULL-vec probe is dropped at the boundary; the zero-norm probe
    # scores NaN against everything, so it has no neighbors
    null_vec_ids = [
        r["vec_id"] for r in e.where("embedding IS NULL").collect()
    ]
    non_finite = F.isnan("cos_sim") | F.col("cos_sim").isin(
        float("inf"), float("-inf")
    )
    assert out.count() > 0
    assert out.where(F.col("query_id").isin(null_vec_ids)).count() == 0
    assert out.where(non_finite).count() == 0
    # a zero-norm vector is neither its own neighbor nor anyone's
    self_or_non_finite = (F.col("query_id") == F.col("neighbor_id")) | non_finite
    n, bad = similarity.lsh_topk(e, "vec_id", "embedding", k=3).agg(
        F.count(F.lit(1)), F.count(F.when(self_or_non_finite, 1))
    ).first()
    assert n > 0 and bad == 0
    assert (
        similarity.lsh_neardup_pairs(
            e, "vec_id", "embedding", threshold=0.99
        ).count()
        >= 0
    )


@pytest.mark.parametrize("name", HOSTILE_EMB_QUERIES)
def test_hostile_embeddings_query_matches_oracle(
    name, spark, hostile_emb_sf, hostile_emb_duck
):
    import __spark_entry__ as entrymod

    q, o = entrymod.queries(), entrymod.oracle_sql()
    errs = compare(
        q[name](spark, hostile_emb_sf),
        hostile_emb_duck.execute(o[name]).fetchdf(),
        name,
    )
    assert not errs, "\n".join(errs)


# ---------------------------------------------------------------------------
# Hostile EVENTS leg (r12): NULL user_id / event_type / ts / value rows, a
# same-user duplicate-timestamp pair, malformed props, an out-of-window
# user — the row classes the clean fixture (all-distinct ts, no NULLs)
# can never exercise.  The r11 sweep diagnosed 17 divergences here; the
# r12 fixes pin three engine conventions:
#   1. ts-ordered windows use the (ts ASC NULLS LAST, event_id) total
#      order in BOTH engines (functions/numeric.py:event_order);
#   2. session/series/user analytics EXCLUDE NULL-ts / NULL-user rows,
#      spelled identically in query and oracle;
#   3. stateful Arrow kernels filter NULL group keys / NULL values at
#      the operator boundary (a NaN key crashes int64 casts).
# One representative query per root-cause family, value-exact vs DuckDB.
# ---------------------------------------------------------------------------

HOSTILE_EVENT_QUERIES = [
    "events_dau_wau",              # NULL user counted by COUNT(*), skipped by count_distinct
    "events_sessionization",       # NULL-ts placement split sessions differently
    "events_type_transitions",     # NULL-ts placement shifted adjacent pairs
    "events_exp_smoothing",        # NULL day re-indexed t=1 -> every EWMA value
    "events_gapfill_interpolate",  # NULL-type series orphaned by NULL-strict oracle join
    "events_pit_enrich",           # SCD2 dim shifted by NULL-ts tier ranges
    "scd2_user_tier",              # dimension rows need a key and a valid_from
    "join_asof_generic",           # DuckDB ASOF hands a NULL probe the latest match
    "window_rolling_frame",        # retained NULL-ts rows at opposite stream ends
    "streaming_tumbling_hourly",   # streaming window cannot hold a timeless row
    "streaming_stateful_user_totals",  # NULL group key/value crashed the state kernel
    "streaming_custom_sessionizer",    # same crash in the interval-merge kernel
    "streaming_quarantine_gate",   # the gate must COUNT every hostile row class
]


@pytest.fixture(scope="module")
def hostile_events_sf(tmp_path_factory):
    src = Path("/root/testdata/sf0.001")
    dst = tmp_path_factory.mktemp("hostile_events")
    for p in src.glob("*.parquet"):
        shutil.copy(p, dst / p.name)
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE e AS SELECT * FROM read_parquet('{src}/events.parquet')"
    )
    mx = con.execute("SELECT max(event_id) FROM e").fetchone()[0]
    con.execute(
        f"""
        INSERT INTO e VALUES
          ({mx + 1}, TIMESTAMP '2024-01-05 10:00:00', NULL, 'view', 12.5, '{{"k": 1}}'),
          ({mx + 2}, TIMESTAMP '2024-01-05 10:05:00', NULL, 'purchase', 99.0, '{{"k": 2}}'),
          ({mx + 3}, TIMESTAMP '2024-01-06 11:00:00', 3, NULL, 7.25, '{{"k": 3}}'),
          ({mx + 4}, NULL, 4, 'click', 3.5, '{{"k": 4}}'),
          ({mx + 5}, NULL, NULL, 'error', 1.0, '{{"k": 5}}'),
          ({mx + 6}, TIMESTAMP '2024-01-07 12:30:00', 5, 'view', 10.0, '{{"k": 6}}'),
          ({mx + 7}, TIMESTAMP '2024-01-07 12:30:00', 5, 'purchase', 250.0, '{{"k": 7}}'),
          ({mx + 8}, TIMESTAMP '2024-01-08 09:00:00', 6, 'click', 5.0, '{{not json'),
          ({mx + 9}, TIMESTAMP '2024-03-15 00:00:00', 9999, 'signup', 42.0, '{{"k": 9}}'),
          ({mx + 10}, TIMESTAMP '2024-01-09 15:00:00', 7, 'purchase', NULL, '{{"k": 10}}')
        """
    )
    con.execute(f"COPY e TO '{dst}/events.parquet' (FORMAT PARQUET)")
    con.close()
    return str(dst)


@pytest.fixture(scope="module")
def hostile_events_duck(hostile_events_sf):
    con = duckdb_conn(hostile_events_sf)
    yield con
    con.close()


@pytest.mark.parametrize("name", HOSTILE_EVENT_QUERIES)
def test_hostile_events_query_matches_oracle(
    name, spark, hostile_events_sf, hostile_events_duck
):
    import __spark_entry__ as entrymod

    q, o = entrymod.queries(), entrymod.oracle_sql()
    errs = compare(
        q[name](spark, hostile_events_sf),
        hostile_events_duck.execute(o[name]).fetchdf(),
        name,
    )
    assert not errs, "\n".join(errs)


# ---------------------------------------------------------------------------
# Hostile RELATIONAL leg (r12): lineitem/orders salted with NULL join and
# group keys, negative quantities, zero prices, a 100% discount, NULL
# dates — plus referential breaks (order->customer, customer/supplier->
# nation, nation->region all dangling or NULL).  The r12 sweep over all
# 74 relational-table oracled queries found 8 divergences, fixed by:
# count-distinct rewrites excluding NULL values like COUNT(DISTINCT);
# NULLS LAST spelled on every rank/tiebreak ordering; concat_ws (not
# CONCAT) for NULL-skipping key concatenation; NULL keys excluded from
# maps and baskets in both engines; the scaled-parse replication factor
# derived from the data, not the directory name.
# ---------------------------------------------------------------------------

HOSTILE_REL_QUERIES = [
    "agg_skew_safe_count_distinct",  # two-phase rewrite counted the NULL value
    "skew_heavy_hitter_report",      # NULL-key group ranked at engine-opposite tie ends
    "window_rank_top_orders",        # NULL status at Spark's ASC-default head
    "scalar_null_semantics",         # NULL in the tiebreak columns themselves
    "scalar_string_functions",       # CONCAT vs concat_ws NULL handling
    "scalar_map_functions",          # NULL cannot key a map, both engines
    "orders_market_basket",          # NULL basket skipped by COUNT(DISTINCT) only
    "abilities_parse_scaled",        # dir-name scale factor crashed on foreign dirs
    "q1_pricing_summary",            # NULL group keys + negative qty in the rollup
    "q5_local_supplier_volume",      # referential chain: dangling keys drop via inner joins
    "integrity_report",              # must COUNT the planted referential breaks
    "join_range_buckets",            # negative/zero/NULL prices vs the bucket ranges
    "lineitem_quarantine_report",    # the gate must COUNT every planted row class
    "orders_quarantine_verdicts",    # per-row reasons for every planted violation
    "q2_min_cost_supplier",          # part->supplier->nation->region chain w/ NULL part attrs
    "q19_disjunctive_predicates",    # NULL part attributes inside OR-of-AND predicates
]


@pytest.fixture(scope="module")
def hostile_rel_sf(tmp_path_factory):
    src = Path("/root/testdata/sf0.001")
    dst = tmp_path_factory.mktemp("hostile_rel")
    for p in src.glob("*.parquet"):
        shutil.copy(p, dst / p.name)
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "supplier", "nation", "part", "region"):
        con.execute(
            f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')"
        )
    mo = con.execute("SELECT max(o_orderkey) FROM orders").fetchone()[0]
    mc = con.execute("SELECT max(c_custkey) FROM customer").fetchone()[0]
    ms = con.execute("SELECT max(s_suppkey) FROM supplier").fetchone()[0]
    mn = con.execute("SELECT max(n_nationkey) FROM nation").fetchone()[0]
    con.execute(f"""
    INSERT INTO lineitem VALUES
      (NULL, 101, 1, 1, 7.0, 1000.00, 0.05, 0.02, 'N', 'O', TIMESTAMP '1998-02-01'),
      (0, NULL, NULL, 5, 3.0, 500.00, 0.00, 0.00, 'A', 'F', TIMESTAMP '1998-02-02'),
      (1, 101, 1, 6, -5.0, -1200.50, 0.04, 0.01, 'R', 'F', TIMESTAMP '1998-02-03'),
      (2, 102, 2, 7, 0.0, 0.00, 0.00, 0.00, 'N', 'O', TIMESTAMP '1998-02-04'),
      (3, 103, 3, 8, 10.0, 2000.00, 1.00, 0.03, 'N', 'O', TIMESTAMP '1998-02-05'),
      (4, 104, 4, 9, NULL, NULL, NULL, NULL, 'A', 'F', TIMESTAMP '1998-02-06'),
      (5, 105, 5, 10, 12.0, 3000.00, 0.06, 0.04, NULL, NULL, TIMESTAMP '1998-02-07'),
      (6, 106, 6, 11, 9.0, 1500.00, 0.02, 0.05, 'N', 'O', NULL),
      ({mo + 1000}, 99999, 99999, 1, 4.0, 800.00, 0.01, 0.02, 'N', 'O', TIMESTAMP '1998-02-08')
    """)
    con.execute(f"""
    INSERT INTO orders VALUES
      ({mo + 1}, NULL, 'O', 5000.00, TIMESTAMP '1997-06-01', '1-URGENT'),
      ({mo + 2}, 1, NULL, NULL, NULL, NULL),
      ({mo + 3}, 2, 'F', 0.00, TIMESTAMP '1997-06-02', '2-HIGH'),
      ({mo + 4}, 3, 'F', -250.00, TIMESTAMP '1997-06-03', '3-MEDIUM'),
      ({mo + 5}, {mc + 500}, 'O', 1234.56, TIMESTAMP '1997-06-04', '5-LOW')
    """)
    con.execute(f"""
    INSERT INTO customer VALUES
      ({mc + 1}, 'Customer#hostile1', 99, -10.25, 'BUILDING'),
      ({mc + 2}, 'Customer#hostile2', NULL, NULL, NULL)
    """)
    con.execute(f"INSERT INTO supplier VALUES ({ms + 1}, 'Supplier#hostile', 99, NULL)")
    con.execute(
        f"INSERT INTO nation VALUES ({mn + 1}, 'ATLANTIS', 99), ({mn + 2}, 'NULLLAND', NULL)"
    )
    mp = con.execute("SELECT max(p_partkey) FROM part").fetchone()[0]
    mr = con.execute("SELECT max(r_regionkey) FROM region").fetchone()[0]
    con.execute(f"""
    INSERT INTO part VALUES
      ({mp + 1}, NULL, NULL, NULL, NULL, NULL),
      ({mp + 2}, 'hostile negative part', 'Brand#00', 'HOSTILE TYPE', -3, -12.34),
      ({mp + 3}, 'hostile zero part', 'Brand#00', 'HOSTILE TYPE', 0, 0.00)
    """)
    con.execute(
        f"INSERT INTO region VALUES ({mr + 1}, 'NOWHERE'), ({mr + 2}, NULL)"
    )
    for t in ("lineitem", "orders", "customer", "supplier", "nation", "part", "region"):
        con.execute(f"COPY {t} TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
    con.close()
    return str(dst)


@pytest.fixture(scope="module")
def hostile_rel_duck(hostile_rel_sf):
    con = duckdb_conn(hostile_rel_sf)
    yield con
    con.close()


@pytest.mark.parametrize("name", HOSTILE_REL_QUERIES)
def test_hostile_relational_query_matches_oracle(
    name, spark, hostile_rel_sf, hostile_rel_duck
):
    import __spark_entry__ as entrymod

    q, o = entrymod.queries(), entrymod.oracle_sql()
    errs = compare(
        q[name](spark, hostile_rel_sf),
        hostile_rel_duck.execute(o[name]).fetchdf(),
        name,
    )
    assert not errs, "\n".join(errs)


# ---------------------------------------------------------------------------
# EXTREME-TIMESTAMP leg (r12 extension): an epoch-0 row and a year-2100
# row — the sentinel/corrupt timestamps that stretch any observed time
# range to a century.  The r12 sweep over all 50 events oracles found:
# 48 agree unchanged; events_gapfill_interpolate would silently explode
# its dense grid ~10^4× (now a loud refusal, and its forward-fill window
# was O(n²) per series — rewritten to a DESC growing frame);
# streaming_dedup_events drops the epoch-0 row (event time not above
# Spark's initial epoch watermark — documented boundary; quarantine such
# rows upstream via streaming_quarantine_gate).
# ---------------------------------------------------------------------------

EXTREME_TS_QUERIES = [
    "events_sessionization",
    "events_max_gap",
    "events_dau_wau",
    "scd2_user_tier",
    "cdc_apply_latest",
    "events_kaplan_meier",
]


@pytest.fixture(scope="module")
def extreme_ts_sf(tmp_path_factory):
    src = Path("/root/testdata/sf0.001")
    dst = tmp_path_factory.mktemp("extreme_ts")
    for p in src.glob("*.parquet"):
        shutil.copy(p, dst / p.name)
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE e AS SELECT * FROM read_parquet('{src}/events.parquet')"
    )
    mx = con.execute("SELECT max(event_id) FROM e").fetchone()[0]
    con.execute(f"""
    INSERT INTO e VALUES
      ({mx + 1}, TIMESTAMP '1970-01-01 00:00:00', 8, 'view', 2.5, '{{"k": 1}}'),
      ({mx + 2}, TIMESTAMP '2100-06-15 12:00:00', 8, 'click', 4.5, '{{"k": 2}}')
    """)
    con.execute(f"COPY e TO '{dst}/events.parquet' (FORMAT PARQUET)")
    con.close()
    return str(dst)


@pytest.fixture(scope="module")
def extreme_ts_duck(extreme_ts_sf):
    con = duckdb_conn(extreme_ts_sf)
    yield con
    con.close()


@pytest.mark.parametrize("name", EXTREME_TS_QUERIES)
def test_extreme_ts_query_matches_oracle(name, spark, extreme_ts_sf, extreme_ts_duck):
    import __spark_entry__ as entrymod

    q, o = entrymod.queries(), entrymod.oracle_sql()
    errs = compare(
        q[name](spark, extreme_ts_sf),
        extreme_ts_duck.execute(o[name]).fetchdf(),
        name,
    )
    assert not errs, "\n".join(errs)


def test_embeddings_quarantine_flags_every_vector_domain_break(
    spark, tmp_path_factory
):
    """The finite-domain vector contract, enforced: NaN / Inf / NULL
    components, wrong dims, zero norms, NULL vectors and labels each
    flag their rule, value-exact vs the DuckDB oracle.  The r12 NaN/Inf
    sweep is WHY this is a contract, not per-query defense: one Inf
    component crashed all 29 embeddings oracles (Inf/NaN are
    unrepresentable in DECIMAL, the cross-engine arithmetic backbone),
    so such vectors must be quarantined at ingest."""
    import __spark_entry__ as entrymod

    src = Path("/root/testdata/sf0.001")
    dst = tmp_path_factory.mktemp("emb_quarantine")
    for p in src.glob("*.parquet"):
        shutil.copy(p, dst / p.name)
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE e AS SELECT * FROM read_parquet('{src}/embeddings.parquet')"
    )
    mx = con.execute("SELECT max(vec_id) FROM e").fetchone()[0]
    con.execute(f"""
    INSERT INTO e VALUES
      ({mx + 1}, list_append([0.1::FLOAT for _ in range(63)], 'nan'::FLOAT), 1),
      ({mx + 2}, list_append([0.1::FLOAT for _ in range(63)], 'inf'::FLOAT), 2),
      ({mx + 3}, list_append([0.1::FLOAT for _ in range(63)], NULL::FLOAT), 3),
      ({mx + 4}, [0.5::FLOAT, 0.5::FLOAT], 4),
      ({mx + 5}, [0.0::FLOAT for _ in range(64)], 5),
      ({mx + 6}, NULL, 6),
      ({mx + 7}, [0.3::FLOAT for _ in range(64)], NULL)
    """)
    con.execute(f"COPY e TO '{dst}/embeddings.parquet' (FORMAT PARQUET)")
    con.close()

    q, o = entrymod.queries(), entrymod.oracle_sql()
    name = "embeddings_quarantine_report"
    duck = duckdb_conn(str(dst))
    df = q[name](spark, str(dst))
    errs = compare(df, duck.execute(o[name]).fetchdf(), name)
    duck.close()
    assert not errs, "\n".join(errs)
    got = {r.rule: r.n_rows for r in df.collect()}
    base = 500  # clean vectors in the sf0.001 fixture
    assert got == {
        "null_vector": 1,
        "wrong_dim": 1,
        "nonfinite_component": 2,
        "null_component": 1,
        "zero_norm": 1,
        "null_label": 1,
        "clean": base,
    }


def test_documents_quarantine_flags_mismatch_and_oversize(
    spark, tmp_path_factory
):
    """The documents gate's two rules the shared hostile fixture cannot
    exercise: an n_chars row that LIES about its length (null-safe
    consistency check) and an oversized document (>200k chars).  The
    oversize gate is load-bearing: the r12 long-doc sweep measured one
    500KB degenerate document slowing EVERY corpus query ~60x (and
    making stride-1 span/self-join shapes quadratic in both engines) —
    such rows route to a long-document pipeline, not the corpus stats."""
    import __spark_entry__ as entrymod

    src = Path("/root/testdata/sf0.001")
    dst = tmp_path_factory.mktemp("doc_quarantine")
    for p in src.glob("*.parquet"):
        shutil.copy(p, dst / p.name)
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE d AS SELECT * FROM read_parquet('{src}/documents.parquet')"
    )
    mx = con.execute("SELECT max(doc_id) FROM d").fetchone()[0]
    big = ("lorem ipsum dolor sit amet " * 8000).strip()  # ~216k chars
    con.execute(
        "INSERT INTO d VALUES (?, ?, 'en', 'src2', 9999)",
        [mx + 1, "this row claims the wrong character count on purpose"],
    )
    con.execute(
        "INSERT INTO d VALUES (?, ?, 'en', 'src0', ?)", [mx + 2, big, len(big)]
    )
    con.execute(f"COPY d TO '{dst}/documents.parquet' (FORMAT PARQUET)")
    con.close()

    q, o = entrymod.queries(), entrymod.oracle_sql()
    name = "documents_quarantine_report"
    duck = duckdb_conn(str(dst))
    df = q[name](spark, str(dst))
    errs = compare(df, duck.execute(o[name]).fetchdf(), name)
    duck.close()
    assert not errs, "\n".join(errs)
    got = {r.rule: r.n_rows for r in df.collect()}
    assert got["char_count_mismatch"] == 1
    assert got["oversized"] == 1
    n_checked = {r.rule: r.n_checked for r in df.collect()}["clean"]
    assert got["clean"] == n_checked - 2


def test_gapfill_refuses_grid_explosion(spark, extreme_ts_sf):
    """One corrupted timestamp must not silently 10^4x the gapfill
    output: past _GAPFILL_MAX_CELLS observed hours the query raises
    with remediation instead of densifying a century."""
    import __spark_entry__ as entrymod

    with pytest.raises(Exception, match="explode the dense grid"):
        entrymod.queries()["events_gapfill_interpolate"](
            spark, extreme_ts_sf
        ).count()


def test_streaming_dedup_drops_epoch_boundary_row(spark, extreme_ts_sf, extreme_ts_duck):
    """Documented boundary: dropDuplicatesWithinWatermark cannot
    guarantee exactly-once for an event AT the epoch floor (its event
    time is not above Spark's initial watermark), so the epoch-0 row is
    dropped — every other row agrees with the batch DISTINCT oracle.
    Sentinel timestamps belong in the quarantine gate upstream."""
    import __spark_entry__ as entrymod

    q, o = entrymod.queries(), entrymod.oracle_sql()
    got = {
        r["event_type"]: r["n_unique_events"]
        for r in q["streaming_dedup_events"](spark, extreme_ts_sf).collect()
    }
    want = {
        r[0]: r[1]
        for r in extreme_ts_duck.execute(
            o["streaming_dedup_events"]
        ).fetchall()
    }
    # the epoch-0 row is a 'view'; everything else must match exactly
    assert got["view"] == want["view"] - 1
    for k in want:
        if k != "view":
            assert got[k] == want[k], k

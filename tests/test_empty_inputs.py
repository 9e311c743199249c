"""Empty-input hardening: operators must return empty results with the
RIGHT schema (not throw) when a filter upstream leaves nothing — at 100 TB
some partition/day/slice is always empty."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dffoo_data_pipeline_spark.operators import dedup, similarity
from dffoo_data_pipeline_spark.plans.abilities import parse_ability_lines
from dffoo_data_pipeline_spark.schemas import ABILITY_HTML_LINES


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string")


def test_parse_empty_lines(spark):
    out = parse_ability_lines(spark.createDataFrame([], ABILITY_HTML_LINES))
    assert out.count() == 0
    assert "main_target_hp_attacks" in out.columns


def test_dedup_operators_empty(spark, empty_docs):
    assert dedup.exact_keep_first(empty_docs, "text", "doc_id").count() == 0
    assert dedup.ngram_jaccard_pairs(empty_docs, "doc_id", "text").count() == 0
    assert dedup.lsh_candidates(empty_docs, "doc_id", "text").count() == 0
    assert dedup.simhash(empty_docs, "doc_id", "text").count() == 0


def test_portable_dedup_operators_empty(spark, empty_docs):
    out = dedup.lsh_verified_pairs(
        empty_docs, "doc_id", "text", threshold=0.7, num_hashes=15, bands=5, family="md5"
    )
    assert out.count() == 0 and out.columns == ["doc_a", "doc_b", "jaccard"]
    out = dedup.simhash_pairs(empty_docs, "doc_id", "text", sig_bits=48, family="md5")
    assert out.count() == 0 and out.columns == ["doc_a", "doc_b", "hamming"]
    assert dedup.lsh_candidates(
        empty_docs, "doc_id", "text", num_hashes=15, bands=5, family="md5"
    ).count() == 0
    # empty BATCH -> empty verdicts; empty INDEX -> every batch doc novel
    some = spark.createDataFrame(
        [(1, "one two three four five six seven eight")], "doc_id bigint, text string"
    )
    md5 = dict(n=3, num_hashes=15, bands=5, family="md5")
    assert dedup.neardup_against_index(empty_docs, some, "doc_id", "text", **md5).count() == 0
    got = dedup.neardup_against_index(some, empty_docs, "doc_id", "text", **md5).collect()
    assert len(got) == 1 and got[0].novel == 1 and got[0].matched_id is None


def test_similarity_empty(spark):
    e = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    out = similarity.cosine_topk_bruteforce(e, "vec_id", "embedding", k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cos_sim"]
    assert similarity.lsh_topk(e, "vec_id", "embedding", k=3).count() == 0


def test_multimodal_empty(spark):
    from dffoo_data_pipeline_spark.multimodal import (
        byte_histogram_features,
        documents_as_assets,
        frame_sample,
    )

    empty = spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    a = documents_as_assets(empty)
    assert frame_sample(a).count() == 0
    assert byte_histogram_features(a).count() == 0


def test_corpus_operators_empty(spark, empty_docs):
    from dffoo_data_pipeline_spark.operators.boilerplate import remove_repeated_units
    from dffoo_data_pipeline_spark.operators.contamination import contamination_overlap
    from dffoo_data_pipeline_spark.operators.dedup import (
        dedup_against_seen,
        snapshot_diff,
    )

    out = remove_repeated_units(empty_docs)
    assert out.count() == 0
    assert out.columns == ["doc_id", "n_units", "n_units_dropped", "clean_text"]

    some = spark.createDataFrame([(1, "real content here")], "doc_id bigint, text string")
    # empty corpus vs non-empty benchmark, and vice versa
    assert contamination_overlap(empty_docs, some, max_shingles=None).count() == 0
    assert contamination_overlap(some, empty_docs, max_shingles=None).collect()[0].n_contaminated == 0

    novel, dupes = dedup_against_seen(some, empty_docs.select(F.md5("text").alias("fp")))
    assert novel.count() == 1 and dupes.count() == 0

    diff = {r.status for r in snapshot_diff(empty_docs, some).collect()}
    assert diff == {"added"}
    assert {r.status for r in snapshot_diff(some, empty_docs).collect()} == {"removed"}


def test_profile_empty_table(spark):
    from dffoo_data_pipeline_spark.operators.profile import profile_table

    empty = spark.createDataFrame([], "k bigint, s string")
    rows = {r.col_name: r for r in profile_table(empty).collect()}
    assert set(rows) == {"k", "s"}
    assert rows["k"].n_rows == 0 and rows["k"].n_distinct == 0
    assert rows["k"].min_num is None and rows["s"].min_str is None


def test_containment_empty(spark, empty_docs):
    out = dedup.shingle_containment_pairs(empty_docs, "doc_id", "text")
    assert out.count() == 0
    assert out.columns == ["contained", "container", "containment"]


def test_event_analytics_empty(spark, monkeypatch):
    """Anomaly/SCD2/CDC/path queries over an empty events slice must
    yield empty frames with the right schema, not throw (a filtered day
    at 100 TB is routinely empty)."""
    from dffoo_data_pipeline_spark.plans import events as EV
    from dffoo_data_pipeline_spark.sources import readers

    empty_events = spark.createDataFrame(
        [],
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(readers, "load_table", lambda *a, **k: empty_events)
    monkeypatch.setattr(EV, "load_table", lambda *a, **k: empty_events)
    for name in (
        "events_anomaly_mad",
        "scd2_user_tier",
        "cdc_apply_latest",
        "events_top_paths",
    ):
        out = EV.QUERIES[name](spark, "ignored")
        assert out.count() == 0, name
        assert len(out.columns) >= 3, name


def test_cosine_against_index_empty_sides(spark):
    e = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    some = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id bigint, embedding array<float>"
    )
    out = similarity.cosine_topk_against_index(e, some, "vec_id", "embedding", k=2)
    assert out.count() == 0  # no probes
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]
    # empty index: probes stream through, zero matches emitted
    assert (
        similarity.cosine_topk_against_index(some, e, "vec_id", "embedding", k=2).count()
        == 0
    )


def test_gopher_rules_empty(spark, monkeypatch):
    from dffoo_data_pipeline_spark.plans import llm_ops as LO

    empty_docs = spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    monkeypatch.setattr(LO, "load_table", lambda *a, **k: empty_docs)
    out = LO.QUERIES["text_gopher_rules"](spark, "ignored")
    assert out.count() == 0
    assert "passes_gopher" in out.columns


def test_semantic_dedup_empty(spark, monkeypatch):
    """No embeddings (or none below the seed cutoff) → empty result, not
    a crash from an empty broadcast side."""
    from dffoo_data_pipeline_spark.plans import embeddings as EM

    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>, label int"
    )
    monkeypatch.setattr(EM, "load_table", lambda *a, **k: empty)
    out = EM.QUERIES["dedup_semantic_int8"](spark, "ignored")
    assert out.count() == 0
    assert out.columns == ["vec_id", "cluster_id", "cluster_size", "is_semantic_dup"]


def test_round3_closing_operators_empty(spark, empty_docs):
    from dffoo_data_pipeline_spark.multimodal.assets import audio_activity_segments
    from dffoo_data_pipeline_spark.operators.bpe import apply_bpe_merges, learn_bpe_merges
    from dffoo_data_pipeline_spark.operators.dedup import band_index, neardup_against_index
    from dffoo_data_pipeline_spark.operators.graph import pagerank

    empty_vocab = spark.createDataFrame([], "word string, freq long")
    assert learn_bpe_merges(empty_vocab, n_merges=3) == []
    assert apply_bpe_merges(empty_vocab, [(1, "a", "b", 2)]).count() == 0

    empty_rms = spark.createDataFrame([], "asset_id long, window_no int, rms double")
    seg = audio_activity_segments(empty_rms)
    assert seg.count() == 0 and "start_window" in seg.columns

    idx = band_index(empty_docs, "doc_id", "text")
    probe = neardup_against_index(empty_docs, None, "doc_id", "text", index_bands=idx)
    assert probe.count() == 0 and "novel" in probe.columns

    nodes = spark.createDataFrame([], "node string")
    edges = spark.createDataFrame([], "src string, dst string, w long")
    assert pagerank(nodes, edges, iterations=2).count() == 0


def test_bloom_dedup_empty_sides(spark, empty_docs):
    """Empty ledger → all-zero bitmap → every batch doc proven novel
    without touching the exact join; empty batch → empty result with the
    right schema."""
    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    empty_fps = empty_docs.select(fingerprint_md5("text").alias("fp"))
    some = spark.createDataFrame(
        [(1, "one two three four")], "doc_id bigint, text string"
    )
    got = dedup.dedup_against_seen_bloom(some, empty_fps).collect()
    assert len(got) == 1 and got[0].doc_id == 1
    out = dedup.dedup_against_seen_bloom(
        empty_docs, some.select(fingerprint_md5("text").alias("fp"))
    )
    assert out.count() == 0 and "fp" in out.columns


def test_sharded_bloom_dedup_empty_sides(spark, empty_docs):
    """Sharded sibling of the bloom empty-sides contract: an empty
    ledger builds one all-zeros row per shard, every batch doc is proven
    novel; an empty batch yields an empty result with the right
    schema."""
    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    empty_fps = empty_docs.select(fingerprint_md5("text").alias("fp"))
    some = spark.createDataFrame(
        [(1, "one two three four")], "doc_id bigint, text string"
    )
    got = dedup.dedup_against_seen_bloom(some, empty_fps, shards=8).collect()
    assert len(got) == 1 and got[0].doc_id == 1
    out = dedup.dedup_against_seen_bloom(
        empty_docs, some.select(fingerprint_md5("text").alias("fp")), shards=8
    )
    assert out.count() == 0 and "fp" in out.columns


def test_pq_family_empty(spark, monkeypatch):
    """No embeddings → empty codebook/codes/cells; every PQ-family plan
    (exhaustive, rerank, IVF-PQ, IVF-PQ+rerank, recall report) must
    return empty (or a degenerate summary row) with the right schema,
    not crash on an empty broadcast side."""
    from dffoo_data_pipeline_spark.plans import embeddings as EM
    from dffoo_data_pipeline_spark.plans import llm_ops as LO

    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>, label int"
    )
    monkeypatch.setattr(EM, "load_table", lambda *a, **k: empty)
    for name in (
        "similarity_pq_topk",
        "similarity_pq_rerank_topk",
        "similarity_ivfpq_topk",
        "similarity_ivfpq_rerank_topk",
    ):
        out = EM.QUERIES[name](spark, "ignored")
        assert out.count() == 0, name
        assert out.columns[:2] == ["vec_id", "index_id"], name
    monkeypatch.setattr(LO, "load_table", lambda *a, **k: empty)
    for rep_name in (
        "similarity_ivfpq_recall_report",
        "similarity_ivfpq_rerank_recall_report",
    ):
        rep = LO.QUERIES[rep_name](spark, "ignored").collect()
        assert len(rep) == 1 and rep[0].n_truth == 0, rep_name


def test_ingest_day_empty_batch_and_ledger(spark):
    """Empty batch → zero verdicts; empty ledger → nothing is dup_exact
    or near_dup (every doc is novel vs an empty ledger)."""
    from dffoo_data_pipeline_spark.plans.llm_ops import ingest_day_verdicts

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    empty = spark.createDataFrame([], schema)
    words = " ".join(
        ["the quick brown fox and a lazy dog walk through green fields"] * 5
    )
    some = spark.createDataFrame([(1, words, "en", "web", len(words))], schema)
    assert ingest_day_verdicts(empty, some).count() == 0
    got = {r.doc_id: r.verdict for r in ingest_day_verdicts(some, empty).collect()}
    assert got == {1: "admitted"}

"""Dedup operator unit tests: posting-list Jaccard vs a pure-Python
oracle, the stop-shingle skew guard, MinHash-LSH pair quality, and the
no-cached-RDD invariant (VERDICT r1 fixes #3/#6)."""

from __future__ import annotations

import pytest

from dffoo_data_pipeline_spark.operators import dedup


def _py_jaccard(texts: dict, n=3, threshold=0.2, stop_df=None):
    """Reference implementation with the operator's exact semantics:
    sizes include stop shingles; intersections exclude them."""
    sh = {}
    for d, t in texts.items():
        w = t.lower().strip().split()
        sh[d] = {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}
    df_count: dict = {}
    for s in sh.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    live = {g for g, c in df_count.items() if stop_df is None or c <= stop_df}
    out = {}
    docs = sorted(sh)
    for i, a in enumerate(docs):
        for b in docs[i + 1 :]:
            isect = len(sh[a] & sh[b] & live)
            if isect == 0:
                continue
            jac = isect / (len(sh[a]) + len(sh[b]) - isect)
            if jac >= threshold:
                out[(a, b)] = round(jac, 4)
    return out


def _docs_df(spark, texts: dict):
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(texts.items())], "doc_id long, text string"
    )


TEXTS = {
    1: "alpha beta gamma delta epsilon zeta",
    2: "alpha beta gamma delta epsilon eta",  # near-dup of 1
    3: "one two three four five six seven",
    4: "one two three four five six eight",  # near-dup of 3
    5: "totally unrelated words appear here instead",
}


def _collect_pairs(df):
    return {(r.doc_a, r.doc_b): r.jaccard for r in df.collect()}


def test_jaccard_matches_python_oracle(spark):
    got = _collect_pairs(
        dedup.ngram_jaccard_pairs(_docs_df(spark, TEXTS), "doc_id", "text", threshold=0.2)
    )
    assert got == pytest.approx(_py_jaccard(TEXTS, threshold=0.2))
    assert all(a < b for a, b in got)


def test_stop_shingle_guard_drops_degenerate_pairs(spark):
    # every doc shares the same boilerplate prefix; only 1-2 and 3-4 are
    # genuinely similar beyond it
    boiler = "click here to read more now"
    texts = {k: f"{boiler} {v}" for k, v in TEXTS.items()}
    df = _docs_df(spark, texts)

    unguarded = _collect_pairs(
        dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.05, max_doc_frequency=None)
    )
    # boilerplate shingles connect EVERY pair without the guard
    assert len(unguarded) == 10
    guarded = _collect_pairs(
        dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.05, max_doc_frequency=4)
    )
    assert guarded == pytest.approx(_py_jaccard(texts, threshold=0.05, stop_df=4))
    # genuine near-dups survive; boilerplate-only pairs are gone
    assert {(1, 2), (3, 4)} <= set(guarded)
    assert (1, 5) not in guarded


def test_guard_at_testdata_scale_is_invisible(spark):
    # default guard (1000) >> testdata max DF (7 at sf0.01) — identical output
    df = _docs_df(spark, TEXTS)
    a = _collect_pairs(dedup.ngram_jaccard_pairs(df, "doc_id", "text"))
    b = _collect_pairs(dedup.ngram_jaccard_pairs(df, "doc_id", "text", max_doc_frequency=None))
    assert a == b


def test_no_cached_rdds_left_behind(spark):
    # id-set based: earlier tests in the session may legitimately hold
    # materialized localCheckpoints, and Spark's ContextCleaner may
    # asynchronously UNPERSIST any of those mid-test once Python refs
    # are GC'd (observed in full-suite runs: the plain size()-delta
    # assert flaked 4->3 with zero leaks).  The contract under test is
    # one-sided — this op must ADD no persistent RDD — so compare id
    # sets: new ids are a leak, disappearing ids are cleaner noise.
    def ids():
        return {k for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}

    before = ids()
    dedup.ngram_jaccard_pairs(_docs_df(spark, TEXTS), "doc_id", "text").count()
    leaked = ids() - before
    assert not leaked, f"operator left cached RDDs behind: {leaked}"


def test_minhash_lsh_pair_quality(spark):
    # high-jaccard pairs must surface as candidates; unrelated docs must not
    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again today",
        2: "the quick brown fox jumps over the lazy dog again and again tonight",
        3: "completely different content with no overlap whatsoever in any window",
    }
    cands = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidates(_docs_df(spark, texts), "doc_id", "text").collect()
    }
    assert (1, 2) in cands
    assert (1, 3) not in cands and (2, 3) not in cands


def test_containment_catches_embedded_doc(spark):
    """A short doc fully embedded in a long one: containment fires at
    ~1.0 in the short→long direction while Jaccard stays below a
    symmetric dedup threshold."""
    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + "one two three four five six seven eight nine ten eleven twelve"
    texts = {1: short, 2: long_}
    pairs = {
        (r.contained, r.container): r.containment
        for r in dedup.shingle_containment_pairs(
            _docs_df(spark, texts), "doc_id", "text", n=3, threshold=0.8
        ).collect()
    }
    # doc 1 has 3 shingles, all present in doc 2 → containment 1.0
    assert pairs == {(1, 2): 1.0}
    jac = dedup.ngram_jaccard_pairs(
        _docs_df(spark, texts), "doc_id", "text", n=3, threshold=0.5
    ).collect()
    assert jac == []  # symmetric dedup misses the same pair


def test_containment_is_directed_and_thresholded(spark):
    """Both directions emit independently; sub-threshold directions are
    dropped."""
    texts = {
        1: "a b c d e f",          # 4 shingles
        2: "a b c d e f g h",      # 6 shingles, contains all of doc 1
    }
    rows = dedup.shingle_containment_pairs(
        _docs_df(spark, texts), "doc_id", "text", n=3, threshold=0.5
    ).collect()
    got = {(r.contained, r.container): r.containment for r in rows}
    assert got[(1, 2)] == 1.0          # 4/4
    assert got[(2, 1)] == round(4 / 6, 4)  # 4/6 ≥ 0.5 both ways here


def _py_containment(texts: dict, n=3, threshold=0.8):
    sh = {}
    for d, t in texts.items():
        w = t.lower().strip().split()
        sh[d] = {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}
    out = {}
    for a in sh:
        for b in sh:
            if a == b or not sh[a]:
                continue
            c = len(sh[a] & sh[b]) / len(sh[a])
            if c >= threshold:
                out[(a, b)] = round(c, 4)
    return out


def test_containment_matches_python_oracle(spark):
    got = {
        (r.contained, r.container): r.containment
        for r in dedup.shingle_containment_pairs(
            _docs_df(spark, TEXTS), "doc_id", "text", n=3, threshold=0.3
        ).collect()
    }
    assert got == _py_containment(TEXTS, n=3, threshold=0.3)


def test_neardup_against_index_matches_and_novel(spark):
    from dffoo_data_pipeline_spark.operators.dedup import (
        band_index,
        neardup_against_index,
    )

    base = "the quick brown fox jumps over the lazy dog near the old river bank " * 3
    old = spark.createDataFrame(
        [(1, base), (2, "entirely different content about spark shuffles and joins " * 3)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base),  # exact copy of old doc 1 -> must match
            (11, base.replace("lazy", "sleepy")),  # near copy -> should match doc 1
            (12, "completely novel text with no overlap whatsoever in any shingle " * 3),
        ],
        "doc_id long, text string",
    )
    index = band_index(old, "doc_id", "text")
    got = {
        r.doc_id: r
        for r in neardup_against_index(new, None, "doc_id", "text", index_bands=index).collect()
    }
    assert set(got) == {10, 11, 12}  # exactly one verdict per new doc
    assert got[10].matched_id == 1 and got[10].novel == 0
    assert got[10].n_shared_bands == 16  # identical text: every band collides
    assert got[11].matched_id == 1 and got[11].novel == 0
    assert got[12].matched_id is None and got[12].novel == 1


def test_neardup_against_index_keeps_short_docs(spark):
    """A new doc shorter than the shingle width yields zero shingles and
    never reaches the signature stage — it must STILL come back as
    novel=1 (one row per new document is the contract; dropping it would
    silently lose the doc from an index-append pipeline)."""
    from dffoo_data_pipeline_spark.operators.dedup import (
        band_index,
        neardup_against_index,
    )

    old = spark.createDataFrame(
        [(1, "some indexed corpus document with plenty of words " * 3)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(20, "too short"), (21, "some indexed corpus document with plenty of words " * 3)],
        "doc_id long, text string",
    )
    index = band_index(old, "doc_id", "text")
    got = {
        r.doc_id: r
        for r in neardup_against_index(new, None, "doc_id", "text", index_bands=index).collect()
    }
    assert set(got) == {20, 21}
    assert got[20].matched_id is None and got[20].novel == 1
    assert got[21].novel == 0


def test_lsh_quality_report_contract(spark, sf_dir):
    from dffoo_data_pipeline_spark.plans.llm_ops import dedup_lsh_quality_report

    r = dedup_lsh_quality_report(spark, sf_dir).collect()[0]
    assert r.n_hit <= min(r.n_truth, r.n_cand)
    assert 0 <= r.precision <= 1 and 0 <= r.recall <= 1
    # fixture duplicates are heavy near-copies: banding must catch most
    assert r.n_truth == 0 or r.recall >= 0.5


def test_lsh_verified_pairs_subset_of_exact_with_true_similarities(spark, sf_dir):
    from dffoo_data_pipeline_spark.operators.dedup import (
        lsh_verified_pairs,
        ngram_jaccard_pairs,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.5).collect()
    }
    verified = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in lsh_verified_pairs(d, "doc_id", "text", threshold=0.5).collect()
    }
    # soundness: every verified pair is a true pair with the TRUE jaccard
    for k, v in verified.items():
        assert k in exact and v == exact[k]
    # on this fixture the banding captures everything (see quality report)
    assert set(verified) == set(exact)


def test_prefix_filter_lossless_and_hot_shingle_safe(spark, sf_dir):
    """Prefix filtering must equal the exhaustive computation (lossless
    at the threshold) AND stay correct when a boilerplate shingle is
    shared corpus-wide — the case the df stop-shingle cap silently
    drops pairs for."""
    from dffoo_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            d, "doc_id", "text", threshold=0.5, max_doc_frequency=None
        ).collect()
    }
    pref = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_pairs(d, "doc_id", "text", threshold=0.5).collect()
    }
    assert pref == exact  # lossless, with true similarities

    # constructed corpus: every doc shares one hot boilerplate shingle
    # (so naive posting lists would pair everything); only 1&2 are near-dups
    boiler = "click here to subscribe"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta epsilon"),
            (2, f"{boiler} alpha beta gamma delta zeta"),
            (3, f"{boiler} one two three four five"),
            (4, f"{boiler} six seven eight nine ten"),
        ],
        "doc_id bigint, text string",
    )
    got = {(r.doc_a, r.doc_b) for r in prefix_filter_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    want = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, max_doc_frequency=None
        ).collect()
    }
    assert got == want
    assert (1, 2) in got
    assert (3, 4) not in got


def test_prefix_filter_sample_slice_is_exact(spark, sf_dir):
    """The audit-sampling knob (sample_hex_cutoff) must return exactly
    the full result restricted to pairs whose BOTH endpoints fall in the
    md5 slice — a deterministic sub-audit, not an approximation."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.operators.dedup import prefix_filter_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cut = "8000"  # ~half the corpus
    in_slice = {
        r.doc_id
        for r in d.where(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < cut
        )
        .select("doc_id")
        .collect()
    }
    assert 0 < len(in_slice) < d.count()
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_pairs(d, "doc_id", "text", threshold=0.5).collect()
    }
    sampled = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_pairs(
            d, "doc_id", "text", threshold=0.5, sample_hex_cutoff=cut
        ).collect()
    }
    want = {
        pair: j
        for pair, j in full.items()
        if pair[0] in in_slice and pair[1] in in_slice
    }
    assert sampled == want


def test_prefix_filter_window_is_exact_and_rotation_covers(spark, sf_dir):
    """The ROTATION form (sample_hex_window) must return exactly the
    full result restricted to pairs whose BOTH endpoints fall in the
    window; consecutive windows are disjoint slices whose union is the
    cutoff slice (the walk-the-corpus contract), and cutoff=c is the
    ("0000", c) window."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.operators.dedup import prefix_filter_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def run(**kw):
        return {
            (r.doc_a, r.doc_b): r.jaccard
            for r in prefix_filter_pairs(
                d, "doc_id", "text", threshold=0.5, **kw
            ).collect()
        }

    full = run()
    pref = {
        r.doc_id: r.p
        for r in d.select(
            "doc_id",
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4).alias("p"),
        ).collect()
    }

    def want(lo, hi):
        return {
            pair: j
            for pair, j in full.items()
            if lo <= pref[pair[0]] < hi and lo <= pref[pair[1]] < hi
        }

    w1 = run(sample_hex_window=("0000", "8000"))
    w2 = run(sample_hex_window=("8000", "ffff"))
    assert w1 == want("0000", "8000")
    assert w2 == want("8000", "ffff")
    assert w1, "first window must be non-trivial at this sf"
    assert not (set(w1) & set(w2)), "rotation windows are disjoint"
    # cutoff c ≡ window ("0000", c)
    assert run(sample_hex_cutoff="8000") == w1
    with pytest.raises(ValueError, match="at most one"):
        prefix_filter_pairs(
            d,
            "doc_id",
            "text",
            threshold=0.5,
            sample_hex_cutoff="8000",
            sample_hex_window=("0000", "8000"),
        )


def test_compression_ratio_separates_boilerplate(spark, sf_dir):
    """The zlib signal's discriminative contract: heavily repeated text
    compresses far better than the organic corpus tail."""
    from dffoo_data_pipeline_spark.plans.llm_ops import text_compression_ratio

    corpus = {r.doc_id: r for r in text_compression_ratio(spark, sf_dir).collect()}
    assert all(r.zlib_bytes > 0 and r.raw_bytes > 0 for r in corpus.values())
    ratios = sorted(r.compress_ratio for r in corpus.values())
    median = ratios[len(ratios) // 2]

    import pandas as pd

    from dffoo_data_pipeline_spark.operators import dedup as _  # noqa: F401

    spam = spark.createDataFrame(
        [(1, "buy now " * 200), (2, "wow " * 500)], "doc_id long, text string"
    )
    spam.createOrReplaceTempView("__spam")
    # run the same kernel over the constructed frame
    import zlib

    for _, row in spam.toPandas().iterrows():
        b = row.text.encode()
        assert len(zlib.compress(b, 6)) / len(b) < 0.25 < median


# ---------------------------------------------------------------------------
# Portable (md5-family) MinHash / SimHash — python twins pin the exact
# hash semantics the DuckDB oracles re-derive (tests/test_oracle.py)
# ---------------------------------------------------------------------------


def _py_minhash_portable(texts, n=3, num_hashes=15, bands=5, threshold=0.7):
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    rows = num_hashes // bands
    sh = {}
    for d, t in texts.items():
        w = t.lower().strip().split()
        sh[d] = {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}
    sig = {
        d: [min(md5(f"{i}:{s}") for s in ss) for i in range(num_hashes)]
        for d, ss in sh.items()
        if ss
    }
    bkeys = {
        d: {
            (b, md5("|".join(hs[b * rows : (b + 1) * rows])))
            for b in range(bands)
        }
        for d, hs in sig.items()
    }
    out = {}
    docs = sorted(sig)
    for i, a in enumerate(docs):
        for b in docs[i + 1 :]:
            if not (bkeys[a] & bkeys[b]):
                continue
            isect = len(sh[a] & sh[b])
            jac = isect / (len(sh[a]) + len(sh[b]) - isect)
            if jac >= threshold:
                out[(a, b)] = round(jac, 4)
    return out


def _py_simhash_portable(texts, sig_bits=48, bands=4, max_hamming=3):
    import hashlib

    width = sig_bits // bands
    sigs = {}
    for d, t in texts.items():
        # non-empty-token spec (r11): a token-less doc has NO signature
        # and participates in no near-dup pairs (identical empty docs
        # are the exact-dedup path's job); previously a fabricated ''
        # token gave empty docs a signature the engine no longer derives
        toks = t.lower().strip().split()
        if not toks:
            continue
        votes = [0] * sig_bits
        for tok in toks:
            th = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for k in range(sig_bits):
                votes[k] += 1 if (th >> k) & 1 else -1
        sigs[d] = sum(1 << k for k in range(sig_bits) if votes[k] > 0)
    out = {}
    docs = sorted(sigs)
    mask = (1 << width) - 1
    for i, a in enumerate(docs):
        for b in docs[i + 1 :]:
            shares = any(
                (sigs[a] >> (width * k)) & mask == (sigs[b] >> (width * k)) & mask
                for k in range(bands)
            )
            if not shares:
                continue
            ham = bin(sigs[a] ^ sigs[b]).count("1")
            if ham <= max_hamming:
                out[(a, b)] = ham
    return out


PORTABLE_TEXTS = {
    1: "the quick brown fox jumps over the lazy dog again and again today",
    2: "the quick brown fox jumps over the lazy dog again and again tonight",
    3: "completely different content with no overlap whatsoever in any window",
    4: "the quick brown fox jumps over the lazy dog again and again today",  # exact dup of 1
    5: "one two three four five six seven eight nine ten eleven twelve",
}


def test_minhash_portable_matches_python_twin(spark):
    got = _collect_pairs(
        dedup.lsh_verified_pairs(
            _docs_df(spark, PORTABLE_TEXTS), "doc_id", "text",
            n=3, threshold=0.7, num_hashes=15, bands=5, family="md5",
        )
    )
    want = _py_minhash_portable(PORTABLE_TEXTS)
    assert got == pytest.approx(want)
    assert (1, 4) in got and got[(1, 4)] == 1.0  # exact dup always banded together
    assert all(j >= 0.7 for j in got.values())


def test_simhash_portable_matches_python_twin(spark):
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs(
            _docs_df(spark, PORTABLE_TEXTS), "doc_id", "text", sig_bits=48, family="md5"
        ).collect()
    }
    want = _py_simhash_portable(PORTABLE_TEXTS)
    assert got == want
    assert got[(1, 4)] == 0  # identical text -> identical signature
    # pigeonhole: any pair within max_hamming MUST share a band, so the
    # band prefilter loses nothing — the python twin enumerates all pairs
    # and found exactly the same set


def test_portable_neardup_against_index_contract(spark):
    """The portable (md5-family) probe keeps the xxhash probe's exact
    contract: one verdict per new doc, exact copies collide on every
    band, zero-shingle docs still come back novel=1."""
    from dffoo_data_pipeline_spark.operators.dedup import neardup_against_index

    base = "the quick brown fox jumps over the lazy dog near the old river bank " * 3
    old = spark.createDataFrame(
        [(1, base), (2, "entirely different content about spark shuffles and joins " * 3)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base),  # exact copy of old doc 1 -> every band collides
            (11, base.replace("lazy", "sleepy")),  # near copy -> should match doc 1
            (12, "completely novel text with no overlap whatsoever in any shingle " * 3),
            (13, "too short"),  # zero shingles -> still one novel row
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in neardup_against_index(
            new, old, "doc_id", "text", n=3, num_hashes=15, bands=5, family="md5"
        ).collect()
    }
    assert set(got) == {10, 11, 12, 13}
    assert got[10].matched_id == 1 and got[10].novel == 0 and got[10].n_shared_bands == 5
    assert got[11].matched_id == 1 and got[11].novel == 0
    assert got[12].matched_id is None and got[12].novel == 1
    assert got[13].matched_id is None and got[13].novel == 1


def test_portable_band_split_must_divide(spark):
    """A ragged band split must fail LOUDLY: num_hashes % bands != 0 would
    silently drop trailing hashes from every band key, and sig_bits %
    bands != 0 leaves high signature bits outside every band — quietly
    voiding the pigeonhole completeness guarantee (ADVICE r7)."""
    d = _docs_df(spark, PORTABLE_TEXTS)
    with pytest.raises(ValueError, match="num_hashes"):
        dedup.lsh_verified_pairs(d, "doc_id", "text", num_hashes=16, bands=5, family="md5")
    with pytest.raises(ValueError, match="num_hashes"):
        dedup.lsh_candidates(d, "doc_id", "text", num_hashes=14, bands=4, family="md5")
    with pytest.raises(ValueError, match="sig_bits"):
        dedup.simhash_pairs(d, "doc_id", "text", sig_bits=50, bands=4, family="md5")
    # the divisible configs still construct fine
    dedup.lsh_verified_pairs(d, "doc_id", "text", num_hashes=10, bands=5, family="md5")
    dedup.simhash_pairs(d, "doc_id", "text", sig_bits=48, bands=3, family="md5")


def test_banding_refuses_ragged_split_and_unknown_family(spark):
    """Both hash families refuse, while the plan is built and before any
    Spark job runs, a band split that does not divide num_hashes (it
    would silently drop the trailing hashes from every band key), bands=0
    and a family they do not know.  Each error names the bad value."""
    from tests.conftest import count_jobs

    d = _docs_df(spark, PORTABLE_TEXTS)

    def build():
        for family in ("xx64", "md5"):
            with pytest.raises(ValueError, match=r"num_hashes \(64\).*bands \(10\)"):
                dedup.lsh_candidates(
                    d, "doc_id", "text", num_hashes=64, bands=10, family=family
                )
            with pytest.raises(ValueError, match=r"bands \(0\)"):
                dedup.band_index(d, "doc_id", "text", bands=0, family=family)
        for op in (dedup.band_index, dedup.lsh_candidates, dedup.simhash_pairs):
            with pytest.raises(ValueError, match="'sha1'"):
                op(d, "doc_id", "text", family="sha1")
        with pytest.raises(ValueError, match="'sha1'"):
            dedup.neardup_against_index(d, d, "doc_id", "text", family="sha1")

    assert count_jobs(spark, build) == 0


def test_near_dup_job_counts_pinned(spark):
    """Construction and total Spark jobs of each near-dup operator under
    both hash families, on a 40-row corpus.  Staging a relation (a
    checkpoint, an eager count) changes these numbers and fails here.
    The verified pairs count their candidates while the plan is built
    (`_verify_exact_jaccard`), so only they run jobs at construction."""
    from pyspark.sql import functions as F

    from tests.conftest import count_jobs

    texts = {
        i: f"the quick brown fox {i % 8} jumps over the lazy dog near river bank {i % 3}"
        for i in range(40)
    }
    d = _docs_df(spark, texts)
    new, old = d.where(F.col("doc_id") < 10), d.where(F.col("doc_id") >= 10)
    md5 = dict(n=3, num_hashes=15, bands=5, family="md5")
    verified, probe, other = ((5, 9), (1, 3)), ((0, 7), (0, 1)), ((0, 3), (0, 1))
    # name: (build, ((construct, total) with AQE on, the same with AQE off))
    cases = {
        "candidates/xx64": (
            lambda: dedup.lsh_candidates(d, "doc_id", "text"), ((0, 4), (0, 1))
        ),
        "candidates/md5": (
            lambda: dedup.lsh_candidates(d, "doc_id", "text", **md5), ((0, 4), (0, 1))
        ),
        "verified/xx64": (lambda: dedup.lsh_verified_pairs(d, "doc_id", "text"), verified),
        "verified/md5": (
            lambda: dedup.lsh_verified_pairs(d, "doc_id", "text", threshold=0.7, **md5),
            verified,
        ),
        "probe/xx64": (lambda: dedup.neardup_against_index(new, old, "doc_id", "text"), probe),
        "probe/md5": (
            lambda: dedup.neardup_against_index(new, old, "doc_id", "text", **md5), probe
        ),
        "simhash/xx64": (lambda: dedup.simhash_pairs(d, "doc_id", "text"), other),
        "simhash/md5": (
            lambda: dedup.simhash_pairs(d, "doc_id", "text", sig_bits=48, family="md5"),
            other,
        ),
        "ngram": (lambda: dedup.ngram_jaccard_pairs(d, "doc_id", "text"), other),
    }
    aqe = spark.conf.get("spark.sql.adaptive.enabled") == "true"
    for name, (build, (on, off)) in cases.items():
        box = {}
        construct = count_jobs(spark, lambda: box.update(df=build()))
        total = construct + count_jobs(spark, lambda: box["df"].collect())
        want = on if aqe else off
        if name.startswith("probe") and aqe:
            # under AQE the probe runs 5 or 7 jobs from run to run (same
            # rows): the upper figure is the pin
            assert construct == want[0] and total in (5, want[1]), (name, total)
        else:
            assert (construct, total) == want, name


# ---------------------------------------------------------------------------
# Broadcast-Bloom prefilter (dedup_against_seen_bloom)
# ---------------------------------------------------------------------------


def test_bloom_prefilter_matches_plain_anti_join(spark):
    """With duplicate texts crossing the batch/ledger split, the bloom
    path must return exactly the plain anti-join's novel set (false
    negatives are impossible, false positives are verified away)."""
    from pyspark.sql import functions as F

    texts = {
        1: "the quick brown fox",      # dup of ledger doc 11
        2: "a genuinely novel doc",
        3: "jumps over the lazy dog",  # dup of ledger doc 13
        4: "another novel document appears",
        11: "the quick brown fox",
        13: "jumps over the lazy dog",
        15: "ledger only content here",
    }
    d = _docs_df(spark, texts)
    new = d.where(F.col("doc_id") < 10)
    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    seen = d.where(F.col("doc_id") >= 10).select(fingerprint_md5("text").alias("fp"))
    got = {r.doc_id for r in dedup.dedup_against_seen_bloom(new, seen).collect()}
    want = {r.doc_id for r in dedup.dedup_against_seen(new, seen)[0].collect()}
    assert got == want == {2, 4}


def test_bloom_bitmap_has_no_false_negatives_and_prunes(spark, sf_dir):
    """Every ledger fingerprint must test positive against its own
    bitmap (the correctness contract), and at least one novel row must
    test negative (the prefilter actually saves exact-join work)."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5
    from dffoo_data_pipeline_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    seen = d.where(F.col("doc_id") % 7 >= 2).select(fingerprint_md5("text").alias("fp"))
    bitmap = dedup.bloom_bitmap(seen)
    self_test = seen.crossJoin(F.broadcast(bitmap))
    assert (
        self_test.where(
            ~dedup.bloom_might_contain(F.col("fp"), F.col("bloom"))
        ).count()
        == 0
    )
    batch = (
        d.where(F.col("doc_id") % 7 < 2)
        .select(fingerprint_md5("text").alias("fp"))
        .crossJoin(F.broadcast(bitmap))
    )
    pruned = batch.where(
        ~dedup.bloom_might_contain(F.col("fp"), F.col("bloom"))
    ).count()
    assert pruned > 0


def test_bloom_bitmap_rejects_bad_num_bits(spark):
    import pytest as _pytest

    d = _docs_df(spark, {1: "x"}).select("text")
    with _pytest.raises(ValueError, match="multiple of 64"):
        dedup.bloom_bitmap(d.selectExpr("text AS fp"), num_bits=100)


def test_bloom_union_equals_full_rebuild(spark, sf_dir):
    """Daily maintenance contract: yesterday's bitmap OR a fold of only
    today's fingerprints must be BIT-EXACTLY the bitmap rebuilt over the
    whole ledger — so the cumulative ledger is never re-scanned."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5
    from dffoo_data_pipeline_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    fps = d.select("doc_id", fingerprint_md5("text").alias("fp"))
    day1 = dedup.bloom_bitmap(fps.where(F.col("doc_id") % 2 == 0))
    day2 = dedup.bloom_bitmap(fps.where(F.col("doc_id") % 2 == 1))
    merged = dedup.bloom_union(day1, day2).collect()[0]["bloom"]
    full = dedup.bloom_bitmap(fps).collect()[0]["bloom"]
    assert merged == full


def test_pipeline_ingest_day_routes_all_four_verdicts(spark, tmp_path):
    """Constructed corpus where each stage fires: an exact twin of a
    ledger doc ('dup_exact', caught by the bloom stage and never
    quality-checked), a junk doc ('low_quality'), a one-word-off twin of
    a ledger doc ('near_dup' with the right matched_id), and a fresh doc
    ('admitted').  sf0.01 exercises only three verdicts (no exact dup
    crosses the %7 split there), so this pins the fourth path too."""
    import os

    from dffoo_data_pipeline_spark.plans import llm_ops as L

    base = (
        "the quick brown fox and the lazy dog walk through green fields near "
        "calm rivers while many small birds sing old songs about warm summer "
        "days and cold winter nights that people remember from their young "
        "years spent inside quiet villages between tall mountains and wide "
        "valleys full of bright flowers"
    )
    words = base.split()
    assert len(words) >= 50  # must clear the Gopher word-count gate
    near = " ".join(words[:-1] + ["meadows"])
    ledger_dup = "ledger exact twin " + base
    fresh = (
        "completely different admitted story where seven friendly dragons and "
        "three wise turtles build large wooden ships beside deep blue lakes "
        "and sail toward distant golden islands carrying fresh bread sweet "
        "fruit and heavy iron tools for trading with kind strangers who live "
        "along sunny shores under ancient stone towers guarded by gentle giants"
    )
    rows = [
        (0, ledger_dup),   # batch: exact twin of doc 9
        (1, "short junk"), # batch: fails Gopher
        (7, near),         # batch: near-dup of doc 10
        (8, fresh),        # batch: admitted
        (14, None),        # batch: NULL text -> NULL gopher metrics; must
                           # still get a verdict ('low_quality', matching
                           # the oracle's CASE), not silently vanish
        (9, ledger_dup),   # ledger
        (10, base),        # ledger
        (11, "some other ledger content entirely"),  # ledger
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "web", len(t) if t else 0) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path / "ingest_fixture")
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    out = {
        r.doc_id: (r.verdict, r.matched_id)
        for r in L.QUERIES["pipeline_ingest_day"](spark, sf_dir).collect()
    }
    assert out == {
        0: ("dup_exact", None),
        1: ("low_quality", None),
        7: ("near_dup", 10),
        8: ("admitted", None),
        14: ("low_quality", None),
    }


def test_bloom_geometry_mismatch_is_refused(spark):
    """A bitmap built with one geometry probed (or unioned) with another
    must fail LOUDLY — a silent mismatch would drop duplicates (false
    negatives)."""
    from pyspark.sql import functions as F

    d = _docs_df(spark, {1: "aa bb cc", 12: "dd ee ff"})
    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    seen = d.where(F.col("doc_id") >= 10).select(fingerprint_md5("text").alias("fp"))
    small = dedup.bloom_bitmap(seen, num_bits=256, num_hashes=2)
    with pytest.raises(Exception, match="stamp mismatch"):
        dedup.dedup_against_seen_bloom(
            d.where(F.col("doc_id") < 10), seen, bitmap=small
        ).collect()
    with pytest.raises(Exception, match="mismatched bitmap geometries"):
        dedup.bloom_union(small, dedup.bloom_bitmap(seen)).collect()
    # a plain union of two same-geometry bitmaps passes the per-row
    # geometry check but would fan every probe doc out 2x — refused too
    b = dedup.bloom_bitmap(seen)
    with pytest.raises(Exception, match="single row"):
        dedup.dedup_against_seen_bloom(
            d.where(F.col("doc_id") < 10), seen, bitmap=b.union(b)
        ).collect()


def test_bloom_zero_row_bitmap_is_refused_not_silent(spark):
    """A ZERO-row bitmap must fail LOUDLY.  Before the r10 fix the
    per-row guards never evaluated on 0 rows, the crossJoin emptied the
    stamped batch, and dedup_against_seen_bloom silently returned no
    rows — the entire batch dropped, classified neither novel nor dupe
    (r9 ADVICE).  The single-row check is now an AGGREGATE count, which
    yields exactly one row even over empty input, so the assert fires."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    d = _docs_df(spark, {1: "aa bb cc", 12: "dd ee ff"})
    seen = d.where(F.col("doc_id") >= 10).select(fingerprint_md5("text").alias("fp"))
    empty_bitmap = dedup.bloom_bitmap(seen).where(F.lit(False))
    with pytest.raises(Exception, match="single row"):
        dedup.dedup_against_seen_bloom(
            d.where(F.col("doc_id") < 10), seen, bitmap=empty_bitmap
        ).collect()


def test_bloom_union_refuses_empty_and_multirow_sides(spark):
    """bloom_union must validate row counts on BOTH sides before the
    merge: an empty side would silently yield an empty 'merged' bitmap
    (deferring the error to a later probe), and a multi-row side would
    emit an N×M pairwise-OR'd artifact (r9 ADVICE)."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    d = _docs_df(spark, {11: "aa bb cc", 12: "dd ee ff"})
    fps = d.select(fingerprint_md5("text").alias("fp"))
    good = dedup.bloom_bitmap(fps)
    empty = good.where(F.lit(False))
    double = good.union(good)
    with pytest.raises(Exception, match="left side must be a single row"):
        dedup.bloom_union(empty, good).collect()
    with pytest.raises(Exception, match="right side must be a single row"):
        dedup.bloom_union(good, empty).collect()
    with pytest.raises(Exception, match="left side must be a single row"):
        dedup.bloom_union(double, good).collect()
    with pytest.raises(Exception, match="right side must be a single row"):
        dedup.bloom_union(good, double).collect()


def test_bloom_fill_ratio_stamped_and_saturation_refused(spark):
    """The bitmap row carries bloom_fill_ratio = popcount/num_bits (so a
    reader can see how close the filter is to saturation without
    recomputing), bloom_union re-stamps the merged row, and a probe of a
    bitmap past max_fill is REFUSED — an over-filled bitmap answers
    'maybe' for everything, silently degrading the prefilter to a no-op
    (correct answers, zero pruning): the failure mode must be loud, not
    slow (r9 verdict)."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    texts = {i: f"document number {i} with some distinct words" for i in range(40)}
    d = _docs_df(spark, texts)
    fps = d.select(fingerprint_md5("text").alias("fp"))

    # roomy bitmap: stamp present, equals the recomputed popcount ratio
    roomy = dedup.bloom_bitmap(fps).collect()[0]
    popcount = sum(bin(w & (2**64 - 1)).count("1") for w in roomy["bloom"])
    assert roomy["bloom_fill_ratio"] == pytest.approx(popcount / (1 << 16))
    assert roomy["bloom_fill_ratio"] < 0.5

    # merged row is re-stamped (OR raises popcount, inputs' stamps stale)
    half1 = dedup.bloom_bitmap(fps.limit(20))
    merged = dedup.bloom_union(half1, dedup.bloom_bitmap(fps)).collect()[0]
    mpop = sum(bin(w & (2**64 - 1)).count("1") for w in merged["bloom"])
    assert merged["bloom_fill_ratio"] == pytest.approx(mpop / (1 << 16))

    # 40 fps × 4 hashes into 64 bits saturates way past 50%: refused
    tiny = dedup.bloom_bitmap(fps, num_bits=64)
    fill = tiny.collect()[0]["bloom_fill_ratio"]
    assert fill > 0.5
    with pytest.raises(Exception, match="saturated"):
        dedup.dedup_against_seen_bloom(
            d, fps, num_bits=64, bitmap=tiny
        ).collect()
    # the caller who knowingly accepts a saturated (no-op) prefilter can
    # raise the ceiling — and the answer is still exact
    got = dedup.dedup_against_seen_bloom(
        d.limit(0), fps, num_bits=64, bitmap=tiny, max_fill=1.0
    ).count()
    assert got == 0


# ---------------------------------------------------------------------------
# Sharded Bloom prefilter (bloom_bitmap / bloom_union / dedup_against_seen_bloom
# with shards > 1) — the past-the-broadcast-ceiling form
# ---------------------------------------------------------------------------


def test_sharded_bloom_matches_plain_and_unsharded(spark):
    """The sharded prefilter must return exactly the plain anti-join's
    novel set (same no-false-negatives contract as the 1-row form) —
    including when some shards received no fingerprints (their rows are
    all-zeros bitmaps)."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    texts = {i: f"content number {i} here" for i in range(30)}
    texts.update({1: texts[11], 3: texts[13]})  # cross-split dupes
    d = _docs_df(spark, texts)
    new = d.where(F.col("doc_id") < 10)
    seen = d.where(F.col("doc_id") >= 10).select(fingerprint_md5("text").alias("fp"))
    want = {r.doc_id for r in dedup.dedup_against_seen(new, seen)[0].collect()}
    for shards in (1, 4, 64):  # 64 shards over ~20 fps guarantees empties
        got = {
            r.doc_id
            for r in dedup.dedup_against_seen_bloom(
                new, seen, shards=shards
            ).collect()
        }
        assert got == want, (shards, got ^ want)


def test_sharded_bloom_empty_ledger_proves_all_novel(spark):
    """An EMPTY ledger builds one all-zeros row per shard; every batch
    doc tests not-seen and is proven novel without the exact join — and
    without tripping any refusal."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    d = _docs_df(spark, {1: "aa", 2: "bb", 3: "cc"})
    empty_seen = d.where(F.lit(False)).select(fingerprint_md5("text").alias("fp"))
    got = {
        r.doc_id
        for r in dedup.dedup_against_seen_bloom(d, empty_seen, shards=8).collect()
    }
    assert got == {1, 2, 3}


def test_sharded_bloom_union_equals_full_rebuild(spark, sf_dir):
    """Per-shard daily maintenance: yesterday's sharded bitmap ∪ a fold
    of only today's fingerprints is bit-exactly a full rebuild, shard by
    shard — including shards that received fingerprints on one day only."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5
    from dffoo_data_pipeline_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    fps = d.select("doc_id", fingerprint_md5("text").alias("fp"))
    day1 = dedup.bloom_bitmap(fps.where(F.col("doc_id") % 3 == 0), shards=16)
    day2 = dedup.bloom_bitmap(fps.where(F.col("doc_id") % 3 != 0), shards=16)
    merged = {r.shard: r.bloom for r in dedup.bloom_union(day1, day2).collect()}
    full = {r.shard: r.bloom for r in dedup.bloom_bitmap(fps, shards=16).collect()}
    assert merged == full


def test_sharded_bloom_refusals(spark):
    """Wrong routing modulus, duplicate shard rows, and per-shard
    saturation are each refused loudly at action time."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    texts = {i: f"doc number {i} words" for i in range(40)}
    d = _docs_df(spark, texts)
    fps = d.select(fingerprint_md5("text").alias("fp"))

    built4 = dedup.bloom_bitmap(fps, shards=4)
    with pytest.raises(Exception, match="stamp mismatch"):
        dedup.dedup_against_seen_bloom(
            d, fps, shards=8, bitmap=built4
        ).collect()
    with pytest.raises(Exception, match="duplicate shard rows"):
        dedup.dedup_against_seen_bloom(
            d, fps, shards=4, bitmap=built4.union(built4)
        ).collect()
    tiny = dedup.bloom_bitmap(fps, shards=2, num_bits=64)
    assert tiny.agg(F.max("bloom_fill_ratio")).collect()[0][0] > 0.5
    with pytest.raises(Exception, match="saturated"):
        dedup.dedup_against_seen_bloom(
            d, fps, shards=2, num_bits=64, bitmap=tiny
        ).collect()
    # per-shard stamps present and consistent with a recount
    row = built4.collect()[0]
    pop = sum(bin(w & (2**64 - 1)).count("1") for w in row["bloom"])
    assert row["bloom_fill_ratio"] == pytest.approx(pop / (1 << 16))


def test_portable_bloom_family(spark):
    """md5-family bloom: same no-false-negatives/exactness contract as
    xx64 (the prefiltered novel set equals the plain anti-join), and a
    bitmap built with one family probed with the other is REFUSED — the
    two families' bit positions are unrelated, so a silent cross-probe
    would produce false negatives (dropped duplicates)."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    texts = {i: f"portable doc {i} body" for i in range(24)}
    texts.update({1: texts[11], 2: texts[12]})  # cross-split dupes
    d = _docs_df(spark, texts)
    new = d.where(F.col("doc_id") < 10)
    seen = d.where(F.col("doc_id") >= 10).select(fingerprint_md5("text").alias("fp"))
    want = {r.doc_id for r in dedup.dedup_against_seen(new, seen)[0].collect()}
    got = {
        r.doc_id
        for r in dedup.dedup_against_seen_bloom(new, seen, family="md5").collect()
    }
    assert got == want

    md5_bm = dedup.bloom_bitmap(seen, family="md5")
    with pytest.raises(Exception, match="stamp mismatch"):
        dedup.dedup_against_seen_bloom(new, seen, bitmap=md5_bm).collect()
    with pytest.raises(Exception, match="mismatched bitmap geometries"):
        dedup.bloom_union(md5_bm, dedup.bloom_bitmap(seen)).collect()
    # same-family union still bit-exact vs rebuild
    day1 = dedup.bloom_bitmap(seen.limit(5), family="md5")
    merged = dedup.bloom_union(day1, md5_bm).collect()[0]
    full = dedup.bloom_bitmap(seen, family="md5").collect()[0]
    assert merged["bloom"] == full["bloom"]
    assert merged["bloom_family"] == "md5"
    # >4 probes cannot be derived from 32 hex chars
    with pytest.raises(ValueError, match="at most 4"):
        dedup.bloom_bitmap(seen, family="md5", num_hashes=5)


def test_portable_bloom_null_text_not_dropped(spark):
    """Self-review r10 regression pins: (1) a NULL-text batch doc under
    the md5 family must be classified NOVEL (its bit tests are NULL;
    without the coalesce it matched neither branch and silently
    vanished — the silent-drop failure mode this round eliminated);
    (2) a NULL fingerprint in the LEDGER must not crash the md5-family
    bitmap build with NULL_MAP_KEY (NULL positions set no bits)."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    batch = spark.createDataFrame(
        [(1, "aa bb"), (2, None), (3, "cc dd")],
        "doc_id bigint, text string",
    )
    ledger = spark.createDataFrame(
        [(11, "ledger only"), (12, None)], "doc_id bigint, text string"
    ).select(fingerprint_md5("text").alias("fp"))
    want = {r.doc_id for r in dedup.dedup_against_seen(batch, ledger)[0].collect()}
    assert want == {1, 2, 3}
    got = {
        r.doc_id
        for r in dedup.dedup_against_seen_bloom(batch, ledger, family="md5").collect()
    }
    assert got == want  # incl. the NULL-text doc — neither dropped nor crashed
    # and the bitmap build itself tolerates the ledger's NULL fp
    row = dedup.bloom_bitmap(ledger, family="md5").collect()[0]
    assert row["bloom_family"] == "md5" and len(row["bloom"]) == (1 << 16) // 64


def test_sharded_bloom_truncated_bitmap_is_refused(spark):
    """A pre-built sharded bitmap with a shard row missing must be
    REFUSED, not probed: a missing row reads as "no fingerprint routed
    here", so every ledger duplicate routed to that shard would come
    back as novel.  Drop the row of a shard that holds a duplicate (and,
    separately, keep only that one row) and probe with it."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    texts = {i: f"truncated ledger doc {i}" for i in range(40)}
    texts.update({1: texts[21], 3: texts[23]})  # cross-split dupes
    d = _docs_df(spark, texts)
    new = d.where(F.col("doc_id") < 10)
    seen = d.where(F.col("doc_id") >= 10).select(fingerprint_md5("text").alias("fp"))
    built = dedup.bloom_bitmap(seen, shards=4)
    dup_shard = (
        new.where(F.col("doc_id") == 1)
        .select(dedup._bloom_shard_of(fingerprint_md5("text"), 4))
        .collect()[0][0]
    )
    for bitmap in (
        built.where(F.col("shard") != dup_shard),  # truncated
        built.where(F.col("shard") == dup_shard),  # sparse
    ):
        with pytest.raises(Exception, match="must be a single row per shard id"):
            dedup.dedup_against_seen_bloom(
                new, seen, shards=4, bitmap=bitmap
            ).collect()
    # the intact bitmap finds both duplicates
    got = {
        r.doc_id
        for r in dedup.dedup_against_seen_bloom(
            new, seen, shards=4, bitmap=built
        ).collect()
    }
    assert got == set(range(10)) - {1, 3}


def test_bloom_short_word_array_is_refused(spark):
    """A bitmap whose rows keep a valid stamp but carry fewer words than
    bloom_num_bits/64 must be REFUSED under either ANSI mode: with ANSI
    off the missing words read as "not seen", so a ledger duplicate
    would come back as novel; with ANSI on the probe would die on an
    array index error instead of naming the bad bitmap."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    d = _docs_df(spark, {1: "aa bb cc", 11: "aa bb cc", 12: "dd ee ff"})
    new = d.where(F.col("doc_id") < 10)
    seen = d.where(F.col("doc_id") >= 10).select(fingerprint_md5("text").alias("fp"))
    short = dedup.bloom_bitmap(seen).withColumn("bloom", F.slice("bloom", 1, 4))
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            with pytest.raises(Exception, match="word count mismatch"):
                dedup.dedup_against_seen_bloom(new, seen, bitmap=short).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_bloom_dedup_job_counts_pinned(spark):
    """Constructing the Bloom dedup is NOT free: its staged relations
    (ledger fingerprints, bitmap, probed batch) are lazy checkpoints, and
    under adaptive execution a lazy checkpoint still runs every shuffle
    and broadcast stage of its plan when it is taken.  Pin construction
    and total jobs at one shard and at eight: both shard counts stage the
    same three relations, so they cost the same number of jobs."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5
    from tests.conftest import count_jobs

    texts = {i: f"pinned doc {i} words" for i in range(40)}
    texts.update({1: texts[21], 3: texts[23]})
    d = _docs_df(spark, texts)
    new = d.where(F.col("doc_id") < 10)
    seen = d.where(F.col("doc_id") >= 10).select(fingerprint_md5("text").alias("fp"))
    aqe = spark.conf.get("spark.sql.adaptive.enabled") == "true"
    for shards in (1, 8):
        box = {}

        def build():
            box["df"] = dedup.dedup_against_seen_bloom(new, seen, shards=shards)

        def run():
            box["rows"] = box["df"].collect()

        construct = count_jobs(spark, build)
        total = construct + count_jobs(spark, run)
        assert (construct, total) == ((4, 8) if aqe else (1, 2)), shards
        assert {r.doc_id for r in box["rows"]} == set(range(10)) - {1, 3}


def _dense_bitmap(spark, shards, bloom, family="xx64"):
    """A literal bitmap with one row per shard id in [0, shards): the
    refusal branches below must run whatever the fixture's shard
    occupancy, so the rows are written out rather than folded."""
    return spark.createDataFrame(
        [(i, bloom, shards, 64, 1, family, 1 / 64) for i in range(shards)],
        "shard bigint, bloom array<bigint>, bloom_shards int, bloom_num_bits int,"
        " bloom_num_hashes int, bloom_family string, bloom_fill_ratio double",
    )


def test_sharded_bloom_union_refusals(spark):
    """bloom_union validates BOTH sides before the outer join: a
    duplicated shard row would fan out N×M into a corrupted
    multi-row-per-shard artifact, two bitmaps built with different
    routing moduli must be refused, and an empty side is refused rather
    than merged (a bitmap holds one row per shard, so an empty relation
    is never a valid bitmap)."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    texts = {i: f"union doc {i} text" for i in range(30)}
    d = _docs_df(spark, texts)
    fps = d.select(fingerprint_md5("text").alias("fp"))
    day1 = dedup.bloom_bitmap(fps.limit(10), shards=4)
    day2 = dedup.bloom_bitmap(fps, shards=4)
    with pytest.raises(Exception, match="duplicate shard rows"):
        dedup.bloom_union(day1.union(day1), day2).collect()
    with pytest.raises(Exception, match="duplicate shard rows"):
        dedup.bloom_union(day2, day1.union(day1)).collect()
    # different moduli: refused by the cross-side stamp check
    m4 = _dense_bitmap(spark, 4, [1])
    m8 = _dense_bitmap(spark, 8, [2])
    with pytest.raises(Exception, match="mismatched bitmap geometries"):
        dedup.bloom_union(m4, m8).collect()
    # the guard survives a STATICALLY-EMPTY side: attached to one input,
    # PropagateEmptyRelation would prune it with the whole side; the
    # aggregate guard on the merged output keeps every refusal live
    empty4 = m4.where(F.lit(False))
    with pytest.raises(Exception, match="left side must be a single row"):
        dedup.bloom_union(empty4, m8.union(m8)).collect()
    with pytest.raises(Exception, match="duplicate shard rows"):
        dedup.bloom_union(m4.union(m4), empty4).collect()
    # an empty side next to a VALID other side is refused too
    with pytest.raises(Exception, match="left side must be a single row"):
        dedup.bloom_union(empty4, m4).collect()
    with pytest.raises(Exception, match="right side must be a single row"):
        dedup.bloom_union(m4, empty4).collect()
    # and two valid sides merge, re-stamped
    merged = dedup.bloom_union(m4, m4.select(*m4.columns)).collect()
    assert sorted(r.shard for r in merged) == [0, 1, 2, 3]
    assert {tuple(r.bloom) for r in merged} == {(1,)}


def test_sharded_bloom_md5_family(spark):
    """The portable (md5) router past the broadcast ceiling (r11, the
    router r10 deferred): routing AND positions are md5-hex-derived, so
    the sharded family keeps the exactness contract (novel set equals
    the plain anti-join) while every shard row is rebuildable outside
    Spark.  Cross-family mixes — probe vs build, and union sides — are
    refused: the two families' routings disagree, so fingerprints would
    be tested against bits a different shard set."""
    from pyspark.sql import functions as F

    from dffoo_data_pipeline_spark.functions.text import fingerprint_md5

    texts = {i: f"portable sharded doc {i} body" for i in range(30)}
    texts.update({1: texts[11], 3: texts[13]})  # cross-split dupes
    d = _docs_df(spark, texts)
    new = d.where(F.col("doc_id") < 10)
    seen = d.where(F.col("doc_id") >= 10).select(fingerprint_md5("text").alias("fp"))
    want = {r.doc_id for r in dedup.dedup_against_seen(new, seen)[0].collect()}
    for shards in (1, 4, 64):
        got = {
            r.doc_id
            for r in dedup.dedup_against_seen_bloom(
                new, seen, shards=shards, family="md5"
            ).collect()
        }
        assert got == want, (shards, got ^ want)
    # family stamped on every shard row; routing differs from xx64's
    md5_bm = dedup.bloom_bitmap(seen, shards=4, family="md5")
    assert {r.bloom_family for r in md5_bm.collect()} == {"md5"}
    # cross-family probe refused (stamp mismatch, not silent false negs)
    with pytest.raises(Exception, match="stamp mismatch"):
        dedup.dedup_against_seen_bloom(
            new, seen, shards=4, bitmap=md5_bm
        ).collect()
    with pytest.raises(Exception, match="stamp mismatch"):
        dedup.dedup_against_seen_bloom(
            new,
            seen,
            shards=4,
            family="md5",
            bitmap=dedup.bloom_bitmap(seen, shards=4),
        ).collect()
    # cross-family union refused, both on built bitmaps and on literal
    # rows (the branch must not depend on fixture shard occupancy)
    xx_bm = dedup.bloom_bitmap(seen, shards=4)
    with pytest.raises(Exception, match="mismatched bitmap geometries"):
        dedup.bloom_union(md5_bm, xx_bm).collect()
    lit_md5 = _dense_bitmap(spark, 4, [1], family="md5")
    lit_xx = _dense_bitmap(spark, 4, [2])
    with pytest.raises(Exception, match="mismatched bitmap geometries"):
        dedup.bloom_union(lit_md5, lit_xx).collect()
    # md5-family union equals the md5-family full rebuild, bit-exactly
    day1 = dedup.bloom_bitmap(seen.limit(5), shards=4, family="md5")
    merged = {r.shard: r.bloom for r in dedup.bloom_union(day1, md5_bm).collect()}
    full = {r.shard: r.bloom for r in md5_bm.collect()}
    assert merged == full
    # unknown family refused eagerly
    with pytest.raises(ValueError, match="unknown bloom family"):
        dedup.bloom_bitmap(seen, shards=4, family="sha9")


def test_shingler_uses_ascii_whitespace_spec(spark):
    """Cross-engine tokenizer spec (r10 self-review, tightened r11): the
    shingler must split exactly like the oracles' RE2 \\s+, i.e. on
    [ \\t\\n\\r\\f] and NOTHING else — Python str.split() also splits
    on Unicode whitespace (U+00A0 etc.) and on \\v/\\x1c-\\x1f, and Java
    \\s also matches \\v (which RE2 does NOT; r11 ADVICE, verified live),
    any of which would shingle such docs differently per engine and
    break the portable-index contract.  Both probes run against DuckDB.
    """
    import duckdb

    text = "foo bar baz v\x0bv qux quux"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = set(
        dedup._shingle_rows(df, "doc_id", "text", 3)
        .select("shingle")
        .rdd.flatMap(lambda r: [r.shingle])
        .collect()
    )
    con = duckdb.connect()
    want = set(
        con.execute(
            r"""
            WITH toks AS (
                SELECT string_split_regex(
                    regexp_replace(lower(trim(?)), '\s+', ' ', 'g'), ' ') AS w)
            SELECT [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                    FOR i IN range(1, len(w) - 1)]
            FROM toks
            """,
            [text],
        ).fetchone()[0]
    )
    assert got == want
    # U+00A0 stays INSIDE a token in both engines
    assert any("foo bar" in sh for sh in got)
    # \x0b (vertical tab) stays INSIDE a token too: RE2 \s does not
    # match it, so neither may the UDF (fast path AND regex path)
    assert any("v\x0bv" in sh for sh in got)


def test_verify_join_size_guard_switches_off_broadcast(spark, monkeypatch):
    """Past SPARK_GRAFT_VERIFY_BROADCAST_MAX_ROWS the candidate attach
    must plan as a shuffled hash join — no BroadcastExchange of an
    unbounded candidate set — and the emitted pairs must be identical to
    the broadcast path's.  A bound that is not a non-negative integer
    raises ValueError naming the variable and its value."""
    from dffoo_data_pipeline_spark.operators.dedup import prefix_filter_pairs

    # dup-heavy corpus: three near-dup clusters → multiple candidates
    rows = []
    for c in range(3):
        base = f"cluster{c} alpha beta gamma delta epsilon zeta eta theta"
        for i in range(4):
            rows.append((c * 10 + i, base + f" tail{i}"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    def pairs():
        df = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}, plan

    monkeypatch.delenv("SPARK_GRAFT_VERIFY_BROADCAST_MAX_ROWS", raising=False)
    broadcast_pairs, broadcast_plan = pairs()
    assert broadcast_pairs, "fixture produced no verified pairs"

    monkeypatch.setenv("SPARK_GRAFT_VERIFY_BROADCAST_MAX_ROWS", "1")
    guarded_pairs, guarded_plan = pairs()
    assert guarded_pairs == broadcast_pairs  # guard cannot change results
    assert "ShuffledHashJoin" in guarded_plan
    # the only broadcast allowed in the guarded plan is none at all: with
    # the candidate build past the bound, neither verify attach may build
    # a broadcast relation (the corpus side was already pinned off it)
    assert "BroadcastExchange" not in guarded_plan

    # a bad bound fails naming the variable and its value, not in int()
    for bad in ("ten", "-1"):
        monkeypatch.setenv("SPARK_GRAFT_VERIFY_BROADCAST_MAX_ROWS", bad)
        with pytest.raises(
            ValueError, match=f"SPARK_GRAFT_VERIFY_BROADCAST_MAX_ROWS='{bad}'"
        ):
            prefix_filter_pairs(docs, "doc_id", "text", threshold=0.5)


def test_prefix_filter_lossless_at_leakage_threshold(spark, sf_dir):
    """r13: curation_leakage_safe_split swapped its pair generator from
    ngram_jaccard_pairs to prefix_filter_pairs at t=0.6 — a NON-dyadic
    threshold, so pin the losslessness equality at exactly that t (the
    float ceil of 0.6·sz can only round down to the exact value, which
    lengthens the prefix; this test is the empirical half of that
    argument)."""
    from dffoo_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            d, "doc_id", "text", threshold=0.6, max_doc_frequency=None
        ).collect()
    }
    pref = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_pairs(d, "doc_id", "text", threshold=0.6).collect()
    }
    assert pref == exact

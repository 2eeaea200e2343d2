"""Retrieval / data-selection operators (operators/retrieval.py) and the
tierb9 + extensions10 harness queries' semantics."""

import math

import pytest
from pyspark.sql import functions as F

from datafusion_delta_sharing_spark.operators.retrieval import (
    bm25_scores, dsir_logratio)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string, source string")


# -- BM25 -------------------------------------------------------------------

def test_bm25_hand_computed(spark):
    """Two docs, one term: the closed-form Okapi score must match."""
    docs = _docs(spark, [
        (1, "cat cat dog", "a"),     # tf(cat)=2, dl=3
        (2, "dog dog dog dog", "a"),  # tf(cat)=0, dl=4
    ])
    out = {r["doc_id"]: r for r in
           bm25_scores(docs, "text", "doc_id", ["cat"]).collect()}
    # N=2, df=1, avgdl=3.5, idf = ln(1 + (2-1+0.5)/(1+0.5)) = ln(2)
    k1, b = 1.2, 0.75
    tf, dl = 2, 3
    expected = math.log(2.0) * tf * (k1 + 1) / (
        tf + k1 * (1 - b + b * dl / 3.5))
    assert out.keys() == {1}, "zero-hit doc must be absent"
    assert out[1]["score"] == pytest.approx(round(expected, 6), abs=1e-9)
    assert out[1]["n_tokens"] == 3 and out[1]["n_terms_hit"] == 1


def test_bm25_rare_term_dominates(spark):
    """A doc matching the rare term outranks one matching only the common
    term (the idf asymmetry BM25 exists for)."""
    rows = [(i, "common filler words here", "a") for i in range(1, 9)]
    rows += [(9, "common rare", "a"), (10, "common common common", "a")]
    docs = _docs(spark, rows)
    scored = bm25_scores(docs, "text", "doc_id", ["rare", "common"])
    ranked = [r["doc_id"] for r in
              scored.orderBy(F.desc("score"), "doc_id").collect()]
    assert ranked[0] == 9


def test_bm25_term_validation(spark):
    docs = _docs(spark, [(1, "x", "a")])
    for bad in (["two words"], [""], [], ["it's"]):
        with pytest.raises(ValueError):
            bm25_scores(docs, "text", "doc_id", bad)


def test_bm25_dedups_terms_case_insensitively(spark):
    docs = _docs(spark, [(1, "cat dog cat", "a")])
    once = bm25_scores(docs, "text", "doc_id", ["cat"]).collect()
    twice = bm25_scores(docs, "text", "doc_id", ["CAT", "cat"]).collect()
    assert [r.asDict() for r in once] == [r.asDict() for r in twice]


# -- DSIR -------------------------------------------------------------------

def test_dsir_prefers_target_like_docs(spark):
    """Pool docs sharing the target's bigrams must outscore pool docs
    that don't; target docs never appear in the output."""
    rows = [(i, "alpha beta gamma delta", "tgt") for i in range(1, 6)]
    rows += [(10, "alpha beta gamma", "pool"),   # target-like
             (11, "zeta eta theta iota", "pool")]  # alien
    docs = _docs(spark, rows)
    out = {r["doc_id"]: r for r in
           dsir_logratio(docs, "text", "doc_id",
                         F.col("source") == "tgt").collect()}
    assert out.keys() == {10, 11}, "only pool docs are scored"
    assert out[10]["logratio"] > out[11]["logratio"]
    assert out[10]["n_bigrams"] == 2 and out[11]["n_bigrams"] == 3


def test_dsir_short_docs_absent_and_validation(spark):
    docs = _docs(spark, [(1, "single", "pool"), (2, "a b", "pool"),
                         (3, "a b c", "tgt")])
    out = dsir_logratio(docs, "text", "doc_id",
                        F.col("source") == "tgt")
    assert {r["doc_id"] for r in out.collect()} == {2}
    with pytest.raises(ValueError):
        dsir_logratio(docs, "text", "doc_id", F.lit(True), bucket_hex=0)
    with pytest.raises(ValueError):
        dsir_logratio(docs, "text", "doc_id", F.lit(True), alpha=0)


# -- streaming session windows vs the batch operator ------------------------

def test_stream_session_equals_batch(spark, sf_dir):
    """The streaming session_window aggregation (incremental state merge)
    must produce exactly the batch session_window result."""
    from datafusion_delta_sharing_spark.harness.relational import (
        q_session_window_batch)
    from datafusion_delta_sharing_spark.streaming.windows import (
        stream_session_counts)

    batch = {tuple(r) for r in q_session_window_batch(spark, sf_dir)
             .withColumn("session_start",
                         F.col("session_start").cast("timestamp_ntz"))
             .collect()}
    stream = {tuple(r) for r in
              stream_session_counts(spark, sf_dir).collect()}
    assert stream == batch and len(batch) > 0


# -- tierb9 harness semantics ------------------------------------------------

def test_recursive_cte_spine_zero_fills(spark, sf_dir):
    from datafusion_delta_sharing_spark.harness.relational import (
        q_recursive_cte)

    rows = q_recursive_cte(spark, sf_dir).collect()
    assert len(rows) == 84  # 1995-01 .. 2001-12 inclusive
    by_month = {r["month_start"].strftime("%Y-%m"): r for r in rows}
    # tail months past the data's 2001-08 horizon exist and are zero
    assert by_month["2001-12"]["n_orders"] == 0
    assert by_month["2001-12"]["total_cents"] == 0
    assert sum(r["n_orders"] for r in rows) > 0


def test_lateral_topn_matches_direct_ranking(spark, sf_dir):
    from datafusion_delta_sharing_spark.harness import load_table
    from datafusion_delta_sharing_spark.harness.relational import (
        q_lateral_topn)
    from datafusion_delta_sharing_spark.functions.money import cents

    got = {(r["r_name"], r["n_name"], r["total_bal_cents"])
           for r in q_lateral_topn(spark, sf_dir).collect()}
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust = load_table(spark, sf_dir, "customer")
    totals = (cust.join(nation, cust.c_nationkey == nation.n_nationkey)
              .join(region, nation.n_regionkey == region.r_regionkey)
              .groupBy("r_name", "n_name")
              .agg(F.sum(cents(F.col("c_acctbal"))).alias("t"))
              .collect())
    expect = set()
    per_region: dict = {}
    for r in totals:
        per_region.setdefault(r["r_name"], []).append((r["n_name"], r["t"]))
    for rn, items in per_region.items():
        items.sort(key=lambda x: (-x[1], x[0]))
        expect |= {(rn, n, t) for n, t in items[:2]}
    assert got == expect and len(got) > 0


# -- BPE pair counts ----------------------------------------------------------

def test_bpe_pair_counts_hand_checked(spark):
    from datafusion_delta_sharing_spark.operators.tfidf import bpe_pair_counts

    docs = _docs(spark, [(1, "aaa ab", "s"), (2, "ab aaa aaa", "s")])
    # word freqs: aaa=3, ab=2. pairs: 'aa' twice per 'aaa' -> 6; 'ab' -> 2
    got = {(r["pair"], r["pair_count"])
           for r in bpe_pair_counts(docs, "text").collect()}
    assert got == {("aa", 6), ("ab", 2)}


# -- sparse TF-IDF cosine -----------------------------------------------------

def test_sparse_cosine_identical_docs_score_one(spark):
    from datafusion_delta_sharing_spark.operators.retrieval import (
        sparse_cosine_pairs)

    docs = _docs(spark, [(1, "alpha beta gamma", "s"),
                         (2, "alpha beta gamma", "s"),
                         (3, "delta epsilon zeta", "s")])
    out = {(r["doc_a"], r["doc_b"]): r for r in
           sparse_cosine_pairs(docs, "text", "doc_id").collect()}
    assert out.keys() == {(1, 2)}  # no shared terms with doc 3
    assert out[(1, 2)]["cosine"] == 1.0
    assert out[(1, 2)]["n_shared"] == 3


def test_sparse_cosine_df_cut_drops_hot_terms(spark):
    from datafusion_delta_sharing_spark.operators.retrieval import (
        sparse_cosine_pairs)

    # 'the' is in every doc (df = 4/4); rare terms pair only 1-2
    docs = _docs(spark, [(1, "the cat", "s"), (2, "the cat", "s"),
                         (3, "the dog", "s"), (4, "the bird", "s")])
    uncut = sparse_cosine_pairs(docs, "text", "doc_id").collect()
    cut = sparse_cosine_pairs(docs, "text", "doc_id",
                              max_doc_frac=0.9).collect()
    assert len(uncut) == 6          # every pair shares 'the'
    got = {(r["doc_a"], r["doc_b"]) for r in cut}
    assert got == {(1, 2)}          # only the 'cat' pair survives the cut
    with pytest.raises(ValueError):
        sparse_cosine_pairs(docs, "text", "doc_id", max_doc_frac=0.0)


# -- connector time travel diff -----------------------------------------------

def test_connector_time_travel_diff_semantics(spark, sf_dir):
    from datafusion_delta_sharing_spark.harness.connector import (
        q_connector_time_travel_diff)
    from datafusion_delta_sharing_spark.harness import load_table

    out = q_connector_time_travel_diff(spark, sf_dir)
    rows = {(r["change"], r["c_custkey"]) for r in out.collect()}
    cust = load_table(spark, sf_dir, "customer").select("c_custkey").collect()
    expect = {("added", r.c_custkey) for r in cust if r.c_custkey % 3 == 0}
    expect |= {("removed", r.c_custkey) for r in cust if r.c_custkey % 3 == 2}
    assert rows == expect and len(rows) > 0


# -- HLL sketch rollup --------------------------------------------------------

def test_hll_rollup_tolerance_is_nonvacuous(spark):
    """The within_tol boolean must be a real check: at 10k distinct ids
    the dense-mode HLL estimate deviates from exact (so a broken sketch
    WOULD flip the boolean), yet stays inside the 5% tolerance."""
    import os

    from pyspark.sql import functions as F
    from datafusion_delta_sharing_spark.harness import load_table
    from datafusion_delta_sharing_spark.harness.relational import q_hll_rollup
    from tests.conftest import sf_path

    sf = sf_path("sf0.01")
    if not os.path.isdir(sf):
        pytest.skip("sf0.01 testdata set not present")
    rows = {r["event_type"]: r["within_tol"]
            for r in q_hll_rollup(spark, sf).collect()}
    assert rows and all(rows.values()) and "__all__" in rows
    ev = load_table(spark, sf, "events")
    est, exact = ev.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(event_id))"),
        F.countDistinct("event_id")).first()
    assert est != exact, "estimate exact at this cardinality: check vacuous"
    assert abs(est - exact) <= 0.05 * exact

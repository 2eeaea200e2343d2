"""Unit tests for the r7 batch: interval merge, BFS, moment checks, and
the polymorphic UDTF's plan-time validation."""

import pytest
from pyspark.sql import functions as F

from datafusion_delta_sharing_spark.operators.graph import bfs_hop_counts
from datafusion_delta_sharing_spark.operators.intervals import (
    merge_intervals)


def _merged(spark, rows):
    df = spark.createDataFrame(rows, "k string, s long, e long")
    out = merge_intervals(df, "k", "s", "e").collect()
    return {r.k: (r.n_intervals, r.n_islands, r.covered_us) for r in out}


def test_merge_intervals_overlap_touch_contain(spark):
    got = _merged(spark, [
        # overlap chain + a gap
        ("a", 0, 10), ("a", 5, 15), ("a", 20, 30),
        # half-open adjacency merges ([0,10)+[10,20) is contiguous time)
        ("b", 0, 10), ("b", 10, 20),
        # containment: the island end is the MAX end, not the last end
        ("c", 0, 100), ("c", 10, 20),
    ])
    assert got == {"a": (3, 2, 25), "b": (2, 1, 20), "c": (2, 1, 100)}


def test_merge_intervals_duplicate_and_equal_start_rows(spark):
    # duplicate (s, e) rows and equal-start ties must co-island no matter
    # which order the window visits them
    got = _merged(spark, [
        ("a", 0, 10), ("a", 0, 10), ("a", 0, 5), ("a", 50, 60),
    ])
    assert got == {"a": (4, 2, 20)}


def _path_graph(spark):
    # a-b-c-d path, ordered (a < b) convention
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a long, b long")


def test_bfs_hop_counts_path(spark):
    edges = _path_graph(spark)
    seeds = spark.createDataFrame([(1,)], "v long")
    got = {r.hops: r.n_vertices
           for r in bfs_hop_counts(edges, seeds, 3).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 1}
    # bounded horizon: vertex 4 unreached at max_hops=2
    got2 = {r.hops: r.n_vertices
            for r in bfs_hop_counts(edges, seeds, 2).collect()}
    assert got2 == {0: 1, 1: 1, 2: 1}


def test_bfs_seeds_outside_graph_and_zero_hops(spark):
    edges = _path_graph(spark)
    # seed 99 is not in the edge list: still reached at hops 0
    seeds = spark.createDataFrame([(2,), (99,)], "v long")
    got = {r.hops: r.n_vertices
           for r in bfs_hop_counts(edges, seeds, 1).collect()}
    assert got == {0: 2, 1: 2}  # hop 1: {1, 3}
    got0 = {r.hops: r.n_vertices
            for r in bfs_hop_counts(edges, seeds, 0).collect()}
    assert got0 == {0: 2}
    with pytest.raises(ValueError, match="max_hops"):
        bfs_hop_counts(edges, seeds, -1)


def test_higher_moments_check_distinguishes_population_from_sample(
        spark, sf_dir):
    """builtin_ok is non-vacuous: the 1e-6 tolerance accepts Spark's
    population g1/g2 but would REJECT the bias-corrected sample
    definitions (what e.g. DuckDB's skewness() computes) — at n≈200 the
    correction shifts g1 by ~1% of its value, orders of magnitude above
    the tolerance."""
    from datafusion_delta_sharing_spark.harness import load_table
    from datafusion_delta_sharing_spark.harness.relational import (
        q_higher_moments)

    rows = q_higher_moments(spark, sf_dir).collect()
    assert rows and all(r.builtin_ok for r in rows)
    ev = load_table(spark, sf_dir, "events")
    stats = (ev.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.skewness("value").alias("g1")).collect())
    for r in stats:
        sample_g1 = r.g1 * (r.n * (r.n - 1)) ** 0.5 / (r.n - 2)
        assert abs(sample_g1 - r.g1) > 1e-6, (
            "tolerance could not tell population from sample skewness")


def test_udtf_analyze_rejects_bad_constant(spark, sf_dir):
    """The analyze() validation must fire at PLAN time for a
    non-positive column count."""
    from datafusion_delta_sharing_spark.harness.relational import (
        q_python_udtf_analyze)

    # registering via the query fn also registers the UDTF
    q_python_udtf_analyze(spark, sf_dir)
    with pytest.raises(Exception, match="n_cols"):
        spark.sql("SELECT * FROM split_cols('a b', 0)").collect()


# -- batch 12 -----------------------------------------------------------------


def test_feature_hash_counts_contract(spark):
    """Buckets stay in [0, n_buckets); multiplicities sum to the token
    count; bad bucket counts rejected."""
    from datafusion_delta_sharing_spark.operators.tfidf import (
        feature_hash_counts)

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b"), (3, None)], "doc_id long, text string")
    out = feature_hash_counts(docs, "text", "doc_id", n_buckets=8).collect()
    assert all(0 <= r.bucket < 8 for r in out)
    assert sum(r.n for r in out if r.doc_id == 1) == 4
    assert sum(r.n for r in out if r.doc_id == 2) == 2
    assert not [r for r in out if r.doc_id == 3]  # NULL text -> no rows
    with pytest.raises(ValueError, match="n_buckets"):
        feature_hash_counts(docs, "text", "doc_id", n_buckets=0)


def test_observe_metrics_rides_the_pass(spark, sf_dir):
    """The observed metrics equal a from-scratch aggregate — and they were
    collected by the noop write, not a second scan inside the query fn."""
    from pyspark.sql import functions as F

    from datafusion_delta_sharing_spark.functions.money import cents
    from datafusion_delta_sharing_spark.harness import load_table
    from datafusion_delta_sharing_spark.harness.relational import (
        q_observe_metrics)

    row = q_observe_metrics(spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents(F.col("l_extendedprice"))).alias("c"),
        F.max(cents(F.col("l_extendedprice"))).alias("m")).collect()[0]
    assert (row.n_rows, row.price_cents, row.max_price_cents) == (
        exact.n, exact.c, exact.m)


def test_approx_topk_check_is_nonvacuous(spark, sf_dir):
    """sketch_ok must be a real comparison: corrupting the expected count
    by 1 must flip it."""
    from pyspark.sql import functions as F

    from datafusion_delta_sharing_spark.harness.relational import q_approx_topk

    rows = q_approx_topk(spark, sf_dir).collect()
    assert rows and all(r.sketch_ok for r in rows)
    from datafusion_delta_sharing_spark.harness import load_table

    ev = load_table(spark, sf_dir, "events")
    sketch = ev.agg(F.expr("approx_top_k(event_type, 3)").alias("top"))
    bad = sketch.select(F.exists(
        "top", lambda s: (s["item"] == F.lit(rows[0].event_type))
        & (s["count"] == F.lit(rows[0].n + 1))).alias("ok")).collect()[0]
    assert bad.ok is False


def test_bpe_merge_fold_leftmost_nonoverlapping(spark):
    """'aaa' + merge (a,a) must yield ['aa','a'] (leftmost
    non-overlapping), and the merged symbol must not chain within its
    own round — the Sennrich convention."""
    from datafusion_delta_sharing_spark.operators.tfidf import (
        bpe_apply_merges)

    docs = spark.createDataFrame(
        [("aaa aaa ab",)], "text string")
    merges = {r.step: (r.left_sym, r.right_sym, r.pair_count)
              for r in bpe_apply_merges(docs, "text", k=2).collect()}
    # round 1: pairs of 'aaa' (freq 2) -> ('a','a') twice each = 4;
    # 'ab' contributes ('a','b') = 1. argmax = (a, a) count 4.
    assert merges[1] == ("a", "a", 4)
    # round 2 vocab: 'aa|a' (n=2), 'a|b' (n=1): pairs (aa,a)=2, (a,b)=1
    assert merges[2] == ("aa", "a", 2)


def test_bpe_apply_merges_rejects_bad_k(spark):
    from datafusion_delta_sharing_spark.operators.tfidf import (
        bpe_apply_merges, bpe_apply_merges_sql)

    docs = spark.createDataFrame([("x y",)], "text string")
    with pytest.raises(ValueError, match="k must be"):
        bpe_apply_merges(docs, "text", k=0)
    with pytest.raises(ValueError, match="k must be"):
        bpe_apply_merges_sql("documents", "text", k=0)


def test_bm25_join_matches_fixed_term_form(spark, sf_dir):
    """A single-term query through the posting-join form must score
    exactly like the fixed-literal form (same math, same N population) —
    modulo the join form's absent n_tokens column."""
    from datafusion_delta_sharing_spark.harness import load_table
    from datafusion_delta_sharing_spark.operators.retrieval import (
        bm25_join, bm25_scores)

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame([(1, "dup")], "qid int, qtext string")
    joined = {r.doc_id: r.score
              for r in bm25_join(docs, queries, "text", "doc_id",
                                 "qid", "qtext").collect()}
    fixed = {r.doc_id: r.score
             for r in bm25_scores(docs, "text", "doc_id",
                                  ["dup"]).collect()}
    assert joined == fixed and joined


def test_bpe_encode_lengths_applies_all_merges(spark):
    """After k=2 merges on 'aaa aaa ab' ((a,a) then (aa,a)), 'aaa'
    encodes to ONE token and 'ab' stays two — n_tokens = 1+1+2."""
    from datafusion_delta_sharing_spark.operators.tfidf import (
        bpe_encode_lengths)

    docs = spark.createDataFrame([(7, "aaa aaa ab")],
                                 "doc_id long, text string")
    rows = bpe_encode_lengths(docs, "text", "doc_id", k=2).collect()
    assert [(r.doc_id, r.n_words, r.n_tokens) for r in rows] == [(7, 3, 4)]


def test_bm25_join_dfcut_is_cut_consistent(spark):
    """A term above the df-cut must vanish from BOTH candidates and
    scoring: a query made only of cut terms yields no pairs, and a mixed
    query's score equals the kept-terms-only score."""
    from datafusion_delta_sharing_spark.operators.retrieval import (
        bm25_join)

    docs = spark.createDataFrame(
        [(i, "hot rare") if i == 0 else (i, "hot cold")
         for i in range(10)], "doc_id long, text string")
    # df: hot=10/10, cold=9/10, rare=1/10 -> cut at 0.5 keeps only rare
    queries = spark.createDataFrame(
        [(1, "hot"), (2, "hot rare")], "qid int, qtext string")
    rows = bm25_join(docs, queries, "text", "doc_id", "qid", "qtext",
                     max_doc_frac=0.5).collect()
    assert {r.qid for r in rows} == {2}, "cut term still produced pairs"
    only_rare = bm25_join(docs, queries.filter("qid = 2"), "text",
                          "doc_id", "qid", "qtext",
                          max_doc_frac=0.5).collect()
    assert {(r.qid, r.doc_id, r.score) for r in rows} == {
        (r.qid, r.doc_id, r.score) for r in only_rare}

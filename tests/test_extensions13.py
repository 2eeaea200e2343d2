"""Extensions batch 13 (r8): streaming MinHash-band dedup, mergeable
percentile rollup, SCD2 point-in-time lookup, bounded Bellman-Ford,
majority label propagation, sorted-neighborhood dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_delta_sharing_spark.harness import relational as E13
from datafusion_delta_sharing_spark.operators import dedup as DD
from datafusion_delta_sharing_spark.operators import graph as GR


# -- percentile rollup -------------------------------------------------------


def test_percentile_rollup_approx_check_is_not_vacuous(spark, sf_dir):
    """VERDICT r7 #5 Done bar: corrupt the percentile_approx output by a
    few bins and the rank-error bound must FAIL — otherwise approx_ok is
    decoration, not a check. 50_000 cents shifts every sketch value far
    past the n/accuracy + 2 rank tolerance on this distribution."""
    clean = E13._pct_approx_ok(spark, sf_dir)
    assert all(r.approx_ok for r in clean.collect())
    corrupt = E13._pct_approx_ok(spark, sf_dir, corrupt_cents=50_000)
    rows = corrupt.collect()
    assert rows and not any(r.approx_ok for r in rows)


def test_percentile_rollup_all_row_merges_partials(spark, sf_dir):
    """The '__all__' percentiles must equal percentiles over the raw
    union — i.e. merging per-group frequency partials loses nothing."""
    out = {r.event_type: r for r in
           E13.q_percentile_rollup(spark, sf_dir).collect()}
    assert "__all__" in out
    from datafusion_delta_sharing_spark.harness import load_table

    from datafusion_delta_sharing_spark.functions.money import cents

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select(cents(F.col("value")).alias("v")))
    n = ev.count()
    import math

    for p, col in ((0.5, "p50_cents"), (0.9, "p90_cents"),
                   (0.99, "p99_cents")):
        target = math.ceil(p * n)
        exact = (ev.orderBy("v").limit(target)
                 .agg(F.max("v")).collect()[0][0])
        assert out["__all__"][col] == exact, (p, col)
    assert out["__all__"].n == n
    assert sum(r.n for k, r in out.items() if k != "__all__") == n


# -- SCD2 lookup ---------------------------------------------------------------


def test_scd2_lookup_matches_exactly_one_interval(spark, sf_dir):
    """The interval non-overlap invariant: every probe resolves exactly
    one dimension version — no probe is dropped, none fans out."""
    from datafusion_delta_sharing_spark.harness import load_table

    n_probes = (load_table(spark, sf_dir, "events")
                .filter(F.col("user_id") < 100).count())
    out = E13.q_scd2_lookup(spark, sf_dir)
    assert out.count() == n_probes
    assert (out.groupBy("event_id").count()
            .filter(F.col("count") > 1).count()) == 0


def test_scd2_lookup_resolves_the_covering_version(spark, sf_dir):
    """Spot-check one user: a probe 45 min after event i must land in
    the interval whose [valid_from, valid_to) contains it."""
    from datafusion_delta_sharing_spark.harness import load_table

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id") < 100))
    uid = ev.select("user_id").orderBy("user_id").first().user_id
    hist = (ev.filter(F.col("user_id") == uid)
            .orderBy("ts", "event_id").collect())
    looked = {r.event_id: r for r in
              E13.q_scd2_lookup(spark, sf_dir)
              .filter(F.col("user_id") == uid).collect()}
    import datetime

    for row in hist:
        probe = row.ts + datetime.timedelta(minutes=45)
        versions = [i + 1 for i, h in enumerate(hist)
                    if h.ts <= probe
                    and (i + 1 == len(hist) or hist[i + 1].ts > probe)]
        # ties on ts collapse to the LAST version with that valid_from
        # (earlier ones are empty intervals) — same rule as the operator
        assert looked[row.event_id].version == versions[-1]


# -- Bellman-Ford ---------------------------------------------------------------


def _edges_df(spark, rows):
    return spark.createDataFrame(rows, "a long, b long, cost long")


def test_bellman_ford_prefers_cheap_two_hop_over_expensive_direct(spark):
    """Crafted graph: direct edge 1->3 costs 10, path 1->2->3 costs 3."""
    edges = _edges_df(spark, [(1, 3, 10), (1, 2, 1), (2, 3, 2)])
    seeds = spark.createDataFrame([(1,)], "v long")
    out = {r.v: r.dist for r in
           GR.bellman_ford_dists(edges, seeds, 2).collect()}
    assert out == {1: 0, 2: 1, 3: 3}
    # with only 1 hop the expensive direct edge wins
    one = {r.v: r.dist for r in
           GR.bellman_ford_dists(edges, seeds, 1).collect()}
    assert one == {1: 0, 2: 1, 3: 10}


def test_bellman_ford_multi_source_and_bounds(spark):
    edges = _edges_df(spark, [(1, 2, 5), (3, 4, 1), (2, 3, 100)])
    seeds = spark.createDataFrame([(1,), (4,)], "v long")
    out = {r.v: r.dist for r in
           GR.bellman_ford_dists(edges, seeds, 1).collect()}
    # undirected: 4 relaxes 3 at cost 1; 1 relaxes 2 at cost 5
    assert out == {1: 0, 4: 0, 2: 5, 3: 1}
    with pytest.raises(ValueError, match="max_hops"):
        GR.bellman_ford_dists(edges, seeds, -1)


# -- label propagation ------------------------------------------------------------


def test_label_propagation_separates_two_communities(spark):
    """Two triangles bridged by one edge: majority vote keeps each
    triangle on its own min-id label; min-label components would merge
    them into one."""
    tri1 = [(1, 2), (1, 3), (2, 3)]
    tri2 = [(4, 5), (4, 6), (5, 6)]
    bridge = [(3, 4)]
    edges = spark.createDataFrame(tri1 + tri2 + bridge, "a long, b long")
    out = {r.v: r.label for r in
           GR.label_propagation(edges, rounds=4).collect()}
    assert len(out) == 6
    # communities are internally consistent and distinct
    assert out[1] == out[2] == out[3]
    assert out[4] == out[5] == out[6]
    assert out[1] != out[4]


def test_label_propagation_zero_rounds_is_identity(spark):
    edges = spark.createDataFrame([(1, 2)], "a long, b long")
    out = {r.v: r.label for r in
           GR.label_propagation(edges, rounds=0).collect()}
    assert out == {1: 1, 2: 2}


# -- sorted neighborhood ------------------------------------------------------------


def test_sorted_neighborhood_finds_prefix_stable_dups(spark):
    """Docs with a shared prefix and a small suffix edit are adjacent
    under the 40-char sort key and verified by Jaccard; a doc whose
    PREFIX differs escapes the window — the documented trade."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base),
         (2, base + " lambda"),                      # suffix edit: found
         (3, "zz " + base)],                         # prefix edit: missed
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in DD.sorted_neighborhood_pairs(
        docs, "text", "doc_id", block_chars=8, key_chars=40,
        window=4, k=5, threshold=0.2).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_sorted_neighborhood_window_bounds_candidates(spark):
    """With window=1 only rank-adjacent records pair: three identical
    texts yield the two adjacent pairs, not the transitive third."""
    docs = spark.createDataFrame(
        [(i, "same words repeated here five times ok") for i in (1, 2, 3)],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in DD.sorted_neighborhood_pairs(
        docs, "text", "doc_id", window=1, k=5, threshold=0.2).collect()}
    assert pairs == {(1, 2), (2, 3)}


# -- streaming minhash dedup ---------------------------------------------------------


def test_stream_minhash_dedup_matches_batch_and_ignores_order(spark, sf_dir):
    """The flagged-duplicate set must equal the batch minhash_lsh_pairs
    dup set regardless of slice count (micro-batch boundaries) — pair
    ids are least/greatest-normalized, so arrival order cannot change
    the set."""
    from datafusion_delta_sharing_spark.harness.text import (
        _docs_with_near_copies)
    from datafusion_delta_sharing_spark.streaming.minhash_dedup import (
        stream_minhash_dedup_flags)

    corpus = _docs_with_near_copies(spark, sf_dir)
    batch = {r.doc_id for r in
             DD.minhash_lsh_pairs(corpus, "text", "doc_id",
                                  num_hashes=16, bands=4, k=5,
                                  threshold=0.15)
             .select(F.col("id_b").alias("doc_id")).distinct().collect()}
    for n_slices in (1, 4):
        streamed = {r.doc_id for r in stream_minhash_dedup_flags(
            spark, corpus, "text", "doc_id", n_slices=n_slices,
            num_hashes=16, bands=4, k=5, threshold=0.15).collect()}
        assert streamed == batch, n_slices
    assert batch, "corpus with planted copies must have duplicates"


def test_stream_minhash_dedup_no_dups_and_tiny_corpus(spark):
    """Edge cases: a corpus with no near-dups flags nothing; a single
    doc (fewer docs than slices -> empty micro-batches hit the
    empty-batch guard) flags nothing and does not crash."""
    from datafusion_delta_sharing_spark.streaming.minhash_dedup import (
        stream_minhash_dedup_flags)

    distinct = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven"),
         (3, "red orange yellow green blue indigo")],
        "doc_id long, text string")
    assert stream_minhash_dedup_flags(
        spark, distinct, "text", "doc_id", n_slices=2).count() == 0

    single = spark.createDataFrame(
        [(7, "just one lonely document here")],
        "doc_id long, text string")
    assert stream_minhash_dedup_flags(
        spark, single, "text", "doc_id", n_slices=3).count() == 0

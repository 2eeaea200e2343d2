"""Unit tests for the batch-15 operators (KMV sketch, bucket-digest
reconciliation, compaction planning, weighted sampling): hand-computed
references, degenerate inputs, the attestation bounds' non-vacuousness,
and the partitioning-independence the determinism contract claims."""

import pytest
from pyspark.sql import Row, functions as F

from datafusion_delta_sharing_spark.operators import layout as LY
from datafusion_delta_sharing_spark.operators import reconcile as RC
from datafusion_delta_sharing_spark.operators import sampling as SA
from datafusion_delta_sharing_spark.operators import sketches as SK


# -- KMV -----------------------------------------------------------------------

def _vals(spark, pairs):
    return spark.createDataFrame([Row(g=g, v=v) for g, v in pairs])


def test_kmv_exact_below_k(spark):
    """Fewer distinct values than k → the sketch IS the distinct set and
    the estimate is exact, duplicates collapsing first."""
    df = _vals(spark, [("a", i % 5) for i in range(50)])
    partials = SK.kmv_partials(df, "g", "v", k=16)
    assert partials.count() == 5
    est = SK.kmv_estimate(partials, k=16).collect()[0]
    assert est["n_est"] == 5.0


def test_kmv_estimates_within_bound(spark):
    """1000 distinct values, k=64: the Beyer estimator lands within the
    4-sigma relative bound the registry query pins (4/sqrt(62) ≈ .5;
    observed ≈ .02 here — the margin is why the registry uses k=256)."""
    df = _vals(spark, [("a", i) for i in range(1000)])
    est = SK.kmv_estimate(SK.kmv_partials(df, "g", "v", k=64),
                          k=64).collect()[0]["n_est"]
    assert abs(est / 1000 - 1) < 0.5


def test_kmv_merge_equals_rebuild(spark):
    """THE mergeability property: union of per-group partials re-minned
    == the sketch built from the raw union. Groups partition the values
    so the merged sketch must match a direct build over everything."""
    df = spark.createDataFrame(
        [Row(g="a" if i % 2 else "b", v=i) for i in range(500)])
    partials = SK.kmv_partials(df, "g", "v", k=32)
    merged = SK.kmv_merge(partials, k=32)
    direct = SK.kmv_partials(df.select(F.lit("__all__").alias("g"), "v"),
                             "g", "v", k=32)
    assert (sorted(r["h"] for r in merged.collect())
            == sorted(r["h"] for r in direct.collect()))


def test_kmv_registry_bound_is_non_vacuous(spark, sf_dir):
    """Corrupting the estimate by 2x the allowed relative error flips
    est_ok — the attestation can fail."""
    from datafusion_delta_sharing_spark.harness.relational import (
        _KMV_REL_BOUND, q_kmv_rollup)

    good = q_kmv_rollup(spark, sf_dir)
    assert all(r["est_ok"] for r in good.collect())
    corrupted = good.withColumn(
        "bad_ok",
        F.abs((F.col("n_est") * (1 + 2 * _KMV_REL_BOUND))
              / F.col("n_exact") - 1.0) <= F.lit(_KMV_REL_BOUND))
    assert not any(r["bad_ok"] for r in corrupted.collect())


# -- table_diff ----------------------------------------------------------------

def _snap(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, payload=p) for k, p in rows])


def _repr_col():
    # built lazily: F.expr needs an active SparkContext
    return F.expr("concat_ws('|', k, payload)")


def test_table_diff_equal_snapshots_empty(spark):
    rows = [(i, f"p{i}") for i in range(100)]
    a, b = _snap(spark, rows), _snap(spark, rows)
    assert RC.table_diff_digest(a, b, "k", _repr_col()).count() == 0


def test_table_diff_update_same_count(spark):
    """An UPDATE keeps the bucket's count equal — only the xor digest
    catches it, and in exactly one bucket (key-hash bucketing keeps the
    changed row in place)."""
    rows = [(i, f"p{i}") for i in range(100)]
    b_rows = [(i, "CHANGED" if i == 37 else f"p{i}") for i in range(100)]
    out = RC.table_diff_digest(_snap(spark, rows), _snap(spark, b_rows),
                               "k", _repr_col()).collect()
    assert len(out) == 1
    assert out[0]["n_a"] == out[0]["n_b"]  # count did not change


def test_table_diff_insert_and_delete(spark):
    rows = [(i, f"p{i}") for i in range(100)]
    b_rows = [(i, f"p{i}") for i in range(1, 101)]  # drop 0, add 100
    out = RC.table_diff_digest(_snap(spark, rows), _snap(spark, b_rows),
                               "k", _repr_col()).collect()
    deltas = sorted(r["n_b"] - r["n_a"] for r in out)
    # one bucket lost a row, one gained one (distinct buckets for these
    # keys under the 256-bucket hash)
    assert deltas == [-1, 1]


def test_table_diff_partitioning_independent(spark):
    """The xor digest must not depend on row order or partitioning."""
    rows = [(i, f"p{i}") for i in range(200)]
    a = _snap(spark, rows).repartition(13)
    b = _snap(spark, list(reversed(rows))).repartition(1)
    assert RC.table_diff_digest(a, b, "k", _repr_col()).count() == 0


# -- compaction_bins -----------------------------------------------------------

def _files(spark, rows):
    return spark.createDataFrame(
        [Row(part="p", fid=i, bytes=b) for i, b in enumerate(rows)])


def test_compaction_greedy_hand_computed(spark):
    """target=100 over sizes 60,60,60,30: bytes_before = 0,60,120,180 →
    bins 0,0,1,1."""
    out = {r["bin_id"]: (r["n_files"], r["total_bytes"])
           for r in LY.compaction_bins(
               _files(spark, [60, 60, 60, 30]), "part", "fid", "bytes",
               100).collect()}
    assert out == {0: (2, 120), 1: (2, 90)}


def test_compaction_oversized_file_isolated(spark):
    """A file >= target advances the boundary past itself: the NEXT file
    starts a new bin, so the big file never merges with successors."""
    out = LY.compaction_bins(_files(spark, [500, 10, 10]), "part", "fid",
                             "bytes", 100)
    rows = {r["bin_id"]: r["n_files"] for r in out.collect()}
    assert rows[0] == 1  # the 500-byte file alone
    assert sum(rows.values()) == 3


def test_compaction_partitions_independent(spark):
    """Bin numbering restarts per partition."""
    df = spark.createDataFrame(
        [Row(part=p, fid=i, bytes=80) for p in ("a", "b")
         for i in range(3)])
    out = LY.compaction_bins(df, "part", "fid", "bytes", 100).collect()
    by_part = {}
    for r in out:
        by_part.setdefault(r["part"], []).append(r["bin_id"])
    assert sorted(by_part["a"]) == sorted(by_part["b"])


# -- weighted_sample -----------------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(s=s, i=i, w=w) for s, i, w in rows])


def test_weighted_sample_counts_and_weight_filter(spark):
    df = _docs(spark, [("a", i, 10) for i in range(50)]
               + [("a", 100, 0), ("a", 101, None),
                  ("b", 200, 5), ("b", 201, 5)])
    out = SA.weighted_sample(df, "s", "i", "w", 10).collect()
    by_s = {}
    for r in out:
        by_s.setdefault(r["s"], set()).add(r["i"])
    assert len(by_s["a"]) == 10
    assert 100 not in by_s["a"] and 101 not in by_s["a"]
    assert by_s["b"] == {200, 201}  # fewer rows than n → all kept


def test_weighted_sample_heavier_rows_win(spark):
    """A row with overwhelming weight (u/w ≈ 0) must always be
    selected; with n=1 it IS the sample."""
    df = _docs(spark, [("a", i, 1) for i in range(100)]
               + [("a", 999, 10**12)])
    out = SA.weighted_sample(df, "s", "i", "w", 1).collect()
    assert [r["i"] for r in out] == [999]


def test_weighted_sample_partitioning_independent(spark):
    """Same sample set regardless of physical layout — the reason this
    exists instead of df.sample()."""
    rows = [("a", i, 1 + i % 7) for i in range(300)]
    s1 = {r["i"] for r in SA.weighted_sample(
        _docs(spark, rows).repartition(17), "s", "i", "w", 20).collect()}
    s2 = {r["i"] for r in SA.weighted_sample(
        _docs(spark, list(reversed(rows))).coalesce(1), "s", "i", "w",
        20).collect()}
    assert s1 == s2 and len(s1) == 20

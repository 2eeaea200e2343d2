"""Recall-bound summary rows for hash-unmirrorable approximate operators.

The LSH-family operators (MinHash-LSH, SimHash pigeonhole, hyperplane-LSH
ANN, IVF ANN) are deterministic in Spark (fixed-seed ``xxhash64`` /
md5-derived hyperplanes) but have no ANSI-SQL mirror: DuckDB lacks
xxhash64, so their raw pair/top-k outputs could only be checked rows-only
(VERDICT r3 next-round #2). The summary row closes that gap: the
approximate output is joined against an exact baseline computed *in the
same Spark job*, and the query returns ONE row of oracle-computable facts:

- ``n_exact``    — size of the exact baseline (the oracle recomputes this
                   with real SQL — jaccard self-join, planted-pair count,
                   brute-force top-k count);
- ``n_missed_allowed`` — ``floor((1 - bound) * n_exact)``, derived the
                   same way on both sides;
- ``n_false``    — (optional) approximate results NOT in the exact set,
                   for operators whose verify step makes output ⊆ exact a
                   contract (the oracle expects 0);
- ``recall_ok``  — ``(n_exact - n_hit) <= n_missed_allowed``; the oracle
                   expects TRUE.

Mis-wired banding/bucketing collapses recall and flips ``recall_ok`` (or
``n_false``), failing the driver's value hash; a broken exact baseline
fails on ``n_exact``. The recall bounds are empirical constants measured
at sf0.01/sf0.1 with deliberate slack (the workloads are pinned to
SF-independent subsets where possible, see harness/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def recall_summary(exact: DataFrame, found: DataFrame, keys: list[str],
                   bound: float, check_precision: bool = False) -> DataFrame:
    """One-row summary comparing an approximate result against its exact
    baseline on the given key columns.

    Plan: per-key counts on each side, ONE full-outer equi-join, one
    global aggregate. The obvious spelling (count + left-semi + left-anti)
    re-executes each input DAG per use — and both inputs here are
    expensive (the exact baseline is the posting-list self-join, the
    approximate side is the whole LSH pipeline); the outer-join form
    computes each exactly once and matches the semi/anti arithmetic for
    any key multiplicity (hit = every exact row whose key appears in
    found; false = every found row whose key has no exact match).
    """
    from functools import reduce

    exk = (exact.select(*keys).groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("_ex_n")))
    fdk = (found.select(*keys).groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("_fd_n")))
    # null-SAFE key equality: a plain equi-join never matches NULL keys,
    # so an exact row and a found row sharing a NULL key component would
    # count as both a miss and a false positive
    cond = reduce(lambda a, b: a & b,
                  [exk[k].eqNullSafe(fdk[k]) for k in keys])
    joined = exk.join(fdk, cond, "full_outer")
    aggs = [
        F.coalesce(F.sum("_ex_n"), F.lit(0)).cast("bigint").alias("n_exact"),
        F.sum(F.when(F.col("_fd_n").isNotNull(),
                     F.col("_ex_n"))).alias("n_hit"),
    ]
    if check_precision:
        aggs.append(F.coalesce(
            F.sum(F.when(F.col("_ex_n").isNull(), F.col("_fd_n"))),
            F.lit(0)).cast("bigint").alias("n_false"))
    out = joined.agg(*aggs)
    # same expression shape as the SQL mirror: floor((1.0 - bound) * n)
    allowed = F.floor(F.lit(1.0 - bound) * F.col("n_exact")).cast("bigint")
    cols = [F.col("n_exact"), allowed.alias("n_missed_allowed")]
    if check_precision:
        cols.append(F.col("n_false"))
    cols.append(((F.col("n_exact") - F.coalesce(F.col("n_hit"), F.lit(0)))
                 <= allowed).alias("recall_ok"))
    return out.select(*cols)


def recall_summary_sql(n_exact_sql: str, bound: float,
                       check_precision: bool = False) -> str:
    """DuckDB mirror: ``n_exact_sql`` is a scalar subquery computing the
    exact-baseline count; the allowance is derived with the identical
    float expression; recall (and precision, if checked) are asserted."""
    n_false = "CAST(0 AS BIGINT) AS n_false,\n               " \
        if check_precision else ""
    # embed the PRECOMPUTED double (1.0 - bound) and force DOUBLE: a bare
    # SQL literal like 0.8 is DECIMAL in DuckDB, so (1.0 - 0.8) * 30 would
    # be an exact 6.0 while Spark's double math floors to 5 (ULP trap)
    return f"""
        SELECT n_exact,
               CAST(floor(CAST({1.0 - bound!r} AS DOUBLE) * n_exact)
                    AS BIGINT) AS n_missed_allowed,
               {n_false}TRUE AS recall_ok
        FROM (SELECT CAST(({n_exact_sql}) AS BIGINT) AS n_exact)
    """


def dup_set_parity(corpus: DataFrame, streamed: DataFrame,
                   batch_dups: DataFrame, exact_dups: DataFrame, key: str,
                   bound: float) -> DataFrame:
    """One row comparing an incremental dedup's duplicate set
    ``streamed`` against the batch operator's ``batch_dups`` (exact
    parity expected: ``n_stream_only`` and ``n_batch_only``) and the
    exact baseline ``exact_dups`` (recall bounded by ``bound``, false
    positives counted); each frame holds distinct ``key`` rows, and
    ``n_docs`` counts ``corpus``."""
    u = (streamed.withColumn("in_s", F.lit(1))
         .join(batch_dups.withColumn("in_b", F.lit(1)), key,
               "full_outer")
         .join(exact_dups.withColumn("in_e", F.lit(1)), key,
               "full_outer"))
    counts = u.agg(
        F.coalesce(F.sum(F.when(F.col("in_s").isNotNull()
                                & F.col("in_b").isNull(), 1)),
                   F.lit(0)).cast("bigint").alias("n_stream_only"),
        F.coalesce(F.sum(F.when(F.col("in_b").isNotNull()
                                & F.col("in_s").isNull(), 1)),
                   F.lit(0)).cast("bigint").alias("n_batch_only"),
        F.coalesce(F.sum("in_e"), F.lit(0)).cast("bigint")
        .alias("n_exact_dups"),
        F.coalesce(F.sum(F.when(F.col("in_e").isNotNull()
                                & F.col("in_s").isNotNull(), 1)),
                   F.lit(0)).cast("bigint").alias("n_hit"),
        F.coalesce(F.sum(F.when(F.col("in_s").isNotNull()
                                & F.col("in_e").isNull(), 1)),
                   F.lit(0)).cast("bigint").alias("n_false"))
    n_docs = corpus.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    # same float expression shape as recall_summary
    allowed = (F.floor(F.lit(1.0 - bound) * F.col("n_exact_dups"))
               .cast("bigint"))
    return (counts.join(F.broadcast(n_docs))
            .select("n_docs", "n_exact_dups",
                    allowed.alias("n_missed_allowed"), "n_false",
                    "n_stream_only", "n_batch_only",
                    ((F.col("n_exact_dups") - F.col("n_hit"))
                     <= allowed).alias("recall_ok")))

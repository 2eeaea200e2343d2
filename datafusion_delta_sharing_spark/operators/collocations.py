"""Collocation extraction: top bigrams by pointwise mutual information.

Corpus analysis for tokenizer/vocab decisions: which adjacent word pairs
co-occur far more than chance (candidates for merges, multi-word tokens,
boilerplate detection). PMI = log(p(ab) / (p(a) p(b))); since log is
monotone, ranking uses the raw ratio c_ab * N^2 / (M * c_a * c_b) and the
output carries the exact integer numerator/denominator — no logs, no
chained float rounding, so the oracle check is hash-exact (the only float
is one double division used for ordering, computed from identical
integers on both engines).

Scale: bigram generation is a per-row array transform (codegen, no
shuffle); the joins are unigram-count lookups on token keys; the top-k is
a TakeOrderedAndProject, never a global sort materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from datafusion_delta_sharing_spark.functions.text import (
    tokens_lower, tokens_lower_sql)
from datafusion_delta_sharing_spark.operators.tfidf import (
    token_rows, token_rows_sql)


def _bigrams(docs: DataFrame, text_col: str) -> DataFrame:
    """One row per adjacent token pair (multiplicity kept). The words
    array is materialized once per row; sequence(1, size-1) is guarded
    because Spark's sequence DESCENDS when start > stop (a one-word doc
    would yield [1, 0], not an empty list)."""
    staged = docs.select(tokens_lower(F.col(text_col)).alias("_w"))
    pairs = F.when(
        F.size("_w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - 1),
            lambda i: F.concat_ws(" ", F.element_at("_w", i),
                                  F.element_at("_w", i + 1))),
    ).otherwise(F.expr("array()").cast("array<string>"))
    return staged.select(F.explode(pairs).alias("bigram"))


def pmi_collocations(docs: DataFrame, text_col: str, id_col: str,
                     min_count: int = 5, top_k: int = 100) -> DataFrame:
    """(bigram, c_ab, c_a, c_b, ratio_num, ratio_den) for the top_k
    bigrams by PMI ratio with c_ab >= min_count."""
    toks = token_rows(docs, text_col, id_col)
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    n_tok = toks.agg(F.count(F.lit(1)).alias("n"))  # 1-row, broadcast below
    bc = (_bigrams(docs, text_col)
          .groupBy("bigram").agg(F.count(F.lit(1)).alias("c_ab")))
    n_big = bc.agg(F.sum("c_ab").cast("long").alias("m"))
    big = bc.filter(F.col("c_ab") >= min_count)
    a = uni.select(F.col("token").alias("_ta"), F.col("c").alias("c_a"))
    b = uni.select(F.col("token").alias("_tb"), F.col("c").alias("c_b"))
    scored = (
        big.withColumn("_ta", F.split("bigram", " ")[0])
        .withColumn("_tb", F.split("bigram", " ")[1])
        .join(a, "_ta").join(b, "_tb")
        .crossJoin(F.broadcast(n_tok)).crossJoin(F.broadcast(n_big))
        .withColumn("ratio_num", F.col("c_ab") * F.col("n") * F.col("n"))
        .withColumn("ratio_den", F.col("m") * F.col("c_a") * F.col("c_b"))
        # exact-bigint bound: BOTH products (c_ab*n*n and m*c_a*c_b) wrap
        # SILENTLY past 2^63 under non-ANSI arithmetic, corrupting the
        # PMI ranking with no error — the denominator overflows first on
        # corpora with two frequent tokens co-occurring rarely. Guard in
        # double (conservative 0.9 margin absorbs the float slack) and
        # refuse loudly; past this corpus size use a log-space double
        # PMI, which no longer needs hash-exact integer parity
        .filter(F.when(
            (F.col("c_ab").cast("double") * F.col("n").cast("double")
             * F.col("n").cast("double") < F.lit(0.9e19))
            & (F.col("m").cast("double") * F.col("c_a").cast("double")
               * F.col("c_b").cast("double") < F.lit(0.9e19)),
            F.lit(True)).otherwise(F.raise_error(F.lit(
                "pmi_collocations: c_ab*n*n or m*c_a*c_b exceeds the "
                "exact-bigint range; compute PMI in log-space doubles "
                "at this scale"))))
    )
    return (scored
            .orderBy((F.col("ratio_num") * 1.0 / F.col("ratio_den")).desc(),
                     "bigram")
            .select("bigram", "c_ab", "c_a", "c_b",
                    "ratio_num", "ratio_den")
            .limit(top_k))


def pmi_collocations_sql(source_sql: str, text_col: str, id_col: str,
                         min_count: int = 5, top_k: int = 100) -> str:
    """DuckDB mirror of pmi_collocations."""
    words = tokens_lower_sql(text_col)
    return f"""
    WITH toks AS ({token_rows_sql(source_sql, text_col, id_col)}),
    uni AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
    n_tok AS (SELECT count(*) AS n FROM toks),
    wordrows AS (SELECT {words} AS words FROM {source_sql}),
    bigrows AS (
        SELECT words, unnest(generate_series(1, len(words) - 1)) AS i
        FROM wordrows
    ),
    bigtoks AS (
        SELECT words[i] || ' ' || words[i + 1] AS bigram FROM bigrows
    ),
    n_big AS (SELECT count(*) AS m FROM bigtoks),
    big AS (SELECT bigram, count(*) AS c_ab FROM bigtoks
            GROUP BY bigram HAVING count(*) >= {min_count})
    SELECT b.bigram,
           CAST(b.c_ab AS BIGINT) AS c_ab,
           CAST(ua.c AS BIGINT) AS c_a,
           CAST(ub.c AS BIGINT) AS c_b,
           CAST(b.c_ab * nt.n * nt.n AS BIGINT) AS ratio_num,
           CAST(nb.m * ua.c * ub.c AS BIGINT) AS ratio_den
    FROM big b
    JOIN uni ua ON ua.token = split_part(b.bigram, ' ', 1)
    JOIN uni ub ON ub.token = split_part(b.bigram, ' ', 2)
    CROSS JOIN n_tok nt CROSS JOIN n_big nb
    ORDER BY (b.c_ab * nt.n * nt.n) * 1.0 / (nb.m * ua.c * ub.c) DESC,
             b.bigram
    LIMIT {top_k}
    """


# -- association rules over baskets -------------------------------------------


def basket_rules(baskets: DataFrame, min_support: int) -> DataFrame:
    """Association rules over distinct (g basket, i item) rows: item
    pairs seen together in at least ``min_support`` baskets, with their
    support counts and the exact integer lift cross-products (lift =
    n_baskets*c_ab/(c_a*c_b); rank and filter on the integer
    numerator/denominator) — the itemset analogue of the bigram PMI
    above, with no division materialized."""
    n_b = baskets.select("g").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets"))
    item = baskets.groupBy("i").agg(F.count(F.lit(1)).alias("c"))
    a = baskets.select("g", F.col("i").alias("ia"))
    b = baskets.select("g", F.col("i").alias("ib"))
    pairs = (a.join(b, "g").filter(F.col("ia") < F.col("ib"))
             .groupBy("ia", "ib").agg(F.count(F.lit(1)).alias("c_ab"))
             .filter(F.col("c_ab") >= min_support))
    ca = item.select(F.col("i").alias("ia"), F.col("c").alias("c_a"))
    cb = item.select(F.col("i").alias("ib"), F.col("c").alias("c_b"))
    return (pairs.join(ca, "ia").join(cb, "ib")
            .crossJoin(F.broadcast(n_b))
            .select("ia", "ib", "c_ab", "c_a", "c_b",
                    (F.col("c_ab") * F.col("n_baskets")).alias("lift_num"),
                    (F.col("c_a") * F.col("c_b")).alias("lift_den")))


def basket_rules_sql(baskets_sql: str, min_support: int) -> str:
    """DuckDB mirror of :func:`basket_rules`; ``baskets_sql`` selects the
    distinct (g, i) rows."""
    return f"""
    WITH baskets AS (
        {baskets_sql}
    ), nb AS (SELECT count(DISTINCT g) AS n_baskets FROM baskets),
    item AS (SELECT i, count(*) AS c FROM baskets GROUP BY i),
    pairs AS (
        SELECT a.i AS ia, b.i AS ib, count(*) AS c_ab
        FROM baskets a JOIN baskets b ON a.g = b.g AND a.i < b.i
        GROUP BY a.i, b.i
        HAVING count(*) >= {min_support}
    )
    SELECT p.ia, p.ib,
           CAST(p.c_ab AS BIGINT) AS c_ab,
           CAST(ca.c AS BIGINT) AS c_a,
           CAST(cb.c AS BIGINT) AS c_b,
           CAST(p.c_ab * nb.n_baskets AS BIGINT) AS lift_num,
           CAST(ca.c * cb.c AS BIGINT) AS lift_den
    FROM pairs p
    JOIN item ca ON ca.i = p.ia
    JOIN item cb ON cb.i = p.ib
    CROSS JOIN nb
"""

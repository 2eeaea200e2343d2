"""Corpus analytics: grouped quantiles, distinctive terms, corpus overlap.

The dataset-comparison toolkit for corpus curation: per-source length
quantiles (is one source systematically shorter?), distinctive terms
between two corpus slices (what vocabulary shifts?), and corpus-level
shingle overlap (how much does a new crawl duplicate the old one?).

All three follow the repo's exactness discipline: quantiles are discrete
cumulative-count thresholds (no interpolation), distinctive terms rank by
an exact integer odds cross-product (log-odds is monotone in it — no
logs), and overlap reports exact distinct-shingle counts.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

from datafusion_delta_sharing_spark.operators import sketches as SK
from datafusion_delta_sharing_spark.operators.dedup import _with_shingles
from datafusion_delta_sharing_spark.operators.tfidf import token_rows, token_rows_sql


# -- grouped discrete quantiles -------------------------------------------


def grouped_quantiles(df: DataFrame, group_col: str, score: F.Column,
                      qs: tuple[float, ...] = (0.25, 0.5, 0.75),
                      score_name: str = "value") -> DataFrame:
    """(group, q, value): per-group discrete quantiles — the smallest
    score whose within-group cumulative count reaches ceil(q*n_g).
    Shape: per-(group, score) counts (one shuffle, map-side combinable),
    cumulative sum windowed per group over the distinct-score table, one
    pass per requested q over that small table. No percentile_cont, no
    per-group sort of row-level data."""
    scored = df.select(F.col(group_col).alias("grp"), score.alias("_s"))
    counts = scored.groupBy("grp", "_s").agg(F.count(F.lit(1)).alias("_c"))
    # NULLS LAST pinned: Spark windows default nulls first, DuckDB last —
    # a NULL score would shift every within-group cumulative count (same
    # pinning as operators/sampling._cum_counts)
    w = (Window.partitionBy("grp").orderBy(F.asc_nulls_last("_s"))
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = counts.withColumn("_cum", F.sum("_c").over(w))
    tot = scored.groupBy("grp").agg(F.count(F.lit(1)).alias("_n"))
    cum = cum.join(tot, "grp")
    parts = [
        (cum.filter(F.col("_cum") >= F.ceil(F.lit(q) * F.col("_n")))
         .groupBy("grp").agg(F.min("_s").alias(score_name))
         .withColumn("q", F.lit(float(q))))
        for q in qs
    ]
    out = reduce(lambda a, b: a.unionByName(b), parts)
    return out.select(F.col("grp").alias(group_col), "q", score_name)


def grouped_quantiles_sql(source_sql: str, group_col: str, score_sql: str,
                          qs: tuple[float, ...] = (0.25, 0.5, 0.75),
                          score_name: str = "value") -> str:
    """DuckDB mirror of grouped_quantiles."""
    base = f"""
        WITH scored AS (
            SELECT {group_col} AS grp, {score_sql} AS _s FROM {source_sql}
        ), cum AS (
            SELECT grp, _s, sum(_c) OVER (
                PARTITION BY grp ORDER BY _s NULLS LAST
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum
            FROM (SELECT grp, _s, count(*) AS _c FROM scored
                  GROUP BY grp, _s)
        ), tot AS (SELECT grp, count(*) AS _n FROM scored GROUP BY grp)
    """
    parts = [f"""
        SELECT c.grp AS {group_col}, {float(q)} AS q,
               min(c._s) AS {score_name}
        FROM cum c JOIN tot t ON c.grp = t.grp
        WHERE c._cum >= ceil(CAST({q} AS DOUBLE) * t._n)
        GROUP BY c.grp""" for q in qs]
    return base + " UNION ALL ".join(parts)


# -- distinctive terms (exact odds-ratio ranking) -------------------------


def distinctive_terms(a: DataFrame, b: DataFrame, text_col: str,
                      id_col: str, min_count: int = 10,
                      top_k: int = 50) -> DataFrame:
    """Terms most over-represented in corpus A vs corpus B, ranked by the
    odds ratio (c_a/(n_a-c_a)) / (c_b/(n_b-c_b)) — monotone with log-odds,
    computed as an exact integer cross-product, add-one smoothed so terms
    absent from B stay finite. Output carries the exact integers."""
    ta = (token_rows(a, text_col, id_col).groupBy("token")
          .agg(F.count(F.lit(1)).alias("c_a")))
    tb = (token_rows(b, text_col, id_col).groupBy("token")
          .agg(F.count(F.lit(1)).alias("c_b")))
    na = ta.agg(F.sum("c_a").cast("long").alias("_na"))
    nb = tb.agg(F.coalesce(F.sum("c_b"), F.lit(0)).cast("long").alias("_nb"))
    joined = (ta.join(tb, "token", "left")
              .fillna(0, subset=["c_b"])
              .filter(F.col("c_a") >= min_count)
              .crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb))
              .withColumn("odds_num",
                          (F.col("c_a") + 1)
                          * (F.col("_nb") - F.col("c_b") + 1))
              .withColumn("odds_den",
                          (F.col("c_b") + 1)
                          * (F.col("_na") - F.col("c_a") + 1))
              # same exact-bigint bound as pmi_collocations: BOTH odds
              # products wrap silently past 2^63 — the denominator
              # ((c_b+1)*(_na-c_a+1)) overflows first when corpus A dwarfs
              # corpus B — refuse loudly instead
              .filter(F.when(
                  ((F.col("c_a").cast("double") + 1)
                   * (F.col("_nb").cast("double") + 1) < F.lit(0.9e19))
                  & ((F.col("c_b").cast("double") + 1)
                     * (F.col("_na").cast("double") + 1) < F.lit(0.9e19)),
                  F.lit(True)).otherwise(F.raise_error(F.lit(
                      "distinctive_terms: odds products exceed the "
                      "exact-bigint range; use log-space doubles at "
                      "this corpus size")))))
    return (joined
            .orderBy((F.col("odds_num") * 1.0 / F.col("odds_den")).desc(),
                     "token")
            .select("token", "c_a", "c_b", "odds_num", "odds_den")
            .limit(top_k))


def distinctive_terms_sql(a_sql: str, b_sql: str, text_col: str,
                          id_col: str, min_count: int = 10,
                          top_k: int = 50) -> str:
    """DuckDB mirror of distinctive_terms."""
    return f"""
    WITH ta AS (
        SELECT token, count(*) AS c_a
        FROM ({token_rows_sql(a_sql, text_col, id_col)}) GROUP BY token
    ), tb AS (
        SELECT token, count(*) AS c_b
        FROM ({token_rows_sql(b_sql, text_col, id_col)}) GROUP BY token
    ), na AS (SELECT CAST(sum(c_a) AS BIGINT) AS n FROM ta),
       nb AS (SELECT CAST(coalesce(sum(c_b), 0) AS BIGINT) AS n FROM tb)
    SELECT ta.token,
           CAST(ta.c_a AS BIGINT) AS c_a,
           CAST(coalesce(tb.c_b, 0) AS BIGINT) AS c_b,
           CAST((ta.c_a + 1) * (nb.n - coalesce(tb.c_b, 0) + 1) AS BIGINT)
               AS odds_num,
           CAST((coalesce(tb.c_b, 0) + 1) * (na.n - ta.c_a + 1) AS BIGINT)
               AS odds_den
    FROM ta LEFT JOIN tb USING (token)
    CROSS JOIN na CROSS JOIN nb
    WHERE ta.c_a >= {min_count}
    ORDER BY ((ta.c_a + 1) * (nb.n - coalesce(tb.c_b, 0) + 1)) * 1.0
             / ((coalesce(tb.c_b, 0) + 1) * (na.n - ta.c_a + 1)) DESC,
             ta.token
    LIMIT {top_k}
    """


# -- corpus-level shingle overlap -----------------------------------------


def corpus_overlap(a: DataFrame, b: DataFrame, text_col: str, id_col: str,
                   k: int = 5) -> DataFrame:
    """One row: distinct k-shingle counts of each corpus, their exact
    intersection, and containment numerators — "how much of crawl B is
    already in corpus A". Distinct-shingle sets reduce each corpus to its
    vocabulary of shingles (one shuffle each); the intersection is an
    equi-join on the shingle."""
    # explode WITHOUT the per-doc (id, sh) distinct: corpus-level overlap
    # only needs distinct sh, and shingle_sets' posting-list distinct
    # would shuffle the full (id, sh) list once more for nothing — at
    # 100 TB that doubles the shuffle volume of the dominant stage
    sa = (_with_shingles(a, text_col, id_col, k)
          .select(F.explode("shingles").alias("sh")).distinct())
    sb = (_with_shingles(b, text_col, id_col, k)
          .select(F.explode("shingles").alias("sh")).distinct())
    inter = sa.join(sb, "sh")
    return (sa.agg(F.count(F.lit(1)).alias("n_a"))
            .crossJoin(sb.agg(F.count(F.lit(1)).alias("n_b")))
            .crossJoin(inter.agg(F.count(F.lit(1)).alias("n_inter")))
            .withColumn("n_union",
                        F.col("n_a") + F.col("n_b") - F.col("n_inter")))


def corpus_overlap_sql(shingles_a_sql: str, shingles_b_sql: str) -> str:
    """DuckDB mirror; callers supply the shingle-set SQL for each corpus
    (mirroring shingle_sets — see harness for the canonical spelling)."""
    return f"""
    WITH sa AS (SELECT DISTINCT sh FROM ({shingles_a_sql})),
         sb AS (SELECT DISTINCT sh FROM ({shingles_b_sql})),
         i AS (SELECT count(*) AS n_inter FROM sa JOIN sb USING (sh))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM sa) AS n_a,
           (SELECT CAST(count(*) AS BIGINT) FROM sb) AS n_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST((SELECT count(*) FROM sa) + (SELECT count(*) FROM sb)
                - i.n_inter AS BIGINT) AS n_union
    FROM i
    """


def corpus_overlap_kmv(docs: DataFrame, text_col: str, id_col: str,
                       a_pred: str, b_pred: str, k: int,
                       bounds: tuple[float, float, float]) -> DataFrame:
    """Overlap of the corpora ``a_pred`` and ``b_pred`` (SQL predicates
    over ``id_col``) at the distinct 5-shingle level, twice: exactly
    (:func:`corpus_overlap`'s counts) and from the two corpora's KMV
    sketches alone (``sketches.kmv_overlap``, 2×k hashes — the path that
    never joins raw rows). In-row flags bound the Jaccard absolute error
    and the union / intersection relative errors by ``bounds``; every
    double is a fixed-shape expression over exact integers, so both
    engines hash-match."""
    # ONE groupBy(sh) membership pass serves everything: the raw
    # (id, sh) explode goes straight into a map-side-partial
    # groupBy(sh) whose max(when(...)) flags carry both corpus
    # memberships — the overlap never duplicates its shingle rows into
    # the exchange, and the vocabulary-sized FLAG frame (one row per
    # distinct shingle) is the shared checkpoint both answers read: the
    # exact n_inter / n_union aggregate directly, the KMV sketches by
    # re-deriving (g, sh) label rows from the flags (kmv_partials dedups
    # (g, hash) itself, so the sketch content stays bit-identical). Lazy
    # checkpoint: measured ~25% faster than re-deriving for this
    # two-consumer crossJoin topology.
    jac_bound, union_bound, inter_bound = bounds
    # _with_shingles renames the id column to `id`; the corpus
    # predicates are pure id arithmetic, so evaluate them on it
    a = F.expr(a_pred.replace(id_col, "id"))
    b = F.expr(b_pred.replace(id_col, "id"))
    flags = (_with_shingles(docs, text_col, id_col, 5)
             .select("id", F.explode("shingles").alias("sh"))
             .groupBy("sh")
             .agg(F.max(F.when(a, 1).otherwise(0)).alias("in_a"),
                  F.max(F.when(b, 1).otherwise(0)).alias("in_b"))
             # docs outside both corpora would contribute phantom rows
             .filter((F.col("in_a") == 1) | (F.col("in_b") == 1))
             ).localCheckpoint(eager=False)
    labeled = flags.select(
        F.explode(F.array_compact(F.array(
            F.when(F.col("in_a") == 1, F.lit("a")),
            F.when(F.col("in_b") == 1, F.lit("b"))))).alias("g"),
        "sh")
    partials = SK.kmv_partials(labeled, "g", "sh", k)
    est = SK.kmv_overlap(partials, k, "a", "b")
    exact = flags.agg(
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter"),
        F.count(F.lit(1)).alias("n_union"))
    jac_exact = (F.col("n_inter").cast("double")
                 / F.col("n_union").cast("double"))
    return (exact.crossJoin(est)  # 1-row x 1-row
            .withColumn("jaccard_exact", jac_exact)
            .select(
                "n_inter", "n_union", "k_eff", "k_inter",
                "union_est", "jaccard_est", "inter_est", "jaccard_exact",
                (F.abs(F.col("jaccard_est") - F.col("jaccard_exact"))
                 <= F.lit(jac_bound)).alias("jaccard_ok"),
                (F.abs(F.col("union_est") / F.col("n_union") - 1.0)
                 <= F.lit(union_bound)).alias("union_ok"),
                (F.abs(F.col("inter_est") / F.col("n_inter") - 1.0)
                 <= F.lit(inter_bound)).alias("inter_ok")))


def corpus_overlap_kmv_sql(shingles_a_sql: str, shingles_b_sql: str,
                           k: int, bounds: tuple[float, float, float]
                           ) -> str:
    """DuckDB mirror of :func:`corpus_overlap_kmv` over the two corpora's
    (sh) shingle rows; the partials use the same k-minimum derivation
    ``sketches.kmv_sql`` uses."""
    jac_bound, union_bound, inter_bound = bounds
    labeled = (f"SELECT 'a' AS g, sh FROM ({shingles_a_sql}) "
               f"UNION ALL SELECT 'b' AS g, sh FROM ({shingles_b_sql})")
    partials = f"""
        SELECT g, h FROM (
            SELECT g, h,
                   row_number() OVER (PARTITION BY g ORDER BY h) AS r
            FROM (
                SELECT DISTINCT g,
                       {SK._kmv_hash_sql('sh', 'kmv1')} AS h
                FROM ({labeled})
            )
        ) WHERE r <= {k}
    """
    est = SK.kmv_overlap_sql(partials, k, "a", "b")
    exact = corpus_overlap_sql(shingles_a_sql, shingles_b_sql)
    return f"""
        WITH est AS ({est}), exact AS ({exact})
        SELECT n_inter, n_union, k_eff, k_inter,
               union_est, jaccard_est, inter_est,
               CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)
                   AS jaccard_exact,
               abs(jaccard_est - CAST(n_inter AS DOUBLE)
                                 / CAST(n_union AS DOUBLE))
                   <= {jac_bound!r} AS jaccard_ok,
               abs(union_est / n_union - 1.0)
                   <= {union_bound!r} AS union_ok,
               abs(inter_est / n_inter - 1.0)
                   <= {inter_bound!r} AS inter_ok
        FROM exact CROSS JOIN est
    """


# -- mutual information feature selection --------------------------------------

def mutual_info_terms(docs: DataFrame, text_col: str, id_col: str,
                      label_col: str, top_m: int = 40,
                      ) -> DataFrame:
    """Mutual information between term PRESENCE and a document label —
    the information-theoretic complement of the chi-square
    `distinctive_terms` ranking (both are standard feature-selection
    scores; Manning/Schütze IR ch.13 formulation).

    For each of the ``top_m`` highest-document-frequency terms t
    (ties broken by term text, so the selection is deterministic), with
    X = [t present in doc] and Y = label::

        MI(t) = Σ_{x∈{0,1}, y}  n_xy/N · ln( N·n_xy / (n_x·n_y) )

    computed over all four cell families per label, zero cells skipped
    (lim p→0 of p·ln p = 0). All cell counts are exact integers from two
    hash aggregates; only the final ln/ratio arithmetic is double,
    rounded to 6 (cross-engine double-sum order over the ~2·|labels|
    cells is absorbed by the rounding, the unigram_logprob precedent).

    Scale posture: one (id, token) distinct pass, one df aggregate, the
    term×label grid is top_m × |labels| (broadcastable), and the joint
    counts come from one aggregate over the selected terms' postings —
    no per-document state, no all-pairs anything. The top_m rank is a
    window over the AGGREGATED vocabulary, not raw rows.

    Returns (token, df, mi).
    """
    labeled = docs.filter(F.col(label_col).isNotNull())
    presence = (token_rows(labeled, text_col, id_col)
                .join(labeled.select(id_col, label_col), id_col)
                .select(id_col, "token", label_col).distinct())
    df_counts = presence.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"))
    sel = (df_counts
           .withColumn("__r", F.row_number().over(
               Window.orderBy(F.col("df").desc(), F.col("token"))))
           .filter(F.col("__r") <= top_m).drop("__r"))
    lab_counts = labeled.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n_y"))
    n_total = labeled.agg(F.count(F.lit(1)).alias("n"))
    joint = (presence.join(F.broadcast(sel.select("token")), "token")
             .groupBy("token", label_col)
             .agg(F.count(F.lit(1)).alias("n_ty")))
    grid = (sel.crossJoin(F.broadcast(lab_counts))
            .join(joint, ["token", label_col], "left")
            .withColumn("n_ty", F.coalesce("n_ty", F.lit(0)))
            .crossJoin(F.broadcast(n_total)))
    n = F.col("n").cast("double")
    n_t, n_y, n_ty = (F.col(c).cast("double")
                      for c in ("df", "n_y", "n_ty"))
    n_ay = n_y - n_ty          # label docs without the term
    cell1 = F.when(F.col("n_ty") > 0,
                   n_ty / n * F.log(n * n_ty / (n_t * n_y)))
    cell0 = F.when(n_ay > 0,
                   n_ay / n * F.log(n * n_ay / ((n - n_t) * n_y)))
    contrib = F.coalesce(cell1, F.lit(0.0)) + F.coalesce(cell0, F.lit(0.0))
    return (grid.groupBy("token")
            .agg(F.max("df").alias("df"),
                 F.round(F.sum(contrib), 6).alias("mi"))
            .select("token", "df", "mi"))


def mutual_info_terms_sql(source_sql: str, text_col: str, id_col: str,
                          label_col: str, top_m: int = 40) -> str:
    """DuckDB mirror of :func:`mutual_info_terms` — same two exact
    aggregates, same cell formula, same round."""
    labeled = f"(SELECT * FROM ({source_sql}) WHERE {label_col} IS NOT NULL)"
    return f"""
        WITH labeled AS (SELECT * FROM {labeled}),
        presence AS (
            SELECT DISTINCT t.{id_col}, t.token, d.{label_col}
            FROM ({token_rows_sql('labeled', text_col, id_col)}) t
            JOIN labeled d USING ({id_col})
        ),
        df_counts AS (
            SELECT token, count(*) AS df FROM presence GROUP BY token
        ),
        sel AS (
            SELECT token, df FROM (
                SELECT token, df, row_number()
                       OVER (ORDER BY df DESC, token) AS r
                FROM df_counts
            ) WHERE r <= {top_m}
        ),
        lab_counts AS (
            SELECT {label_col}, count(*) AS n_y FROM labeled
            GROUP BY {label_col}
        ),
        n_total AS (SELECT count(*) AS n FROM labeled),
        joint AS (
            SELECT token, {label_col}, count(*) AS n_ty
            FROM presence JOIN sel USING (token)
            GROUP BY token, {label_col}
        ),
        grid AS (
            SELECT s.token, s.df, l.{label_col}, l.n_y,
                   coalesce(j.n_ty, 0) AS n_ty, t.n
            FROM sel s
            CROSS JOIN lab_counts l
            LEFT JOIN joint j
              ON j.token = s.token AND j.{label_col} = l.{label_col}
            CROSS JOIN n_total t
        )
        SELECT token, max(df) AS df,
               round(sum(
                 coalesce(CASE WHEN n_ty > 0 THEN
                   CAST(n_ty AS DOUBLE) / n
                   * ln(n * CAST(n_ty AS DOUBLE)
                        / (CAST(df AS DOUBLE) * n_y)) END, 0.0)
                 + coalesce(CASE WHEN n_y - n_ty > 0 THEN
                   CAST(n_y - n_ty AS DOUBLE) / n
                   * ln(n * CAST(n_y - n_ty AS DOUBLE)
                        / ((CAST(n AS DOUBLE) - df) * n_y)) END, 0.0)
               ), 6) AS mi
        FROM grid GROUP BY token
    """


# -- Zipf fit -----------------------------------------------------------------


def zipf_fit(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """ln(freq) ~ ln(rank) least-squares over the corpus vocabulary.
    The rank window is global but VOCABULARY-sized (the token groupBy
    reduced the corpus first), so the single-partition sort is bounded
    by distinct-token count, not corpus rows."""
    freq = (token_rows(docs, text_col, id_col)
            .groupBy("token").agg(F.count(F.lit(1)).alias("n")))
    ranked = freq.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("n"), "token")))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.round(F.expr("regr_slope(ln(n), ln(r))"), 4).alias("slope"),
        F.round(F.expr("regr_intercept(ln(n), ln(r))"), 4)
        .alias("intercept"),
        F.round(F.expr("regr_r2(ln(n), ln(r))"), 6).alias("r2"))


def zipf_fit_sql(tokens_sql: str) -> str:
    """DuckDB mirror of :func:`zipf_fit` over the corpus' token rows."""
    return f"""
        WITH freq AS (
            SELECT token, count(*) AS n FROM ({tokens_sql}) GROUP BY token
        ), ranked AS (
            SELECT n, row_number() OVER (ORDER BY n DESC, token) AS r
            FROM freq
        )
        SELECT CAST(count(*) AS BIGINT) AS n_vocab,
               round(regr_slope(ln(n), ln(r)), 4) AS slope,
               round(regr_intercept(ln(n), ln(r)), 4) AS intercept,
               round(regr_r2(ln(n), ln(r)), 6) AS r2
        FROM ranked
    """

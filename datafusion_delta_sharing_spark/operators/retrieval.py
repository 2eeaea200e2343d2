"""Corpus retrieval / data-selection operators: BM25 scoring and
DSIR-style importance weighting.

Two staples of LLM training-data pipelines that sit on top of the shared
corpus tokenizer (:mod:`..functions.text`):

* **BM25** (Robertson/Spärck Jones Okapi form) — keyword relevance
  scoring of every document against a fixed query-term set. Used for
  retrieval-based decontamination probes, topical subset extraction, and
  search-quality heuristics over web corpora.
* **DSIR** (Data Selection via Importance Resampling, Xie et al. 2023,
  public preprint) — per-document importance weights from hashed-bigram
  language models of a *target* corpus vs the *raw* pool, followed by a
  deterministic top-N selection. The publicly documented recipe hashes
  n-grams into a bounded bucket space so the two "LMs" are just two count
  vectors; the weight is the average log-likelihood ratio of a document's
  grams under the two models.

Scale shape (100 TB posture):

* BM25 tokenizes the corpus once, aggregates per document in ONE shuffle
  (conditional counts per query term — no posting-list join needed for a
  bounded query set), and broadcasts the one-row corpus stats. Per-term
  contributions are summed in a *fixed literal order*, so the score is
  bit-deterministic regardless of partitioning.
* DSIR's bucket count table is bounded by the hash space (16^bucket_hex
  rows), so the gram->ratio lookup is a broadcast join; the corpus is
  shuffled only by (doc) for the final average. Selection is a global
  top-N via TakeOrderedAndProject (no single-partition window).

Both emit rounded doubles (unigram_logprob precedent) so accumulation
order cannot flip the oracle hash, and both have DuckDB SQL mirrors built
from the same constants.

The reference engine has no retrieval surface at all — this module is
part of the beyond-reference LLM-pipeline tier (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from datafusion_delta_sharing_spark.functions.text import (
    tokens_lower, tokens_lower_sql)
from datafusion_delta_sharing_spark.operators.tfidf import (
    token_rows, token_rows_sql)

__all__ = [
    "bm25_scores", "bm25_scores_sql",
    "bm25_join", "bm25_join_sql",
    "dsir_logratio", "dsir_logratio_sql",
    "sparse_cosine_pairs", "sparse_cosine_pairs_sql",
]


def _check_terms(query_terms) -> list[str]:
    """Lowercased, order-preserving dedup; loud on unusable terms. A term
    containing whitespace can never equal a whitespace-split token, so it
    would silently contribute 0 to every score — error instead."""
    seen: dict[str, None] = {}
    for t in query_terms:
        low = str(t).strip().lower()
        if not low or any(ch.isspace() for ch in low):
            raise ValueError(f"unusable BM25 query term: {t!r} "
                             "(empty or contains whitespace)")
        seen.setdefault(low, None)
    if not seen:
        raise ValueError("BM25 needs at least one query term")
    if "'" in "".join(seen):
        # terms are inlined into the SQL mirror as literals
        raise ValueError("BM25 query terms must not contain quotes")
    return list(seen)


def bm25_scores(docs: DataFrame, text_col: str, id_col: str,
                query_terms, k1: float = 1.2, b: float = 0.75,
                ndigits: int = 6) -> DataFrame:
    """Okapi BM25 score of every matching document against a fixed query.

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
    with ``idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`` — the standard
    positive-idf Okapi form.

    Returns ``(id, n_tokens, n_terms_hit, score)`` for documents matching
    at least one query term; ``score`` rounded to ``ndigits``. Documents
    with no tokens (or no hits) are absent.

    One corpus shuffle: per-document conditional tf counts ride the same
    groupBy as the document length, and the corpus stats row (N, avgdl,
    per-term df) is broadcast back. The per-term sum is a fixed-order
    literal expression — no accumulation-order nondeterminism.

    Population note: here ``N`` counts only documents with ≥1 token
    (empty-token docs have no dl and can never match a term);
    :func:`sparse_cosine_pairs` counts ALL distinct ids, empty docs
    included — the two N definitions intentionally differ.
    """
    terms = _check_terms(query_terms)
    toks = token_rows(docs, text_col, id_col)
    per_doc = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("dl"),
        *[F.count(F.when(F.col("token") == t, 1)).alias(f"tf_{i}")
          for i, t in enumerate(terms)])
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
          for i in range(len(terms))])

    def _contrib(i: int) -> Column:
        tf = F.col(f"tf_{i}")
        idf = F.log(1 + (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
                    / (F.col(f"df_{i}") + 0.5))
        norm = tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        return idf * (tf * (k1 + 1)) / norm

    score = _contrib(0)
    for i in range(1, len(terms)):
        score = score + _contrib(i)
    hits = (F.col("tf_0") > 0).cast("bigint")
    for i in range(1, len(terms)):
        hits = hits + (F.col(f"tf_{i}") > 0).cast("bigint")
    return (per_doc.join(F.broadcast(stats))
            .withColumn("n_terms_hit", hits)
            .filter(F.col("n_terms_hit") > 0)
            .select(F.col(id_col),
                    F.col("dl").cast("bigint").alias("n_tokens"),
                    F.col("n_terms_hit"),
                    F.round(score, ndigits).alias("score")))


def bm25_scores_sql(source_sql: str, text_col: str, id_col: str,
                    query_terms, k1: float = 1.2, b: float = 0.75,
                    ndigits: int = 6) -> str:
    """DuckDB mirror of :func:`bm25_scores`, same constants and the same
    fixed-order contribution sum."""
    terms = _check_terms(query_terms)
    tf_cols = ",\n               ".join(
        f"count(CASE WHEN token = '{t}' THEN 1 END) AS tf_{i}"
        for i, t in enumerate(terms))
    df_cols = ",\n               ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms)))
    contribs = " + ".join(
        f"(ln(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (tf_{i} * ({k1!r} + 1))"
        f" / (tf_{i} + {k1!r} * (1 - {b!r} + {b!r} * dl / avgdl)))"
        for i in range(len(terms)))
    hits = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(terms)))
    return f"""
        WITH per_doc AS (
            SELECT {id_col}, count(*) AS dl,
               {tf_cols}
            FROM ({token_rows_sql(source_sql, text_col, id_col)})
            GROUP BY {id_col}
        ),
        stats AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl,
               {df_cols}
            FROM per_doc
        )
        SELECT {id_col}, CAST(dl AS BIGINT) AS n_tokens,
               CAST({hits} AS BIGINT) AS n_terms_hit,
               round({contribs}, {ndigits}) AS score
        FROM per_doc CROSS JOIN stats
        WHERE {hits} > 0
    """


def _bigrams_expr(words: Column) -> Column:
    """Adjacent-pair bigram array from a token array (corpus.py spelling:
    empty array below two tokens)."""
    pairs = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.concat_ws(" ", F.element_at(words, i),
                                  F.element_at(words, i + 1))),
    ).otherwise(F.expr("array()").cast("array<string>"))
    return pairs


def dsir_logratio(docs: DataFrame, text_col: str, id_col: str,
                  target: Column, bucket_hex: int = 3, alpha: float = 1.0,
                  salt: str = "dsir-v1", ndigits: int = 6) -> DataFrame:
    """DSIR importance weight for every document in the raw pool.

    ``target`` is a boolean column splitting the corpus into the target
    distribution (what we want more of) and the raw pool (what we select
    from). Each document's adjacent-bigram grams hash into a bounded
    bucket space (``substr(md5(gram||salt), 1, bucket_hex)`` — 16^hex
    buckets, engine-portable); bucket counts under the two subsets give
    Laplace-smoothed gram probabilities, and the weight is the mean
    log-likelihood ratio

    ``w(d) = avg_g ln((c_tgt[g]+α)/(T_tgt+α·B)) − ln((c_raw[g]+α)/(T_raw+α·B))``

    Returns ``(id, n_bigrams, logratio)`` for POOL documents with at
    least one bigram, ``logratio`` rounded to ``ndigits``. Selection is
    the caller's cut (top-N by (logratio, id) — see the harness query).

    Scale: the bucket table is ≤16^bucket_hex rows regardless of corpus
    size, so the ratio lookup broadcasts; the only corpus-sized shuffles
    are the bucket counts (map-side combined) and the per-doc average.
    """
    if not 1 <= bucket_hex <= 8:
        raise ValueError(f"bucket_hex must be in [1, 8], got {bucket_hex}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    n_buckets = 16 ** bucket_hex
    staged = docs.select(F.col(id_col), target.alias("_is_tgt"),
                         tokens_lower(F.col(text_col)).alias("_w"))
    grams = staged.select(
        F.col(id_col), F.col("_is_tgt"),
        F.explode(_bigrams_expr(F.col("_w"))).alias("gram"))
    grams = grams.withColumn(
        "bucket",
        F.substring(F.md5(F.concat(F.col("gram"), F.lit(":" + salt))),
                    1, bucket_hex))
    counts = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("_is_tgt"), 1).otherwise(0)).alias("c_tgt"),
        F.sum(F.when(F.col("_is_tgt"), 0).otherwise(1)).alias("c_raw"))
    totals = counts.agg(F.sum("c_tgt").alias("t_tgt"),
                        F.sum("c_raw").alias("t_raw"))
    ratio = (F.log((F.col("c_tgt") + alpha)
                   / (F.col("t_tgt") + alpha * n_buckets))
             - F.log((F.col("c_raw") + alpha)
                     / (F.col("t_raw") + alpha * n_buckets)))
    bucket_ratio = (counts.join(F.broadcast(totals))
                    .select("bucket", ratio.alias("_ratio")))
    return (grams.filter(~F.col("_is_tgt"))
            .join(F.broadcast(bucket_ratio), "bucket")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 F.round(F.avg("_ratio"), ndigits).alias("logratio")))


def dsir_logratio_sql(source_sql: str, text_col: str, id_col: str,
                      target_sql: str, bucket_hex: int = 3,
                      alpha: float = 1.0, salt: str = "dsir-v1",
                      ndigits: int = 6) -> str:
    """DuckDB mirror of :func:`dsir_logratio` (``target_sql`` is the
    boolean predicate over the source row, e.g. ``source = 'src18'``)."""
    n_buckets = 16 ** bucket_hex
    return f"""
        WITH wordrows AS (
            SELECT {id_col}, ({target_sql}) AS is_tgt,
                   {tokens_lower_sql(text_col)} AS words
            FROM {source_sql}
        ),
        grams AS (
            SELECT {id_col}, is_tgt,
                   substr(md5((words[i] || ' ' || words[i + 1]) ||
                              ':{salt}'), 1, {bucket_hex}) AS bucket
            FROM (SELECT {id_col}, is_tgt, words,
                         unnest(generate_series(1, len(words) - 1)) AS i
                  FROM wordrows)
        ),
        counts AS (
            SELECT bucket,
                   sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS c_tgt,
                   sum(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS c_raw
            FROM grams GROUP BY bucket
        ),
        totals AS (
            SELECT sum(c_tgt) AS t_tgt, sum(c_raw) AS t_raw FROM counts
        ),
        ratios AS (
            SELECT bucket,
                   ln((c_tgt + {alpha!r}) / (t_tgt + {alpha!r} * {n_buckets}))
                   - ln((c_raw + {alpha!r}) / (t_raw + {alpha!r} * {n_buckets}))
                       AS _ratio
            FROM counts CROSS JOIN totals
        )
        SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(_ratio), {ndigits}) AS logratio
        FROM grams JOIN ratios USING (bucket)
        WHERE NOT is_tgt
        GROUP BY {id_col}
    """


def sparse_cosine_pairs(docs: DataFrame, text_col: str, id_col: str,
                        max_doc_frac: float | None = None,
                        top_k: int = 100, ndigits: int = 6) -> DataFrame:
    """Top-``top_k`` most similar document pairs by TF-IDF sparse cosine
    — the lexical counterpart of the dense-embedding ANN stack: same
    "find near neighbors" job, but on exact term weights, so it catches
    paraphrase-resistant boilerplate the embedding path may smooth over
    and needs no model.

    Weights use the smoothed TF-IDF of :func:`~.tfidf.tfidf_top_terms`
    (``tf · (ln((N+1)/(df+1)) + 1)``); norms run over a document's FULL
    term set; candidate pairs come from the shared-term posting-list
    self-join, optionally df-cut (``max_doc_frac``, RELATIVE: terms in
    more than that fraction of documents are cut, so the knob keeps
    meaning as the corpus grows) — the same lossy-candidate/exact-score
    contract as the PPJoin family: a pair sharing only hotter-than-cut
    terms is not generated, but every emitted cosine uses cut-consistent
    dot products (the cut also drops those terms from the dot product;
    SQL mirror applies the identical cut).

    Returns ``(doc_a, doc_b, n_shared, cosine)`` with doc_a < doc_b,
    ordered by (cosine, doc_a, doc_b), rounded so accumulation order
    cannot flip the oracle hash.

    Scale shape: posting lists are an equi-join on token with the df-cut
    bounding hot-term fan-out (the 100 TB knob); norms are one doc-keyed
    aggregate; the final top-k is a distributed TakeOrderedAndProject,
    never a single-partition window. CAVEAT: pair fan-out is Σ_t df_t²
    over the KEPT terms — the cut bounds it only when kept terms are
    rare (Zipfian vocabularies, i.e. real corpora). On a degenerate
    tiny-vocabulary corpus every kept term is near-universal and pair
    generation goes quadratic; use minhash-LSH there instead.

    Population note: here ``N`` (the idf denominator base) counts ALL
    distinct ids — zero-token documents included; :func:`bm25_scores`
    counts only documents with ≥1 token. Each matches its own oracle;
    mind the difference when reusing the idf weights across operators.
    """
    toks = token_rows(docs, text_col, id_col)
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.countDistinct(id_col).alias("n_docs"))
    w = (tf.join(df, "token").join(F.broadcast(n_docs))
         .withColumn("w", F.col("tf") * (F.log((F.col("n_docs") + 1)
                                               / (F.col("df") + 1)) + 1)))
    norms = (w.groupBy(id_col)
             .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")))
    posting = w.select("token", F.col(id_col).alias("_d"),
                       F.col("w").alias("_w"), "df", "n_docs")
    if max_doc_frac is not None:
        if not 0 < max_doc_frac <= 1:
            raise ValueError(
                f"max_doc_frac must be in (0, 1], got {max_doc_frac}")
        posting = posting.filter(
            F.col("df") <= max_doc_frac * F.col("n_docs"))
    left = posting.select("token", F.col("_d").alias("doc_a"),
                          F.col("_w").alias("w_a"))
    right = posting.select("token", F.col("_d").alias("doc_b"),
                           F.col("_w").alias("w_b"))
    pairs = (left.join(right, "token")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"),
                  F.sum(F.col("w_a") * F.col("w_b")).alias("_dot")))
    na = norms.select(F.col(id_col).alias("doc_a"),
                      F.col("norm").alias("_norm_a"))
    nb = norms.select(F.col(id_col).alias("doc_b"),
                      F.col("norm").alias("_norm_b"))
    return (pairs.join(na, "doc_a").join(nb, "doc_b")
            .select("doc_a", "doc_b", "n_shared",
                    F.round(F.col("_dot") / (F.col("_norm_a")
                                             * F.col("_norm_b")),
                            ndigits).alias("cosine"))
            .orderBy(F.desc("cosine"), "doc_a", "doc_b")
            .limit(top_k))


def sparse_cosine_pairs_sql(source_sql: str, text_col: str, id_col: str,
                            max_doc_frac: float | None = None,
                            top_k: int = 100, ndigits: int = 6) -> str:
    """DuckDB mirror of :func:`sparse_cosine_pairs`."""
    cut = (f"WHERE df <= {max_doc_frac!r} * n_docs"
           if max_doc_frac is not None else "")
    return f"""
        WITH toks AS ({token_rows_sql(source_sql, text_col, id_col)}),
        tf AS (SELECT {id_col}, token, count(*) AS tf
               FROM toks GROUP BY {id_col}, token),
        w AS (
            SELECT {id_col}, token, df, n_docs,
                   tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1) AS w
            FROM tf
            JOIN (SELECT token, count(*) AS df FROM tf GROUP BY token)
                USING (token)
            CROSS JOIN (SELECT count(DISTINCT {id_col}) AS n_docs
                        FROM {source_sql})
        ),
        norms AS (SELECT {id_col}, sqrt(sum(w * w)) AS norm
                  FROM w GROUP BY {id_col}),
        posting AS (SELECT token, {id_col} AS d, w FROM w {cut}),
        pairs AS (
            SELECT a.d AS doc_a, b.d AS doc_b,
                   CAST(count(*) AS BIGINT) AS n_shared,
                   sum(a.w * b.w) AS dot
            FROM posting a JOIN posting b
              ON a.token = b.token AND a.d < b.d
            GROUP BY a.d, b.d
        )
        SELECT doc_a, doc_b, n_shared,
               round(dot / (na.norm * nb.norm), {ndigits}) AS cosine
        FROM pairs
        JOIN norms na ON na.{id_col} = doc_a
        JOIN norms nb ON nb.{id_col} = doc_b
        ORDER BY cosine DESC, doc_a, doc_b
        LIMIT {top_k}
    """


def bm25_join(docs: DataFrame, queries: DataFrame, text_col: str,
              id_col: str, qid_col: str, qtext_col: str,
              k1: float = 1.2, b: float = 0.75,
              max_doc_frac: float | None = None,
              ndigits: int = 6) -> DataFrame:
    """Okapi BM25 of every (query, document) pair via the inverted-index
    posting join — the unbounded-query-set form :func:`bm25_scores`
    cannot take (it builds one conditional column per LITERAL term; this
    joins a query TABLE, e.g. thousands of decontamination probes).

    Same scoring math and the same ``N`` population (documents with ≥1
    token) as :func:`bm25_scores`; query terms are the DISTINCT tokens of
    each query row (Okapi's set-of-terms convention, matching the
    fixed-term form). Returns ``(qid, id, n_terms_hit, score)`` for pairs
    sharing ≥1 kept term, score rounded to ``ndigits`` (the per-pair sum
    is a float aggregate, not a fixed-order literal chain — rounding
    absorbs accumulation order; BM25 scores are O(1–10), far from the
    residual-of-zero trap).

    Scale shape: corpus tf and df are ONE doc shuffle + one token-keyed
    aggregate; the candidate generator is the token equi-join between
    query terms and postings, whose fan-out is Σ_t (df_t × qf_t) — the
    ``max_doc_frac`` df-cut drops terms in more than that FRACTION of
    documents from the postings AND the scoring (cut-consistent, the
    sparse_cosine_pairs contract: lossy candidates under degenerate
    vocabularies, exact scores over the kept terms). Corpus stats
    broadcast; nothing is driver-side.
    """
    toks = token_rows(docs, text_col, id_col)
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    if max_doc_frac is not None:
        df = (df.join(F.broadcast(stats.select("n_docs")))
              .filter(F.col("df") <= F.col("n_docs") * max_doc_frac)
              .select("token", "df"))
    qterms = (token_rows(queries, qtext_col, qid_col)
              .select(F.col(qid_col), "token").distinct())
    posts = (tf.join(df, "token")                    # df-cut applied here
             .join(dl, id_col)
             .join(F.broadcast(stats)))
    pairs = qterms.join(posts, "token")
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = (F.col("tf")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    contrib = idf * (F.col("tf") * (k1 + 1)) / norm
    return (pairs.withColumn("contrib", contrib)
            .groupBy(qid_col, id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
                 F.round(F.sum("contrib"), ndigits).alias("score")))


def bm25_join_sql(docs_sql: str, queries_sql: str, text_col: str,
                  id_col: str, qid_col: str, qtext_col: str,
                  k1: float = 1.2, b: float = 0.75,
                  max_doc_frac: float | None = None,
                  ndigits: int = 6) -> str:
    """DuckDB mirror of :func:`bm25_join` (identical CTE structure)."""
    cut = (f"WHERE df <= n_docs * {max_doc_frac}"
           if max_doc_frac is not None else "")
    return f"""
    WITH toks AS ({token_rows_sql(docs_sql, text_col, id_col)}),
    tf AS (SELECT {id_col}, token, count(*) AS tf
           FROM toks GROUP BY {id_col}, token),
    dl AS (SELECT {id_col}, count(*) AS dl FROM toks GROUP BY {id_col}),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    dfc AS (SELECT token, df FROM dft, stats {cut}),
    qterms AS (SELECT DISTINCT {qid_col}, token
               FROM ({token_rows_sql(queries_sql, qtext_col, qid_col)})),
    pairs AS (
        SELECT q.{qid_col}, t.{id_col}, t.tf, d.df, l.dl,
               s.n_docs, s.avgdl
        FROM qterms q
        JOIN tf t ON t.token = q.token
        JOIN dfc d ON d.token = q.token
        JOIN dl l ON l.{id_col} = t.{id_col}
        CROSS JOIN stats s
    )
    SELECT {qid_col}, {id_col},
           CAST(count(*) AS BIGINT) AS n_terms_hit,
           round(sum(
               ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * ({k1} + 1))
               / (tf + {k1} * (1 - {b} + {b} * dl / avgdl))
           ), {ndigits}) AS score
    FROM pairs GROUP BY {qid_col}, {id_col}
    """
def bm25_join_topk(docs: DataFrame, queries: DataFrame, text_col: str,
                   id_col: str, qid_col: str, qtext_col: str, k: int,
                   **bm25) -> DataFrame:
    """The ``k`` best documents per query of :func:`bm25_join` (score
    desc, id tie-break), ranked 1..k."""
    scored = bm25_join(docs, queries, text_col, id_col, qid_col, qtext_col,
                       **bm25)
    ranked = scored.withColumn(
        "rank", F.row_number().over(
            Window.partitionBy(qid_col).orderBy(F.desc("score"), id_col)))
    return (ranked.filter(F.col("rank") <= k)
            .select(qid_col, id_col, "n_terms_hit", "score",
                    F.col("rank").cast("int").alias("rank")))


def bm25_join_topk_sql(docs_sql: str, queries_sql: str, text_col: str,
                       id_col: str, qid_col: str, qtext_col: str, k: int,
                       **bm25) -> str:
    """DuckDB mirror of :func:`bm25_join_topk`."""
    inner = bm25_join_sql(docs_sql, queries_sql, text_col,
                          id_col, qid_col, qtext_col, **bm25)
    return f"""
        SELECT {qid_col}, {id_col}, n_terms_hit, score, CAST(rank AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY {qid_col} ORDER BY score DESC, {id_col}) AS rank
            FROM ({inner})
        ) WHERE rank <= {k}
    """



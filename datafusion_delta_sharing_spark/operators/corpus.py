"""Corpus-level curation operators: line-level dedup and LM-quality proxy.

Two staples of web-scale training-data pipelines that work on the corpus as
a whole rather than per-document:

* ``line_dedup`` — remove repeated lines corpus-wide, keeping the first
  occurrence (document order, then line order) and reassembling documents
  from their surviving lines. This is the classic boilerplate-removal pass
  (navigation bars, cookie banners, license headers repeated across pages);
  here "lines" are deterministic fixed-width word windows since the
  synthetic corpus has no newlines.
* ``unigram_logprob`` — score each document by the mean log-probability of
  its tokens under the corpus unigram distribution. Documents of rare /
  garbled tokens score low, natural text scores high; thresholding on this
  is the cheap stand-in for the KenLM-perplexity filter used by public
  web-corpus pipelines.

Scale notes: ``line_dedup`` picks each line's survivor with a min-struct
aggregation (map-side partial agg) instead of a row_number window — a
boilerplate line repeated in 10^8 documents lands on ONE reducer under a
window partition, while partial aggregation collapses it to one row per map
task before the shuffle. ``unigram_logprob`` shuffles tokens once for the
frequency table and once for the per-document mean; the frequency table is
vocabulary-sized and its join strategy is left to AQE (broadcast at sane
vocabularies, shuffle at web-scale token sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from datafusion_delta_sharing_spark.functions.text import (
    dup_ngram_ratio_sql, shingles_of_words, tokens_lower, tokens_lower_sql,
    words_of)
from datafusion_delta_sharing_spark.operators.chunking import (
    chunk_documents,
    chunk_documents_sql,
)
from datafusion_delta_sharing_spark.operators.tfidf import (
    token_rows, token_rows_sql)


def line_dedup(docs: DataFrame, text_col: str, id_col: str,
               line_words: int = 16) -> DataFrame:
    """Corpus-wide line dedup: one row per document with the text rebuilt
    from the lines that survived (first global occurrence per distinct line
    wins; order by (document id, line position)).

    Returns ``(id, n_lines, n_kept, dedup_text)``; a document whose every
    line already appeared elsewhere keeps an empty ``dedup_text``.
    """
    lines = chunk_documents(docs, text_col, id_col,
                            chunk_size=line_words, overlap=0)
    # survivor per distinct line: min (doc, position) — partial-agg shape,
    # skew-safe for lines repeated across millions of documents
    winners = (lines.groupBy("chunk_text")
               .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                   F.col("chunk_id").alias("c"))).alias("w")))
    kept = (lines.join(winners, "chunk_text")
            .filter((F.col(id_col) == F.col("w.i"))
                    & (F.col("chunk_id") == F.col("w.c"))))
    totals = lines.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"))
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("chunk_id").alias("c"),
                             F.col("chunk_text").alias("t")))),
                lambda s: s["t"]),
            " ").alias("dedup_text"))
    return (totals.join(rebuilt, id_col, "left")
            .select(F.col(id_col), "n_lines",
                    F.coalesce("n_kept", F.lit(0)).cast("bigint")
                    .alias("n_kept"),
                    F.coalesce("dedup_text", F.lit("")).alias("dedup_text")))


def line_dedup_sql(source_sql: str, text_col: str, id_col: str,
                   line_words: int = 16) -> str:
    """DuckDB mirror of :func:`line_dedup` (row_number is fine at oracle
    scale; the Spark side avoids it only for shuffle-skew reasons)."""
    lines_sql = chunk_documents_sql(source_sql, text_col, id_col,
                                    chunk_size=line_words, overlap=0)
    return f"""
        WITH lines AS ({lines_sql}),
        kept AS (
            SELECT * FROM (
                SELECT {id_col}, chunk_id, chunk_text,
                       row_number() OVER (PARTITION BY chunk_text
                                          ORDER BY {id_col}, chunk_id) AS rn
                FROM lines
            ) WHERE rn = 1
        ),
        totals AS (
            SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_lines
            FROM lines GROUP BY {id_col}
        ),
        rebuilt AS (
            SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_kept,
                   string_agg(chunk_text, ' ' ORDER BY chunk_id) AS dedup_text
            FROM kept GROUP BY {id_col}
        )
        SELECT t.{id_col}, t.n_lines,
               CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
               coalesce(r.dedup_text, '') AS dedup_text
        FROM totals t LEFT JOIN rebuilt r USING ({id_col})
    """


def unigram_logprob(docs: DataFrame, text_col: str, id_col: str,
                    ndigits: int = 6) -> DataFrame:
    """Mean natural-log unigram probability per document:
    ``avg(ln(count(token) / total_tokens))`` over the document's tokens,
    frequencies taken from this corpus itself.

    Returns ``(id, n_tokens, logprob)`` with ``logprob`` rounded so float
    summation order cannot break oracle comparison.
    """
    toks = token_rows(docs, text_col, id_col)
    freqs = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (toks.join(freqs, "token")
            .join(F.broadcast(total))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.round(F.avg(F.log(F.col("n_tok") / F.col("n_total"))),
                         ndigits).alias("logprob")))


def unigram_logprob_sql(source_sql: str, text_col: str, id_col: str,
                        ndigits: int = 6) -> str:
    """DuckDB mirror of :func:`unigram_logprob`."""
    return f"""
        WITH toks AS ({token_rows_sql(source_sql, text_col, id_col)}),
        freqs AS (SELECT token, count(*) AS n_tok FROM toks GROUP BY token),
        total AS (SELECT count(*) AS n_total FROM toks)
        SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(ln(n_tok / n_total)), {ndigits}) AS logprob
        FROM toks JOIN freqs USING (token) CROSS JOIN total
        GROUP BY {id_col}
    """


def bigram_logprob(docs: DataFrame, text_col: str, id_col: str,
                   ndigits: int = 6) -> DataFrame:
    """Mean Laplace-smoothed bigram log-probability per document:
    ``avg(ln((c(w_prev w) + 1) / (c(w_prev) + V)))`` over the document's
    adjacent token pairs, counts taken from this corpus itself (V =
    distinct-token vocabulary size). The bigram counterpart of
    :func:`unigram_logprob` — the next rung toward the KenLM-perplexity
    quality filter of public web-corpus pipelines; repeated boilerplate
    scores high, token salad scores low even when its unigrams are common.

    Returns ``(id, n_bigrams, logprob)``; documents with fewer than two
    tokens have no bigrams and are absent from the output. ``logprob`` is
    rounded so float summation order cannot break the oracle comparison.

    Scale shape: per-doc bigram expansion is a codegen array transform (no
    shuffle); the bigram and context frequency tables shuffle once each on
    their keys with map-side partial aggregation; join strategy for the
    lookups is left to AQE (broadcast at sane vocabularies).
    """
    staged = docs.select(F.col(id_col),
                         tokens_lower(F.col(text_col)).alias("_w"))
    pairs = F.when(
        F.size("_w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - 1),
            lambda i: F.concat_ws(" ", F.element_at("_w", i),
                                  F.element_at("_w", i + 1))),
    ).otherwise(F.expr("array()").cast("array<string>"))
    doc_bigrams = staged.select(
        F.col(id_col), F.explode(pairs).alias("bigram"))
    toks = staged.select(F.explode("_w").alias("token"))
    big_freq = (doc_bigrams.groupBy("bigram")
                .agg(F.count(F.lit(1)).alias("c_ab")))
    ctx_freq = (toks.groupBy("token")
                .agg(F.count(F.lit(1)).alias("c_a"))
                .withColumnRenamed("token", "_ctx"))
    vocab = toks.agg(F.countDistinct("token").alias("v"))
    return (doc_bigrams
            .join(big_freq, "bigram")
            .withColumn("_ctx", F.split("bigram", " ")[0])
            .join(ctx_freq, "_ctx")
            .join(F.broadcast(vocab))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 F.round(F.avg(F.log((F.col("c_ab") + 1) /
                                     (F.col("c_a") + F.col("v")))),
                         ndigits).alias("logprob")))


def bigram_logprob_sql(source_sql: str, text_col: str, id_col: str,
                       ndigits: int = 6) -> str:
    """DuckDB mirror of :func:`bigram_logprob`."""
    return f"""
        WITH wordrows AS (
            SELECT {id_col}, {tokens_lower_sql(text_col)} AS words
            FROM {source_sql}
        ),
        doc_bigrams AS (
            SELECT {id_col}, words[i] || ' ' || words[i + 1] AS bigram
            FROM (SELECT {id_col}, words,
                         unnest(generate_series(1, len(words) - 1)) AS i
                  FROM wordrows)
        ),
        toks AS (SELECT unnest(words) AS token FROM wordrows),
        big_freq AS (SELECT bigram, count(*) AS c_ab
                     FROM doc_bigrams GROUP BY bigram),
        ctx_freq AS (SELECT token, count(*) AS c_a FROM toks GROUP BY token),
        vocab AS (SELECT count(DISTINCT token) AS v FROM toks)
        SELECT d.{id_col},
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(ln((b.c_ab + 1.0) / (c.c_a + vb.v))),
                     {ndigits}) AS logprob
        FROM doc_bigrams d
        JOIN big_freq b USING (bigram)
        JOIN ctx_freq c ON c.token = split_part(d.bigram, ' ', 1)
        CROSS JOIN vocab vb
        GROUP BY d.{id_col}
    """


def token_entropy(docs: DataFrame, text_col: str, id_col: str,
                  ndigits: int = 6) -> DataFrame:
    """Shannon entropy (nats) of each document's own token distribution:
    ``H = ln(n) - (sum c*ln(c)) / n`` over within-doc token counts — the
    identity avoids forming probabilities so the only float rounding is
    the final one. Low entropy = repetitive/boilerplate text, high =
    diverse vocabulary; with ``n_tokens`` it is the cheap within-doc
    repetition screen next to the corpus-level ``unigram_logprob``.

    Returns ``(id, n_tokens, entropy)``; empty documents are absent.
    Scale shape: one shuffle on (doc, token) with map-side combine, one
    on doc — both keyed by the document, so no corpus-wide hot keys.
    """
    toks = token_rows(docs, text_col, id_col)
    per_tok = (toks.groupBy(id_col, "token")
               .agg(F.count(F.lit(1)).alias("c")))
    return (per_tok.groupBy(id_col)
            .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                 F.round(
                     F.log(F.sum("c"))
                     - F.sum(F.col("c") * F.log("c")) / F.sum("c"),
                     ndigits).alias("entropy")))


def token_entropy_sql(source_sql: str, text_col: str, id_col: str,
                      ndigits: int = 6) -> str:
    """DuckDB mirror of :func:`token_entropy`."""
    return f"""
        WITH toks AS ({token_rows_sql(source_sql, text_col, id_col)}),
        per_tok AS (
            SELECT {id_col}, token, count(*) AS c
            FROM toks GROUP BY {id_col}, token
        )
        SELECT {id_col},
               CAST(sum(c) AS BIGINT) AS n_tokens,
               round(ln(sum(c)) - sum(c * ln(c)) / sum(c),
                     {ndigits}) AS entropy
        FROM per_tok GROUP BY {id_col}
    """


# -- repetition signals ------------------------------------------------------


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals of a (doc_id, text) frame:
    duplicate-word and duplicate-3-gram fractions, plus the 3-gram ratio on the doc concatenated with itself
    (provably > 0 — the ratio math is exercised on every row, not just the
    few naturally repetitive docs).

    The word and shingle arrays are materialized in staged selects
    (CollapseProject keeps multiply-referenced non-cheap aliases): the
    convenience one-liner form re-splits the text per shingle and
    re-shingles per ratio reference — measured 16× slower at sf0.1."""
    staged = docs.select(
        "doc_id", "text", words_of("text").alias("_w"),
        F.concat(F.col("text"), F.lit(" "), F.col("text")).alias("_t2"))
    # _w2 must be its own column: embedded in the shingle lambda it would
    # re-concat per element (same O(words²) trap as the text re-split)
    staged = staged.withColumn("_w2", F.concat("_w", "_w"))
    shingled = staged.select(
        "doc_id",
        # k=1 via shingles_of_words, not the raw _w: the size<k fallback
        # ([trim(text)]) is what the oracle's dup_ngram_ratio_sql(k=1)
        # applies on a zero-word doc — raw _w would divide 0/0 there
        shingles_of_words("_w", "text", 1).alias("_s1"),
        shingles_of_words("_w", "text", 3).alias("_s3"),
        shingles_of_words("_w2", "_t2", 3).alias("_s3d"))

    def ratio(c):
        return F.round(1 - F.size(F.array_distinct(c)) / F.size(c), 6)

    return shingled.select(
        "doc_id",
        ratio(F.col("_s1")).alias("dup_word_ratio"),
        ratio(F.col("_s3")).alias("dup_3gram_ratio"),
        ratio(F.col("_s3d")).alias("dup_3gram_doubled"),
    )


def repetition_metrics_sql(source_sql: str) -> str:
    """DuckDB mirror of :func:`repetition_metrics` over a (doc_id,
    text) source."""
    return f"""
        SELECT doc_id,
               {dup_ngram_ratio_sql('text', 1)} AS dup_word_ratio,
               {dup_ngram_ratio_sql('text', 3)} AS dup_3gram_ratio,
               {dup_ngram_ratio_sql("(text || ' ' || text)", 3)}
                   AS dup_3gram_doubled
        FROM {source_sql}
    """

"""TF-IDF scoring and vocabulary building over a document corpus.

Classic training-data-pipeline primitives: per-document top terms by TF-IDF
(for topical filtering / near-dup features) and a corpus vocabulary with
document frequencies (for tokenizer training and frequency cutoffs).

Both are expressed as explode + aggregate + window plans: two shuffles
(token stats, then per-doc ranking), map-side partial aggregation on both,
no Python in the hot path. The document-frequency table is tiny relative to
the corpus (vocabulary-sized), so it is broadcast back onto term
frequencies rather than shuffling the corpus a second time.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import StringType, StructField, StructType
from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

from datafusion_delta_sharing_spark.functions.text import (
    WS_TOKEN_SPLIT, tokens_lower, tokens_lower_sql)


def token_rows(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, token) rows: lowercased whitespace tokens, empties dropped.
    The exploded-row form of :func:`~...functions.text.tokens_lower` —
    shared by every corpus-statistics operator (corpus.py LM scores
    import it) so the tokenizer has exactly one Spark spelling."""
    return docs.select(
        F.col(id_col),
        F.explode(tokens_lower(F.col(text_col))).alias("token"))


def token_rows_sql(source_sql: str, text_col: str, id_col: str) -> str:
    """DuckDB mirror of :func:`token_rows` (empties already dropped by
    the shared words expression — no WHERE backstop to mask a missing
    list_filter)."""
    return f"""
        SELECT {id_col}, token
        FROM (SELECT {id_col}, {tokens_lower_sql(text_col)} AS words
              FROM {source_sql}),
             unnest(words) AS t(token)
    """


def tfidf_top_terms(docs: DataFrame, text_col: str, id_col: str,
                    top_k: int = 3) -> DataFrame:
    """Top-``top_k`` terms per document by smoothed TF-IDF
    (tf * (ln((N+1)/(df+1)) + 1)), ties broken alphabetically.

    The rank window partitions by document — bounded rows per partition —
    and Spark plans it as WindowGroupLimit when followed by the filter, so
    no full sort of the token table happens.
    """
    toks = token_rows(docs, text_col, id_col)
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.countDistinct(id_col).alias("n_docs"))
    # df is vocabulary-sized — often broadcastable, but at web scale distinct
    # tokens run to billions, so leave the strategy to AQE instead of hinting
    scored = (
        tf.join(df, "token")
        .join(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(
            F.col("tf") * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
            6))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select(F.col(id_col), "token", F.col("tf").cast("bigint").alias("tf"),
                "tfidf", F.col("rnk").cast("bigint").alias("rnk"))
    )


def tfidf_top_terms_sql(source_sql: str, text_col: str, id_col: str,
                        top_k: int = 3) -> str:
    """DuckDB mirror of :func:`tfidf_top_terms` (toks CTE: one tokenize
    pass feeds both the tf and df aggregates instead of two full
    corpus scans)."""
    return f"""
        WITH toks AS ({token_rows_sql(source_sql, text_col, id_col)}),
        tf AS (
            SELECT {id_col}, token, count(*) AS tf
            FROM toks GROUP BY {id_col}, token
        )
        SELECT {id_col}, token, CAST(tf AS BIGINT) AS tf, tfidf,
               CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT {id_col}, token, tf,
                   round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1), 6)
                       AS tfidf,
                   row_number() OVER (
                       PARTITION BY {id_col}
                       ORDER BY round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1),
                                      6) DESC, token ASC) AS rnk
            FROM tf
            JOIN (
                SELECT token, count(*) AS df FROM tf GROUP BY token
            ) USING (token)
            CROSS JOIN (
                SELECT count(DISTINCT {id_col}) AS n_docs FROM {source_sql}
            )
        ) WHERE rnk <= {top_k}
    """


def build_vocab(docs: DataFrame, text_col: str, id_col: str,
                min_df: int = 2, size: int = 1000) -> DataFrame:
    """Corpus vocabulary: the ``size`` most frequent tokens with document
    frequency >= ``min_df``, ranked by total count (ties alphabetical).

    One shuffle on token, then the top-``size`` cut runs as a distributed
    TakeOrderedAndProject (per-partition top-N + merge), NOT a global
    row_number window — a single-partition sort over all distinct tokens
    would be the bottleneck at web scale. Ranks are assigned afterwards on
    the ``size``-row result.
    """
    toks = token_rows(docs, text_col, id_col)
    stats = (toks.groupBy("token")
             .agg(F.count("*").alias("n_total"),
                  F.countDistinct(id_col).alias("df")))
    top = (stats.filter(F.col("df") >= min_df)
           .orderBy(F.desc("n_total"), F.asc("token"))
           .limit(size))
    w = Window.orderBy(F.desc("n_total"), F.asc("token"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("token", F.col("n_total").cast("bigint").alias("n_total"),
                F.col("df").cast("bigint").alias("df"),
                F.col("rank").cast("bigint").alias("rank"))
    )


def build_vocab_sql(source_sql: str, text_col: str, id_col: str,
                    min_df: int = 2, size: int = 1000) -> str:
    """DuckDB mirror of :func:`build_vocab`."""
    return f"""
        SELECT token, CAST(n_total AS BIGINT) AS n_total,
               CAST(df AS BIGINT) AS df, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT token, n_total, df,
                   row_number() OVER (ORDER BY n_total DESC, token ASC) AS rank
            FROM (
                SELECT token, count(*) AS n_total,
                       count(DISTINCT {id_col}) AS df
                FROM ({token_rows_sql(source_sql, text_col, id_col)})
                GROUP BY token
            ) WHERE df >= {min_df}
        ) WHERE rank <= {size}
    """


def bpe_pair_counts(docs: DataFrame, text_col: str,
                    top_k: int = 50) -> DataFrame:
    """First-round BPE merge statistics (Sennrich et al. 2016, the public
    byte-pair-encoding recipe): adjacent character-pair counts across the
    corpus, weighted by word frequency — the quantity a BPE tokenizer
    trainer maximizes at every merge step. Emitted as the top-``top_k``
    pairs by (count, pair), the exact candidate list for merge #1.

    Returns ``(pair, pair_count)``. A pair occurring twice inside one
    word occurrence counts twice ('aaa' -> 'aa' twice), matching the
    reference BPE counting.

    Scale shape: ONE corpus shuffle builds the word-frequency table
    (vocabulary-sized); the pair expansion + count runs over the VOCAB,
    not the corpus — at web scale that is billions of corpus tokens in,
    millions of vocab rows out, and the pair table is bounded by
    |alphabet|² regardless of corpus size. Top-k is a distributed
    TakeOrderedAndProject.
    """
    toks = docs.select(F.explode(tokens_lower(F.col(text_col)))
                       .alias("word"))
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    pairs = freq.filter(F.length("word") >= 2).select(
        F.explode(F.transform(
            F.sequence(F.lit(1), F.length("word") - 1),
            lambda i: F.col("word").substr(i, F.lit(2)))).alias("pair"),
        "n")
    return (pairs.groupBy("pair")
            .agg(F.sum("n").cast("bigint").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("pair"))
            .limit(top_k))


def bpe_pair_counts_sql(source_sql: str, text_col: str,
                        top_k: int = 50) -> str:
    """DuckDB mirror of :func:`bpe_pair_counts`."""
    return f"""
        WITH toks AS (
            SELECT unnest(words) AS word
            FROM (SELECT {tokens_lower_sql(text_col)} AS words
                  FROM {source_sql})
        ),
        freq AS (SELECT word, count(*) AS n FROM toks GROUP BY word),
        pairs AS (
            SELECT substr(word, i, 2) AS pair, n
            FROM (SELECT word, n,
                         unnest(generate_series(1, len(word) - 1)) AS i
                  FROM freq WHERE len(word) >= 2)
        )
        SELECT pair, CAST(sum(n) AS BIGINT) AS pair_count
        FROM pairs GROUP BY pair
        ORDER BY pair_count DESC, pair ASC
        LIMIT {top_k}
    """


def feature_hash_counts(docs: DataFrame, text_col: str, id_col: str,
                        n_buckets: int = 64) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): sparse bag-of-words
    features in a FIXED ``n_buckets``-dim space with no vocabulary pass —
    ``bucket = int(md5(token)[:8hex]) % n_buckets`` — the standard
    featurizer when the vocabulary is unbounded (URLs, ids, misspellings)
    or a second corpus scan is too expensive at 100 TB.

    Returns ``(id, bucket, n)`` sparse rows (one corpus explode + one
    keyed aggregate — no vocab table, no broadcast, nothing driver-side).
    md5 is the hash so the Spark expression and the DuckDB oracle agree
    engine-portably (the splits.py trick); the first 8 hex digits
    (< 2^32) fit a BIGINT exactly, and both operands are non-negative so
    ``%`` agrees across engines."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    toks = token_rows(docs, text_col, id_col)
    bucket = (F.conv(F.substring(F.md5("token"), 1, 8), 16, 10)
              .cast("long") % n_buckets)
    return (toks.withColumn("bucket", bucket)
            .groupBy(id_col, "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def feature_hash_counts_sql(source_sql: str, text_col: str, id_col: str,
                            n_buckets: int = 64) -> str:
    """DuckDB mirror of :func:`feature_hash_counts`."""
    return f"""
        SELECT {id_col}, bucket, CAST(count(*) AS BIGINT) AS n
        FROM (
            SELECT {id_col},
                   CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)
                       % {n_buckets} AS bucket
            FROM ({token_rows_sql(source_sql, text_col, id_col)})
        ) GROUP BY {id_col}, bucket
    """


# BPE symbol-string separator. Corpus tokens are whitespace-split words,
# so '|' cannot appear INSIDE a token produced by tokens_lower only if the
# raw text never contains it — both sides guard loudly instead of assuming.
_BPE_SEP = "|"


def _bpe_train(docs: DataFrame, text_col: str,
               k: int = 8) -> tuple[DataFrame, DataFrame]:
    """The actual BPE training loop (Sennrich et al. 2016), ``k`` greedy
    rounds: count adjacent symbol pairs over the (word, freq) vocabulary,
    merge the argmax pair (count desc, then (left, right) — a total
    order), rewrite the vocabulary, repeat. Returns the learned merge
    table ``(step, left_sym, right_sym, merged, pair_count)`` — the
    artifact a tokenizer trainer ships — AND the final encoded
    vocabulary ``(word, syms, n)``, the per-word cache the encode path
    joins on.

    Each round is one bounded aggregate (pair counts over the VOCAB, not
    the corpus) + one vocab rewrite; the corpus is tokenized exactly once
    up front. The vocabulary is ``localCheckpoint``-ed per round (the
    connected_components pattern) so round N's plan doesn't re-derive
    rounds 1..N-1.

    The per-round argmax is ``collect()``-ed (ONE row — bounded driver
    state by construction) and the rewrite uses it as LITERALS: the r10
    optimization pass replaced the old per-round
    ``localCheckpoint(best)`` + ``crossJoin(broadcast(best))`` with
    this, dropping a checkpoint job and a broadcast build per round
    (8 fewer Spark jobs at k=8: 38 -> 30 for the encode query) and
    making the merge table a driver-built literal frame instead of a
    k-way union of one-row scans. Values are bit-identical (the argmax
    order is total), verified by the unchanged oracles/property tests.

    Words are held as a separator-joined symbol STRING and the rewrite is
    a left-to-right fold (``aggregate``): merge the tail symbol with the
    incoming one when they equal the round's pair — the standard
    leftmost-non-overlapping BPE convention ('aaa' + (a,a) -> ['aa','a']).
    A merged symbol can never chain inside its own round (left||right
    = left is impossible for a nonempty right), so the fold is exact.
    The DuckDB mirror replays the SAME k merges with ``list_reduce`` and
    byte-identical CASE arithmetic.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sep = _BPE_SEP
    toks = docs.select(F.explode(tokens_lower(F.col(text_col)))
                       .alias("word"))
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    guarded = F.when(
        F.col("word").contains(sep),
        F.raise_error(F.lit(
            "bpe_apply_merges: a token contains the symbol separator "
            f"{sep!r}; pick a different separator for this corpus")),
    ).otherwise(F.col("word"))
    # lazy checkpoints throughout the loop (r10): round N's argmax
    # collect is the first action on round N-1's vocab and materializes
    # it then — and the FINAL round's vocab is never materialized when
    # the caller only wants the merge table (bpe_apply_merges)
    vocab = freq.select(
        "word",
        F.array_join(F.split(guarded, ""), sep).alias("syms"),
        "n").localCheckpoint(eager=False)

    merge_rows: list[tuple] = []
    exhausted = False
    for step in range(1, k + 1):
        syms_list = F.split(F.col("syms"), "\\" + sep)
        if exhausted:
            # parity with the pre-r10 crossJoin form: once a round finds
            # no pair (best empty), the old crossJoin(empty) emptied the
            # vocabulary for every later round — replicate that exactly
            vocab = vocab.filter(F.lit(False))
            continue
        pairs = (vocab
                 .filter(F.size(syms_list) >= 2)
                 .select(F.explode(F.transform(
                     F.sequence(F.lit(1), F.size(syms_list) - 1),
                     lambda i: F.struct(
                         F.element_at(syms_list, i).alias("a"),
                         F.element_at(syms_list, i + 1).alias("b"))))
                     .alias("p"), "n")
                 .select("p.a", "p.b", "n"))
        best = (pairs.groupBy("a", "b")
                .agg(F.sum("n").cast("bigint").alias("cnt"))
                .orderBy(F.desc("cnt"), "a", "b").limit(1)
                .collect())  # ONE row — bounded driver state
        if not best:
            exhausted = True
            vocab = vocab.filter(F.lit(False))
            continue
        r = best[0]
        merge_rows.append((step, r.a, r.b, r.a + r.b, r.cnt))
        a_lit, b_lit = F.lit(r.a), F.lit(r.b)

        tail_re = "([^\\" + sep + "]+)$"  # sep escaped for the char class

        def _fold(acc, s):
            tail_is_a = F.regexp_extract(acc, tail_re, 1) == a_lit
            return (F.when(tail_is_a & (s == b_lit),
                           F.concat(
                               F.substr(acc, F.lit(1),
                                        F.length(acc)
                                        - F.length(a_lit)),
                               a_lit, b_lit))
                    .otherwise(F.concat(acc, F.lit(sep), s)))

        vocab = (vocab
                 .select("word",
                         F.aggregate(
                             F.slice(syms_list, 2,
                                     F.greatest(F.size(syms_list) - 1,
                                                F.lit(0))),
                             F.element_at(syms_list, 1), _fold)
                         .alias("syms"),
                         "n")
                 .localCheckpoint(eager=False))
    merges = docs.sparkSession.createDataFrame(
        merge_rows,
        "step int, left_sym string, right_sym string, "
        "merged string, pair_count bigint")
    return merges, vocab


def bpe_apply_merges(docs: DataFrame, text_col: str,
                     k: int = 8) -> DataFrame:
    """The learned merge table of :func:`_bpe_train` — see there for the
    algorithm and determinism contract."""
    merges, _ = _bpe_train(docs, text_col, k)
    return merges


def bpe_encode_lengths(docs: DataFrame, text_col: str, id_col: str,
                       k: int = 8) -> DataFrame:
    """ENCODE under the trained tokenizer: per document, the word count
    and the token count after applying the ``k`` learned merges — the
    number that drives sequence packing / token budgeting once a real
    tokenizer replaces whitespace counts.

    The encode path is the production shape: merges are applied to the
    VOCABULARY once (k bounded rewrites, corpus untouched), then the
    corpus joins the (word → encoded symbols) table on the word — the
    per-word cache every real tokenizer keeps, as a broadcast-sized
    equi-join. Returns ``(id, n_words, n_tokens)``.
    """
    _, vocab = _bpe_train(docs, text_col, k)
    sep = _BPE_SEP
    enc = vocab.select(
        "word",
        F.size(F.split(F.col("syms"), "\\" + sep)).alias("word_tokens"))
    toks = token_rows(docs, text_col, id_col)
    # the encoded vocab is vocabulary-sized — broadcastable on real
    # corpora too (millions of rows); leave the hint to AQE
    return (toks.join(enc, toks.token == enc.word)
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                 F.sum("word_tokens").cast("bigint").alias("n_tokens")))


def _bpe_ctes(source_sql: str, text_col: str, k: int,
              final_vocab: bool) -> list[str]:
    """The shared CTE chain behind both mirrors: toks → freq → v0 and k
    rounds of (pair counts p_r, argmax m_r, rewrite v_r). ``final_vocab``
    also rewrites after round k (the encode path needs v_k; the
    merge-table query does not)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sep = _BPE_SEP
    tail_re = "([^\\" + sep + "]+)$"  # sep escaped for the char class
    ctes = [f"""toks AS (
        SELECT unnest(words) AS word
        FROM (SELECT {tokens_lower_sql(text_col)} AS words
              FROM {source_sql})
    )""", """freq AS (SELECT word, count(*) AS n FROM toks GROUP BY word)""",
        f"""v0 AS (
        SELECT word, array_to_string(regexp_split_to_array(
                   CASE WHEN contains(word, '{sep}')
                        THEN error('bpe_apply_merges oracle: token '
                                   || 'contains the symbol separator')
                        ELSE word END, ''), '{sep}') AS syms, n
        FROM freq
    )"""]
    for r in range(1, k + 1):
        prev = f"v{r - 1}"
        ctes.append(f"""p{r} AS (
            SELECT L[i] AS a, L[i + 1] AS b, n
            FROM (SELECT string_split(syms, '{sep}') AS L, n FROM {prev}),
                 unnest(generate_series(1, len(L) - 1)) AS t(i)
            WHERE len(L) >= 2
        )""")
        ctes.append(f"""m{r} AS (
            SELECT a, b, CAST(sum(n) AS BIGINT) AS cnt
            FROM p{r} GROUP BY a, b
            ORDER BY cnt DESC, a, b LIMIT 1
        )""")
        if r < k or final_vocab:
            ctes.append(f"""v{r} AS (
            SELECT word,
                   list_reduce(string_split(syms, '{sep}'), (acc, s) ->
                       CASE WHEN regexp_extract(acc, '{tail_re}', 1) = m.a
                                 AND s = m.b
                            THEN substr(acc, 1, length(acc) - length(m.a))
                                 || m.a || m.b
                            ELSE acc || '{sep}' || s END) AS syms, n
            FROM {prev}, m{r} m
        )""")
    return ctes


def bpe_apply_merges_sql(source_sql: str, text_col: str,
                         k: int = 8) -> str:
    """DuckDB mirror of :func:`bpe_apply_merges`: k generated CTE rounds
    replaying the same greedy merges (list_reduce fold, same CASE)."""
    ctes = _bpe_ctes(source_sql, text_col, k, final_vocab=False)
    selects = " UNION ALL ".join(
        f"SELECT {r} AS step, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, cnt AS pair_count FROM m{r}"
        for r in range(1, k + 1))
    return f"WITH {', '.join(ctes)} {selects}"


def bpe_encode_lengths_sql(source_sql: str, text_col: str, id_col: str,
                           k: int = 8) -> str:
    """DuckDB mirror of :func:`bpe_encode_lengths`: the same k replayed
    merges, then the corpus joins the encoded vocabulary on the word."""
    sep = _BPE_SEP
    ctes = _bpe_ctes(source_sql, text_col, k, final_vocab=True)
    return f"""
    WITH {', '.join(ctes)},
    enc AS (
        SELECT word, len(string_split(syms, '{sep}')) AS word_tokens
        FROM v{k}
    ),
    corpus AS ({token_rows_sql(source_sql, text_col, id_col)})
    SELECT c.{id_col},
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(e.word_tokens) AS BIGINT) AS n_tokens
    FROM corpus c JOIN enc e ON e.word = c.token
    GROUP BY c.{id_col}
    """


class SplitCols:
    """Polymorphic Python UDTF ``(text, n_cols)``: ``analyze`` derives the
    output schema (w0..w{n-1}) from the constant n_cols argument at plan
    time; each row yields the text's first n_cols whitespace tokens
    (NULL-padded), split by the shared WS_TOKEN_SPLIT class."""

    @staticmethod
    def analyze(text: AnalyzeArgument,
                n_cols: AnalyzeArgument) -> AnalyzeResult:
        if not isinstance(n_cols.value, int) or n_cols.value < 1:
            raise ValueError(
                "split_cols: n_cols must be a constant positive int")
        return AnalyzeResult(StructType([
            StructField(f"w{i}", StringType())
            for i in range(n_cols.value)]))

    def eval(self, text, n_cols):
        if text is None:
            return
        words = [w for w in re.split(WS_TOKEN_SPLIT, text) if w]
        yield tuple(words[i] if i < len(words) else None
                    for i in range(n_cols))


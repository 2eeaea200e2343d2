"""Text and dedup queries: the LLM training-data pipeline over the
``documents`` and ``embeddings`` tables.

Exact, near-duplicate (MinHash, SimHash, n-gram Jaccard, containment,
sorted neighbourhood) and semantic dedup, ANN top-k with recall bounds,
text metrics and quality filters, decontamination, chunking and
sequence packing, TF-IDF/BM25/DSIR retrieval and selection, BPE
statistics, corpus statistics (collocations, quantiles, distinctive
terms, overlap, Zipf, mutual information) and entity matching (fuzzy
join, Fellegi-Sunter).

The dedup checks plant deterministic copies (the same derivation on both
engines), so the drop logic is exercised by hundreds of true positives;
hash-unmirrorable approximate operators report recall-bound summary rows
(``operators/recall.py``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_delta_sharing_spark.functions import text as TX
from datafusion_delta_sharing_spark.functions.money import cents_sql
from datafusion_delta_sharing_spark.functions.splits import (
    split_assign, split_assign_sql)
from datafusion_delta_sharing_spark.functions.text import (
    token_count, token_count_sql)
from datafusion_delta_sharing_spark.functions.vector import (
    cosine_sql as _COSINE_SQL)
from datafusion_delta_sharing_spark.harness import load_table, register_views
from datafusion_delta_sharing_spark.operators import (
    chunking as CH, collocations as CL, corpus as CO, corpusstats as CS,
    decontam as DC, dedup as DD, embeddings as EMB, fuzzyjoin as FJ,
    linkage as LK, pipeline as PL, sampling as SA, similarity as SIM,
    spans as SP, tfidf as TI)
from datafusion_delta_sharing_spark.operators.recall import (
    recall_summary, recall_summary_sql)
from datafusion_delta_sharing_spark.operators.retrieval import (
    bm25_join_topk, bm25_join_topk_sql, bm25_scores, bm25_scores_sql,
    dsir_logratio, dsir_logratio_sql, sparse_cosine_pairs,
    sparse_cosine_pairs_sql)
from datafusion_delta_sharing_spark.operators.tfidf import (
    bpe_apply_merges, bpe_apply_merges_sql, bpe_encode_lengths,
    bpe_encode_lengths_sql, bpe_pair_counts, bpe_pair_counts_sql,
    token_rows_sql)


_JACCARD_DOCS = 150      # doc_id bound for the oracle-checked pairwise query
_NEARDUP_VECS = 200      # vec_id bound for exact pairwise cosine
_ANN_QUERIES = 5         # query vectors for top-k
_EMB_DIM = 64
_AUG_OFFSET = 1_000_000  # id offset for planted near-duplicate copies
_AUG_SUFFIX = " xq yq zq wq"  # 4 appended words -> Jaccard (w-4)/w vs original
_MAX_DOC_FREQ = 40       # posting-list cut for the dfcut demonstration

# recall-bound constants (operators/recall.py). Bounds are deliberately
# below the measured recalls (see module docstring) so single-pair ULP
# flips can never flip the verdict; a mis-wired band/bucket join drops
# recall far below any of them.
_MINHASH_BOUND = 0.85    # measured .935 (sf0.01) / .973 (sf0.1)
_SIMHASH_BOUND = 0.85    # planted-pair recall .947 / .967 at radius 10
_LSH_BOUND = 0.80        # ~1.0 on planted near-copies, 8 tables
_IVF_BOUND = 0.30        # .467 / .500 organic top-5, nprobe 4/16
_LSH_TABLES = 8          # OR-amplification width for the ANN check
_ANN_COPIES = 5          # planted near-copies per query vector


def _docs_with_near_copies(spark, sf_dir):
    """Planted near-duplicates (VERDICT r2 #3): every doc in the subset gets
    a copy with 4 extra words appended, so the pairwise dedup checks push
    >= subset-size true near-dup pairs through the math instead of the 0-1
    pairs the synthetic corpus happens to contain at sf0.01. The same
    derivation is mirrored in the DuckDB oracle (docs_aug CTE), so the
    checks stay hash-exact."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _JACCARD_DOCS).select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + F.lit(_AUG_OFFSET)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_AUG_SUFFIX)).alias("text"))
    return docs.unionByName(copies)


# -- dedup ----------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return DD.exact_dedup_stats(docs, "text", "doc_id")


def q_dedup_exact_subset(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    return DD.exact_dedup(docs, ["lang", "source"])


def q_ngram_jaccard(spark, sf_dir):
    docs = _docs_with_near_copies(spark, sf_dir)
    return DD.ngram_jaccard_pairs(docs, "text", "doc_id", k=5, threshold=0.15)


def q_ngram_jaccard_prefix(spark, sf_dir):
    """PPJoin prefix filtering (lossless): identical output to
    ``ngram_jaccard`` — same threshold, SAME ORACLE — but the candidate
    self-join runs over rarest-first prefixes of each shingle set, the
    scale path when even the df-cut join is too hot. Hash-exact equality
    with the quadratic-candidate oracle IS the losslessness proof."""
    docs = _docs_with_near_copies(spark, sf_dir)
    return DD.ngram_jaccard_pairs_prefix(docs, "text", "doc_id", k=5,
                                         threshold=0.15)


def q_ngram_jaccard_dfcut(spark, sf_dir):
    """Jaccard with the posting-list df-cut engaged (VERDICT r2 #7): shingles
    shared by more than _MAX_DOC_FREQ docs are dropped before the self-join,
    bounding per-shingle fan-out to _MAX_DOC_FREQ² at any corpus size. The
    oracle emulates the cut with a count-over-window on the posting list."""
    docs = _docs_with_near_copies(spark, sf_dir)
    return DD.ngram_jaccard_pairs(docs, "text", "doc_id", k=5, threshold=0.15,
                                  max_doc_freq=_MAX_DOC_FREQ)


def q_dedup_components(spark, sf_dir):
    """Near-dup clustering: Jaccard candidate pairs -> connected components
    -> (id, component) labels; component = canonical survivor id. Oracle is
    a recursive-CTE transitive closure."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _JACCARD_DOCS)
    pairs = DD.ngram_jaccard_pairs(docs, "text", "doc_id", k=5, threshold=0.15)
    vertices = docs.select(F.col("doc_id").alias("id"))
    return DD.connected_components(vertices, pairs)


def q_dedup_minhash(spark, sf_dir):
    """MinHash-LSH recall summary (VERDICT r3 #2: the raw pairs are
    xxhash64-based and unmirrorable in DuckDB, so the query now returns a
    hash-checkable verdict instead of a rows-only dump). Exact baseline =
    the full n-gram Jaccard self-join over the same planted-near-copy
    corpus, computed in this job; the oracle recomputes its count with the
    same SQL as the ngram_jaccard oracle. The LSH verify step computes true
    Jaccard, so found ⊆ exact is a contract — n_false is checked too
    (expected 0). Wrong banding ⇒ recall below 0.85 ⇒ hash mismatch."""
    docs = _docs_with_near_copies(spark, sf_dir)
    exact = DD.ngram_jaccard_pairs(docs, "text", "doc_id",
                                   k=5, threshold=0.15)
    found = DD.minhash_lsh_pairs(docs, "text", "doc_id",
                                 num_hashes=16, bands=4, k=5, threshold=0.15)
    return recall_summary(exact, found, ["id_a", "id_b"], _MINHASH_BOUND,
                          check_precision=True)


def q_dedup_simhash(spark, sf_dir):
    """SimHash pigeonhole recall summary over the planted near-copies:
    every (doc, doc+4-words) pair is an expected near-duplicate; the
    summary asserts >= 85% of them land within Hamming radius 10 (measured
    .947/.967 at sf0.01/sf0.1). A broken bit-vote or chunk join collapses
    planted recall. The oracle recomputes the planted-pair count."""
    docs = _docs_with_near_copies(spark, sf_dir)
    planted = (load_table(spark, sf_dir, "documents")
               .filter(F.col("doc_id") < _JACCARD_DOCS)
               .select(F.col("doc_id").alias("id_a"),
                       (F.col("doc_id") + F.lit(_AUG_OFFSET)).alias("id_b")))
    found = DD.simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=10)
    return recall_summary(planted, found, ["id_a", "id_b"], _SIMHASH_BOUND)


# -- similarity search ----------------------------------------------------


def q_embedding_neardup(spark, sf_dir):
    """Sign-bucketed near-dup pairs with planted duplicates: each vector
    gets an identical copy at vec_id + _AUG_OFFSET (cosine exactly 1.0,
    same bucket by construction), so the candidate join + cosine verify
    prove themselves on ~200 true pairs. VERDICT r3 #3: the named query
    now runs the bucketed equi-join plan (no BroadcastNestedLoopJoin —
    plan-asserted in tests/test_llm_ops.py); the O(n²) all-pairs form
    survives only as the spec/oracle baseline in tests."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _NEARDUP_VECS).select("vec_id", "embedding")
    copies = emb.select(
        (F.col("vec_id") + F.lit(_AUG_OFFSET)).alias("vec_id"), "embedding")
    return SIM.embedding_neardup_pairs_bucketed(
        emb.unionByName(copies), threshold=0.5)


def q_ann_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") <= _ANN_QUERIES)
    return SIM.brute_force_topk(emb, queries, k=5)


def _emb_with_planted_neighbors(spark, sf_dir):
    """Embeddings plus _ANN_COPIES deterministically perturbed copies of
    each query vector (component d scaled by 1 + 0.12·sin(d + c) — cosine
    ≈ 0.996 to the original, far above the organic top-5 range of
    0.26–0.42 on this corpus). LSH is a near-duplicate retriever: on
    near-random organic data its recall is structurally ~0 whatever the
    wiring (measured 0.03/0.0 pre-r4), so the recall check runs on the
    workload the operator exists for. The baseline stays honest: exact
    brute-force top-k over the SAME augmented corpus, same job.

    The copies come from ONE explode over the copy index, not a
    _ANN_COPIES-way union of per-copy frames: the union spelling made the
    driver build and analyze a separate transform branch per copy (~1.9 s
    of plan-construction wall time at any SF — measured r5; the values
    are hash-identical since the copy index enters the same expression as
    a double either way)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") <= _ANN_QUERIES)
    vec_type = dict(emb.dtypes)["embedding"]
    copies = (
        queries.select(
            "vec_id", "embedding",
            F.explode(F.sequence(F.lit(1), F.lit(_ANN_COPIES))).alias("c"))
        .select(
            (F.col("vec_id")
             + F.col("c").cast("long") * F.lit(_AUG_OFFSET)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (x.cast("double")
                              * (1.0 + 0.12 * F.sin(i.cast("double")
                                                    + F.col("c").cast("double"))))
            ).cast(vec_type).alias("embedding")))
    return emb.unionByName(copies), queries


def q_ann_lsh_topk(spark, sf_dir):
    """Multi-table LSH ANN recall summary (VERDICT r3 #2). Exact top-5 per
    query = the 5 planted near-copies (verified by in-job brute force, not
    assumed); the 8-table 8-plane LSH must recover >= 80% of them (any
    single mis-wired table/bucket join drops essentially all of them).
    The oracle recomputes n_exact as n_queries × k."""
    corpus, queries = _emb_with_planted_neighbors(spark, sf_dir)
    exact = SIM.brute_force_topk(corpus, queries, k=5)
    found = SIM.lsh_topk(corpus, queries, dim=_EMB_DIM, k=5, n_planes=8,
                         n_tables=_LSH_TABLES)
    return recall_summary(exact, found, ["query_id", "cand_id"], _LSH_BOUND)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN recall summary vs in-job brute force on the organic corpus
    (nprobe 4 of 16 cells ⇒ measured recall .467/.500; bound 0.30 leaves
    ~5-pair slack against centroid ULP drift while still failing instantly
    if assignment or probing is mis-wired)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") <= _ANN_QUERIES)
    exact = SIM.brute_force_topk(emb, queries, k=5)
    found = SIM.ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4)
    return recall_summary(exact, found, ["query_id", "cand_id"], _IVF_BOUND)


# -- text analysis --------------------------------------------------------


def q_text_metrics(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        TX.punct_ratio("text").alias("punct_ratio"),
        TX.stopword_ratio("text").alias("stopword_ratio"),
        TX.quality_score("text").alias("quality"),
    )


def q_lang_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang",
        TX.lang_id("text").alias("pred_lang"),
    )


def q_doc_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    with_words = docs.select("doc_id", "text",
                             TX.words_of("text").alias("words"))
    return with_words.select(
        "doc_id",
        TX.doc_fingerprint("text", k=5, words="words").alias("fingerprint"),
    )


_SHINGLE_POSTS = DD.posts_cte_sql(f"documents WHERE doc_id < {_JACCARD_DOCS}")

# planted near-copies: the SQL mirror of _docs_with_near_copies
_DOCS_AUG = f"""
    docs_aug AS (
        SELECT doc_id, text FROM documents WHERE doc_id < {_JACCARD_DOCS}
        UNION ALL
        SELECT doc_id + {_AUG_OFFSET} AS doc_id,
               text || '{_AUG_SUFFIX}' AS text
        FROM documents WHERE doc_id < {_JACCARD_DOCS}
    )
"""

_CHUNK_DOCS = 300        # doc_id bound for the chunking query
_TFIDF_DOCS = 300        # doc_id bound for per-doc top terms
_CHUNK_SIZE, _OVERLAP = 64, 16
_PACK_BUDGET, _PACK_BUCKETS = 2048, 8
_VOCAB_MIN_DF, _VOCAB_SIZE = 2, 100

# Planted PII (the synthetic corpus contains none): a per-doc suffix with an
# email, a phone, and an SSN, mirrored verbatim in the oracle so the
# redaction regexes are exercised on every row. Column objects need a live
# session, hence the thunk.
def _pii_suffix_spark():
    return F.concat(
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or (415) 555-0132 ssn 123-45-6789."))


_PII_SUFFIX_SQL = (" contact user' || CAST(doc_id AS VARCHAR) || "
                   "'@example.com or (415) 555-0132 ssn 123-45-6789.")


def q_doc_chunks(spark, sf_dir):
    """Sliding-window token chunks (shard prep for pre-training)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _CHUNK_DOCS)
    return CH.chunk_documents(docs, "text", "doc_id",
                              chunk_size=_CHUNK_SIZE, overlap=_OVERLAP)


def q_seq_pack(spark, sf_dir):
    """Concat-and-chunk packing of documents into fixed token budgets."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", TX.token_count("text").alias("n_tok"))
    return CH.pack_sequences(docs, "doc_id", "n_tok",
                             budget=_PACK_BUDGET, n_buckets=_PACK_BUCKETS)


def q_train_split(spark, sf_dir):
    """Deterministic hash-based train/val/test assignment."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", split_assign("doc_id").alias("split"))


def q_pii_redact(spark, sf_dir):
    """PII redaction over text with planted email/phone/SSN per row."""
    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(F.col("text"), _pii_suffix_spark())
    return docs.select("doc_id", TX.redact_pii(dirty).alias("clean_text"))


def q_tfidf_top(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _TFIDF_DOCS)
    return TI.tfidf_top_terms(docs, "text", "doc_id", top_k=3)


def q_vocab_topk(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return TI.build_vocab(docs, "text", "doc_id",
                          min_df=_VOCAB_MIN_DF, size=_VOCAB_SIZE)


def q_embed_normalize(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return EMB.l2_normalize_digest(emb, "embedding", "vec_id")


def q_embed_quantize(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return EMB.quantize_int8(emb, "embedding", "vec_id")


def q_pipeline_e2e(spark, sf_dir):
    """Flagship composition: quality filter -> exact dedup -> train split ->
    chunk -> pack, one lazy plan. Exact duplicates are planted (every doc
    gets a verbatim copy at doc_id + 1_000_000) so the dedup stage provably
    removes 50% of the corpus; survivors are the original ids."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text")
    return PL.prepare_training_corpus(docs.unionByName(copies),
                                      "text", "doc_id")


def q_stratified_sample(spark, sf_dir):
    """Deterministic 20-per-language sample of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return (SA.stratified_sample(docs, "lang", "doc_id", n_per_stratum=20)
            .select("doc_id", "lang"))


_HEAD_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def q_weighted_mixture(spark, sf_dir):
    """Training mixture: keep 70% of the head sources, 30% of the tail,
    tagged with the mixture component."""
    docs = load_table(spark, sf_dir, "documents")
    head = docs.filter(F.col("source").isin(*_HEAD_SOURCES))
    tail = docs.filter(~F.col("source").isin(*_HEAD_SOURCES))
    return (SA.weighted_mixture({"head": (head, 0.7), "tail": (tail, 0.3)},
                                "doc_id")
            .select("doc_id", "source", "mix_source"))


_QUALITY_Q = 0.25        # drop the bottom quality quartile


def q_quality_filter(spark, sf_dir):
    """Percentile-threshold corpus pruning: flag documents at or above the
    corpus p25 quality score (discrete quantile, integer-exact threshold —
    no interpolation, so the boundary can't flip between engines)."""
    docs = load_table(spark, sf_dir, "documents")
    return SA.quantile_threshold_flags(
        docs, TX.quality_score("text"), "doc_id",
        q=_QUALITY_Q, score_name="quality")


_BENCH_DOCS = 40         # doc_id bound for the planted "benchmark" set
_DECON_K = 8             # contamination shingle width


def q_decontaminate(spark, sf_dir):
    """Benchmark-contamination flags: the 'benchmark' is the verbatim text
    of the first _BENCH_DOCS documents, so those docs (plus any document
    sharing an 8-gram of boilerplate with them) are provably flagged —
    both contamination classes flow through the check."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < _BENCH_DOCS).select("text")
    return DC.contamination_flags(docs, bench, "text", "doc_id", k=_DECON_K)


def q_repetition_metrics(spark, sf_dir):
    """Gopher-style repetition signals (corpus.repetition_metrics)."""
    return CO.repetition_metrics(load_table(spark, sf_dir, "documents"))


_SPAN_DOCS = 150         # doc_id bound for the planted verbatim copies
_SPAN_K = 8              # duplicated-span shingle width


def q_dup_spans(spark, sf_dir):
    """Exact duplicated-substring spans (Lee et al. 2021 shape): verbatim
    copies of the first _SPAN_DOCS documents are planted at doc_id + 2M, so
    >= 2*_SPAN_DOCS rows provably score dup_cover_ratio 1.0, and any
    naturally shared boilerplate 8-gram exercises the partial-coverage
    interval-union path."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") < _SPAN_DOCS).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"), "text")
    return SP.dup_span_metrics(docs.unionByName(copies),
                               "text", "doc_id", k=_SPAN_K)


_DEDUP_DOCS = 150        # doc subset for the line-dedup check
_DEDUP_VECS = 200        # vec subset for semantic dedup
_LINE_WORDS = 16
_COS_THRESHOLD = 0.95
_SIGN_DIMS = 8
_TOKEN_BUDGET = 2_000    # per-source token quota


def _docs_with_copies(spark, sf_dir):
    """Planted exact copies: every doc in the subset reappears verbatim at
    doc_id + _AUG_OFFSET, so every line of a copy deduplicates against the
    original (the copy keeps only its trailing short line if unique —
    verbatim copies keep nothing)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _DEDUP_DOCS).select("doc_id", "text")
    copies = docs.select((F.col("doc_id") + F.lit(_AUG_OFFSET))
                         .alias("doc_id"), "text")
    return docs.unionByName(copies)


_DOCS_WITH_COPIES_SQL = f"""(
    SELECT doc_id, text FROM documents WHERE doc_id < {_DEDUP_DOCS}
    UNION ALL
    SELECT doc_id + {_AUG_OFFSET} AS doc_id, text
    FROM documents WHERE doc_id < {_DEDUP_DOCS}
)"""


def q_line_dedup(spark, sf_dir):
    """Corpus-wide line dedup over the planted-copy corpus: every copy's
    lines collapse onto the original's, so ~half the corpus lines drop."""
    return CO.line_dedup(_docs_with_copies(spark, sf_dir), "text", "doc_id",
                         line_words=_LINE_WORDS)


def q_unigram_logprob(spark, sf_dir):
    """Mean unigram log-probability per document over the full corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return CO.unigram_logprob(docs, "text", "doc_id")


def q_semantic_dedup(spark, sf_dir):
    """Semantic dedup with planted identical vectors (cosine exactly 1.0,
    same sign bucket by construction): every planted copy must come back
    kept=false, every original kept=true unless the raw corpus itself has
    a near-dup in the bucket."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _DEDUP_VECS).select("vec_id", "embedding")
    copies = emb.select((F.col("vec_id") + F.lit(_AUG_OFFSET))
                        .alias("vec_id"), "embedding")
    return SIM.semantic_dedup(emb.unionByName(copies),
                              threshold=_COS_THRESHOLD,
                              sign_dims=_SIGN_DIMS)


_VECS_WITH_COPIES_SQL = f"""(
    SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_DEDUP_VECS}
    UNION ALL
    SELECT vec_id + {_AUG_OFFSET} AS vec_id, embedding
    FROM embeddings WHERE vec_id < {_DEDUP_VECS}
)"""


_CORPUS_DOCS = 300       # "yesterday's corpus" for incremental dedup
_BATCH_LO, _BATCH_HI = 300, 450   # genuinely-new docs in today's batch


def q_dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup — the everyday 100 TB operation: today's
    batch is deduped against yesterday's digest index without rescanning
    corpus text. The batch plants both failure modes: exact copies of 100
    corpus docs (must drop via the index anti-join) and a second copy of 50
    new docs (must collapse to one survivor with n_copies=2 within the
    batch)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < _CORPUS_DOCS)
    new = docs.filter((F.col("doc_id") >= _BATCH_LO)
                      & (F.col("doc_id") < _BATCH_HI))
    vs_corpus = (corpus.filter(F.col("doc_id") < 100)
                 .select((F.col("doc_id") + F.lit(_AUG_OFFSET))
                         .alias("doc_id"), "text"))
    in_batch = (new.filter(F.col("doc_id") < _BATCH_LO + 50)
                .select((F.col("doc_id") + F.lit(2 * _AUG_OFFSET))
                        .alias("doc_id"), "text"))
    incoming = new.unionByName(vs_corpus).unionByName(in_batch)
    index = DD.corpus_hash_index(corpus, "text", "doc_id")
    return DD.incremental_dedup(incoming, index, "text", "doc_id")


_INCOMING_SQL = f"""(
    SELECT doc_id, text FROM documents
    WHERE doc_id >= {_BATCH_LO} AND doc_id < {_BATCH_HI}
    UNION ALL
    SELECT doc_id + {_AUG_OFFSET} AS doc_id, text FROM documents
    WHERE doc_id < 100
    UNION ALL
    SELECT doc_id + {2 * _AUG_OFFSET} AS doc_id, text FROM documents
    WHERE doc_id >= {_BATCH_LO} AND doc_id < {_BATCH_LO + 50}
)"""

_CORPUS_SQL = f"(SELECT doc_id, text FROM documents WHERE doc_id < {_CORPUS_DOCS})"


def q_token_budget(spark, sf_dir):
    """Per-source token quota: best documents first (n_chars as the quality
    ordering — a real pipeline would plug in quality_score / logprob),
    greedy prefix within 2k tokens per source."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars",
        token_count("text").alias("n_tok"))
    return SA.token_budget_select(docs, "source", "doc_id", "n_tok",
                                  "n_chars", budget=_TOKEN_BUDGET)


def q_pmi_collocations(spark, sf_dir):
    return CL.pmi_collocations(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        min_count=5, top_k=100)


def q_grouped_quantiles(spark, sf_dir):
    return CS.grouped_quantiles(
        load_table(spark, sf_dir, "documents"), "source",
        token_count("text"), qs=(0.25, 0.5, 0.75, 0.95),
        score_name="n_tok")


def q_distinctive_terms(spark, sf_dir):
    return CS.distinctive_terms(
        load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en"),
        load_table(spark, sf_dir, "documents").filter(F.col("lang") != "en"),
        "text", "doc_id", min_count=10, top_k=50)


def q_corpus_overlap(spark, sf_dir):
    return CS.corpus_overlap(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250),
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") >= 200),
        "text", "doc_id", k=5)


_FJ_CUSTS = 200   # customer subset for the fuzzy join
_FJ_DIST = 1      # planted typos are single substitutions
_FJ_TYPO_POS = 10  # character position substituted in the planted typo
_FJ_TYPO_CH = "X"
# ONE expression string for the planted typo, valid in both Spark SQL and
# DuckDB (concat/substr agree) — position/replacement live only here
_FJ_TYPO_EXPR = (f"concat(substr(c_name, 1, {_FJ_TYPO_POS - 1}), "
                 f"'{_FJ_TYPO_CH}', substr(c_name, {_FJ_TYPO_POS + 1}))")


def q_fuzzy_join(spark, sf_dir):
    """Entity matching with planted typos: every customer name reappears
    with one character substituted (_FJ_TYPO_POS -> _FJ_TYPO_CH); the
    gram-blocked join must recover each (original, typo) pair at distance
    1, plus any true near-collisions among the names themselves."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < _FJ_CUSTS).select("c_custkey", "c_name")
    typod = cust.select(
        F.col("c_custkey").alias("t_custkey"),
        F.expr(_FJ_TYPO_EXPR).alias("t_name"))
    return FJ.fuzzy_join(cust, typod, "c_custkey", "c_name",
                         "t_custkey", "t_name", max_dist=_FJ_DIST)


_FJ_LEFT_SQL = (f"(SELECT c_custkey, c_name FROM customer"
                f" WHERE c_custkey < {_FJ_CUSTS})")
_FJ_RIGHT_SQL = f"""(
    SELECT c_custkey AS t_custkey, {_FJ_TYPO_EXPR} AS t_name
    FROM customer WHERE c_custkey < {_FJ_CUSTS}
)"""


def q_token_entropy(spark, sf_dir):
    """Within-doc token-distribution entropy — the repetition screen
    (boilerplate scores low, diverse text high)."""
    docs = load_table(spark, sf_dir, "documents")
    return CO.token_entropy(docs, "text", "doc_id")


def q_bigram_logprob(spark, sf_dir):
    """Bigram-LM quality score per document (Laplace-smoothed, corpus-
    trained) — the next rung of the perplexity-filter ladder above
    ``unigram_logprob``."""
    docs = load_table(spark, sf_dir, "documents")
    return CO.bigram_logprob(docs, "text", "doc_id")


_CONT_DOCS = 150          # doc subset for the containment check (pinned:
                          # bench delta_vs_prev must compare equal work)
_CONT_OFFSET = 1_000_000  # id offset for planted truncated copies
_CONT_THRESHOLD = 0.9     # near-full containment (quote/excerpt grade)


def _docs_with_excerpts(spark, sf_dir):
    """Planted excerpts: the first half of every doc's words reappears as
    doc_id + offset. An excerpt's shingles are a subset of the original's,
    so containment is exactly 1.0 from the smaller side — the signal
    Jaccard misses (the union is dominated by the long doc)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _CONT_DOCS).select("doc_id", "text")
    # filter '' fragments like the oracle's list_filter — a raw split of
    # edge-whitespace text would put phantom tokens into the excerpt
    halves = docs.select(
        (F.col("doc_id") + F.lit(_CONT_OFFSET)).alias("doc_id"),
        F.array_join(
            F.expr(f"slice(filter(split(trim(text), '{TX.WS_TOKEN_SPLIT_SPARKSQL}'), x -> x != ''), 1, "
                   f"greatest(1, size(filter(split(trim(text), '{TX.WS_TOKEN_SPLIT_SPARKSQL}'), "
                   "x -> x != '')) div 2))"),
            " ").alias("text"))
    return docs.unionByName(halves)


_DOCS_EXCERPTS_SQL = f"""
    docs_exc AS (
        SELECT doc_id, text FROM documents WHERE doc_id < {_CONT_DOCS}
        UNION ALL
        SELECT doc_id + {_CONT_OFFSET} AS doc_id,
               array_to_string(words[1:greatest(1, len(words) // 2)], ' ')
                   AS text
        FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '{TX.WS_TOKEN_SPLIT}'), x -> x != '')
                         AS words
              FROM documents WHERE doc_id < {_CONT_DOCS})
    )
"""


def q_containment_pairs(spark, sf_dir):
    return DD.containment_pairs(_docs_with_excerpts(spark, sf_dir),
                                "text", "doc_id", k=5,
                                threshold=_CONT_THRESHOLD)


# transformWithStateInPandas (streaming/tws.py) is implemented but NOT
# registered: its state-server protocol needs protobuf, absent from this
# environment (require_tws_runtime raises the documented gate). The
# stateful-operator slot is covered by applyInPandasWithState
# (`stateful_stream`); tests/test_streaming_ingest.py pins the gate.


_BM25_TERMS = ("dup", "merge", "window", "hash")
_BM25_K = 50
_DSIR_TARGET_SQL = "source = 'src18'"
_DSIR_N = 100


def q_bm25_topk(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs, "text", "doc_id", _BM25_TERMS)
    return scored.orderBy(F.desc("score"), "doc_id").limit(_BM25_K)


def q_dsir_select(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    scored = dsir_logratio(docs, "text", "doc_id",
                           F.col("source") == "src18")
    return scored.orderBy(F.desc("logratio"), "doc_id").limit(_DSIR_N)


# relative df-cut: terms in >78% of documents are cut from the posting
# lists (keeps ~18 of the corpus' 31 tokens at any SF — non-vacuous cut,
# non-degenerate pairs; a FRACTION so the knob keeps meaning as the
# corpus grows)
_SPARSE_DF_FRAC = 0.78
# pinned workload (the ngram_jaccard pattern): the synthetic corpus has a
# 31-token vocabulary, so EVERY kept token is near-universal and the
# posting self-join fan-out Σ df² is quadratic in corpus size — a df-cut
# only bounds fan-out under Zipfian vocabularies (real corpora), where
# kept terms have small df. The registry query therefore pins the doc
# subset for oracle checkability; the true scale path for all-pairs
# similarity on degenerate vocabularies is minhash-LSH (dedup_minhash).
_SPARSE_DOCS = 300
_SPARSE_K = 100
_BPE_K = 50


def q_bpe_pair_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, "text", top_k=_BPE_K)


def q_sparse_cosine_topk(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _SPARSE_DOCS)
    return sparse_cosine_pairs(docs, "text", "doc_id",
                               max_doc_frac=_SPARSE_DF_FRAC,
                               top_k=_SPARSE_K)


# -- Zipf fit -----------------------------------------------------------------
def q_zipf_fit(spark, sf_dir):
    """ln(freq) ~ ln(rank) least-squares over the corpus vocabulary
    (corpusstats.zipf_fit)."""
    return CS.zipf_fit(load_table(spark, sf_dir, "documents"), "text",
                       "doc_id")


_TOK_SQL = token_rows_sql("documents", "text", "doc_id")


# -- BM25 against a query TABLE (VERDICT r6 #5) -------------------------------

# Probe queries as a TABLE (the decontamination-probe shape): mixes the
# rare planted-dup marker (df≈5%) with common terms on both sides of the
# df-cut so the cut is non-vacuous — terms in >78% of documents are
# dropped from postings AND scoring (cut-consistent, lossy-candidate
# contract documented on the operator).
_BMJ_QUERIES = [
    (1, "dup merge window"),
    (2, "hash join sort"),
    (3, "the fast key line"),
    (4, "dup stream order"),
    (5, "vector column value"),
    (6, "scan batch small agg"),
]
_BMJ_FRAC = 0.78
_BMJ_K = 5


def q_bm25_join_topk(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BMJ_QUERIES,
                                    "qid int, qtext string")
    return bm25_join_topk(docs, queries, "text", "doc_id", "qid", "qtext",
                          _BMJ_K, max_doc_frac=_BMJ_FRAC)


def _bmj_queries_sql() -> str:
    rows = ", ".join(f"({qid}, '{text}')" for qid, text in _BMJ_QUERIES)
    return (f"(SELECT * FROM (VALUES {rows}) AS q(qid, qtext))")


# -- BPE merge loop (VERDICT r6 #4) -------------------------------------------

_BPE_MERGE_K = 8


def q_bpe_merge_steps(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return bpe_apply_merges(docs, "text", k=_BPE_MERGE_K)


def q_bpe_encode_lens(spark, sf_dir):
    """Token counting under the TRAINED tokenizer (completes the
    train→encode loop): per document, word count and token count after
    the k learned merges. The merges are applied to the vocabulary once;
    the corpus joins the per-word cache — the production encode shape."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_lengths(docs, "text", "doc_id", k=_BPE_MERGE_K)


# -- sorted-neighborhood dedup ----------------------------------------------------
_SNM_BLOCK, _SNM_KEY, _SNM_WINDOW, _SNM_T = 8, 40, 8, 0.15


def q_sorted_neighborhood(spark, sf_dir):
    """Blocked SNM over the planted-near-copy corpus: the planted copies
    append words at the END of the text, so original and copy share the
    40-char sort key and land in adjacent ranks — the workload SNM
    exists for. Same verify threshold as the ngram_jaccard family."""
    docs = _docs_with_near_copies(spark, sf_dir)
    return DD.sorted_neighborhood_pairs(
        docs, "text", "doc_id", block_chars=_SNM_BLOCK,
        key_chars=_SNM_KEY, window=_SNM_WINDOW, k=5, threshold=_SNM_T)


# -- mutual information ----------------------------------------------------------
_MI_TOP_M = 40

_MI_SRC_SQL = "SELECT doc_id, text, lang FROM documents"


def q_mutual_info_terms(spark, sf_dir):
    """Term-presence × language mutual information over the 40 highest-
    df tokens (deterministic df-desc/token tie-break): the feature-
    selection score a multilingual corpus pipeline ranks candidate
    features with. Exact integer contingency cells; ln only in the final
    rounded expression."""
    docs = load_table(spark, sf_dir, "documents")
    return CS.mutual_info_terms(docs, "text", "doc_id", "lang",
                                top_m=_MI_TOP_M)


# -- Fellegi-Sunter record linkage ------------------------------------------------

# Snapshot B perturbs A field-by-field on coprime key mods (names ~17,
# balances +25 cents ~7, segments ~11, deletions ~19) and adds two
# impostor families sharing A's BLOCK key but not its identity: full
# impostors (~23: every field off -> nonmatch) and near impostors
# (~29: balance+segment+nation agree, name off -> the clerical-review
# band, the same agreement vector a name-perturbed true pair shows).
# Blocking: the testdata customer table carries no stable
# quasi-identifier (no phone/address/zip), so the demo blocks on a
# key-derived bucket (k % 1e5) — computationally the same bounded
# equi-join a zip/phone-prefix block gives (both impostor shifts are
# multiples of the modulus, so impostors land in their target's
# block); in a real deployment the block key is a quasi-identifier,
# e.g. the repo's sorted_neighborhood windows.
_FS_PAIRS_SQL = f"""
    WITH a AS (
        SELECT c_custkey AS k, c_custkey % 100000 AS blk,
               c_nationkey AS nat, c_name AS name,
               {cents_sql('c_acctbal')} AS bal,
               c_mktsegment AS seg
        FROM customer
    ),
    b AS (
        SELECT k, blk, nat,
               CASE WHEN k % 17 = 0 THEN name || '~' ELSE name END
                   AS name,
               bal + CASE WHEN k % 7 = 0 THEN 25 ELSE 0 END AS bal,
               CASE WHEN k % 11 = 0 THEN 'PERTURBED' ELSE seg END
                   AS seg
        FROM a WHERE k % 19 != 0
        UNION ALL
        SELECT k + 20000000, blk, nat, 'IMPOSTOR-' || name,
               bal + 5000, 'PERTURBED'
        FROM a WHERE k % 23 = 0
        UNION ALL
        SELECT k + 40000000, blk, nat, 'NEARBY-' || name,
               bal + 3, seg
        FROM a WHERE k % 29 = 0
    )
    SELECT a.k = b.k AS is_true,
           a.name = b.name AS ag_name,
           abs(a.bal - b.bal) <= 10 AS ag_bal,
           a.seg = b.seg AS ag_seg,
           a.nat = b.nat AS ag_nat
    FROM a JOIN b ON a.blk = b.blk
"""

_FS_AGREE = ("ag_name", "ag_bal", "ag_seg", "ag_nat")
_FS_M = (0.95, 0.90, 0.90, 0.98)
_FS_U = (0.001, 0.005, 0.20, 0.04)
_FS_LOWER, _FS_UPPER = 0.0, 12.0


def q_fellegi_sunter(spark, sf_dir):
    """Decision × ground-truth confusion summary of the Fellegi-Sunter
    linker over the blocked A×B candidate pairs. The pair construction
    is ONE SQL text both engines parse (integer/string ops only); the
    log-likelihood weights are double literals in the shared scoring
    tail. Cost shape: an equi-join on the bounded block key + a per-row
    fixed four-term score + one small hash aggregate."""
    register_views(spark, sf_dir, ["customer"])
    pairs = spark.sql(_FS_PAIRS_SQL)
    return LK.fs_decisions(spark, pairs, _FS_AGREE, _FS_M, _FS_U,
                           _FS_LOWER, _FS_UPPER)


# -- KMV sketch-level overlap -----------------------------------------------------
_KO_K = 256
# SCALE-STABLE corpora split (unlike corpus_overlap's fixed 50-doc
# overlap band, which drives the shingle Jaccard toward 0 as the corpus
# grows and starves the sketch of intersection hashes): A = 60 % of
# docs, B = 60 %, sharing the doc_id % 10 ∈ {4, 5} fifth — the
# shingle-level Jaccard stays ~0.2 at every SF, so J·k ≈ 50
# intersection hashes land in the combined sketch at any scale
_KO_A_PRED, _KO_B_PRED = "doc_id % 10 < 6", "doc_id % 10 >= 4"
# attestation knobs (4-sigma-ish for the Beyer §5 estimators at k=256:
# sigma_jaccard ~ sqrt(J(1-J)/k) ≈ 0.025, sigma_rel(union) ~
# 1/sqrt(k-2) ≈ 0.063, sigma_rel(inter) ~ sqrt((1-J)/(J·k)) ≈ 0.12);
# measured at sf0.01/sf0.1 the worst errors are well inside — the
# corrupt-by-one test in tests/test_extensions21.py keeps the bounds
# non-vacuous
_KO_JAC_ABS_BOUND = 0.10
_KO_UNION_REL_BOUND = 0.25
_KO_INTER_REL_BOUND = 0.50


_KO_BOUNDS = (_KO_JAC_ABS_BOUND, _KO_UNION_REL_BOUND, _KO_INTER_REL_BOUND)


def q_kmv_overlap(spark, sf_dir):
    """Overlap of two 60 %-of-documents corpora sharing a fifth of the
    docs (the scale-stable modulus split), exactly and from the KMV
    sketches alone (see operators/corpusstats.corpus_overlap_kmv)."""
    return CS.corpus_overlap_kmv(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        _KO_A_PRED, _KO_B_PRED, _KO_K, _KO_BOUNDS)


ORACLES = {
    "dedup_exact": """
        SELECT md5(text) AS text_md5,
               CAST(min(doc_id) AS BIGINT) AS keep_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "dedup_exact_subset": """
        SELECT lang, source, doc_id, n_chars FROM (
            SELECT lang, source, doc_id, n_chars,
                   row_number() OVER (PARTITION BY lang, source
                                      ORDER BY doc_id, n_chars) AS rn
            FROM documents
        ) WHERE rn = 1
    """,
    "ngram_jaccard": f"""
        WITH {_DOCS_AUG}, {DD.posts_cte_sql('docs_aug')},
        {DD.jaccard_tail_sql('posts')}
    """,
    # prefix filtering is lossless, so the oracle is the SAME quadratic
    # formulation — hash equality proves no pair was filtered away
    "ngram_jaccard_prefix": f"""
        WITH {_DOCS_AUG}, {DD.posts_cte_sql('docs_aug')},
        {DD.jaccard_tail_sql('posts')}
    """,
    "ngram_jaccard_dfcut": f"""
        WITH {_DOCS_AUG}, {DD.posts_cte_sql('docs_aug')},
        cut AS (
            SELECT id, sh FROM (
                SELECT id, sh, count(*) OVER (PARTITION BY sh) AS df
                FROM posts
            ) WHERE df <= {_MAX_DOC_FREQ}
        ),
        {DD.jaccard_tail_sql('cut')}
    """,
    "dedup_components": f"""
        WITH RECURSIVE {_SHINGLE_POSTS},
        sizes AS (SELECT id, count(*) AS sz FROM posts GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
            FROM posts a JOIN posts b ON a.sh = b.sh AND a.id < b.id
            GROUP BY a.id, b.id
        ),
        pairs AS (
            SELECT id_a, id_b FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE round(n_inter / (sa.sz + sb.sz - n_inter), 6) >= 0.15
        ),
        undirected AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs
        ),
        reach(u, v) AS (
            SELECT u, v FROM undirected
            UNION
            SELECT r.u, e.v FROM reach r JOIN undirected e ON r.v = e.u
        )
        SELECT d.doc_id AS id,
               CAST(least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS BIGINT)
                   AS component
        FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
        WHERE d.doc_id < {_JACCARD_DOCS}
        GROUP BY d.doc_id
    """,
    # recall summaries (VERDICT r3 #2): the oracle recomputes the exact
    # baseline count with real SQL and expects the Spark-side recall
    # verdict to hold; see operators/recall.py for the contract.
    "dedup_minhash": recall_summary_sql(
        f"""SELECT count(*) FROM (
            WITH {_DOCS_AUG}, {DD.posts_cte_sql('docs_aug')},
            {DD.jaccard_tail_sql('posts')}
        )""", _MINHASH_BOUND, check_precision=True),
    "dedup_simhash": recall_summary_sql(
        f"SELECT count(*) FROM documents WHERE doc_id < {_JACCARD_DOCS}",
        _SIMHASH_BOUND),
    # bucketed (VERDICT r3 #3): the oracle mirrors the sign bucket, so the
    # candidate equi-join semantics — not just the cosine — are checked
    "embedding_neardup": f"""
        WITH emb_aug AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < {_NEARDUP_VECS}
            UNION ALL
            SELECT vec_id + {_AUG_OFFSET} AS vec_id, embedding
            FROM embeddings WHERE vec_id < {_NEARDUP_VECS}
        ),
        src AS (
            SELECT vec_id, embedding,
                   {SIM.sign_bucket_sql('embedding', 8)} AS bucket
            FROM emb_aug
        )
        SELECT id_a, id_b, score FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({_COSINE_SQL('a.embedding', 'b.embedding')}, 6)
                       AS score
            FROM src a JOIN src b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ) WHERE score >= 0.5
    """,
    "ann_topk": f"""
        SELECT query_id, cand_id, score, rnk FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   round(
                     list_sum(list_transform(list_zip(q.embedding, c.embedding),
                              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(q.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(c.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                     6) AS score,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(
                         list_sum(list_transform(list_zip(q.embedding, c.embedding),
                                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(q.embedding,
                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(c.embedding,
                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                         6) DESC, c.vec_id ASC) AS rnk
            FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
            WHERE q.vec_id <= {_ANN_QUERIES}
        ) WHERE rnk <= 5
    """,
    "ann_lsh_topk": recall_summary_sql(
        f"SELECT count(*) * 5 FROM embeddings WHERE vec_id <= {_ANN_QUERIES}",
        _LSH_BOUND),
    "ann_ivf_topk": recall_summary_sql(
        f"SELECT count(*) * 5 FROM embeddings WHERE vec_id <= {_ANN_QUERIES}",
        _IVF_BOUND),
    "text_metrics": f"""
        SELECT doc_id,
               {TX.token_count_sql('text')} AS n_tokens,
               {TX.bpe_ish_token_count_sql('text')} AS n_bpe_tokens,
               {TX.punct_ratio_sql('text')} AS punct_ratio,
               {TX.stopword_ratio_sql('text')} AS stopword_ratio,
               {TX.quality_score_sql('text')} AS quality
        FROM documents
    """,
    "lang_id": f"""
        SELECT doc_id, lang, {TX.lang_id_sql('text')} AS pred_lang
        FROM documents
    """,
    "doc_fingerprint": f"""
        SELECT doc_id, {TX.doc_fingerprint_sql('text', 5)} AS fingerprint
        FROM documents
    """,
    "doc_chunks": CH.chunk_documents_sql(
        f"(SELECT doc_id, text FROM documents WHERE doc_id < {_CHUNK_DOCS})",
        "text", "doc_id", chunk_size=_CHUNK_SIZE, overlap=_OVERLAP),
    "seq_pack": CH.pack_sequences_sql(
        "documents", "doc_id", TX.token_count_sql("text"),
        budget=_PACK_BUDGET, n_buckets=_PACK_BUCKETS),
    "train_split": f"""
        SELECT doc_id, {split_assign_sql('doc_id')} AS split FROM documents
    """,
    "pii_redact": f"""
        SELECT doc_id,
               {TX.redact_pii_sql(f"(text || '{_PII_SUFFIX_SQL}')")}
                   AS clean_text
        FROM documents
    """,
    "tfidf_top": TI.tfidf_top_terms_sql(
        f"(SELECT doc_id, text FROM documents WHERE doc_id < {_TFIDF_DOCS})",
        "text", "doc_id", top_k=3),
    "vocab_topk": TI.build_vocab_sql(
        "documents", "text", "doc_id",
        min_df=_VOCAB_MIN_DF, size=_VOCAB_SIZE),
    "embed_normalize": EMB.l2_normalize_digest_sql(
        "embeddings", "embedding", "vec_id"),
    "embed_quantize": EMB.quantize_int8_sql(
        "embeddings", "embedding", "vec_id"),
    "pipeline_e2e": PL.prepare_training_corpus_sql(
        """(SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM documents)""",
        "text", "doc_id"),
    "stratified_sample": SA.stratified_sample_sql(
        "documents", "lang", "doc_id", n_per_stratum=20,
        columns="doc_id, lang"),
    "weighted_mixture": SA.weighted_mixture_sql(
        {"head": ("(SELECT * FROM documents WHERE source IN "
                  f"({', '.join(repr(s) for s in _HEAD_SOURCES)}))", 0.7),
         "tail": ("(SELECT * FROM documents WHERE source NOT IN "
                  f"({', '.join(repr(s) for s in _HEAD_SOURCES)}))", 0.3)},
        "doc_id", columns="doc_id, source"),
    "quality_filter": SA.quantile_threshold_flags_sql(
        "documents", TX.quality_score_sql("text"), "doc_id",
        q=_QUALITY_Q, score_name="quality"),
    "decontaminate": DC.contamination_flags_sql(
        "documents",
        f"(SELECT text FROM documents WHERE doc_id < {_BENCH_DOCS})",
        "text", "doc_id", k=_DECON_K),
    "repetition_metrics": CO.repetition_metrics_sql("documents"),
    "dup_spans": SP.dup_span_metrics_sql(
        f"""(SELECT doc_id, text FROM documents
             UNION ALL
             SELECT doc_id + 2000000 AS doc_id, text FROM documents
             WHERE doc_id < {_SPAN_DOCS})""",
        "text", "doc_id", k=_SPAN_K),
    "line_dedup": CO.line_dedup_sql(_DOCS_WITH_COPIES_SQL, "text", "doc_id",
                                    line_words=_LINE_WORDS),
    "unigram_logprob": CO.unigram_logprob_sql("documents", "text", "doc_id"),
    "semantic_dedup": SIM.semantic_dedup_sql(_VECS_WITH_COPIES_SQL,
                                             threshold=_COS_THRESHOLD,
                                             sign_dims=_SIGN_DIMS),
    "dedup_incremental": DD.incremental_dedup_sql(
        _INCOMING_SQL,
        DD.corpus_hash_index_sql(_CORPUS_SQL, "text", "doc_id"),
        "text", "doc_id"),
    "token_budget": SA.token_budget_select_sql(
        f"(SELECT doc_id, source, n_chars, {token_count_sql('text')} AS n_tok"
        f" FROM documents)",
        "source", "doc_id", "n_tok", "n_chars", budget=_TOKEN_BUDGET),
    "pmi_collocations": CL.pmi_collocations_sql(
        "documents", "text", "doc_id", min_count=5, top_k=100),
    "grouped_quantiles": CS.grouped_quantiles_sql(
        "documents", "source", token_count_sql("text"),
        qs=(0.25, 0.5, 0.75, 0.95), score_name="n_tok"),
    "distinctive_terms": CS.distinctive_terms_sql(
        "(SELECT * FROM documents WHERE lang = 'en')",
        "(SELECT * FROM documents WHERE lang != 'en')",
        "text", "doc_id", min_count=10, top_k=50),
    "corpus_overlap": CS.corpus_overlap_sql(
        DD.shingles_sql("documents WHERE doc_id < 250"),
        DD.shingles_sql("documents WHERE doc_id >= 200")),
    "fuzzy_join": FJ.fuzzy_join_sql(
        _FJ_LEFT_SQL, _FJ_RIGHT_SQL, "c_custkey", "c_name",
        "t_custkey", "t_name", max_dist=_FJ_DIST),
    "token_entropy": CO.token_entropy_sql("documents", "text", "doc_id"),
    "bigram_logprob": CO.bigram_logprob_sql("documents", "text", "doc_id"),
    "containment_pairs": f"""
        WITH {_DOCS_EXCERPTS_SQL}, {DD.posts_cte_sql('docs_exc')},
        {DD.containment_tail_sql(_CONT_THRESHOLD)}
    """,
    "bm25_topk": f"""
        SELECT * FROM ({bm25_scores_sql('documents', 'text', 'doc_id',
                                        _BM25_TERMS)})
        ORDER BY score DESC, doc_id LIMIT {_BM25_K}
    """,
    "dsir_select": f"""
        SELECT * FROM ({dsir_logratio_sql('documents', 'text', 'doc_id',
                                          _DSIR_TARGET_SQL)})
        ORDER BY logratio DESC, doc_id LIMIT {_DSIR_N}
    """,
    "bpe_pair_counts": bpe_pair_counts_sql("documents", "text",
                                           top_k=_BPE_K),
    "sparse_cosine_topk": sparse_cosine_pairs_sql(
        f"(SELECT * FROM documents WHERE doc_id < {_SPARSE_DOCS})",
        "text", "doc_id", max_doc_frac=_SPARSE_DF_FRAC, top_k=_SPARSE_K),
    "zipf_fit": CS.zipf_fit_sql(_TOK_SQL),
    "bm25_join_topk": bm25_join_topk_sql(
        "documents", _bmj_queries_sql(), "text", "doc_id", "qid", "qtext",
        _BMJ_K, max_doc_frac=_BMJ_FRAC),
    "bpe_merge_steps": bpe_apply_merges_sql("documents", "text",
                                            k=_BPE_MERGE_K),
    "bpe_encode_lens": bpe_encode_lengths_sql("documents", "text", "doc_id",
                                              k=_BPE_MERGE_K),
    "sorted_neighborhood": f"""
        WITH {_DOCS_AUG}, {DD.posts_cte_sql('docs_aug')},
        {DD.sorted_neighborhood_pairs_sql(
            'docs_aug', 'posts', 'text', 'doc_id',
            block_chars=_SNM_BLOCK, key_chars=_SNM_KEY,
            window=_SNM_WINDOW, threshold=_SNM_T)}
    """,
    "mutual_info_terms": CS.mutual_info_terms_sql(
        _MI_SRC_SQL, "text", "doc_id", "lang", top_m=_MI_TOP_M),
    "fellegi_sunter": LK.fs_decisions_sql(
        _FS_PAIRS_SQL, _FS_AGREE, _FS_M, _FS_U, _FS_LOWER, _FS_UPPER),
    "kmv_overlap": CS.corpus_overlap_kmv_sql(
        DD.shingles_sql(f"documents WHERE {_KO_A_PRED}"),
        DD.shingles_sql(f"documents WHERE {_KO_B_PRED}"), _KO_K, _KO_BOUNDS),
}

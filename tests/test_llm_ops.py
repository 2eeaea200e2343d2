"""Property tests for the batch-2 training-data operators: chunking,
packing, splits, PII redaction, TF-IDF/vocabulary, embedding transforms."""

import math

import pytest
from pyspark.sql import Row, functions as F

from datafusion_delta_sharing_spark.functions.splits import split_assign
from datafusion_delta_sharing_spark.functions.text import (
    dup_ngram_ratio, redact_pii)
from datafusion_delta_sharing_spark.operators.decontam import (
    contamination_flags, decontaminate)
from datafusion_delta_sharing_spark.operators.chunking import (
    chunk_documents, pack_sequences)
from datafusion_delta_sharing_spark.operators.embeddings import (
    l2_normalize_digest, quantize_int8)
from datafusion_delta_sharing_spark.operators.tfidf import (
    build_vocab, tfidf_top_terms)


def _docs(spark):
    rows = [Row(doc_id=i, text=" ".join(f"w{i}t{j}" for j in range(n)))
            for i, n in enumerate([1, 5, 64, 65, 100, 200, 301])]
    return spark.createDataFrame(rows)


class TestChunking:
    def test_zero_overlap_reconstructs_document(self, spark):
        docs = _docs(spark)
        chunks = chunk_documents(docs, "text", "doc_id",
                                 chunk_size=64, overlap=0)
        rebuilt = (chunks.orderBy("doc_id", "chunk_id")
                   .groupBy("doc_id")
                   .agg(F.concat_ws(" ", F.collect_list("chunk_text"))
                        .alias("rebuilt")))
        joined = docs.join(rebuilt, "doc_id").collect()
        assert len(joined) == 7
        for r in joined:
            assert r.rebuilt == r.text

    def test_chunk_sizes_and_overlap(self, spark):
        chunks = chunk_documents(_docs(spark), "text", "doc_id",
                                 chunk_size=64, overlap=16).collect()
        by_doc = {}
        for c in chunks:
            by_doc.setdefault(c.doc_id, []).append(c)
        for doc_id, cs in by_doc.items():
            cs.sort(key=lambda c: c.chunk_id)
            assert all(c.n_tokens <= 64 for c in cs)
            # every chunk except the last is full-size
            assert all(c.n_tokens == 64 for c in cs[:-1])
            for prev, nxt in zip(cs, cs[1:]):
                # stride 48: the last 16 tokens of prev reappear in nxt
                assert prev.chunk_text.split()[48:] == \
                    nxt.chunk_text.split()[:prev.n_tokens - 48]
        # 301 tokens, stride 48: ceil((301-64)/48)+1 = 6 chunks
        assert len(by_doc[6]) == 6

    def test_overlap_must_be_smaller(self, spark):
        with pytest.raises(ValueError):
            chunk_documents(_docs(spark), "text", "doc_id",
                            chunk_size=32, overlap=32)


class TestPacking:
    def test_pack_invariants(self, spark):
        rows = [Row(doc_id=i, n_tok=(i * 37) % 900 + 1) for i in range(300)]
        out = pack_sequences(spark.createDataFrame(rows), "doc_id", "n_tok",
                             budget=1000, n_buckets=4).collect()
        assert len(out) == 300
        by_bucket = {}
        for r in out:
            assert r.bucket == r.doc_id % 4
            assert 0 <= r.pack_offset < 1000
            by_bucket.setdefault(r.bucket, []).append(r)
        for rs in by_bucket.values():
            rs.sort(key=lambda r: r.doc_id)
            prior = 0
            for r in rs:
                assert r.pack_id == prior // 1000
                assert r.pack_offset == prior % 1000
                prior += r.n_tokens


class TestSplits:
    def test_fractions_and_determinism(self, spark):
        ids = spark.range(5000)
        labelled = ids.select("id", split_assign("id").alias("split"))
        counts = dict(labelled.groupBy("split").count().collect()
                      and {r["split"]: r["count"]
                           for r in labelled.groupBy("split").count().collect()})
        assert abs(counts["train"] / 5000 - 0.8) < 0.02
        assert abs(counts["val"] / 5000 - 0.1) < 0.015
        assert abs(counts["test"] / 5000 - 0.1) < 0.015
        again = ids.select("id", split_assign("id").alias("split"))
        assert labelled.exceptAll(again).count() == 0

    def test_salt_changes_assignment(self, spark):
        ids = spark.range(1000)
        a = ids.select("id", split_assign("id", salt="a").alias("s"))
        b = ids.select("id", split_assign("id", salt="b").alias("s"))
        moved = a.join(b, "id").filter(a.s != b.s).count()
        assert moved > 100  # re-dealt, not a no-op

    def test_bad_fractions_raise(self):
        with pytest.raises(ValueError):
            split_assign("id", train=0.9, val=0.2)


class TestRedaction:
    def test_planted_pii_is_removed(self, spark):
        df = spark.createDataFrame([Row(text=(
            "reach me at jane.doe+spam@mail.example.org, "
            "cell (415) 555-0132 or 555 123 4567, ssn 123-45-6789, "
            "intl +1 415-555-0199 ok"))])
        clean = df.select(redact_pii("text").alias("t")).first().t
        for leaked in ["example.org", "555-0132", "123 4567", "123-45-6789",
                       "555-0199", "@"]:
            assert leaked not in clean
        for tag in ["<EMAIL>", "<PHONE>", "<SSN>"]:
            assert tag in clean

    def test_clean_text_unchanged(self, spark):
        text = "no pii here, just words and the number 42."
        df = spark.createDataFrame([Row(text=text)])
        assert df.select(redact_pii("text").alias("t")).first().t == text


class TestTfIdf:
    def test_small_corpus_scores(self, spark):
        docs = spark.createDataFrame([
            Row(doc_id=0, text="apple banana apple"),
            Row(doc_id=1, text="banana cherry"),
            Row(doc_id=2, text="cherry durian cherry durian"),
        ])
        out = tfidf_top_terms(docs, "text", "doc_id", top_k=2).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        # doc 0: apple tf=2 df=1 beats banana tf=1 df=2
        assert by_doc[0][0].token == "apple"
        assert by_doc[0][0].tf == 2
        expected = round(2 * (math.log(4 / 2) + 1), 6)
        assert abs(by_doc[0][0].tfidf - expected) < 1e-9
        # ranks are 1..k and scores non-increasing
        for rs in by_doc.values():
            rs.sort(key=lambda r: r.rnk)
            assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
            assert all(a.tfidf >= b.tfidf for a, b in zip(rs, rs[1:]))

    def test_vocab_order_and_min_df(self, spark):
        docs = spark.createDataFrame([
            Row(doc_id=0, text="a a a rare b"),
            Row(doc_id=1, text="a b b c"),
            Row(doc_id=2, text="c a"),
        ])
        out = build_vocab(docs, "text", "doc_id", min_df=2, size=10).collect()
        out.sort(key=lambda r: r.rank)
        assert [r.token for r in out] == ["a", "b", "c"]  # 5, 3, 2 hits
        assert [r.n_total for r in out] == [5, 3, 2]
        assert all(r.df >= 2 for r in out)  # 'rare' (df=1) cut


class TestChunkingProperties:
    """Hypothesis sweep over (doc length, chunk size, overlap): chunk math
    must hold for any geometry, not just the handpicked cases above."""

    from hypothesis import given, settings, strategies as st

    @staticmethod
    def _expected_chunks(n, size, stride):
        return 1 if n <= size else -((n - size) // -stride) + 1

    @given(st.lists(st.integers(min_value=1, max_value=400),
                    min_size=1, max_size=12),
           st.sampled_from([(16, 0), (16, 4), (64, 16), (100, 99)]))
    @settings(max_examples=10, deadline=None)
    def test_counts_and_coverage(self, spark, lengths, geometry):
        from pyspark.sql import Row
        from datafusion_delta_sharing_spark.operators.chunking import (
            chunk_documents)
        size, overlap = geometry
        stride = size - overlap
        docs = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(f"t{j}" for j in range(n)))
             for i, n in enumerate(lengths)])
        chunks = chunk_documents(docs, "text", "doc_id",
                                 chunk_size=size, overlap=overlap).collect()
        by_doc = {}
        for c in chunks:
            by_doc.setdefault(c.doc_id, []).append(c)
        for i, n in enumerate(lengths):
            cs = sorted(by_doc[i], key=lambda c: c.chunk_id)
            assert len(cs) == self._expected_chunks(n, size, stride)
            # chunk_ids are dense, sizes within bound, coverage is exact:
            # union of chunk tokens == the document's token sequence
            assert [c.chunk_id for c in cs] == list(range(len(cs)))
            assert all(1 <= c.n_tokens <= size for c in cs)
            seen = set()
            for c in cs:
                seen.update(c.chunk_text.split())
            assert seen == {f"t{j}" for j in range(n)}


class TestSampling:
    def test_stratified_counts_and_determinism(self, spark):
        from datafusion_delta_sharing_spark.operators.sampling import (
            stratified_sample)
        df = spark.range(1000).withColumn(
            "stratum", (F.col("id") % 7).cast("string"))
        out = stratified_sample(df, "stratum", "id", n_per_stratum=10)
        counts = {r["stratum"]: r["count"]
                  for r in out.groupBy("stratum").count().collect()}
        assert set(counts) == {str(i) for i in range(7)}
        assert all(c == 10 for c in counts.values())
        again = stratified_sample(df, "stratum", "id", n_per_stratum=10)
        assert out.exceptAll(again).count() == 0
        # small stratum: returns the whole stratum, not an error
        tiny = spark.range(3).withColumn("stratum", F.lit("only"))
        assert stratified_sample(tiny, "stratum", "id", 10).count() == 3

    def test_mixture_fractions_disjoint_sources(self, spark):
        from datafusion_delta_sharing_spark.operators.sampling import (
            weighted_mixture)
        a = spark.range(0, 4000)
        b = spark.range(4000, 8000)
        out = weighted_mixture({"a": (a, 0.5), "b": (b, 0.1)}, "id")
        counts = {r["mix_source"]: r["count"]
                  for r in out.groupBy("mix_source").count().collect()}
        assert abs(counts["a"] / 4000 - 0.5) < 0.03
        assert abs(counts["b"] / 4000 - 0.1) < 0.02
        # tags match the input source ranges
        assert out.filter((F.col("mix_source") == "a")
                          & (F.col("id") >= 4000)).count() == 0
        with pytest.raises(ValueError):
            weighted_mixture({"a": (a, 1.5)}, "id")


class TestEmbeddings:
    def test_quantize_roundtrip_error_bound(self, spark):
        rows = [Row(vec_id=i, embedding=[float(j + i) / 7 - 1.5
                                         for j in range(8)])
               for i in range(20)]
        df = spark.createDataFrame(rows)
        out = {r.vec_id: r for r in
               quantize_int8(df, "embedding", "vec_id").collect()}
        for r in rows:
            q = out[r.vec_id]
            assert -127 <= q.qmin <= q.qmax <= 127
            maxabs = max(abs(x) for x in r.embedding)
            assert abs(q.scale - round(maxabs / 127, 6)) < 1e-9

    def test_normalize_digest_shape(self, spark):
        rows = [Row(vec_id=i, embedding=[1.0 * (i + 1), 2.0, 2.0])
                for i in range(5)]
        out = l2_normalize_digest(spark.createDataFrame(rows),
                                  "embedding", "vec_id").collect()
        for r in out:
            assert r.dim == 3
            i = r.vec_id
            assert abs(r.norm - round(math.sqrt((i + 1) ** 2 + 8), 6)) < 1e-9
            assert len(r.digest) == 32
        # distinct vectors -> distinct digests
        assert len({r.digest for r in out}) == 5


class TestDecontamination:
    def _corpus(self, spark):
        return spark.createDataFrame([
            Row(doc_id=1, text="alpha beta gamma delta epsilon"),
            Row(doc_id=2, text="one two three four five six"),
            Row(doc_id=3, text="unrelated words entirely different here"),
        ])

    def test_flags_only_overlapping_docs(self, spark):
        bench = spark.createDataFrame(
            [Row(text="zz two three four qq")])  # shares a 3-gram with doc 2
        out = {r.doc_id: r.contaminated for r in contamination_flags(
            self._corpus(spark), bench, "text", "doc_id", k=3).collect()}
        assert out == {1: False, 2: True, 3: False}

    def test_decontaminate_drops_flagged(self, spark):
        bench = spark.createDataFrame([Row(text="zz two three four qq")])
        kept = {r.doc_id for r in decontaminate(
            self._corpus(spark), bench, "text", "doc_id", k=3).collect()}
        assert kept == {1, 3}

    def test_short_doc_fallback_is_whole_text(self, spark):
        # docs shorter than k shingle to the full trimmed text: only an
        # exact benchmark match contaminates them
        corpus = spark.createDataFrame([Row(doc_id=1, text="tiny doc")])
        exact = spark.createDataFrame([Row(text="tiny doc")])
        other = spark.createDataFrame([Row(text="tiny dog")])
        assert contamination_flags(
            corpus, exact, "text", "doc_id", k=8).collect()[0].contaminated
        assert not contamination_flags(
            corpus, other, "text", "doc_id", k=8).collect()[0].contaminated


class TestRepetitionRatio:
    def test_known_ratios(self, spark):
        df = spark.createDataFrame([
            Row(doc_id=1, text="a b a b a"),   # 2-grams: ab ba ab ba -> 0.5
            Row(doc_id=2, text="a b c d e"),   # all distinct -> 0.0
            Row(doc_id=3, text="x"),           # shorter than k -> 0.0
        ])
        out = {r.doc_id: r.ratio for r in df.select(
            "doc_id", dup_ngram_ratio("text", k=2).alias("ratio")).collect()}
        assert out == {1: 0.5, 2: 0.0, 3: 0.0}

    def test_doubled_text_is_repetitive(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="p q r s t u v w")])
        doubled = F.concat(F.col("text"), F.lit(" "), F.col("text"))
        row = df.select(dup_ngram_ratio(doubled, k=3).alias("r")).collect()[0]
        assert row.r > 0.3


class TestDupSpans:
    def _metrics(self, spark, rows, k=3):
        from datafusion_delta_sharing_spark.operators.spans import (
            dup_span_metrics)
        df = spark.createDataFrame(rows)
        return {r.doc_id: r for r in
                dup_span_metrics(df, "text", "doc_id", k=k).collect()}

    def test_overlapping_spans_merge(self, spark):
        # "a b c" and "b c d" are shared; their intervals overlap and must
        # union to 4 covered words, not 6
        out = self._metrics(spark, [
            Row(doc_id=1, text="a b c d e"),
            Row(doc_id=2, text="x a b c d y"),
            Row(doc_id=3, text="q r s t u"),
        ])
        assert out[1].n_dup_shingles == 2
        assert out[1].dup_cover_ratio == pytest.approx(4 / 5)
        assert out[1].dup_shingle_ratio == pytest.approx(2 / 3, abs=1e-6)
        assert out[2].dup_cover_ratio == pytest.approx(4 / 6, abs=1e-6)
        assert out[3].n_dup_shingles == 0
        assert out[3].dup_cover_ratio == 0.0
        assert out[3].n_words == 5

    def test_disjoint_spans_sum(self, spark):
        # shared "a b c" and "d e f" are separated by X in doc 1: two
        # disjoint intervals, 6 of 7 words covered
        out = self._metrics(spark, [
            Row(doc_id=1, text="a b c X d e f"),
            Row(doc_id=2, text="a b c z1 z2 z3 z4 d e f"),
        ])
        assert out[1].n_dup_shingles == 2
        assert out[1].dup_cover_ratio == pytest.approx(6 / 7, abs=1e-6)

    def test_identical_docs_fully_covered(self, spark):
        out = self._metrics(spark, [
            Row(doc_id=1, text="m n o p q r"),
            Row(doc_id=2, text="m n o p q r"),
        ])
        assert out[1].dup_cover_ratio == 1.0
        assert out[2].dup_cover_ratio == 1.0
        assert out[1].dup_shingle_ratio == 1.0

    def test_short_docs_score_zero(self, spark):
        out = self._metrics(spark, [
            Row(doc_id=1, text="same pair"),
            Row(doc_id=2, text="same pair"),
        ], k=3)
        assert out[1].n_dup_shingles == 0
        assert out[1].dup_cover_ratio == 0.0
        assert out[1].n_words == 2

    def test_min_docs_threshold(self, spark):
        from datafusion_delta_sharing_spark.operators.spans import (
            dup_span_metrics)
        df = spark.createDataFrame([
            Row(doc_id=i, text="c o m m o n p r e f i x".replace(" ", " "))
            for i in range(3)])
        out = {r.doc_id: r for r in dup_span_metrics(
            df, "text", "doc_id", k=3, min_docs=4).collect()}
        assert all(r.n_dup_shingles == 0 for r in out.values())


class TestQuantileThreshold:
    def _flags(self, spark, scores, q):
        from datafusion_delta_sharing_spark.operators.sampling import (
            quantile_threshold_flags)
        df = spark.createDataFrame(
            [Row(doc_id=i, s=float(s)) for i, s in enumerate(scores)])
        out = quantile_threshold_flags(df, F.col("s"), "doc_id", q=q)
        return {r.doc_id: r.kept for r in out.collect()}

    def test_bottom_quartile_dropped(self, spark):
        # 8 distinct scores, q=0.25 -> threshold is the 2nd smallest:
        # exactly the lowest 1/8 < ceil(0.25*8)=2nd value is dropped
        kept = self._flags(spark, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8],
                           q=0.25)
        assert kept == {0: False, 1: True, 2: True, 3: True, 4: True,
                        5: True, 6: True, 7: True}

    def test_ties_at_threshold_all_kept(self, spark):
        # threshold lands on a tied score: every row at the threshold kept
        kept = self._flags(spark, [0.1, 0.5, 0.5, 0.5, 0.9], q=0.5)
        assert kept == {0: False, 1: True, 2: True, 3: True, 4: True}

    def test_q_zero_keeps_all(self, spark):
        assert all(self._flags(spark, [0.3, 0.7], q=0.0).values())

    def test_q_one_keeps_max_ties(self, spark):
        kept = self._flags(spark, [0.3, 0.7, 0.7], q=1.0)
        assert kept == {0: False, 1: True, 2: True}

    def test_bad_q_raises(self, spark):
        with pytest.raises(ValueError, match="q must be"):
            self._flags(spark, [0.5], q=1.5)


def test_prefix_jaccard_lossless_and_reduces_postings(spark, sf_dir):
    """Prefix filtering must be lossless (identical pairs to the plain
    quadratic-candidate join) while joining strictly fewer posting rows."""
    from fractions import Fraction

    from pyspark.sql import Window, functions as F

    from datafusion_delta_sharing_spark.harness.text import (
        _docs_with_near_copies)
    from datafusion_delta_sharing_spark.operators import dedup as DD

    docs = _docs_with_near_copies(spark, sf_dir)
    plain = {(r.id_a, r.id_b, r.jaccard) for r in DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=5, threshold=0.15).collect()}
    pref = {(r.id_a, r.id_b, r.jaccard)
            for r in DD.ngram_jaccard_pairs_prefix(
        docs, "text", "doc_id", k=5, threshold=0.15).collect()}
    assert pref == plain and plain  # identical, non-empty
    # the reduction is real: prefix posting rows < full posting rows
    posts = DD.shingle_sets(docs, "text", "doc_id", 5)
    sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    num, den = Fraction("0.15").numerator, Fraction("0.15").denominator
    w = Window.partitionBy("id").orderBy("_df", "sh")
    dfreq = posts.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    ranked = posts.join(dfreq, "sh").withColumn(
        "_rk", F.row_number().over(w)).join(sizes, "id")
    plen = (F.col("sz") - ((F.lit(num) * F.col("sz") + F.lit(den - 1))
                           / F.lit(den)).cast("long") + 1)
    n_prefix = ranked.filter(F.col("_rk") <= plen).count()
    n_full = posts.count()
    assert n_prefix < 0.9 * n_full


def test_prefix_jaccard_length_filter_is_lossless(spark):
    """r5: the PPJoin length filter (den*min(sz) >= num*max(sz)) prunes
    size-discrepant candidate pairs BEFORE the verify join. It must stay
    lossless on crafted inputs where a short doc's full shingle set sits
    inside a much longer doc's (high containment, low Jaccard — exactly
    the pair the filter removes early) alongside genuine near-dup pairs
    that must survive."""
    from datafusion_delta_sharing_spark.operators import dedup as DD

    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, base),                               # original
        (2, base + " tail1 tail2"),              # near-dup of 1 (J high)
        (3, " ".join(f"w{i}" for i in range(8))),  # short excerpt of 1
        (4, " ".join(f"x{i}" for i in range(40))),  # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.2):
        plain = {(r.id_a, r.id_b, r.jaccard) for r in DD.ngram_jaccard_pairs(
            docs, "text", "doc_id", k=5, threshold=t).collect()}
        pref = {(r.id_a, r.id_b, r.jaccard)
                for r in DD.ngram_jaccard_pairs_prefix(
            docs, "text", "doc_id", k=5, threshold=t).collect()}
        assert pref == plain
        assert (1, 2) in {(a, b) for a, b, _ in plain}  # near-dup survives


def test_prepare_training_corpus_int_ids_do_not_wrap(spark):
    """chunk_uid = doc_id * 100_000 must be computed in BIGINT: an
    IntegerType doc id above ~21474 wraps int32 under non-ANSI arithmetic,
    silently corrupting (or colliding) chunk uids. Every output doc_id
    must round-trip to one of the input ids."""
    from datafusion_delta_sharing_spark.operators import pipeline as PL

    text = "the quick brown fox jumps over the lazy dog. " * 40
    ids = [21_000 + 7_919 * i for i in range(12)] + [2_000_000_000]
    docs = spark.createDataFrame([(i, text + f" doc{i}") for i in ids],
                                 "doc_id int, text string")
    out = PL.prepare_training_corpus(docs, "text", "doc_id").collect()
    assert out  # with train=0.8 over 13 hash-split ids, some must land
    assert {r.doc_id for r in out} <= set(ids)


def test_split_assign_guards_and_null_ids(spark):
    """r5 review: per-fraction sign validation (a negative train used to
    silently empty the train split), NULL ids propagate NULL instead of
    all landing in 'test', and train+val == 1 leaves no 'test' leak for
    prefix 'ffffffff'."""
    import pytest
    from pyspark.sql import functions as F

    from datafusion_delta_sharing_spark.functions.splits import (
        kfold_assign,
        split_assign,
        split_assign_sql,
    )

    with pytest.raises(ValueError, match="train"):
        split_assign("id", train=-0.1, val=0.9)
    with pytest.raises(ValueError, match="train"):
        split_assign("id", train=1.5, val=-0.6)
    df = spark.createDataFrame([(1,), (None,)], "id long")
    rows = {r.id: (r.s, r.f) for r in df.select(
        "id", split_assign("id").alias("s"),
        kfold_assign("id", 3).alias("f")).collect()}
    assert rows[None] == (None, None)
    assert rows[1][0] in ("train", "val", "test")
    # train+val == 1: no row may ever be 'test', even prefix 'ffffffff'
    full = spark.createDataFrame([(i,) for i in range(500)], "id long")
    labels = {r.s for r in full.select(
        split_assign("id", train=0.9, val=0.1).alias("s")).collect()}
    assert labels <= {"train", "val"}
    assert "ELSE 'val'" in split_assign_sql("id", train=0.9, val=0.1)
    # an apostrophe in the salt must not break the SQL mirror
    assert "it''s" in split_assign_sql("id", salt="it's")

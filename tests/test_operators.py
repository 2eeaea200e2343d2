"""Extension-operator tests: dedup recall vs exact baselines, ANN recall vs
brute force, text functions, multimodal plumbing, streaming windows."""

import pytest
from pyspark.sql import functions as F

from datafusion_delta_sharing_spark.functions import text as TX
from datafusion_delta_sharing_spark.functions.vector import cosine, dot, l2_norm
from datafusion_delta_sharing_spark.operators import dedup as DD
from datafusion_delta_sharing_spark.operators import fuzzyjoin as FJ
from datafusion_delta_sharing_spark.operators import multimodal as MM
from datafusion_delta_sharing_spark.operators import similarity as SIM
from datafusion_delta_sharing_spark.streaming.windows import stream_hourly_counts


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # unpersist at teardown: a cached full-schema relation would be
    # substituted into later modules' plans (test_plans asserts pruned
    # ReadSchema on the same parquet) via the session cache manager
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    yield df
    df.unpersist()


def make_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# -- exact dedup ----------------------------------------------------------


def test_exact_dedup_stats_counts_copies(spark):
    df = make_docs(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    out = {r.keep_id: r.n_copies for r in
           DD.exact_dedup_stats(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [(5, "en", "s1"), (2, "en", "s1"), (9, "fr", "s2")],
        "doc_id long, lang string, source string")
    out = DD.exact_dedup(df, ["lang", "source"]).collect()
    survivors = {(r.lang, r.source): r.doc_id for r in out}
    assert survivors == {("en", "s1"): 2, ("fr", "s2"): 9}


def test_incremental_dedup_drops_corpus_and_batch_copies(spark):
    corpus = make_docs(spark, [(1, "a b c"), (2, "d e f")])
    incoming = make_docs(spark, [
        (10, "a b c"),   # exact copy of corpus doc 1 -> dropped by index
        (11, "g h i"),   # new -> survives
        (12, "g h i"),   # in-batch copy of 11 -> collapses into it
        (13, "j k l"),   # new -> survives
    ])
    index = DD.corpus_hash_index(corpus, "text", "doc_id")
    out = {r.keep_id: r.n_copies for r in
           DD.incremental_dedup(incoming, index, "text", "doc_id").collect()}
    assert out == {11: 2, 13: 1}


def test_incremental_dedup_index_append_roundtrip(spark):
    """Survivors appended to the index are dropped on the next ingest."""
    corpus = make_docs(spark, [(1, "a b c")])
    index = DD.corpus_hash_index(corpus, "text", "doc_id")
    batch1 = make_docs(spark, [(10, "m n o")])
    surv1 = DD.incremental_dedup(batch1, index, "text", "doc_id")
    index2 = index.select("text_md5").unionByName(
        surv1.select("text_md5"))
    batch2 = make_docs(spark, [(20, "m n o"), (21, "p q r")])
    out = [r.keep_id for r in
           DD.incremental_dedup(batch2, index2, "text", "doc_id").collect()]
    assert out == [21]


def test_fuzzy_join_finds_planted_typos(spark):
    left = spark.createDataFrame(
        [(1, "alexander hamilton"), (2, "george washington"),
         (3, "thomas jefferson")], "id long, name string")
    right = spark.createDataFrame(
        [(11, "alexandre hamilton"),   # er->re transposition = 2 edits vs 1
         (12, "george washingtonn"),   # 1 insertion vs 2
         (13, "benjamin franklin")],   # unrelated
        "id long, name string")
    out = {(r.l_id, r.r_id): r.dist for r in
           FJ.fuzzy_join(left, right, "id", "name", "id", "name",
                         max_dist=2).collect()}
    assert out[(1, 11)] == 2
    assert out[(2, 12)] == 1
    assert (3, 13) not in out


def test_fuzzy_join_recall_guarantee_radius(spark):
    """min(len) >= gram*(d+1): every pair within d edits must be found,
    exhaustively checked against a driver-side DP over a small set."""
    names = ["streamline pipeline", "streamlined pipeline",
             "streamline pipelines", "stream line pipeline",
             "completely different"]
    df = spark.createDataFrame(list(enumerate(names)), "id long, name string")
    out = {(r.l_id, r.r_id) for r in
           FJ.fuzzy_join(df, df, "id", "name", "id", "name",
                         max_dist=2).collect()}
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    for i, a in enumerate(names):
        for j, b in enumerate(names):
            if lev(a, b) <= 2:
                assert (i, j) in out, (a, b)
            else:
                assert (i, j) not in out, (a, b)


def test_fuzzy_join_gram_freq_cut_drops_stop_grams(spark):
    """A gram shared by every row is cut; pairs that only share stop-grams
    disappear (documented recall trade for bounded fan-out)."""
    rows = [(i, f"common prefix {i:03d}") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, name string")
    full = FJ.fuzzy_join(df, df, "id", "name", "id", "name", max_dist=1)
    cut = FJ.fuzzy_join(df, df, "id", "name", "id", "name", max_dist=1,
                        max_gram_freq=2)
    # self-pairs always share their rare digit grams and survive the cut
    assert cut.filter("l_id = r_id").count() == 10
    assert cut.count() <= full.count()


# -- near-dup: minhash recall vs exact jaccard ----------------------------


def test_minhash_finds_planted_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    near = base.replace("lazy", "sleepy")
    rows = [(1, base), (2, near), (3, "completely different words here " * 12)]
    # repeated text -> small distinct-shingle sets; true jaccard of the
    # planted pair is 4/14 ≈ 0.286
    exact = DD.ngram_jaccard_pairs(make_docs(spark, rows), "text", "doc_id",
                                   k=5, threshold=0.25)
    # 16 bands of 1 row: candidate probability 1-(1-j)^16 ≈ 0.995 at j=0.286
    lsh = DD.minhash_lsh_pairs(make_docs(spark, rows), "text", "doc_id",
                               num_hashes=16, bands=16, k=5, threshold=0.25)
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    lsh_pairs = {(r.id_a, r.id_b) for r in lsh.collect()}
    assert (1, 2) in exact_pairs
    assert lsh_pairs == exact_pairs  # banded LSH recovers the exact pairs here


def test_minhash_recall_on_testdata(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {(r.id_a, r.id_b) for r in DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=5, threshold=0.15).collect()}
    lsh = {(r.id_a, r.id_b) for r in DD.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=16, bands=4, k=5,
        threshold=0.15).collect()}
    # LSH verification step computes true jaccard, so lsh ⊆ exact always
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.5  # banding recall


def test_simhash_identical_and_near_texts(spark):
    rows = [(1, "alpha beta gamma delta " * 20),
            (2, "alpha beta gamma delta " * 20),
            (3, "unrelated totally different content " * 20)]
    pairs = DD.simhash_neardup_pairs(make_docs(spark, rows), "text", "doc_id",
                                     max_hamming=3).collect()
    by_pair = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert by_pair.get((1, 2)) == 0
    assert (1, 3) not in by_pair and (2, 3) not in by_pair


# -- similarity -----------------------------------------------------------


def test_vector_functions(spark):
    df = spark.createDataFrame([([3.0, 4.0], [1.0, 0.0])], "a array<float>, b array<float>")
    row = df.select(dot("a", "b").alias("d"), l2_norm("a").alias("n"),
                    F.round(cosine("a", "b"), 6).alias("c")).head()
    assert row.d == 3.0 and row.n == 5.0 and row.c == 0.6


def test_brute_force_topk_shape_and_order(spark, emb):
    out = SIM.brute_force_topk(emb, emb.filter("vec_id <= 2"), k=3).collect()
    by_query = {}
    for r in out:
        by_query.setdefault(r.query_id, []).append(r)
    for qid, rows in by_query.items():
        assert [r.rnk for r in rows] == [1, 2, 3]
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(r.cand_id != qid for r in rows)


def test_lsh_topk_recall_vs_brute_force(spark, emb):
    queries = emb.filter("vec_id <= 10")
    brute = SIM.brute_force_topk(emb, queries, k=5).collect()
    approx = SIM.lsh_topk(emb, queries, dim=64, k=5, n_planes=8).collect()
    brute_set = {(r.query_id, r.cand_id) for r in brute}
    approx_set = {(r.query_id, r.cand_id) for r in approx}
    # approximate: same-bucket candidates only; sanity: every query answered
    # and a nonzero fraction of true neighbors recovered
    assert {r.query_id for r in approx} == {r.query_id for r in brute}
    assert len(approx_set & brute_set) > 0


# -- text functions -------------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame([("hello world foo",), ("",), ("a,b!c",)],
                               "text string")
    rows = df.select(TX.token_count("text").alias("n"),
                     TX.bpe_ish_token_count("text").alias("b")).collect()
    assert [r.n for r in rows] == [3, 0, 1]
    assert [r.b for r in rows] == [3, 0, 5]  # a , b ! c


def test_token_count_ignores_edge_whitespace(spark):
    """trim() strips spaces only: text ending in a newline/tab (most real
    corpus text) used to count a phantom '' token (r5 review, verified
    live on both engines); words_of must produce no '' entries either."""
    df = spark.createDataFrame(
        [("hello\n",), ("\thello world\n",), ("  spaced  ",), ("\n\t \n",)],
        "text string")
    rows = df.select(TX.token_count("text").alias("n"),
                     TX.words_of("text").alias("w")).collect()
    assert [r.n for r in rows] == [1, 2, 1, 0]
    assert all("" not in r.w for r in rows)


def test_lang_id_detects_unspaced_cjk(spark):
    """\b never fires inside a continuous han run (no inter-word spaces),
    so the zh markers must match as plain substrings — every Chinese
    document used to label 'unknown' (r5 review)."""
    df = spark.createDataFrame([("我的是在了的的",)], "text string")
    assert df.select(TX.lang_id("text").alias("p")).collect()[0].p == "zh"


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is in that house",),
         ("el perro y la casa que es en madrid",),
         ("der hund und die katze ist nicht ein haus mit",),
         ("xyzzy qwerty plugh",)], "text string")
    langs = [r.p for r in df.select(TX.lang_id("text").alias("p")).collect()]
    assert langs == ["en", "es", "de", "unknown"]


def test_shingles_and_fingerprint(spark):
    df = spark.createDataFrame([("one two three four five six",), ("tiny",)],
                               "text string")
    rows = df.select(TX.shingles("text", 5).alias("sh"),
                     TX.doc_fingerprint("text", 5).alias("fp")).collect()
    assert rows[0].sh == ["one two three four five", "two three four five six"]
    assert rows[1].sh == ["tiny"]
    assert len(rows[0].fp) == 32  # md5 hex


# -- multimodal -----------------------------------------------------------


def test_multimodal_plumbing(spark, docs):
    media = MM.attach_binary_payload(docs.limit(20), "doc_id", "text", "source")
    assert [f.dataType.simpleString() for f in media.schema.fields][1] == "binary"
    feats = MM.extract_features(media, dim=8).collect()
    assert len(feats) == 20
    for r in feats:
        assert r.byte_len > 0 and len(r.digest) == 32
        assert r.mime == "text/plain" and r.feat_dim == 8
        assert 0.0 <= r.feat_mean <= 1.0


def test_multimodal_features_deterministic(spark):
    payload = b"some bytes"
    assert MM.fake_features(payload) == MM.fake_features(payload)
    with pytest.raises(NotImplementedError):
        MM.decode_image(payload)


# -- streaming ------------------------------------------------------------


def test_resolve_table_glob_handles_both_table_shapes(tmp_path):
    """Single-file tables (driver testdata) keep the name glob;
    directory-parquet tables (scale replicas) descend into the dir and
    match its part files — the shape that made every streaming query
    fail schema inference on replica dirs before r6."""
    from datafusion_delta_sharing_spark.streaming.windows import (
        resolve_table_glob,
    )

    (tmp_path / "events.parquet").write_bytes(b"PAR1")
    assert resolve_table_glob(str(tmp_path), "events.parquet") == (
        str(tmp_path), "events.parquet")

    ddir = tmp_path / "big"
    (ddir / "events.parquet").mkdir(parents=True)
    assert resolve_table_glob(str(ddir), "events.parquet") == (
        str(ddir / "events.parquet"), "*.parquet")
    # a literal glob never names a real path — left untouched
    assert resolve_table_glob("/tmp/nope_src", "*.parquet") == (
        "/tmp/nope_src", "*.parquet")


def test_stream_hourly_matches_batch(spark, sf_dir):
    from datafusion_delta_sharing_spark.harness import load_table

    streamed = {(r.window_start, r.event_type): r.n
                for r in stream_hourly_counts(spark, sf_dir).collect()}
    batch = {(r.window_start, r.event_type): r.n
             for r in load_table(spark, sf_dir, "events")
             .groupBy(F.date_trunc("hour", "ts").alias("window_start"),
                      "event_type")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert streamed == batch


# -- skew / salted join ---------------------------------------------------


def test_salted_join_matches_plain_join(spark, sf_dir):
    from datafusion_delta_sharing_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("okey"), "l_quantity")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("okey"), "o_orderstatus")
    plain = li.join(orders, "okey").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    salted = salted_join(li, orders, "okey").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_key_includes_salt(spark, sf_dir):
    from datafusion_delta_sharing_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("okey"))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("okey"), "o_orderstatus")
    plan = salted_join(li, orders, "okey")._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "__salt" in plan


def test_salted_join_rejects_ambiguous_columns(spark):
    from datafusion_delta_sharing_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x")], "k long, v string")
    b = spark.createDataFrame([(1, "y")], "k long, v string")
    with pytest.raises(ValueError, match="ambiguous"):
        salted_join(a, b, "k")


def test_salted_join_rejects_outer_preserving_replicated(spark):
    """Outer-preserving the REPLICATED side is not salt-equivalent: an
    unmatched replicated key would survive once per salt copy, inflating
    right/full results ``salts``x — must refuse, not silently duplicate."""
    from datafusion_delta_sharing_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x")], "k long, v string")
    b = spark.createDataFrame([(1, 10), (2, 20)], "k long, w long")
    for how in ("right", "full", "right_outer", "full_outer"):
        with pytest.raises(ValueError, match="does not support"):
            salted_join(a, b, "k", how=how)
    # left join stays supported: unmatched SKEWED rows appear exactly once
    left = salted_join(a.withColumn("k", F.lit(99)), b, "k", how="left")
    assert left.count() == 1
    # Spark join-type strings are case-insensitive and underscore-blind;
    # salt-safe spellings like 'LEFT' / 'Left_Outer' must keep working
    assert salted_join(a, b, "k", how="LEFT").count() == 1
    assert salted_join(a, b, "k", how="Left_Outer").count() == 1
    with pytest.raises(ValueError, match="does not support"):
        salted_join(a, b, "k", how="FULL_OUTER")


# -- IVF ANN --------------------------------------------------------------


def test_ivf_topk_recall_vs_brute_force(spark, emb):
    queries = emb.filter("vec_id <= 10")
    brute = SIM.brute_force_topk(emb, queries, k=5).collect()
    ivf = SIM.ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=4).collect()
    brute_set = {(r.query_id, r.cand_id) for r in brute}
    ivf_set = {(r.query_id, r.cand_id) for r in ivf}
    assert {r.query_id for r in ivf} == {r.query_id for r in brute}
    # probing half the cells should recover a solid share of true neighbors
    assert len(ivf_set & brute_set) / len(brute_set) >= 0.4
    for r in ivf:
        assert r.rnk <= 5 and r.cand_id != r.query_id


def test_ivf_centroids_deterministic(spark, emb):
    c1 = SIM.ivf_centroids(emb, n_centroids=4, iterations=2)
    c2 = SIM.ivf_centroids(emb, n_centroids=4, iterations=2)
    assert (c1 == c2).all()
    assert c1.shape == (4, 64)


def test_stateful_stream_merges_state_across_microbatches(spark, tmp_path):
    """Two event files + maxFilesPerTrigger=1 -> two microbatches; the
    per-user state must merge across them (append emits one row per user
    per touched batch; the LAST row per user carries the merged totals)."""
    import shutil
    import uuid

    from pyspark.sql import functions as F
    from datafusion_delta_sharing_spark.streaming.stateful import (
        STATE_SCHEMA,
        _update_user_state,
    )
    from datafusion_delta_sharing_spark.streaming.windows import stream_events
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "a.parquet")
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "b.parquet")

    raw = stream_events(spark, str(src), glob="*.parquet",
                        maxFilesPerTrigger="1")
    stated = raw.groupBy("user_id").applyInPandasWithState(
        _update_user_state, "user_id bigint, n_events bigint, total_value double",
        STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout)
    sink = f"ms_{uuid.uuid4().hex[:8]}"
    q = (stated.writeStream.outputMode("append")
         .format("memory").queryName(sink).start())
    try:
        q.processAllAvailable()
        batches = {r.user_id: r for r in
                   spark.table(sink).groupBy("user_id")
                   .agg(F.max("n_events").alias("n"),
                        F.count(F.lit(1)).alias("emissions")).collect()}
    finally:
        q.stop()
    single = {r.user_id: r.n for r in
              spark.read.parquet("/root/testdata/sf0.001/events.parquet")
              .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    for uid, row in batches.items():
        assert row.n == 2 * single[uid]      # state merged both copies
        assert row.emissions == 2            # one emission per microbatch


# -- connected components / dedup survivors -------------------------------


def test_connected_components_planted_clusters(spark):
    vertices = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    labels = {r.id: r.component for r in
              DD.connected_components(vertices, pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7, 8: 8}


def test_connected_components_chain_converges(spark):
    # a 12-node path graph needs multiple propagation rounds
    vertices = spark.createDataFrame([(i,) for i in range(12)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long")
    labels = {r.id: r.component for r in
              DD.connected_components(vertices, pairs).collect()}
    assert set(labels.values()) == {0}


def test_connected_components_random_graphs_match_union_find(spark):
    """Min-label propagation vs a pure-Python union-find on seeded random
    graphs — the planted-cluster tests only cover star/path shapes, but
    LSH candidate graphs are arbitrary. Five seeds x 40 vertices with
    edge density around the percolation threshold (where component
    structure is most fragile: many mid-sized, odd-shaped components)."""
    import random

    n = 40
    for seed in range(5):
        rng = random.Random(seed)
        edges = [(a, b) for a in range(n) for b in range(a + 1, n)
                 if rng.random() < 0.04]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min-id canonical per component, matching the operator's contract
        root_min = {}
        for v in range(n):
            r = find(v)
            root_min[r] = min(root_min.get(r, v), v)
        expected = {v: root_min[find(v)] for v in range(n)}

        vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
        pairs = spark.createDataFrame(
            edges or [(0, 0)], "id_a long, id_b long")
        got = {r.id: r.component for r in
               DD.connected_components(vertices, pairs).collect()}
        assert got == expected, f"seed {seed}: {got} != {expected}"


def test_connected_components_unconverged_raises(spark):
    """VERDICT r2 #8: exiting at max_iterations with labels still moving
    must raise, not silently return split components."""
    import pytest

    n = 12  # path graph: needs ~n rounds of min-label propagation
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(vertices, pairs, max_iterations=2)
    # (convergence with enough rounds: test_connected_components_chain_converges)


def test_simhash_pigeonhole_recall_at_guarantee_radius(spark):
    """VERDICT r2 #4: with chunks = max_hamming + 1, recall must be 1.0 AT
    the requested radius. Craft fingerprint pairs at exactly max_hamming
    bit flips placed adversarially (one per chunk — the worst case for the
    old fixed-4-chunk scheme) and at boundary-straddling positions."""
    from datafusion_delta_sharing_spark.operators.dedup import (
        _chunk_bounds,
        pigeonhole_neardup_pairs,
    )

    for max_hamming in (3, 7, 10):
        bounds = _chunk_bounds(64, max_hamming + 1)
        assert sum(w for _, w in bounds) == 64
        base = 0x5A5A_5A5A_5A5A_5A5A
        rows = [(0, base)]
        # pair 1: one flip in each of the first max_hamming chunks
        flips_spread = [off for off, _ in bounds[:max_hamming]]
        # pair 2: all flips packed at the low end (stresses chunk 0 width)
        flips_packed = list(range(max_hamming))
        # pair 3: flips at the highest bits
        flips_high = list(range(64 - max_hamming, 64))
        for i, flips in enumerate((flips_spread, flips_packed, flips_high)):
            h = base
            for b in flips:
                h ^= 1 << b
            # store as signed 64-bit long for Spark LongType
            if h >= 1 << 63:
                h -= 1 << 64
            rows.append((i + 1, h))
        hashed = spark.createDataFrame(rows, "id long, simhash long")
        got = {(r.id_a, r.id_b): r.hamming
               for r in pigeonhole_neardup_pairs(hashed, max_hamming).collect()}
        for other in (1, 2, 3):
            assert got.get((0, other)) == max_hamming, (
                f"radius {max_hamming}: pair (0,{other}) missed: {got}")


def test_pigeonhole_max_hamming_zero_uses_full_width_mask(spark):
    """max_hamming=0 yields a single 64-bit chunk whose all-ones mask must
    be the long -1: the naive (1<<64)-1 literal overflows LongType and
    fails analysis. Exact-duplicate fingerprints (including negative
    longs) still pair; near-misses do not."""
    from datafusion_delta_sharing_spark.operators.dedup import (
        pigeonhole_neardup_pairs)

    rows = [(0, 123456789), (1, 123456789), (2, -987654321), (3, -987654321),
            (4, 123456788)]
    hashed = spark.createDataFrame(rows, "id long, simhash long")
    got = {(r.id_a, r.id_b)
           for r in pigeonhole_neardup_pairs(hashed, 0).collect()}
    assert got == {(0, 1), (2, 3)}


def test_minhash_lsh_rejects_non_dividing_bands(spark):
    """bands that do not divide num_hashes would silently drop the
    trailing signature entries (quietly lower recall) — refuse instead."""
    docs = make_docs(spark, [(1, "some text here")])
    for num_hashes, bands in ((16, 5), (16, 0), (0, 1), (-4, 2)):
        with pytest.raises(ValueError, match="dividing"):
            DD.minhash_lsh_pairs(docs, "text", "doc_id",
                                 num_hashes=num_hashes, bands=bands)


def test_dedup_survivors_keeps_canonical(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x2"), (3, "x3"), (4, "y")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = DD.dedup_survivors(df, pairs, "doc_id").collect()
    assert sorted(r.doc_id for r in out) == [1, 4]


def test_dedup_survivors_id_column_named_id(spark):
    """A caller whose id column is literally named ``id`` (the common
    case) must not collide with the component frame's internal columns:
    pre-fix, the join was ambiguous and the final drop removed the
    caller's own column."""
    df = spark.createDataFrame(
        [(1, "x"), (2, "x2"), (4, "y")], "id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = DD.dedup_survivors(df, pairs, "id").collect()
    assert sorted(r.id for r in out) == [1, 4]
    assert set(out[0].asDict()) == {"id", "text"}


# -- corpus curation (line dedup / unigram logprob / semantic dedup /
#    token budget) ---------------------------------------------------------


def test_line_dedup_drops_planted_copy_lines(spark):
    from datafusion_delta_sharing_spark.operators.corpus import line_dedup

    base = make_docs(spark, [
        (1, " ".join(f"w{i}" for i in range(40))),          # 3 lines of 16
        (2, " ".join(f"v{i}" for i in range(20))),          # 2 lines
    ])
    copies = base.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    out = {r.doc_id: r for r in
           line_dedup(base.unionByName(copies), "text", "doc_id",
                      line_words=16).collect()}
    assert out[1].n_kept == out[1].n_lines == 3
    assert out[2].n_kept == out[2].n_lines == 2
    # verbatim copies keep nothing, but still appear with their totals
    assert out[101].n_kept == 0 and out[101].dedup_text == ""
    assert out[101].n_lines == 3
    assert out[102].n_kept == 0 and out[102].n_lines == 2
    # survivors reassemble to the original text
    assert out[1].dedup_text == " ".join(f"w{i}" for i in range(40))


def test_line_dedup_survivor_is_first_occurrence(spark):
    from datafusion_delta_sharing_spark.operators.corpus import line_dedup

    shared = " ".join(f"s{i}" for i in range(16))
    uniq = " ".join(f"u{i}" for i in range(16))
    df = make_docs(spark, [(5, shared), (3, uniq + " " + shared)])
    out = {r.doc_id: r for r in
           line_dedup(df, "text", "doc_id", line_words=16).collect()}
    # doc 3 < doc 5: doc 3 keeps both its lines, doc 5 loses its only line
    assert out[3].n_kept == 2
    assert out[5].n_kept == 0


def test_unigram_logprob_orders_common_above_rare(spark):
    from datafusion_delta_sharing_spark.operators.corpus import unigram_logprob

    df = make_docs(spark, [
        (1, "the the the the"),     # high-frequency tokens
        (2, "qzx plomf vrk jjq"),   # singletons
    ])
    out = {r.doc_id: r.logprob for r in
           unigram_logprob(df, "text", "doc_id").collect()}
    assert out[1] > out[2]
    # exact values: ln(4/8) for every token of doc1; ln(1/8) for doc2
    import math
    assert abs(out[1] - round(math.log(0.5), 6)) < 1e-9
    assert abs(out[2] - round(math.log(0.125), 6)) < 1e-9


def test_semantic_dedup_drops_higher_id_copies(spark):
    from datafusion_delta_sharing_spark.operators.similarity import semantic_dedup

    # distinct sign pattern per original (bits of i) -> each bucket holds
    # exactly {original, its copy}, so only copies can be dominated
    emb = spark.createDataFrame(
        [(i, [(1.0 if i >> b & 1 else -1.0) * (1.0 + 0.1 * b)
              for b in range(4)]) for i in range(10)],
        "vec_id long, embedding array<float>")
    copies = emb.select((F.col("vec_id") + 100).alias("vec_id"), "embedding")
    out = {r.vec_id: r.kept for r in
           semantic_dedup(emb.unionByName(copies), threshold=0.999,
                          sign_dims=4).collect()}
    for i in range(10):
        assert out[i] is True          # originals survive
        assert out[i + 100] is False   # identical copies dropped


def test_semantic_dedup_plan_has_no_cartesian(spark):
    from datafusion_delta_sharing_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, -1.0, 0.5]) for i in range(4)],
        "vec_id long, embedding array<float>")
    plan = semantic_dedup(emb, sign_dims=4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_token_budget_prefix_semantics(spark):
    from datafusion_delta_sharing_spark.operators.sampling import (
        token_budget_select,
    )

    df = spark.createDataFrame(
        [  # (id, group, tokens, score): ordered by score desc -> 1,2,3,4
            (1, "g", 50, 9.0),
            (2, "g", 40, 8.0),
            (3, "g", 40, 7.0),   # cum 130 > 100: excluded
            (4, "g", 5, 6.0),    # prefix semantics: stays excluded
            (5, "h", 99, 1.0),
        ],
        "doc_id long, source string, n_tok long, score double")
    out = {r.doc_id: r for r in
           token_budget_select(df, "source", "doc_id", "n_tok", "score",
                               budget=100).collect()}
    assert [out[i].kept for i in (1, 2, 3, 4, 5)] == [
        True, True, False, False, True]
    assert out[3].cum_tokens == 130 and out[4].cum_tokens == 135


def test_winsorize_clips_to_discrete_quantiles(spark):
    from pyspark.sql import functions as F

    from datafusion_delta_sharing_spark.operators.sampling import winsorize

    # scores 1..100: ceil(.05*100)=5 -> lo=5; ceil(.95*100)=95 -> hi=95
    df = spark.range(1, 101).select(F.col("id"),
                                    F.col("id").cast("double").alias("s"))
    out = {r.id: r.clipped for r in
           winsorize(df, F.col("s"), "id", q_lo=0.05, q_hi=0.95).collect()}
    assert out[1] == 5.0 and out[4] == 5.0      # clipped up
    assert out[5] == 5.0 and out[50] == 50.0    # untouched interior
    assert out[95] == 95.0 and out[100] == 95.0  # clipped down
    assert len(out) == 100


def test_pmi_collocations_finds_planted_collocation(spark):
    from datafusion_delta_sharing_spark.operators.collocations import (
        pmi_collocations,
    )

    # "quantum flux" always adjacent; filler word order rotates per doc so
    # filler adjacencies are diluted across many different pairs
    fillers = ["alpha", "beta", "gamma", "delta", "epsilon"]
    rows = []
    for i in range(20):
        rot = fillers[i % 5:] + fillers[:i % 5]
        words = rot[:2] + ["quantum", "flux"] + rot[2:]
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(docs, "text", "doc_id",
                           min_count=5, top_k=5).collect()
    top = out[0]
    # the planted pair ranks top: c_ab = c_a = c_b = 20, maximal ratio
    assert top.bigram == "quantum flux"
    assert top.c_ab == 20 and top.c_a == 20 and top.c_b == 20
    assert top.ratio_num / top.ratio_den > 1.0  # far above independence
    n_tok, n_big = 20 * 7, 20 * 6
    for r in out:
        assert r.c_ab >= 5
        assert r.ratio_num == r.c_ab * n_tok * n_tok
        assert r.ratio_den == n_big * r.c_a * r.c_b


def test_grouped_quantiles_discrete_thresholds(spark):
    from datafusion_delta_sharing_spark.operators.corpusstats import (
        grouped_quantiles,
    )

    # group a: scores 1..10 -> q50 = ceil(.5*10)=5th -> 5; q75 -> 8
    # group b: all equal -> every quantile is 7
    rows = [("a", i) for i in range(1, 11)] + [("b", 7)] * 4
    df = spark.createDataFrame(rows, "src string, s long")
    out = {(r.src, r.q): r.value for r in
           grouped_quantiles(df, "src", F.col("s"), qs=(0.5, 0.75),
                             score_name="value").collect()}
    assert out[("a", 0.5)] == 5 and out[("a", 0.75)] == 8
    assert out[("b", 0.5)] == 7 and out[("b", 0.75)] == 7


def test_distinctive_terms_and_corpus_overlap(spark):
    from datafusion_delta_sharing_spark.operators.corpusstats import (
        corpus_overlap,
        distinctive_terms,
    )

    a = make_docs(spark, [(i, "python spark query engine data") for i in range(5)])
    b = make_docs(spark, [(i, "cooking recipe kitchen pasta data") for i in range(5)])
    top = distinctive_terms(a, b, "text", "doc_id", min_count=3,
                            top_k=3).collect()
    # A-only words dominate; the shared word 'data' must not rank top
    assert {r.token for r in top} <= {"python", "spark", "query", "engine"}
    assert all(r.c_b == 0 for r in top)

    ov = corpus_overlap(a, a, "text", "doc_id", k=5).collect()[0]
    assert ov.n_a == ov.n_b == ov.n_inter == ov.n_union  # self-overlap
    ov2 = corpus_overlap(a, b, "text", "doc_id", k=5).collect()[0]
    assert ov2.n_inter == 0  # 5-shingles share nothing
    assert ov2.n_union == ov2.n_a + ov2.n_b


def test_triangle_count_known_graph(spark):
    from datafusion_delta_sharing_spark.operators.graph import (
        cooccurrence_edges,
        triangle_count,
    )

    # groups: {1,2,3} complete triangle; {3,4} edge; {5,6,7} triangle
    rows = ([("g1", i) for i in (1, 2, 3)] + [("g2", i) for i in (3, 4)]
            + [("g3", i) for i in (5, 6, 7)])
    df = spark.createDataFrame(rows, "grp string, item long")
    edges = cooccurrence_edges(df, "grp", "item")
    out = triangle_count(edges).collect()[0]
    assert out.n_edges == 7      # 3 + 1 + 3
    assert out.n_triangles == 2  # one per complete group

    # degree cut drops vertex 3 (degree 3) -> its triangle disappears
    cut = cooccurrence_edges(df, "grp", "item", max_degree=2)
    out2 = triangle_count(cut).collect()[0]
    assert out2.n_triangles == 1


def test_pagerank_int_star_graph_and_determinism(spark):
    from datafusion_delta_sharing_spark.operators.graph import pagerank_int

    # star: hub 0 connected to leaves 1..5 -> hub outranks every leaf
    edges = spark.createDataFrame([(0, i) for i in range(1, 6)],
                                  "a long, b long")
    ranks = {r.v: r.rank for r in pagerank_int(edges, iterations=3).collect()}
    assert ranks[0] > ranks[1]
    assert len({ranks[i] for i in range(1, 6)}) == 1  # leaves symmetric
    # integer arithmetic -> identical result under a different partitioning
    again = {r.v: r.rank for r in
             pagerank_int(edges.repartition(7), iterations=3).collect()}
    assert again == ranks


def test_interval_overlap_join_semantics(spark):
    from datafusion_delta_sharing_spark.operators.intervals import (
        interval_overlap_join,
    )

    us = 1_000_000
    rows = [(1, 0 * us, 10 * us),     # overlaps 2, touches 3
            (2, 5 * us, 15 * us),     # overlaps 1 and 3
            (3, 10 * us, 20 * us),    # touches 1 (no overlap, half-open)
            (4, 100 * us, 110 * us)]  # disjoint from all
    df = spark.createDataFrame(rows, "id long, s long, e long")
    out = {(r.l_id, r.r_id): r.overlap_us for r in
           interval_overlap_join(df, df, "id", "s", "e",
                                 grain_us=4 * us).collect()}
    assert out == {(1, 2): 5 * us, (2, 3): 5 * us}


def test_interval_overlap_join_degenerate_rows_clamp_not_explode(spark):
    """Degenerate ([t,t)) and reversed (e < s) intervals generate ONE
    grain each (clamped sequence) yet still match the naive oracle
    predicate: a partner straddling their start is found, and the
    candidate fan-out stays bounded instead of sequencing DOWN across
    the whole grain range."""
    from datafusion_delta_sharing_spark.operators.intervals import (
        interval_overlap_join,
    )

    us = 1_000_000
    rows = [(1, 0, 10 * us),               # wide well-formed interval
            (2, 5 * us, 5 * us),           # degenerate: starts inside 1
            (3, 9 * us, 2 * us),           # reversed/malformed: s inside 1
            (4, 50 * us, 50 * us)]         # degenerate, disjoint
    df = spark.createDataFrame(rows, "id long, s long, e long")
    out = {(r.l_id, r.r_id): r.overlap_us for r in
           interval_overlap_join(df, df, "id", "s", "e",
                                 grain_us=us).collect()}
    # the naive predicate (l.s < r.e AND r.s < l.e) admits (1,2): 5<10 and
    # 0<5; and (1,3): 0<2? no — 1.s=0 < 3.e=2us and 3.s=9us < 1.e=10us ✓
    assert out == {(1, 2): 0, (1, 3): 2 * us - 9 * us}


def test_recall_summary_null_safe_keys(spark):
    """A NULL key component must match itself across the exact/found join
    (eqNullSafe) — a plain equi-join would count the same pair as both a
    miss and a false positive."""
    from datafusion_delta_sharing_spark.operators.recall import recall_summary

    exact = spark.createDataFrame(
        [(1, None), (2, 3)], "id_a long, id_b long")
    found = spark.createDataFrame(
        [(1, None), (2, 3)], "id_a long, id_b long")
    row = recall_summary(exact, found, ["id_a", "id_b"], 0.5,
                         check_precision=True).collect()[0]
    assert (row.n_exact, row.n_false, row.recall_ok) == (2, 0, True)


def test_operator_edge_cases(spark):
    """Empty inputs and invalid parameters fail safe, not silently."""
    from datafusion_delta_sharing_spark.operators.intervals import (
        interval_overlap_join,
    )
    from datafusion_delta_sharing_spark.operators.sampling import (
        quantile_bin,
        winsorize,
    )

    empty = make_docs(spark, []).select("doc_id", "text")
    # incremental dedup of an empty batch -> empty survivors, no error
    idx = DD.corpus_hash_index(make_docs(spark, [(1, "a")]), "text", "doc_id")
    assert DD.incremental_dedup(empty, idx, "text", "doc_id").count() == 0
    # fuzzy join with an empty side -> empty result
    small = spark.createDataFrame([(1, "abcdef")], "id long, name string")
    emptyn = spark.createDataFrame([], "id long, name string")
    assert FJ.fuzzy_join(small, emptyn, "id", "name", "id", "name").count() == 0
    # invalid quantile parameters raise
    df = spark.range(5).select(F.col("id"), (F.col("id") * 1.0).alias("s"))
    with pytest.raises(ValueError):
        winsorize(df, F.col("s"), "id", q_lo=0.9, q_hi=0.1)
    # interval join with zero-length input -> empty
    iv = spark.createDataFrame([], "id long, s long, e long")
    assert interval_overlap_join(iv, iv, "id", "s", "e", 1000).count() == 0
    # quantile_bin on a single row puts it in the top bin deterministically
    one = spark.createDataFrame([(1, 5.0)], "id long, s double")
    assert quantile_bin(one, F.col("s"), "id").collect()[0].bin == 0


# -- r4: bucketed embedding near-dup, recall summaries, IVF at high dim ----


def test_embedding_neardup_bucketed_no_nlj_and_subset(spark, emb):
    sub = emb.filter("vec_id < 60").select("vec_id", "embedding")
    copies = sub.select((F.col("vec_id") + 100000).alias("vec_id"),
                        "embedding")
    corpus = sub.unionByName(copies)
    bucketed = SIM.embedding_neardup_pairs_bucketed(corpus, threshold=0.5)
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    # VERDICT r3 #3: the scale path must never all-pairs the corpus
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = {(r.id_a, r.id_b): r.score for r in bucketed.collect()}
    # identical copies share every sign -> same bucket -> all planted
    # pairs recovered with cosine exactly 1.0
    n_sub = sub.count()
    planted = {(r.vec_id, r.vec_id + 100000) for r in sub.collect()}
    assert planted <= set(got)
    assert all(got[p] == 1.0 for p in planted)
    # bucketed output is a subset of the all-pairs spec form
    exact = {(r.id_a, r.id_b): r.score for r in
             SIM.embedding_neardup_pairs(corpus, threshold=0.5).collect()}
    assert set(got) <= set(exact)
    assert all(exact[k] == v for k, v in got.items())
    assert len(planted) == n_sub


def test_named_embedding_neardup_query_runs_bucketed_plan(spark, sf_dir):
    from datafusion_delta_sharing_spark.harness.text import q_embedding_neardup

    plan = (q_embedding_neardup(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_recall_summary_verdicts(spark):
    from datafusion_delta_sharing_spark.operators.recall import recall_summary

    exact = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long")
    found_good = exact.filter("id_a < 9")   # 9/10 found
    row = recall_summary(exact, found_good, ["id_a", "id_b"], 0.85,
                         check_precision=True).collect()[0]
    assert (row.n_exact, row.n_missed_allowed, row.n_false,
            row.recall_ok) == (10, 1, 0, True)
    row = recall_summary(exact, exact.filter("id_a < 5"),
                         ["id_a", "id_b"], 0.85).collect()[0]
    assert (row.n_exact, row.recall_ok) == (10, False)
    # found rows outside the exact set are counted as false positives
    extra = spark.createDataFrame([(99, 100)], "id_a long, id_b long")
    row = recall_summary(exact, found_good.unionByName(extra),
                         ["id_a", "id_b"], 0.85,
                         check_precision=True).collect()[0]
    assert row.n_false == 1


def test_lsh_multi_table_beats_single_table_on_planted(spark, emb):
    queries = emb.filter("vec_id <= 3").select("vec_id", "embedding")
    vec_type = dict(emb.dtypes)["embedding"]

    def perturb(c):
        return lambda x, i: (x.cast("double")
                             * (1.0 + 0.12 * F.sin(i.cast("double")
                                                   + F.lit(float(c)))))

    corpus = emb.select("vec_id", "embedding")
    for c in range(1, 6):
        corpus = corpus.unionByName(queries.select(
            (F.col("vec_id") + c * 1000000).alias("vec_id"),
            F.transform("embedding", perturb(c)).cast(vec_type)
            .alias("embedding")))
    brute = {(r.query_id, r.cand_id) for r in
             SIM.brute_force_topk(corpus, queries, k=5).collect()}
    multi = {(r.query_id, r.cand_id) for r in
             SIM.lsh_topk(corpus, queries, dim=64, k=5, n_planes=8,
                          n_tables=8).collect()}
    single = {(r.query_id, r.cand_id) for r in
              SIM.lsh_topk(corpus, queries, dim=64, k=5,
                           n_planes=8).collect()}
    assert len(multi & brute) / len(brute) >= 0.8
    assert len(multi & brute) >= len(single & brute)


def test_ivf_centroids_match_wide_agg_reference(spark, emb):
    """The posexplode Lloyd update (VERDICT r3 #4) must agree with the
    previous one-agg-column-per-dimension form."""
    import numpy as np

    corpus = emb.select("vec_id", "embedding")

    def wide_reference(n_centroids, iterations):
        seeds = (corpus.select(F.xxhash64(F.col("vec_id")).alias("_h"),
                               F.col("embedding"))
                 .orderBy("_h").limit(n_centroids).collect())
        cents = np.array([r[1] for r in seeds], dtype=np.float64)
        for _ in range(iterations):
            assigned = SIM._assign(corpus, cents, "vec_id", "embedding")
            sums = (assigned.groupBy("centroid")
                    .agg(F.count(F.lit(1)).alias("n"),
                         *[F.sum(F.element_at(F.col("embedding"), d + 1))
                           .alias(f"s{d}") for d in range(cents.shape[1])])
                    .collect())
            new = cents.copy()
            for row in sums:
                if row["n"] > 0:
                    new[row["centroid"]] = [row[f"s{d}"] / row["n"]
                                            for d in range(cents.shape[1])]
            cents = new
        return cents

    got = SIM.ivf_centroids(corpus, n_centroids=4, iterations=2)
    ref = wide_reference(4, 2)
    assert got.shape == ref.shape == (4, 64)
    assert np.allclose(got, ref, rtol=1e-9, atol=1e-12)


def test_ivf_centroids_dim512_smoke(spark):
    """High-dim path: no per-dimension column explosion — 512 dims is
    thousands of agg expressions in the old plan, two narrow shuffles
    now."""
    import numpy as np

    df = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(0), F.lit(511)),
                    lambda d: F.sin(d.cast("double") * 0.1
                                    + F.col("id").cast("double")))
        .alias("embedding"))
    cents = SIM.ivf_centroids(df, n_centroids=8, iterations=2)
    assert cents.shape == (8, 512)
    assert np.isfinite(cents).all()


def test_triangle_degcut_drops_hub(spark):
    from datafusion_delta_sharing_spark.operators import graph as GR

    # triangle 1-2-3 (low degree) + hub 9 touching everything via
    # shared groups: each (g, [members]) row links all members
    groups = [(10, 1), (10, 2), (10, 3),      # closes triangle 1-2-3
              (11, 1), (11, 9), (12, 2), (12, 9), (13, 3), (13, 9),
              (14, 4), (14, 9), (15, 5), (15, 9), (16, 6), (16, 9)]
    df = spark.createDataFrame(groups, "g long, i long")
    edges_all = GR.cooccurrence_edges(df, "g", "i")
    # hub degree 6 > cut 3; everyone else <= 3
    cut = GR.cooccurrence_edges(df, "g", "i", max_degree=3)
    row = (GR.triangle_count(cut)
           .crossJoin(GR.dropped_vertex_count(edges_all, 3)).collect()[0])
    assert row.n_dropped_vertices == 1          # non-vacuous cut
    assert row.n_triangles == 1                 # 1-2-3 survives
    kept_edges = {(r.a, r.b) for r in cut.collect()}
    assert all(9 not in e for e in kept_edges)


def test_bigram_logprob_hand_computed(spark):
    import math

    from datafusion_delta_sharing_spark.operators.corpus import (
        bigram_logprob,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a"), (3, "solo")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r
            for r in bigram_logprob(docs, "text", "doc_id").collect()}
    # corpus: tokens a=4 b=2 solo=1, V=3; bigrams "a b"=2 "b a"=1 "a a"=1
    assert set(rows) == {1, 2}          # one-token doc has no bigrams
    assert rows[1]["n_bigrams"] == 3
    # d1: ln(3/7), ln(2/5), ln(3/7) averaged
    exp1 = (2 * math.log(3 / 7) + math.log(2 / 5)) / 3
    assert rows[1]["logprob"] == round(exp1, 6)
    assert rows[2]["n_bigrams"] == 1
    assert rows[2]["logprob"] == round(math.log(2 / 7), 6)


def test_token_entropy_hand_computed(spark):
    import math

    from datafusion_delta_sharing_spark.operators.corpus import (
        token_entropy,
    )

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b"), (4, "   ")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r
            for r in token_entropy(docs, "text", "doc_id").collect()}
    assert set(rows) == {1, 2, 3}       # all-whitespace doc absent
    assert rows[1]["entropy"] == 0.0    # single repeated token
    assert rows[2]["entropy"] == round(math.log(4), 6)  # uniform over 4
    assert rows[3]["entropy"] == round(math.log(2), 6)  # 2 x 2
    assert rows[1]["n_tokens"] == 4


def test_rolling_median_matches_pandas(spark, sf_dir):
    import __spark_entry__ as entry

    df = entry.queries()["rolling_median"](spark, sf_dir).toPandas()
    from datafusion_delta_sharing_spark.harness import load_table

    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "user_id", "ts", "value").toPandas()
          .sort_values(["user_id", "ts", "event_id"]))
    exp = (ev.groupby("user_id")["value"]
           .rolling(7, min_periods=1).median()
           .reset_index(level=0, drop=True).round(6))
    ev = ev.assign(med7=exp)
    merged = df.merge(ev[["event_id", "med7"]], on="event_id",
                      suffixes=("", "_exp"))
    assert (merged["med7"] == merged["med7_exp"]).all()
    assert len(merged) == len(df) > 0


def test_bmp_roundtrip_and_image_features(spark):
    import numpy as np

    from datafusion_delta_sharing_spark.operators import multimodal as MM

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (5, 3, 3), dtype=np.uint8)
    assert np.array_equal(MM.decode_image(MM.encode_bmp(img)), img)
    # width not divisible by 4 exercises row padding
    img2 = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)
    assert np.array_equal(MM.decode_image(MM.encode_bmp(img2)), img2)

    solid = np.full((8, 8, 3), (200, 100, 50), dtype=np.uint8)
    rows = [(1, bytearray(MM.encode_bmp(solid)), ("image/bmp",)),
            (2, bytearray(b"\xff\xd8fakejpeg"), ("image/jpeg",)),
            (3, bytearray(b"BMtruncated"), ("image/bmp",))]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary, "
              "meta struct<mime:string>")
    got = {r.media_id: r for r in MM.image_features(df).collect()}
    assert (got[1].width, got[1].height) == (8, 8)
    assert (got[1].mean_r, got[1].mean_g, got[1].mean_b) == (
        200.0, 100.0, 50.0)
    assert got[1].error is None
    assert "codec" in got[2].error       # compressed -> tagged, not fatal
    assert "truncated" in got[3].error   # corrupt -> tagged, not fatal


def test_wav_roundtrip_and_audio_features(spark):
    import numpy as np

    from datafusion_delta_sharing_spark.operators import multimodal as MM

    # 1 second of a 100 Hz square wave at 1000 Hz sampling, amplitude A:
    # 200 sign flips -> zero_cross_rate ~ 200/999; rms = A exactly
    rate, amp = 1000, 1000
    t = np.arange(rate)
    square = (amp * np.sign(np.sin(2 * np.pi * 100 * (t + 0.25) / rate))
              ).astype(np.int16)
    wav = MM.encode_wav(square, rate)
    got_rate, samples = MM.decode_audio(wav)
    assert got_rate == rate and samples.shape == (rate, 1)
    assert np.array_equal(samples[:, 0], square)

    rows = [(1, bytearray(wav)), (2, bytearray(b"ID3not-a-wav-payload"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in MM.audio_features(df).collect()}
    assert got[1].duration_s == 1.0
    assert got[1].rms == float(amp)
    assert abs(got[1].zero_cross_rate - 0.2) < 0.02
    assert got[1].channels == 1 and got[1].error is None
    assert "codec" in got[2].error
    # stereo path
    stereo = np.stack([square, -square], axis=1).astype(np.int16)
    _, s2 = MM.decode_audio(MM.encode_wav(stereo, rate))
    assert s2.shape == (rate, 2)


def test_corrupt_wav_headers_are_contained(spark):
    """r5 review: a truncated fmt chunk raised struct.error (NOT a
    ValueError subclass) and a rate=0 header div-by-zeroed in the
    duration math — both escaped the per-row containment and killed the
    whole batch. They must land in the error column instead."""
    import struct as st

    from datafusion_delta_sharing_spark.operators import multimodal as MM

    truncated_fmt = (b"RIFF" + st.pack("<I", 20) + b"WAVE"
                     + b"fmt " + st.pack("<I", 16) + b"\x01\x00\x01\x00")
    rate0 = (b"RIFF" + st.pack("<I", 40) + b"WAVE"
             + b"fmt " + st.pack("<I", 16)
             + st.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)
             + b"data" + st.pack("<I", 4) + b"\x01\x00\x02\x00")
    df = spark.createDataFrame(
        [(1, bytearray(truncated_fmt)), (2, bytearray(rate0))],
        "media_id long, payload binary")
    got = {r.media_id: r for r in MM.audio_features(df).collect()}
    assert "truncated" in got[1].error
    assert "corrupt" in got[2].error
    import pytest

    with pytest.raises(ValueError, match="range"):
        MM.fake_features(b"x", dim=32)
    with pytest.raises(ValueError, match="range"):
        MM.fake_features(b"x", dim=0)


def test_kfold_and_group_split_properties(spark, sf_dir):
    from pyspark.sql import functions as F

    from datafusion_delta_sharing_spark.functions import splits as SP
    from datafusion_delta_sharing_spark.harness import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = docs.select(
        "doc_id", "source",
        SP.kfold_assign("doc_id", k=5).alias("fold"),
        SP.group_split_assign("source").alias("grp"))
    folds = {r.fold: r.cnt for r in
             out.groupBy("fold").agg(F.count("*").alias("cnt")).collect()}
    assert set(folds) == {0, 1, 2, 3, 4}      # all folds populated
    assert max(folds.values()) < 2.5 * min(folds.values())  # roughly even
    # leakage-safety: every source maps to exactly one split
    per_source = (out.groupBy("source")
                  .agg(F.countDistinct("grp").alias("n")).collect())
    assert all(r.n == 1 for r in per_source)
    # determinism across repartitioning
    again = (docs.repartition(13)
             .select(SP.kfold_assign("doc_id", k=5).alias("fold2"),
                     "doc_id"))
    joined = out.join(again, "doc_id")
    assert joined.filter(F.col("fold") != F.col("fold2")).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must be"):
        SP.kfold_assign("doc_id", k=1)


def test_lsh_topk_plane_count_guard():
    """ADVICE r4: signatures pack bits as pow(2.0, p) doubles — exact only
    for p <= 52, so a wider plane set must refuse instead of silently
    producing wrong buckets."""
    from datafusion_delta_sharing_spark.operators import similarity as SIM

    with pytest.raises(ValueError, match="52"):
        SIM.lsh_topk(None, None, dim=1, n_planes=53)

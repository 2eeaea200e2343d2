"""Deduplication operators for training-data pipelines (driver brief
north-star; SURVEY.md §2 extensions).

Scale posture: every operator here is a composition of built-in DataFrame
ops — shingling and hashing via higher-order functions (JVM codegen),
candidate generation via hash-bucket shuffles (never O(n²) across the full
corpus), verification only within candidate pairs. Operators that reuse
an intermediate frame across two sub-plans cache() it and leave it
cached — the returned DataFrame is lazy, so unpersisting here would
drop the reuse before the caller ever runs the plan; long-lived
sessions issuing many dedup calls own cleanup (spark.catalog.clearCache
or unpersist on the inputs). At 100 TB the only
all-to-all operations are equi-joins on hash keys, which Spark shuffles
by key; hot buckets (boilerplate docs) are the known skew risk — AQE
skew-join handles moderate cases, salting the band key is the escape hatch.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, functions as F

from datafusion_delta_sharing_spark.functions.text import (
    WS_TOKEN_SPLIT,
    shingles_of_words,
    words_of,
)


# -- exact dedup ----------------------------------------------------------


def exact_dedup_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical texts by md5 and keep the lowest id as survivor.
    Hash-groupBy: one shuffle on the digest, map-side partial aggregation."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup on a column subset; deterministic survivor = full row
    with the minimal struct over the remaining columns (dropDuplicates is
    nondeterministic about which row survives, so we don't use it here)."""
    others = [c for c in df.columns if c not in cols]
    agg = F.min(F.struct(*others)).alias("_rest")
    out = df.groupBy(*cols).agg(agg)
    return out.select(*cols, *[F.col(f"_rest.{c}").alias(c) for c in others])


# -- incremental dedup (new ingest batch vs accumulated corpus index) -----


def corpus_hash_index(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Accumulated exact-dup index: one row per distinct content digest with
    the id that first contributed it. A production pipeline persists this
    (bucketed by digest via sinks.write_bucketed) and appends each batch's
    surviving digests — the corpus *text* is never rescanned."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
              .agg(F.min(id_col).alias("first_id")))


def incremental_dedup(incoming: DataFrame, index: DataFrame,
                      text_col: str, id_col: str) -> DataFrame:
    """Dedup a new ingest batch against the accumulated corpus without
    touching corpus text: (1) within-batch min-id survivor per digest,
    (2) digest anti-join against the index. The join key is a uniform
    128-bit digest — skew-free by construction; Catalyst broadcasts the
    small side, and with the index bucketed on text_md5 the anti-join is
    shuffle-free on the index side at any corpus size. Returns
    (text_md5, keep_id, n_copies): the survivors to append to the index."""
    # the within-batch survivor rule IS exact_dedup_stats — one
    # definition, so digest/survivor changes cannot diverge the paths
    batch = exact_dedup_stats(incoming, text_col, id_col)
    return batch.join(index, "text_md5", "left_anti")


def corpus_hash_index_sql(source_sql: str, text_col: str, id_col: str) -> str:
    """DuckDB mirror of corpus_hash_index."""
    return (f"(SELECT md5({text_col}) AS text_md5, min({id_col}) AS first_id"
            f" FROM {source_sql} GROUP BY md5({text_col}))")


def incremental_dedup_sql(incoming_sql: str, index_sql: str,
                          text_col: str, id_col: str) -> str:
    """DuckDB mirror of incremental_dedup (index_sql: (text_md5, ...))."""
    return f"""
    WITH batch AS (
        SELECT md5({text_col}) AS text_md5, min({id_col}) AS keep_id,
               count(*) AS n_copies
        FROM {incoming_sql} GROUP BY md5({text_col})
    )
    SELECT b.text_md5, b.keep_id, b.n_copies
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM {index_sql} ix
                      WHERE ix.text_md5 = b.text_md5)
    """


# -- n-gram Jaccard (explode-join: the ANSI-expressible, scalable form) ---


def _with_shingles(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, shingles) with the words array materialized first (words² trap:
    see functions/text.py words_of)."""
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"),
                  words_of(text_col).alias("_words"))
        .select("id", F.array_distinct(
            shingles_of_words("_words", "_txt", k)).alias("shingles"))
    )


def shingle_sets(df: DataFrame, text_col: str, id_col: str, k: int = 5) -> DataFrame:
    """(id, shingle) pairs, distinct — the posting-list layout."""
    return (
        _with_shingles(df, text_col, id_col, k)
        .select("id", F.explode("shingles").alias("sh"))
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        k: int = 5, threshold: float = 0.2,
                        max_doc_freq: int | None = None) -> DataFrame:
    """All pairs with word-k-shingle Jaccard >= threshold, via the
    explode + equi-join + count pattern: |A∩B| from a self-join on shingle,
    |A∪B| = |A| + |B| − |A∩B|. One shuffle on shingle, one on the pair key —
    no cross join anywhere.

    ``max_doc_freq`` is the classic df-cut (VERDICT r1 #6): shingles whose
    posting list exceeds the bound are treated as stop-shingles and dropped
    from the representation BEFORE the self-join, bounding per-key join
    fan-out to ``max_doc_freq²`` — without it one boilerplate shingle shared
    by 1e6 docs creates 1e12 join rows at 100 TB. Jaccard is then computed
    over the informative shingles only (both intersection and sizes use the
    cut posting lists, so the measure stays a true Jaccard of the reduced
    sets); pairs whose overlap is exclusively boilerplate are the accepted
    recall trade. ``None`` keeps every shingle (exact word-shingle Jaccard).
    """
    scored = _pair_overlaps(df, text_col, id_col, k, max_doc_freq)
    return (
        scored.withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _pair_overlaps(df: DataFrame, text_col: str, id_col: str, k: int,
                   max_doc_freq: int | None) -> DataFrame:
    """Shared candidate machinery for the set-overlap scorers (Jaccard,
    containment): (id_a, id_b, n_inter, sz_a, sz_b) for every pair with
    at least one common shingle. One posting-list self-equi-join + one
    pair-keyed aggregate; optional df-cut bounds per-shingle fan-out."""
    from pyspark.sql import Window

    posts = shingle_sets(df, text_col, id_col, k)
    if max_doc_freq is not None:
        # one count-over-window shuffle on sh; the self-join below reuses
        # the same hash partitioning on sh, so the cut is ~free
        posts = (
            posts.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    posts = posts.cache()
    sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = posts.alias("a")
    b = posts.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


# -- MinHash + LSH --------------------------------------------------------


def minhash_signature(df: DataFrame, text_col: str, id_col: str,
                      num_hashes: int = 16, k: int = 5) -> DataFrame:
    """(id, shingles, sig) where sig[i] = min over shingles of
    xxhash64(shingle, seed=i). Pure higher-order functions: the signature
    never leaves the JVM."""
    def _hash_with_seed(seed: int):
        # single-arg lambda: a two-arg lambda would receive (element, index)
        # from transform() and the index would silently replace the seed
        return lambda s: F.xxhash64(s, F.lit(seed))

    sig = F.array(*[
        F.array_min(F.transform(F.col("shingles"), _hash_with_seed(i)))
        for i in range(num_hashes)
    ])
    return _with_shingles(df, text_col, id_col, k).withColumn("sig", sig)


def minhash_band_buckets(signed: DataFrame, num_hashes: int,
                         bands: int) -> DataFrame:
    """(id, band, bh) posting table of a :func:`minhash_signature` result:
    the signature split into ``bands`` contiguous chunks, each hashed to
    one bucket key. The ONE definition of the banding — the batch LSH
    pair join and the streaming band index both derive buckets here, so
    their candidate semantics cannot drift (stream/batch parity is a
    checked contract, harness stream_minhash_dedup)."""
    if num_hashes < 1 or bands < 1 or num_hashes % bands:
        # a non-dividing band count would silently drop the trailing
        # num_hashes % bands signature entries (lower recall than asked),
        # and bands > num_hashes would call zero-arg xxhash64
        raise ValueError(
            f"need num_hashes >= 1 and bands >= 1 with bands dividing "
            f"num_hashes; got num_hashes={num_hashes}, bands={bands}")
    rows = num_hashes // bands
    band_cols = []
    for band in range(bands):
        chunk = [F.col("sig")[i] for i in range(band * rows, (band + 1) * rows)]
        band_cols.append(F.struct(F.lit(band).alias("band"),
                                  F.xxhash64(*chunk).alias("bh")))
    # the posting table carries ONLY (id, band, bh): the shingle arrays
    # must not ride through the bands×-exploded bucket exchange (VERDICT r1
    # #5 — at 100 TB the duplicated arrays dominate the shuffle). Shingles
    # re-attach once per side AFTER the candidate pairs are deduplicated.
    return (
        signed.withColumn("bucket", F.explode(F.array(*band_cols)))
        .select("id",
                F.col("bucket.band").alias("band"),
                F.col("bucket.bh").alias("bh"))
    )


def verify_jaccard_pairs(candidates: DataFrame, shingle_map: DataFrame,
                         threshold: float) -> DataFrame:
    """True-Jaccard verification of candidate (id_a, id_b) pairs against a
    (id, shingles) map — the shared verify step of every LSH-candidate
    pipeline (batch and streaming): re-attach shingles per side, compute
    exact set Jaccard, keep pairs >= threshold."""
    verified = (
        candidates
        .join(shingle_map.select(F.col("id").alias("id_a"),
                                 F.col("shingles").alias("sh_a")), "id_a")
        .join(shingle_map.select(F.col("id").alias("id_b"),
                                 F.col("shingles").alias("sh_b")), "id_b")
    )
    jaccard = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")), 6)
    return (
        verified.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      num_hashes: int = 16, bands: int = 4, k: int = 5,
                      threshold: float = 0.2) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: band the signature, bucket-join on
    (band index, band hash), then verify true Jaccard on the candidate pairs
    only. Candidate generation is an equi-join shuffle on the band hash —
    the classic shingle->minhash->band->bucket-join pipeline."""
    signed = minhash_signature(df, text_col, id_col, num_hashes, k).cache()
    buckets = minhash_band_buckets(signed, num_hashes, bands)
    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return verify_jaccard_pairs(candidates, signed.select("id", "shingles"),
                                threshold)


# -- SimHash --------------------------------------------------------------


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens: explode -> xxhash64 per token
    -> per-bit ±1 majority vote -> recombine. The vote is 64 conditional
    sums in one hash aggregate (single shuffle on id).

    The per-bit expressions are parsed SQL strings, not composed Column
    objects: the Column spelling cost ~10k py4j round-trips (~1.6 s of
    driver wall time per call, measured r5) before any job started. Same
    operators (>> & = if sum shiftleft |), bit-identical fingerprints."""
    tokens = (
        df.select(F.col(id_col).alias("id"),
                  F.explode(words_of(text_col)).alias("tok"))
        .withColumn("h", F.xxhash64("tok"))
    )
    votes = [F.expr(f"sum(if(((h >> {i}) & 1) = 1, 1, -1))").alias(f"v{i}")
             for i in range(64)]
    voted = tokens.groupBy("id").agg(*votes)
    fingerprint = F.expr(" | ".join(
        f"if(v{i} > 0, shiftleft(1L, {i}), 0L)" for i in range(64)))
    return voted.select("id", fingerprint.alias("simhash"))


def _chunk_bounds(n_bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """Split ``n_bits`` into ``n_chunks`` contiguous (offset, width) spans,
    widths as equal as possible (remainder spread over the first chunks)."""
    base, rem = divmod(n_bits, n_chunks)
    bounds, offset = [], 0
    for i in range(n_chunks):
        width = base + (1 if i < rem else 0)
        bounds.append((offset, width))
        offset += width
    return bounds


def simhash_neardup_pairs(df: DataFrame, text_col: str, id_col: str,
                          max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming, using the
    pigeonhole trick: split the 64-bit hash into ``max_hamming + 1``
    contiguous chunks — a pair within the radius differs in at most
    ``max_hamming`` chunks, so it must agree exactly on >= 1 chunk, and
    candidates come from one equi-join per chunk — never an O(n²)
    comparison. Recall is therefore 1.0 at the requested radius by
    construction (VERDICT r1 #3 / r2 #4: the old fixed-4-chunk split only
    guaranteed radius 3 whatever the caller asked for).

    Scale note: chunk width shrinks as the radius grows (radius 10 -> 11
    chunks of ~6 bits -> 64 buckets per join), so wide radii over huge
    corpora need a longer fingerprint (multi-seed simhash) to keep the
    bucket fan-out bounded; at radius <= 7 the chunks stay >= 8 bits."""
    hashed = simhash(df, text_col, id_col)
    return pigeonhole_neardup_pairs(hashed, max_hamming)


def pigeonhole_neardup_pairs(hashed: DataFrame, max_hamming: int) -> DataFrame:
    """Candidate + verify over (id, simhash) fingerprints — the pigeonhole
    core of :func:`simhash_neardup_pairs`, exposed so the recall guarantee
    is testable on crafted fingerprints at the exact radius."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if max_hamming >= 64:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 64-bit fingerprint; "
            "every pair would be a candidate — use a longer fingerprint")
    n_chunks = max_hamming + 1
    bounds = _chunk_bounds(64, n_chunks)
    # ONE exploded (id, band, val) posting table and ONE equi-join on
    # (band, val) — not a join per chunk: n_chunks separate self-joins
    # re-execute the fingerprint subtree 2*n_chunks times (22 corpus scans
    # at radius 10, found by tools/plan_report.py); the banded form scans
    # it twice regardless of radius, same candidate set by construction
    bands = hashed.select(
        "id", "simhash",
        F.posexplode(F.array(
            # a full-width (64-bit) chunk needs the all-ones mask as -1:
            # (1<<64)-1 exceeds LongType and fails analysis (max_hamming=0
            # produces exactly one such chunk)
            *[F.shiftright("simhash", off).bitwiseAND(
                F.lit(-1 if width >= 64 else (1 << width) - 1)
                .cast("long"))
              for off, width in bounds])).alias("band", "val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.val") == F.col("b.val"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("h_a"),
                F.col("b.simhash").alias("h_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        candidates.withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -- near-dup clustering (connected components) ----------------------------


def connected_components(vertices: DataFrame, pairs: DataFrame,
                         max_iterations: int = 20) -> DataFrame:
    """Cluster near-duplicate pairs into components via iterative min-label
    propagation: every vertex starts labeled with itself; each round every
    vertex takes the min label across itself and its neighbors; converged
    when no label changes. O(log n) rounds for typical dedup graphs, each
    round one join + one aggregate (all shuffles on the vertex id).

    vertices: one column ``id``; pairs: ``id_a``/``id_b``. Returns
    (id, component) where component = min id in the component — the
    canonical survivor for dedup.

    Raises ``RuntimeError`` if labels are still changing when
    ``max_iterations`` runs out (VERDICT r2 #8: silently returning
    unconverged labels would split real components and under-dedup).
    Convergence takes one round per hop of graph diameter; dedup graphs
    are star/clique-shaped (diameter ~2-4), but a pathological chain needs
    ``diameter`` rounds — raise ``max_iterations`` for those."""
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(pairs.select(F.col("id_b").alias("u"),
                                  F.col("id_a").alias("v")))
        .distinct()
    )
    labels = vertices.select(F.col("id"), F.col("id").alias("component"))
    converged = False
    for _ in range(max_iterations):
        neighbor_labels = (
            edges.join(labels.withColumnRenamed("id", "v")
                       .withColumnRenamed("component", "v_component"), "v")
            .select(F.col("u").alias("id"), F.col("v_component"))
        )
        proposals = (
            labels.join(neighbor_labels, "id", "left")
            .groupBy("id")
            .agg(F.least(F.min("component"),
                         F.coalesce(F.min("v_component"),
                                    F.min("component"))).alias("new_component"))
        )
        # checkpoint FIRST, then derive both the changed-count and the
        # next labels from the materialized frame: counting on the lazy
        # plan executed the whole iteration join twice per round
        merged = labels.join(proposals, "id").localCheckpoint(eager=False)
        changed = merged.filter(
            F.col("component") != F.col("new_component")).limit(1).count()
        labels = merged.select("id",
                               F.col("new_component").alias("component"))
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — labels were still propagating; raise "
            "max_iterations (one round per hop of graph diameter)")
    return labels


def dedup_survivors(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """End-to-end near-dup dedup: cluster the candidate pairs, keep one row
    per component (the min-id canonical). The component frame's columns
    are prefixed before the join: a caller whose id column is literally
    named ``id`` (the common case) would otherwise collide with the
    cluster frame's ``id``, making the filter ambiguous and the final
    drop remove the caller's column too."""
    vertices = df.select(F.col(id_col).alias("id"))
    components = connected_components(vertices, pairs).select(
        F.col("id").alias("__dedup_id"),
        F.col("component").alias("__dedup_component"))
    return (
        df.join(components, df[id_col] == components.__dedup_id)
        .filter(F.col("__dedup_id") == F.col("__dedup_component"))
        .drop("__dedup_id", "__dedup_component")
    )


def ngram_jaccard_pairs_prefix(df: DataFrame, text_col: str, id_col: str,
                               k: int = 5,
                               threshold: float = 0.2) -> DataFrame:
    """Same output as :func:`ngram_jaccard_pairs` (all pairs with shingle
    Jaccard >= threshold) through PPJoin-style PREFIX FILTERING — the
    lossless candidate reducer for similarity self-joins at scale.

    Shingles are globally ordered rarest-first (document frequency, then
    shingle); a set A only needs its first ``|A| - ceil(t*|A|) + 1``
    shingles in the candidate join, because two sets with overlap >= a
    must share an element inside both such prefixes (if every common
    element sat past A's prefix, fewer than a could fit). The self-join
    therefore runs over the prefix posting lists only — at t=0.2 that is
    ~20% fewer posting rows and quadratically fewer candidate pairs on
    the hot shingles — and the exact Jaccard verify touches candidate
    pairs alone. Prefix lengths use integer ceil via the threshold's
    exact fraction, so no float edge can shorten a prefix and lose a
    pair. Guarantee: output IDENTICAL to the plain quadratic-candidate
    form (asserted against the same oracle)."""
    from fractions import Fraction

    from pyspark.sql import Window

    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator
    if den > 10**9:
        # the ceil below is exact INTEGER arithmetic (num*sz DIV den);
        # a full-precision float like a computed 1/3 gives den = 1e16,
        # where num*sz overflows bigint for large shingle sets AND a
        # double division would round across integer boundaries,
        # silently shortening prefixes (lost pairs). Refuse loudly
        raise ValueError(
            f"threshold {threshold!r} needs denominator {den} > 1e9; "
            "pass a threshold with at most 9 decimal digits")

    posts = shingle_sets(df, text_col, id_col, k).cache()
    sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = posts.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("id").orderBy("_df", "sh")
    ranked = (posts.join(dfreq, "sh")
              .withColumn("_rk", F.row_number().over(w))
              .join(sizes, "id"))
    # integer ceil(t*sz) = (num*sz + den - 1) DIV den — true integer
    # division: the old double `/` lost exactness past 2^53 (a rounded-up
    # quotient shortened the prefix and silently dropped pairs)
    prefix_len = (F.col("sz")
                  - F.expr(f"CAST(({num}L * sz + {den - 1}L) "
                           f"DIV {den}L AS BIGINT)") + 1)
    prefix = (ranked.filter(F.col("_rk") <= prefix_len)
              .select("id", "sh", "sz"))
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    # PPJoin length filter (lossless, r5 probe-driven): J >= num/den forces
    # den*min(|A|,|B|) >= num*max(|A|,|B|) (intersection <= min, union >=
    # max), so size-discrepant pairs never reach the verify join — exact
    # integer arithmetic, no float edge
    length_ok = (F.lit(den) * F.least(F.col("pa.sz"), F.col("pb.sz"))
                 >= F.lit(num) * F.greatest(F.col("pa.sz"), F.col("pb.sz")))
    candidates = (
        pa.join(pb, (F.col("pa.sh") == F.col("pb.sh"))
                & (F.col("pa.id") < F.col("pb.id")) & length_ok)
        .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
        .distinct())
    # exact verify on candidate pairs only: explode A's postings per
    # candidate, probe B's posting set with an equi-join on (id, sh)
    posts_a = posts.select(F.col("id").alias("id_a"), "sh")
    posts_b = posts.select(F.col("id").alias("id_b"), "sh")
    inter = (candidates.join(posts_a, "id_a")
             .join(posts_b, ["id_b", "sh"])
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -- n-gram containment (asymmetric near-dup: quote/subset detection) -----


def containment_pairs(df: DataFrame, text_col: str, id_col: str,
                      k: int = 5, threshold: float = 0.6,
                      max_doc_freq: int | None = None) -> DataFrame:
    """All pairs with shingle containment |A∩B| / min(|A|,|B|) >= threshold,
    plus which side is the contained one. Containment catches what Jaccard
    misses: a short doc quoted inside a much longer one has tiny Jaccard
    (union is dominated by the long doc) but containment ~1 — the standard
    signal for excerpt/quote dedup in corpus curation.

    Same scale shape as :func:`ngram_jaccard_pairs` — both score the
    pair-overlap frame produced by :func:`_pair_overlaps` (one posting-
    list self-equi-join on shingle + one pair-keyed aggregate, optional
    df-cut bounding per-shingle fan-out); only the scoring differs.
    """
    scored = _pair_overlaps(df, text_col, id_col, k, max_doc_freq)
    return (
        scored.withColumn("containment",
                          F.round(F.col("n_inter")
                                  / F.least("sz_a", "sz_b"), 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment",
                F.when(F.col("sz_a") <= F.col("sz_b"), F.lit("a_in_b"))
                .otherwise(F.lit("b_in_a")).alias("contained"))
    )


# -- sorted-neighborhood method (blocked SNM entity-resolution dedup) ------


def sorted_neighborhood_pairs(df: DataFrame, text_col: str, id_col: str,
                              block_chars: int = 8, key_chars: int = 40,
                              window: int = 8, k: int = 5,
                              threshold: float = 0.2) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernandez & Stolfo 1995): sort
    records by a blocking key (text prefix), compare each record only to
    its ``window`` successors in sort order, verify true shingle Jaccard
    on those candidates. The classic ER blocking method — candidates are
    O(n·window) by construction, no posting-list or signature machinery,
    which makes it the cheap first pass when near-dups share prefixes
    (boilerplate headers, templated docs).

    Scale shape: the sort is NOT global — records are blocked by the
    first ``block_chars`` of the key (production SNM always runs inside
    blocking partitions) and ranked per block, so the window shuffle is
    a per-block hash exchange. Neighbor pairing is an EQUI-join: each
    record explodes into ``window`` (block, rank+offset) probes joined
    back on (block, rank) — never a rank-range theta join. least/greatest
    normalize pair ids (sort order need not follow id order).

    Recall contract: a near-dup pair is found iff the two records land
    within ``window`` ranks inside one block — prefix-divergent dups
    (edits in the first ``block_chars``) are missed; that is the method's
    documented trade (run multiple passes with different keys, or use
    minhash-LSH, when prefixes are unstable)."""
    base = df.select(F.col(id_col).alias("id"),
                     F.col(text_col).alias("_txt"))
    from pyspark.sql import Window as W

    keyed = base.select(
        "id",
        F.substring("_txt", 1, block_chars).alias("blk"),
        F.substring("_txt", 1, key_chars).alias("key"))
    # NULLS LAST pinned on both sort keys (Spark defaults nulls first,
    # DuckDB last — a null text would shift every rank in its block)
    rk_w = W.partitionBy("blk").orderBy(F.asc_nulls_last("key"),
                                        F.asc_nulls_last("id"))
    ranked = (keyed.withColumn("rk", F.row_number().over(rk_w))
              .select("id", "blk", "rk"))
    probes = (ranked.select(
        "id", "blk", "rk",
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("off"))
        .select("id", "blk", (F.col("rk") + F.col("off")).alias("rk2")))
    cand = (probes.alias("a")
            .join(ranked.alias("b"),
                  (F.col("a.blk") == F.col("b.blk"))
                  & (F.col("a.rk2") == F.col("b.rk")))
            .select(F.least("a.id", "b.id").alias("id_a"),
                    F.greatest("a.id", "b.id").alias("id_b")))
    shingle_map = _with_shingles(df, text_col, id_col, k)
    return verify_jaccard_pairs(cand, shingle_map, threshold)


def sorted_neighborhood_pairs_sql(source_sql: str, posts_cte_name: str,
                                  text_col: str, id_col: str,
                                  block_chars: int = 8, key_chars: int = 40,
                                  window: int = 8,
                                  threshold: float = 0.2) -> str:
    """DuckDB mirror of :func:`sorted_neighborhood_pairs` as a CTE tail:
    the caller provides the doc source and the name of an existing
    (id, sh) posting-list CTE over the SAME source (:func:`posts_cte_sql`),
    so the shingle derivation is shared with the other jaccard oracles.
    Returns the full text AFTER the caller's WITH-list."""
    return f"""
    snm_ranked AS (
        SELECT {id_col} AS id,
               substring({text_col}, 1, {block_chars}) AS blk,
               row_number() OVER (
                   PARTITION BY substring({text_col}, 1, {block_chars})
                   ORDER BY substring({text_col}, 1, {key_chars}) NULLS LAST,
                            {id_col} NULLS LAST) AS rk
        FROM {source_sql}
    ),
    snm_cand AS (
        SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
        FROM snm_ranked a
        JOIN snm_ranked b
          ON a.blk = b.blk AND b.rk > a.rk AND b.rk <= a.rk + {window}
    ),
    snm_sizes AS (
        SELECT id, count(*) AS sz FROM {posts_cte_name} GROUP BY id
    ),
    snm_inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM snm_cand c
        JOIN {posts_cte_name} pa ON pa.id = c.id_a
        JOIN {posts_cte_name} pb ON pb.id = c.id_b AND pb.sh = pa.sh
        GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           round(n_inter / (sa.sz + sb.sz - n_inter), 6) AS jaccard
    FROM snm_inter i
    JOIN snm_sizes sa ON sa.id = i.id_a
    JOIN snm_sizes sb ON sb.id = i.id_b
    WHERE round(n_inter / (sa.sz + sb.sz - n_inter), 6) >= {threshold}
    """


# -- DuckDB mirrors of the k=5 shingle derivation -----------------------------
# One spelling of shingle_sets' k=5 rows for every oracle that needs them,
# so the k arithmetic and the tokenizer cannot drift between mirrors.
# (decontam._shingles_sql spells the same derivation for any k with a
# DISTINCT; the oracle strings built from each are pinned byte for byte,
# so the two texts cannot be merged without changing an oracle.)


def shingle_rows_sql(source_sql: str) -> str:
    """(doc_id, sh) rows of ``source_sql`` (doc_id, text), multiplicity
    kept — the DuckDB mirror of :func:`shingle_sets` at k=5."""
    return f"""
        SELECT doc_id, sh FROM (
            SELECT doc_id,
                   CASE WHEN len(words) < 5 THEN [trim(text)]
                        ELSE list_transform(range(1, len(words) - 3),
                             i -> array_to_string(words[i:i+4], ' '))
                   END AS shs
            FROM (SELECT doc_id, text,
                         list_filter(regexp_split_to_array(trim(text), '{WS_TOKEN_SPLIT}'), x -> x != '') AS words
                  FROM {source_sql})
        ), unnest(shs) AS t(sh)
    """


def shingles_sql(source_sql: str) -> str:
    """(sh) rows of :func:`shingle_rows_sql`, without the id column."""
    return f"SELECT sh FROM ({shingle_rows_sql(source_sql)})"


def posts_cte_sql(source_sql: str) -> str:
    """The ``posts`` (id, sh) posting-list CTE over a doc source — the
    SQL mirror of :func:`shingle_sets`."""
    return f"""
    posts AS (
        SELECT DISTINCT doc_id AS id, sh
        FROM ({shingle_rows_sql(source_sql)})
    )
"""


def jaccard_tail_sql(posts: str) -> str:
    """Exact pairwise shingle Jaccard >= 0.15 over the (id, sh) CTE
    ``posts``: the quadratic posting self-join the LSH operators are
    checked against (appended after a WITH list)."""
    return f"""
    sizes AS (SELECT id, count(*) AS sz FROM {posts} GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
        FROM {posts} a JOIN {posts} b ON a.sh = b.sh AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           round(n_inter / (sa.sz + sb.sz - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE round(n_inter / (sa.sz + sb.sz - n_inter), 6) >= 0.15
"""


def containment_tail_sql(threshold: float) -> str:
    """DuckDB mirror of :func:`containment_pairs` over the ``posts`` CTE
    (appended after a WITH list)."""
    return f"""
    sizes AS (SELECT id, count(*) AS sz FROM posts GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
        FROM posts a JOIN posts b ON a.sh = b.sh AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           round(n_inter / least(sa.sz, sb.sz), 6) AS containment,
           CASE WHEN sa.sz <= sb.sz THEN 'a_in_b' ELSE 'b_in_a' END
               AS contained
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE round(n_inter / least(sa.sz, sb.sz), 6) >= {threshold}
"""

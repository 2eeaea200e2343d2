"""Streaming-sketch operators: heavy hitters, bloom-prefiltered joins,
frequency moments.

The reference delegates its relational surface to DataFusion and has no
sketch layer; these are the scale primitives a 100 TB curation pipeline
leans on before any expensive shuffle:

- ``heavy_hitters``: distributed Misra-Gries. Each partition keeps a
  bounded counter map (mapInPandas, vectorized per Arrow batch), the
  candidate union is provably a superset of every item with global
  frequency >= n/capacity, and a broadcast semi-join recounts only the
  candidates exactly. Output is therefore IDENTICAL to the exact
  ``GROUP BY .. HAVING`` — a sketch plan with an exact oracle.
- ``bloom_prefilter_join``: builds a bloom filter from the dim side's
  join keys (k md5-derived hex-prefix buckets — the same engine-portable
  hash trick as functions/splits.py, so DuckDB mirrors it bit-for-bit)
  and drops fact rows before the shuffle. This is the manual form of the
  runtime row-group bloom pushdown Spark applies under AQE; expressed
  explicitly so the reduction is testable and the false-positive rate
  observable.
- ``freq_moments``: F0/F1/F2/max over a key column. F2 (the "surprise
  number", sum of squared frequencies) is the exact size of a self
  equi-join on that key — the number to check BEFORE launching a 100 TB
  join; F2/F1 is the average fan-out, max_freq the worst skew cell.

All three have exact ANSI-SQL mirrors (no approximation leaks into the
output contract — approximation only bounds intermediate state).
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, functions as F


# -- heavy hitters (Misra-Gries) ------------------------------------------


def _misra_gries_partition(value_col: str, capacity: int):
    """mapInPandas body: bounded-memory candidate counters per partition.

    Vectorized: each Arrow batch is reduced with ``value_counts`` first,
    then merged into the running counter dict; the Misra-Gries decrement
    (subtract the smallest surviving weight from everyone, drop <= 0)
    runs only when the dict overflows ``capacity``. State is O(capacity)
    regardless of partition size."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n_part = 0
        for batch in batches:
            n_part += len(batch)
            for value, cnt in batch[value_col].value_counts().items():
                counters[value] = counters.get(value, 0) + int(cnt)
            if len(counters) > capacity:
                # decrement by the (capacity+1)-th largest weight: in one
                # step this removes at least all but `capacity` entries
                # while preserving the MG error bound (each surviving
                # weight undercounts by at most the total decremented).
                cut = sorted(counters.values(), reverse=True)[capacity]
                counters = {v: c - cut for v, c in counters.items()
                            if c - cut > 0}
        # candidates carry a NULL count; one extra row per partition
        # carries the partition's row count (value NULL — real NULLs were
        # filtered upstream), so the caller derives n without its own
        # count() scan of the column.
        yield pd.DataFrame({
            value_col: list(counters.keys()) + [None],
            "_n_part": [None] * len(counters) + [n_part],
        })

    return run


def heavy_hitters(df: DataFrame, value_col: str, min_frac: float,
                  capacity: int | None = None) -> DataFrame:
    """Exact heavy hitters (frequency >= ``min_frac`` of all rows) via a
    Misra-Gries candidate pass + exact recount.

    Correctness: an item with global count > n/capacity must exceed
    n_p/capacity in at least one partition (pigeonhole), and per-partition
    Misra-Gries with ``capacity`` counters never evicts such an item — so
    with ``capacity >= 1/min_frac`` the candidate union is a superset of
    every true heavy hitter, and the broadcast-semi-join recount makes the
    final output exactly ``GROUP BY value HAVING count >= ceil(min_frac*n)``.

    Scale shape: the full column is scanned exactly TWICE and SHUFFLED
    never — the candidate pass also emits per-partition row counts, so n
    (and the threshold) come from the same tiny materialized output
    instead of a third count() scan; stage 2's recount groupBy is
    map-side-combined down to <= partitions x |candidates| rows before
    its exchange. The threshold enters the plan as a one-row broadcast
    scalar (a pinned scalar crossJoin, not a driver constant).
    """
    if not 0 < min_frac <= 1:
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    if capacity is None:
        capacity = max(8, math.ceil(2.0 / min_frac))
    if capacity < math.ceil(1.0 / min_frac):
        raise ValueError(
            f"capacity {capacity} < 1/min_frac — the Misra-Gries superset "
            "guarantee would not hold; raise capacity or min_frac")
    # nulls are excluded on both sides (pandas value_counts drops NaN, so
    # a frequent-null column would silently miss the candidate pass)
    src = df.select(value_col).filter(F.col(value_col).isNotNull())
    vtype = src.schema[value_col].dataType.simpleString()
    # localCheckpoint materializes the MG pass ONCE (its output is tiny by
    # construction: <= partitions x (capacity + 1) rows), so deriving both
    # the candidate set and n from it does not re-scan the column
    cand_counts = src.mapInPandas(
        _misra_gries_partition(value_col, capacity),
        schema=f"`{value_col}` {vtype}, _n_part bigint").localCheckpoint(eager=False)
    candidates = (cand_counts.filter(F.col("_n_part").isNull())
                  .select(value_col).distinct())
    total = cand_counts.agg(
        F.coalesce(F.sum("_n_part"), F.lit(0)).alias("_total"))
    return (src.join(F.broadcast(candidates), value_col, "left_semi")
            .groupBy(value_col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("cnt")
                    >= F.ceil(F.lit(float(min_frac)) * F.col("_total")))
            .select(value_col, "cnt"))


def heavy_hitters_sql(source_sql: str, value_col: str,
                      min_frac: float) -> str:
    """DuckDB mirror of :func:`heavy_hitters` (exact form)."""
    return f"""
        SELECT {value_col}, count(*) AS cnt
        FROM {source_sql}
        WHERE {value_col} IS NOT NULL
        GROUP BY {value_col}
        HAVING count(*) >= ceil(CAST({min_frac} AS DOUBLE) * (
            SELECT count(*) FROM {source_sql}
            WHERE {value_col} IS NOT NULL))
    """


# -- bloom-prefiltered join -----------------------------------------------

_BLOOM_HEX_CHARS = 3  # 16^3 = 4096 buckets per hash function


def _bloom_bucket(key: F.Column, i: int) -> F.Column:
    """i-th bloom position: first 3 hex chars of md5(key || ':' || i).
    Hex-prefix buckets (not modulo) keep the value a plain string both
    engines compute identically — no hex-to-int conversion exists in
    common between Spark and DuckDB."""
    return F.substring(
        F.md5(F.concat(key.cast("string"), F.lit(f":{i}"))),
        1, _BLOOM_HEX_CHARS)


def _bloom_bucket_sql(key_sql: str, i: int) -> str:
    return (f"substr(md5(CAST({key_sql} AS VARCHAR) || ':{i}'), "
            f"1, {_BLOOM_HEX_CHARS})")


def bloom_prefilter_join_stats(fact: DataFrame, dim: DataFrame,
                               fact_key: str, dim_key: str,
                               n_hashes: int = 3) -> DataFrame:
    """One-row summary of a bloom-prefiltered join:
    ``(n_fact, n_pass_bloom, n_true_match)``.

    The filter is built from the dim side's keys as the distinct set of
    occupied (hash_i, bucket) cells — at most ``n_hashes * 4096`` rows
    regardless of dim size — and broadcast. A fact row survives only if
    ALL ``n_hashes`` of its buckets are occupied. The whole summary is
    ONE pass over the fact table: each bucket membership is a broadcast
    LEFT join against its tiny cell set, the true-match probe a broadcast
    LEFT join against the distinct dim keys, and the three counts fold
    into a single aggregate — the fact side is never shuffled and never
    re-scanned. ``n_pass_bloom - n_true_match`` exposes the
    false-positive overhang for tuning (more hashes / more bucket chars).

    In a real pipeline the ``passed`` predicate (conjunction of bucket
    hits) IS the prefilter applied before the expensive join; this stats
    form exists so the reduction ratio is an oracle-checkable output.
    """
    # each hash's occupied-bucket set is distinct'ed directly from dim:
    # map-side combine caps every exchange at 4096 bucket strings. (A
    # joint (b0..bn-1) tuple distinct first would shuffle up to
    # min(|dim|, 4096^n) rows — unbounded in dim — for no benefit.)
    marked = fact.select(F.col(fact_key))
    for i in range(n_hashes):
        cell_i = F.broadcast(
            dim.select(_bloom_bucket(F.col(dim_key), i).alias(f"__c{i}"))
            .distinct()
            .withColumn(f"__hit{i}", F.lit(True)))
        marked = marked.join(
            cell_i,
            _bloom_bucket(F.col(fact_key), i) == F.col(f"__c{i}"),
            "left")
    dim_keys = F.broadcast(
        dim.select(F.col(dim_key).alias(fact_key)).distinct()
        .withColumn("__dimhit", F.lit(True)))
    marked = marked.join(dim_keys, fact_key, "left")
    passes = reduce(
        lambda a, b: a & b,
        [F.coalesce(F.col(f"__hit{i}"), F.lit(False))
         for i in range(n_hashes)])
    return marked.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.coalesce(F.sum(passes.cast("long")),
                   F.lit(0).cast("long")).alias("n_pass_bloom"),
        F.coalesce(F.sum((passes &
                          F.coalesce(F.col("__dimhit"), F.lit(False)))
                         .cast("long")),
                   F.lit(0).cast("long")).alias("n_true_match"))


def bloom_prefilter_join_stats_sql(fact_sql: str, dim_sql: str,
                                   fact_key: str, dim_key: str,
                                   n_hashes: int = 3) -> str:
    """DuckDB mirror: same md5 hex-prefix buckets, same ALL-buckets-
    occupied semantics via per-hash IN subqueries."""
    bloom_conds = " AND ".join(
        f"{_bloom_bucket_sql('f.' + fact_key, i)} IN "
        f"(SELECT {_bloom_bucket_sql(dim_key, i)} FROM {dim_sql})"
        for i in range(n_hashes))
    return f"""
        SELECT
            (SELECT count(*) FROM {fact_sql}) AS n_fact,
            (SELECT count(*) FROM {fact_sql} f
             WHERE {bloom_conds}) AS n_pass_bloom,
            (SELECT count(*) FROM {fact_sql} f
             WHERE {bloom_conds}
               AND f.{fact_key} IN (SELECT {dim_key} FROM {dim_sql}))
              AS n_true_match
    """


# -- frequency moments ----------------------------------------------------


def freq_moments(df: DataFrame, key_col: str) -> DataFrame:
    """One row ``(f1, f0, f2, max_freq)`` over ``key_col``:
    row count, distinct count, sum of squared frequencies, and the
    heaviest key's frequency.

    F2 is exactly the output size of a self equi-join on ``key_col`` and
    F2/F1 the mean join fan-out — the pre-flight numbers for sizing a
    shuffle join at 100 TB; ``max_freq`` is the skew ceiling a single
    reducer would absorb (salt when max_freq >> F1/F0). One shuffle with
    map-side partial aggregation; the second-level agg sees one row per
    distinct key."""
    per_key = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("freq"))
    return per_key.agg(
        F.sum("freq").alias("f1"),
        F.count(F.lit(1)).alias("f0"),
        F.sum(F.col("freq") * F.col("freq")).alias("f2"),
        F.max("freq").alias("max_freq"))


def freq_moments_sql(source_sql: str, key_col: str) -> str:
    """DuckDB mirror of :func:`freq_moments`."""
    return f"""
        SELECT CAST(sum(freq) AS BIGINT) AS f1, count(*) AS f0,
               CAST(sum(freq * freq) AS BIGINT) AS f2, max(freq) AS max_freq
        FROM (
            SELECT {key_col}, count(*) AS freq
            FROM {source_sql} GROUP BY {key_col}
        )
    """


# -- KMV (k-minimum-values) distinct sketch ------------------------------------

# 60-bit hash space: 15 hex chars keep conv()/CAST('0x..') inside int64
# on both engines (the full 16-char md5 prefix can exceed 2^63-1), and a
# FIXED-width hex string orders lexicographically == numerically, so the
# k-minimum selection itself never converts to int.
_KMV_HEX = 15
_KMV_SPACE = float(1 << 60)


def _kmv_hash(value: F.Column, salt: str) -> F.Column:
    return F.substring(
        F.md5(F.concat(value.cast("string"), F.lit(f":{salt}"))),
        1, _KMV_HEX)


def _kmv_hash_sql(value_sql: str, salt: str) -> str:
    return (f"substr(md5(CAST({value_sql} AS VARCHAR) || ':{salt}'), "
            f"1, {_KMV_HEX})")


def kmv_partials(df: DataFrame, group_col: str, value_col: str,
                 k: int, salt: str = "kmv1") -> DataFrame:
    """(group, h) — the k smallest DISTINCT value hashes per group: the
    MERGEABLE state of the Beyer et al. (2007) KMV distinct sketch.
    Bounded per-group state (k hex strings); partials from different
    groups / days / partitions merge by union + re-taking the k minima,
    never rescanning raw rows. One hash aggregate (distinct) + one
    vocabulary-sized rank per group."""
    from pyspark.sql import Window

    hashed = (df.select(F.col(group_col).alias("g"),
                        _kmv_hash(F.col(value_col), salt).alias("h"))
              .distinct())
    w = Window.partitionBy("g").orderBy("h")
    return (hashed.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= k).drop("__r"))


def kmv_merge(partials: DataFrame, k: int) -> DataFrame:
    """Merge ALL groups' partials into the '__all__' union sketch —
    distinct hashes across groups, k smallest kept. The union-estimate
    path that never touches raw rows."""
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy("h")
    return (partials.select(F.lit("__all__").alias("g"), "h").distinct()
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= k).drop("__r"))


def kmv_estimate(partials: DataFrame, k: int) -> DataFrame:
    """(g, n_est) from a (g, h) sketch: if the sketch holds fewer than k
    hashes the group's distinct count is EXACT (= sketch size); else the
    Beyer et al. estimator ``(k-1) / h_k`` with h_k the k-th minimum
    normalized into [0,1). The only doubles are one multiply + divide of
    exact integers — identical bits on both engines, so ``n_est`` is
    deliberately NOT rounded (rounding is where the engines' impls
    diverge, see mlprep.target_encode_loo)."""
    agg = partials.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_h"),
        # fixed-width hex: lexicographic max == numeric max == h_k (the
        # k-th minimum is the largest hash the sketch kept)
        F.conv(F.max("h"), 16, 10).cast("bigint").alias("h_k"))
    est = F.when(
        F.col("n_h") < k, F.col("n_h").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_SPACE)
        / F.col("h_k").cast("double"))
    return agg.select("g", est.alias("n_est"))


def kmv_sql(source_sql: str, group_col: str, value_col: str, k: int,
            salt: str = "kmv1") -> str:
    """DuckDB mirror of the whole partials → merge → estimate pipeline,
    emitting (g, n_est) for every group AND the merged '__all__' row —
    the same CTE derivation shape the Spark side composes."""
    return f"""
        WITH hashed AS (
            SELECT DISTINCT {group_col} AS g,
                   {_kmv_hash_sql(value_col, salt)} AS h
            FROM {source_sql}
        ),
        partials AS (
            SELECT g, h FROM (
                SELECT g, h,
                       row_number() OVER (PARTITION BY g ORDER BY h) AS r
                FROM hashed
            ) WHERE r <= {k}
        ),
        merged AS (
            SELECT g, h FROM (
                SELECT '__all__' AS g, h,
                       row_number() OVER (ORDER BY h) AS r
                FROM (SELECT DISTINCT h FROM partials)
            ) WHERE r <= {k}
        ),
        sketches AS (
            SELECT * FROM partials UNION ALL SELECT * FROM merged
        )
        SELECT g,
               CASE WHEN count(*) < {k}
                    THEN CAST(count(*) AS DOUBLE)
                    ELSE {float(k - 1)!r} * {_KMV_SPACE!r}
                         / CAST(CAST('0x' || max(h) AS BIGINT)
                                AS DOUBLE) END AS n_est
        FROM sketches GROUP BY g
    """


def kmv_overlap(partials: DataFrame, k: int,
                g_a: str, g_b: str) -> DataFrame:
    """Sketch-level set algebra (Beyer et al. 2007 §5): estimate the
    Jaccard similarity and intersection size of two sets from their
    2×k-hash KMV sketches alone — no join of raw rows.

    Given ``partials`` (g, h) holding the sketches of groups ``g_a`` and
    ``g_b``, form the combined sketch L = the k smallest distinct hashes
    of L_A ∪ L_B. For h ∈ L, membership is decidable FROM THE SKETCHES:
    h ∈ A ⟺ h ∈ L_A (if h ∈ A were missing from L_A, at least k hashes
    of A alone would precede h, so h could not be among the union's k
    smallest). With K∩ = |{h ∈ L : h ∈ L_A ∧ h ∈ L_B}|:

        jaccard_est = K∩ / k_eff              (unbiased for |A∩B|/|A∪B|)
        union_est   = (k-1)·2⁶⁰ / h_k          (the KMV union estimate)
        inter_est   = jaccard_est · union_est

    When the combined sketch holds FEWER than k hashes it contains every
    union hash, so all three outputs are exact (union_est = |L|,
    jaccard's denominator k_eff = |L|). The only doubles are divisions /
    one product of exact integers in a fixed shape — engine-bit-exact
    (the kmv_estimate contract). One row:
    (k_eff, k_inter, union_est, jaccard_est, inter_est).

    Scale posture: the input is two k-row sketches, so this runs on 2×k
    hex strings regardless of corpus size — the sketch-level sibling of
    ``corpusstats.corpus_overlap``'s exact distinct-shingle equi-join.
    Sketches of BOTH sets must be built with the same k and salt;
    mixing salts silently estimates the overlap of unrelated hash sets.
    """
    from pyspark.sql import Window

    flags = (partials.filter(F.col("g").isin([g_a, g_b]))
             .groupBy("h")
             .agg(F.max(F.when(F.col("g") == g_a, 1).otherwise(0))
                  .alias("in_a"),
                  F.max(F.when(F.col("g") == g_b, 1).otherwise(0))
                  .alias("in_b")))
    w = Window.orderBy("h")  # 2k rows max — single-partition sort is fine
    combined = (flags.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= k).drop("__r"))
    agg = combined.agg(
        F.count(F.lit(1)).alias("k_eff"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("k_inter"),
        F.conv(F.max("h"), 16, 10).cast("bigint").alias("h_k"))
    exact = F.col("k_eff") < k
    union_est = F.when(exact, F.col("k_eff").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_SPACE)
        / F.col("h_k").cast("double"))
    jac = (F.col("k_inter").cast("double")
           / F.col("k_eff").cast("double"))
    return (agg
            .withColumn("union_est", union_est)
            .withColumn("jaccard_est", jac)
            .withColumn("inter_est", F.col("jaccard_est")
                        * F.col("union_est"))
            .select("k_eff", "k_inter", "union_est", "jaccard_est",
                    "inter_est"))


def kmv_overlap_sql(partials_sql: str, k: int, g_a: str, g_b: str) -> str:
    """DuckDB mirror of :func:`kmv_overlap` over the same (g, h)
    partials relation — identical estimator shapes, so every double is
    bit-equal (hex→int spelled per engine, the kmv_sql convention)."""
    return f"""
        WITH flags AS (
            SELECT h,
                   MAX(CASE WHEN g = '{g_a}' THEN 1 ELSE 0 END) AS in_a,
                   MAX(CASE WHEN g = '{g_b}' THEN 1 ELSE 0 END) AS in_b
            FROM ({partials_sql}) WHERE g IN ('{g_a}', '{g_b}')
            GROUP BY h
        ),
        combined AS (
            SELECT h, in_a, in_b FROM (
                SELECT h, in_a, in_b,
                       row_number() OVER (ORDER BY h) AS r
                FROM flags
            ) WHERE r <= {k}
        ),
        agg AS (
            SELECT count(*) AS k_eff,
                   CAST(sum(in_a * in_b) AS BIGINT) AS k_inter,
                   CAST('0x' || max(h) AS BIGINT) AS h_k
            FROM combined
        )
        SELECT k_eff, k_inter, union_est, jaccard_est,
               jaccard_est * union_est AS inter_est
        FROM (
            SELECT k_eff, k_inter,
                   CASE WHEN k_eff < {k} THEN CAST(k_eff AS DOUBLE)
                        ELSE {float(k - 1)!r} * {_KMV_SPACE!r}
                             / CAST(h_k AS DOUBLE) END AS union_est,
                   CAST(k_inter AS DOUBLE) / CAST(k_eff AS DOUBLE)
                       AS jaccard_est
            FROM agg
        )
    """


# -- count-min sketch ---------------------------------------------------------

# Cormode & Muthukrishnan (2005): depth d hash rows of width w counters;
# point estimate = min over rows; overcount <= e*N/w with prob 1-e^-d.
# The registry attestation uses the looser integer bound 3*N/w (3 > e)
# so the check is engine-exact: (est - true) * w <= 3 * N, all BIGINT.


_CM_MAX_DEPTH = 4  # 32 md5 hex chars / 8-char slices


def _cm_hash(key: F.Column) -> F.Column:
    """ONE md5 per row; the d-th hash row slices hex chars
    [8d+1, 8d+8] of the same digest (depth <= 4) — the engine-portable
    family the repo uses everywhere (md5 is identical across engines;
    xxhash64 is not in DuckDB), at 1/depth the hashing cost of a
    per-(row, d) salt on the dominant raw scan (r8 review)."""
    return F.md5(F.concat(key.cast("string"), F.lit(":cm")))


def _cm_bucket(hash_col: str, d_col: str, width: int) -> F.Column:
    return (F.conv(F.expr(f"substring({hash_col}, {d_col} * 8 + 1, 8)"),
                   16, 10).cast("bigint") % width)


def _cm_bucket_sql(key_sql: str, d_sql: str, width: int) -> str:
    return (f"(CAST(('0x' || substr(md5(CAST({key_sql} AS VARCHAR) "
            f"|| ':cm'), {d_sql} * 8 + 1, 8)) AS BIGINT)"
            f" % {width})")


def cm_sketch(df: DataFrame, key_col: str, depth: int,
              width: int) -> DataFrame:
    """Build the count-min sketch of a key column: (d, bucket, c) —
    ``depth * width`` bounded counters regardless of input size.
    Sketches MERGE by summing counters on (d, bucket), so per-partition
    / per-day partials roll up without rescanning raw rows (Spark's
    partial aggregation does exactly this map-side). The depth fan-out
    is an explode of ``depth`` literals AFTER the one-per-row md5, not
    a join and not depth hashes."""
    if not 1 <= depth <= _CM_MAX_DEPTH:
        raise ValueError(f"depth must be 1..{_CM_MAX_DEPTH} "
                         f"(8-hex slices of one md5), got {depth}")
    d = F.explode(F.array([F.lit(i) for i in range(depth)])).alias("d")
    return (df.select(_cm_hash(F.col(key_col)).alias("__h"), d)
            .select("d", _cm_bucket("__h", "d", width).alias("bucket"))
            .groupBy("d", "bucket")
            .agg(F.count(F.lit(1)).alias("c")))


def cm_probe(spark, sketch: DataFrame, raw: DataFrame, key_col: str,
             probe_keys: Sequence[int], depth: int,
             width: int) -> DataFrame:
    """Point-frequency estimates for ``probe_keys`` against the sketch,
    with the exact counts alongside and two engine-exact attestations:
    ``ge_ok`` (CM never undercounts) and ``bound_ok``
    ((est − true)·w ≤ 3·N, the 3/w·N overcount bound). Returns
    (key, n_true, n_est, ge_ok, bound_ok). The probe side is
    literal-sized; its sketch join touches depth·|probes| counter rows.
    N comes from summing the sketch's own d=0 counters (no extra raw
    scan) and rides in on a one-row broadcast (the usual scalar
    crossJoin); the only raw-table passes are the sketch build and the
    predicate-pruned exact recount of the probe keys."""
    # the sketch is depth*width-bounded by construction; materializing
    # it once serves both the lookup join and the N derivation below
    # without re-running the sketch aggregate (and its raw scan) twice
    sketch = sketch.localCheckpoint(eager=True)  # eager on purpose (r10): the probe join and the N aggregate consume it in PARALLEL subtrees of one job; lazy measured a consistent small penalty from concurrent duplicate materialization
    probes = spark.createDataFrame(
        [(int(k),) for k in probe_keys], f"{key_col} bigint")
    if not 1 <= depth <= _CM_MAX_DEPTH:
        raise ValueError(f"depth must be 1..{_CM_MAX_DEPTH} "
                         f"(8-hex slices of one md5), got {depth}")
    d = F.explode(F.array([F.lit(i) for i in range(depth)])).alias("d")
    lookups = (probes.select(F.col(key_col).alias("k"),
                             _cm_hash(F.col(key_col)).alias("__h"), d)
               .withColumn("bucket", _cm_bucket("__h", "d", width)))
    ests = (lookups.join(sketch, ["d", "bucket"], "left")
            .groupBy("k")
            .agg(F.min(F.coalesce(F.col("c"), F.lit(0)))
                 .alias("n_est")))
    truth = (raw.filter(F.col(key_col).isin([int(k) for k in
                                             probe_keys]))
             .groupBy(F.col(key_col).alias("k"))
             .agg(F.count(F.lit(1)).alias("n_true")))
    # N = the sum of any one hash row's counters — read it from the
    # materialized sketch instead of a third scan of the raw table
    total = (sketch.filter(F.col("d") == 0)
             .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n_total")))
    out = (ests.join(truth, "k", "left")
           .withColumn("n_true", F.coalesce(F.col("n_true"),
                                            F.lit(0)))
           .crossJoin(F.broadcast(total)))
    return out.select(
        F.col("k").alias(key_col), "n_true", "n_est",
        (F.col("n_est") >= F.col("n_true")).alias("ge_ok"),
        ((F.col("n_est") - F.col("n_true")) * width
         <= 3 * F.col("n_total")).alias("bound_ok"))


def cm_probe_sql(source_sql: str, key_col: str,
                 probe_keys: Sequence[int], depth: int,
                 width: int) -> str:
    """DuckDB mirror of :func:`cm_sketch` + :func:`cm_probe`: the same
    md5 hash family, counters, min-over-rows estimate, and integer
    attestations. All columns integer/boolean — no doubles anywhere, so
    no shared-tail machinery is needed for bit-exactness."""
    keys_list = ", ".join(str(int(k)) for k in probe_keys)
    return f"""
        WITH src AS ({source_sql}),
        sketch AS (
            SELECT d, {_cm_bucket_sql(key_col, 'd', width)} AS bucket,
                   CAST(count(*) AS BIGINT) AS c
            FROM src CROSS JOIN (SELECT UNNEST(range({depth})) AS d)
            GROUP BY 1, 2
        ),
        probes AS (SELECT CAST(UNNEST(ARRAY[{keys_list}]) AS BIGINT)
                          AS k),
        lookups AS (
            SELECT k, d,
                   {_cm_bucket_sql('k', 'd', width)} AS bucket
            FROM probes CROSS JOIN (SELECT UNNEST(range({depth})) AS d)
        ),
        ests AS (
            SELECT k, CAST(min(coalesce(s.c, 0)) AS BIGINT) AS n_est
            FROM lookups l LEFT JOIN sketch s USING (d, bucket)
            GROUP BY k
        ),
        truth AS (
            SELECT {key_col} AS k, CAST(count(*) AS BIGINT) AS n_true
            FROM src WHERE {key_col} IN ({keys_list})
            GROUP BY 1
        ),
        total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM src)
        SELECT e.k AS {key_col},
               CAST(coalesce(t.n_true, 0) AS BIGINT) AS n_true, e.n_est,
               e.n_est >= coalesce(t.n_true, 0) AS ge_ok,
               (e.n_est - coalesce(t.n_true, 0)) * {width}
                   <= 3 * n_total AS bound_ok
        FROM ests e LEFT JOIN truth t USING (k) CROSS JOIN total
    """


# -- exact percentiles over value-frequency partials --------------------------


def percentile_tail_sql(freq_src: str, ps: tuple[float, float, float],
                        group_as: str) -> str:
    """Exact discrete percentiles ``ps`` (the p50/p90/p99 columns, in
    cents) per group (named ``group_as``) over a (g, v, cnt) frequency
    source: the smallest v whose cumulative count reaches ceil(p * n).
    Appended after a WITH list (starts with the cum CTE); Spark and
    DuckDB parse the same text, so a merged '__all__' group's
    percentiles come from summing the per-group partials."""
    return f"""cum AS (
        SELECT g, v,
               sum(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
               sum(cnt) OVER (PARTITION BY g) AS n
        FROM {freq_src}
    )
    SELECT g AS {group_as}, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum >= ceil({ps[0]!r} * n) THEN v END)
                AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN cum >= ceil({ps[1]!r} * n) THEN v END)
                AS BIGINT) AS p90_cents,
           CAST(min(CASE WHEN cum >= ceil({ps[2]!r} * n) THEN v END)
                AS BIGINT) AS p99_cents
    FROM cum GROUP BY g
"""


def percentile_approx_ok(values: DataFrame, freq: DataFrame,
                         ps: Sequence[float], accuracy: int, group_as: str,
                         corrupt: int = 0) -> DataFrame:
    """(``group_as``, approx_ok): does ``percentile_approx`` over the (g, v)
    ``values`` agree with the (g, v, cnt) frequency distribution
    ``freq`` within its rank-error guarantee (n/accuracy, +2 slack for
    rank-convention differences)? Checked per group AND for a merged
    '__all__' group. ``corrupt`` shifts the sketch output before the
    check — the non-vacuousness knob that proves the bound can fail."""
    ps = list(ps)
    apx_expr = F.expr(
        f"percentile_approx(v, array({', '.join(map(repr, ps))}), "
        f"{accuracy})").alias("apx")
    apx = (values.groupBy("g").agg(apx_expr)
           .unionByName(values.agg(apx_expr)
                        .withColumn("g", F.lit("__all__"))))
    if corrupt:
        apx = apx.withColumn(
            "apx", F.transform("apx", lambda x: x + F.lit(corrupt)))
    aggs = [F.sum("cnt").alias("n")]
    for i in range(len(ps)):
        aggs.append(F.sum(F.when(F.col("v") <= F.col("apx")[i],
                                 F.col("cnt"))).alias(f"le{i}"))
        aggs.append(F.sum(F.when(F.col("v") < F.col("apx")[i],
                                 F.col("cnt"))).alias(f"lt{i}"))
    ranked = freq.join(F.broadcast(apx), "g").groupBy("g").agg(*aggs)
    tol = F.ceil(F.col("n") / F.lit(accuracy)) + F.lit(2)
    ok = F.lit(True)
    for i, p in enumerate(ps):
        target = F.ceil(F.lit(p) * F.col("n"))
        ok = (ok
              & (F.coalesce(F.col(f"le{i}"), F.lit(0)) >= target - tol)
              & (F.coalesce(F.col(f"lt{i}"), F.lit(0)) <= target + tol))
    return ranked.select(F.col("g").alias(group_as), ok.alias("approx_ok"))


# -- in-plan attestation of the rollup sketches -------------------------------


def kmv_rollup_check(df: DataFrame, group_col: str, value_col: str, k: int,
                     rel_bound: float) -> DataFrame:
    """Distinct ``value_col`` per group AND overall, twice: exactly (the
    attestation side) and from the KMV sketch (the rollup side — the
    '__all__' row comes from MERGING the per-group partials, never
    rescanning ``df``). ``est_ok`` bounds the relative error; both
    engines compute the identical division, so the flag and the raw
    estimate hash-match."""
    partials = kmv_partials(df, group_col, value_col, k)
    partials = partials.localCheckpoint(eager=True)  # merge reuses them
    ests = kmv_estimate(partials.unionByName(kmv_merge(partials, k)), k)
    exact = (df.groupBy(F.col(group_col).alias("g"))
             .agg(F.countDistinct(value_col).alias("n_exact"))
             .unionByName(
                 df.agg(F.countDistinct(value_col).alias("n_exact"))
                 .withColumn("g", F.lit("__all__"))))
    ok = (F.abs(F.col("n_est") / F.col("n_exact") - 1.0)
          <= F.lit(rel_bound))
    return (exact.join(ests, "g")
            .select(F.col("g").alias(group_col), "n_exact", "n_est",
                    ok.alias("est_ok")))


def kmv_rollup_check_sql(source_sql: str, group_col: str, value_col: str,
                         k: int, rel_bound: float) -> str:
    """DuckDB mirror of :func:`kmv_rollup_check`."""
    return f"""
    WITH ests AS ({kmv_sql(source_sql, group_col, value_col,
                           k)}),
    exact AS (
        SELECT {group_col} AS g,
               CAST(count(DISTINCT {value_col}) AS BIGINT) AS n_exact
        FROM {source_sql} GROUP BY {group_col}
        UNION ALL
        SELECT '__all__' AS g,
               CAST(count(DISTINCT {value_col}) AS BIGINT) AS n_exact
        FROM {source_sql}
    )
    SELECT g AS {group_col}, n_exact, n_est,
           abs(n_est / n_exact - 1.0) <= {rel_bound!r} AS est_ok
    FROM exact JOIN ests USING (g)
"""


def hll_rollup_check(df: DataFrame, group_col: str, value_col: str,
                     tol: float) -> DataFrame:
    """Re-aggregatable distinct-count sketches: per-group HLL sketches of
    ``value_col`` (Datasketches ``hll_sketch_agg``), then the TOTAL
    distinct count from ``hll_union_agg`` over the per-group sketches
    alone — the daily-into-monthly rollup that never rescans ``df``.
    The estimate is engine-specific, so the rows carry the EXACT count
    plus an in-plan within-``tol`` flag: the oracle is exact counts with
    ``within_tol`` TRUE."""
    per_group = df.groupBy(group_col).agg(
        F.expr(f"hll_sketch_agg({value_col})").alias("sk"),
        F.countDistinct(value_col).alias("n_exact"))
    tol_ok = (F.abs(F.expr("hll_sketch_estimate(sk)") - F.col("n_exact"))
              <= tol * F.col("n_exact"))
    per = per_group.select(
        group_col, F.col("n_exact").cast("bigint").alias("n_exact"),
        tol_ok.alias("within_tol"))
    merged = per_group.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_all"))
    exact_all = df.agg(
        F.countDistinct(value_col).alias("n_exact"))
    total = (merged.join(F.broadcast(exact_all))
             .select(F.lit("__all__").alias(group_col),
                     F.col("n_exact").cast("bigint").alias("n_exact"),
                     (F.abs(F.col("est_all") - F.col("n_exact"))
                      <= tol * F.col("n_exact")).alias("within_tol")))
    return per.unionByName(total)


def approx_topk_check(df: DataFrame, col: str, k: int) -> DataFrame:
    """Spark 4 ``approx_top_k`` sketch vs the exact top-k of ``col``:
    the rows are the EXACT top-k items (count desc, item tie-break), and
    the sketch's (item, count) pairs are matched in-plan — ``sketch_ok``
    is false if the sketch misses an item or miscounts it."""
    from pyspark.sql import Window as W

    exact = (df.groupBy(col)
             .agg(F.count(F.lit(1)).alias("n"))
             .withColumn("rk", F.row_number().over(
                 W.orderBy(F.desc("n"), col)))
             .filter(F.col("rk") <= k))
    sketch = df.agg(F.expr(f"approx_top_k({col}, {k})")
                    .alias("top"))
    joined = exact.join(F.broadcast(sketch))
    sketch_ok = F.exists(
        "top", lambda s: (s["item"] == F.col(col))
        & (s["count"] == F.col("n")))
    return joined.select(
        col, F.col("n").cast("long").alias("n"),
        F.col("rk").cast("int").alias("rk"),
        sketch_ok.alias("sketch_ok"))


def value_freq_ctes_sql(source_sql: str, group_col: str, value_col: str,
                        value_sql: str) -> str:
    """WITH-list CTEs ending in ``freq`` (g, v, cnt): the per-group
    value-frequency partials of ``value_sql`` (over the rows with a
    ``value_col``) plus their '__all__' merge
    (summed counts by value) — the mergeable input of
    :func:`percentile_tail_sql`. Bounded by |groups| × |distinct values|,
    so bin first when the value domain is unbounded."""
    return f"""vals AS (
        SELECT {group_col} AS g, {value_sql} AS v
        FROM {source_sql} WHERE {value_col} IS NOT NULL
    ),
    freq_g AS (SELECT g, v, count(*) AS cnt FROM vals GROUP BY g, v),
    freq AS (
        SELECT g, v, cnt FROM freq_g
        UNION ALL
        SELECT '__all__' AS g, v, sum(cnt) AS cnt FROM freq_g GROUP BY v
    )"""

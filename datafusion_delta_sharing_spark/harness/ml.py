"""Machine-learning queries: feature preparation, model fits and
evaluation, each checked against a DuckDB oracle.

Featurization (multimodal payloads, k-fold splits, label indexing,
feature hashing, target encoding, embedding covariance and random
projection, association rules), fits (OLS, logistic regression, stumps,
AdaBoost, naive Bayes, k-means, conformal intervals, bootstrap CIs) and
evaluation (ROC AUC, calibration, NDCG, RRF, A/B tests, gains/lift,
attribution, survivorship). Fits run as contingency-cell scans with
exact integer arithmetic, so both engines produce bit-equal rows.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from datafusion_delta_sharing_spark.functions import splits as SP
from datafusion_delta_sharing_spark.functions.money import cents, cents_sql
from datafusion_delta_sharing_spark.harness import load_table, register_views
from datafusion_delta_sharing_spark.operators import (
    abtest as AB, attribution as AT, boosting as B, classify as CLF,
    clustering as CLU, collocations as CL, evalmetrics as EM, linalg as LA,
    linkage as LK, mlprep as ML, multimodal as MM, sampling as SA)
from datafusion_delta_sharing_spark.operators.tfidf import (
    feature_hash_counts, feature_hash_counts_sql)


# -- multimodal -----------------------------------------------------------
def q_multimodal_features(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = MM.attach_binary_payload(docs, "doc_id", "text", "source")
    return (MM.extract_features(media)
            .select("media_id", "byte_len", "digest", "mime"))


_BASKET_ORDERS = 15000  # wider than the graph subset: pair support needs mass
_MIN_SUPPORT = 2        # sf0.01 baskets are sparse; 3k+ pairs clear this bar


def q_basket_rules(spark, sf_dir):
    """Association rules over order baskets: pair support plus the exact
    integer lift cross-products (lift = n_baskets*c_ab/(c_a*c_b); ranking
    and filtering use the integer numerator/denominator)."""
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < _BASKET_ORDERS))
    baskets = li.select(F.col("l_orderkey").alias("g"),
                        F.col("l_partkey").alias("i")).distinct()
    return CL.basket_rules(baskets, _MIN_SUPPORT)


_BASKET_SQL = CL.basket_rules_sql(
    "SELECT DISTINCT l_orderkey AS g, l_partkey AS i\n"
    f"        FROM lineitem WHERE l_orderkey < {_BASKET_ORDERS}", _MIN_SUPPORT)


def q_label_index(spark, sf_dir):
    """Deterministic categorical encoding (StringIndexer analogue): each
    distinct label of lang and source maps to a dense sorted index."""
    return ML.label_index(load_table(spark, sf_dir, "documents"),
                          ["lang", "source"])


_LABEL_INDEX_SQL = ML.label_index_sql("documents", ["lang", "source"])


def q_image_pipeline(spark, sf_dir):
    """Real image decode path, oracle-checked end to end: each doc gets a
    solid-color 8x8 BMP synthesized from its id, the REAL encoder/decoder
    round-trips the bytes, and ``image_features`` computes pixel means —
    which the DuckDB oracle mirrors in closed form (mean of a solid color
    IS the color). A broken header parse, channel-order slip (RGB/BGR),
    or padding bug desyncs the hash immediately."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200)
    media = MM.solid_bmp_payloads(docs)
    return MM.image_features(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b")


_IMAGE_PIPELINE_SQL = """
    SELECT doc_id AS media_id,
           CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
           CAST(doc_id % 256 AS DOUBLE) AS mean_r,
           CAST((7 * doc_id) % 256 AS DOUBLE) AS mean_g,
           CAST((13 * doc_id) % 256 AS DOUBLE) AS mean_b
    FROM documents WHERE doc_id < 200
"""


def q_audio_pipeline(spark, sf_dir):
    """Real audio decode path, oracle-checked: per doc, a PCM16 WAV of
    ``1000 + id%500`` frames of an alternating-sign wave at amplitude
    ``100 + id%900`` — so rms = amplitude EXACTLY, zero-crossing rate =
    1.0, duration = n/1000, all closed-form in the oracle while Spark
    goes through the genuine RIFF chunk walk and sample math."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200)
    media = MM.square_wav_payloads(docs)
    return MM.audio_features(media).select(
        "media_id", "sample_rate", "n_frames", "channels", "duration_s",
        "rms", "zero_cross_rate")


_AUDIO_PIPELINE_SQL = """
    SELECT doc_id AS media_id,
           CAST(1000 AS INTEGER) AS sample_rate,
           CAST(1000 + doc_id % 500 AS BIGINT) AS n_frames,
           CAST(1 AS INTEGER) AS channels,
           round((1000 + doc_id % 500) / 1000.0, 6) AS duration_s,
           CAST(100 + doc_id % 900 AS DOUBLE) AS rms,
           CAST(1.0 AS DOUBLE) AS zero_cross_rate
    FROM documents WHERE doc_id < 200
"""


def q_kfold_split(spark, sf_dir):
    """Deterministic 5-fold assignment plus a group-keyed (by source)
    leakage-safe split per document: every row of a source lands in the
    same split, and folds are pure functions of the id — reproducible
    across engines, runs, and cluster sizes."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "source",
        SP.kfold_assign("doc_id", k=5).alias("fold"),
        SP.group_split_assign("source").alias("grp_split"))


_PROJ_DIMS = 8
_PROJ_SEED = 7


def q_embedding_covariance(spark, sf_dir):
    """Exact integer covariance accumulator over the full embedding table
    — the distributed pass of PCA/whitening. Served by the Arrow-batched
    ``gram_matrix_pandas`` path (r10 optimization): at d=64 the numpy
    Q^T·Q partial per batch (fan-out d(d+1)/2 rows per PARTITION) beats
    the posexplode self-join (same fan-out per VECTOR, shuffled twice)
    4x at sf0.1 — guide §4.2's hand-batches-to-native rule. Output is
    bit-identical (both paths quantize first; property-tested equal),
    so the oracle and this row's hash are unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    return LA.gram_matrix_pandas(emb, "embedding")


def q_random_projection(spark, sf_dir):
    """Seeded ±1 projection of every embedding to 8 integer components —
    JL sketching with a formula-generated matrix."""
    emb = load_table(spark, sf_dir, "embeddings")
    return LA.random_projection(emb, "embedding", "vec_id",
                                out_dims=_PROJ_DIMS, seed=_PROJ_SEED)


# -- hashing-trick featurization ----------------------------------------------
_FH_BUCKETS = 64
_FH_DOCS = 300


def q_feature_hashing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _FH_DOCS)
    return feature_hash_counts(docs, "text", "doc_id",
                               n_buckets=_FH_BUCKETS)


# -- leave-one-out target encoding ---------------------------------------------
_TE_SMOOTHING = 20
_TE_OUT_MOD = 7  # output thinning only — the encoding sees ALL orders


def q_target_encode(spark, sf_dir):
    """LOO-encode o_orderpriority against the order's total price (exact
    cents): the encoding for each order excludes that order's own target
    and shrinks toward the global mean with a 20-order pseudo-count.
    Stats are computed over ALL orders; the output keeps every 7th key
    so the driver row stays result-sized, thinning AFTER the encode on
    both engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        cents(F.col("o_totalprice")).alias("t_cents"))
    enc = ML.target_encode_loo(orders, "o_orderpriority", "t_cents",
                               "o_orderkey", smoothing=_TE_SMOOTHING)
    return enc.filter(F.col("o_orderkey") % _TE_OUT_MOD == 0)


_TE_SRC_SQL = (f"SELECT o_orderkey, o_orderpriority, "
               f"{cents_sql('o_totalprice')} AS t_cents FROM orders")

_TE_ORACLE = f"""
    SELECT * FROM ({ML.target_encode_loo_sql(
        _TE_SRC_SQL, 'o_orderpriority', 't_cents', 'o_orderkey',
        smoothing=_TE_SMOOTHING)})
    WHERE o_orderkey % {_TE_OUT_MOD} = 0
"""

# -- closed-form OLS ------------------------------------------------------------

# dollars (not cents) for y so sum(y*y) stays far inside int64 at sf1+:
# floor() spelled explicitly because Spark CAST(double AS BIGINT)
# truncates while DuckDB rounds — floor is the one shared spelling.
_OLS_XY_SQL = (
    "SELECT l_returnflag AS g, "
    "CAST(floor(l_quantity) AS BIGINT) AS x1, "
    f"{cents_sql('l_discount')} AS x2, "
    "CAST(floor(l_extendedprice) AS BIGINT) AS y "
    "FROM lineitem")


def q_ols_fit(spark, sf_dir):
    """Per-returnflag OLS of price-per-line on (quantity, discount):
    one exact-integer aggregate pass builds the ten raw sums, the shared
    Cramer tail solves the 2-feature normal equations. The xy projection
    is the SAME SQL fragment the oracle wraps, so quantization cannot
    drift between engines."""
    register_views(spark, sf_dir, ["lineitem"])
    return ML.ols_fit_2f(spark, spark.sql(_OLS_XY_SQL), "g")


# -- ROC AUC ---------------------------------------------------------------------

# score = the order's total price (exact cents); label = "high-value
# order" (price above the fixed 150k$ line) with DETERMINISTIC 20%
# label noise (flip where o_orderkey % 5 = 0). The score genuinely
# predicts the label, the noise keeps AUC off 1.0 — measured ≈ 0.77 at
# sf0.01, and identical logic at any SF (the driver testdata's status/
# date columns are mutually independent, so the r8 session moved the
# demo off the recency-vs-status pairing whose AUC was a coin flip).
_AUC_PRICE_LINE = 15_000_000  # cents
_AUC_NOISE_MOD = 5


def _auc_spark_src(spark, sf_dir):
    tc = cents(F.col("o_totalprice"))
    flip = F.col("o_orderkey") % _AUC_NOISE_MOD == 0
    return (load_table(spark, sf_dir, "orders")
            .select(F.col("o_orderpriority").alias("g"),
                    F.when((tc > _AUC_PRICE_LINE) != flip, 1)
                    .otherwise(0).alias("label"),
                    tc.alias("s")))


_AUC_LABEL_SQL = (
    f"CASE WHEN ({cents_sql('o_totalprice')} > {_AUC_PRICE_LINE}) "
    f"!= (o_orderkey % {_AUC_NOISE_MOD} = 0) THEN 1 ELSE 0 END")

_AUC_SRC_SQL = (f"SELECT o_orderpriority AS g, "
                f"{_AUC_LABEL_SQL} AS label, "
                f"{cents_sql('o_totalprice')} AS s "
                f"FROM orders")


def q_auc_roc(spark, sf_dir):
    """Per-orderpriority ROC AUC of the price score against the noisy
    high-value label: one rank window on the group shuffle, one hash
    aggregate, one double division (see operators/evalmetrics). Group
    cardinality (5 priorities) bounds the window parallelism — at
    100 TB a single global AUC should instead use the binned
    approximation (``calibration_bins`` at fine width) or stratify and
    average; the exact rank form here is the per-stratum building
    block."""
    return EM.auc_roc(spark, _auc_spark_src(spark, sf_dir), "g")


# -- calibration -----------------------------------------------------------------

# predicted probability proxy = capped price percentile-ish score
# s = min(cents/5000, 9999) over scale 10000 (monotone in price, in
# [0, 1) after normalization); label as in the AUC demo. Bin = decile
# of the integer score: exact int ops, nonnegative by construction.
_CAL_SCALE = 10_000
_CAL_DIV = 5_000
_CAL_BINW = 1_000


def _cal_spark_src(spark, sf_dir):
    tc = cents(F.col("o_totalprice"))
    flip = F.col("o_orderkey") % _AUC_NOISE_MOD == 0
    # `div` (integer division), NOT `/`: Spark's `/` is true division
    # whose double rounding could flip a boundary row vs DuckDB's `//`
    return (load_table(spark, sf_dir, "orders")
            .select(F.when((tc > _AUC_PRICE_LINE) != flip, 1)
                    .otherwise(0).alias("label"),
                    F.least(F.expr(f"{cents_sql('o_totalprice')} "
                                   f"div {_CAL_DIV}"),
                            F.lit(_CAL_SCALE - 1)).alias("s"))
            .withColumn("bin", F.expr(f"s div {_CAL_BINW}")))


_CAL_SRC_SQL = f"""
    SELECT s // {_CAL_BINW} AS bin, label, s FROM (
        SELECT {_AUC_LABEL_SQL} AS label,
               least({cents_sql('o_totalprice')} // {_CAL_DIV},
                     {_CAL_SCALE - 1}) AS s
        FROM orders
    )
"""


def q_calibration_bins(spark, sf_dir):
    """Reliability diagram of the price score vs the noisy high-value
    label over ten equal-width bins: a pure hash aggregate (partial +
    final) — THE shape that survives 100 TB, and the scalable global
    substitute for the exact rank-based AUC. The monotone score makes
    frac_pos climb from ~0.2 to ~0.8 across the bins (the 20% noise
    floor/ceiling), so the gap column is non-degenerate."""
    return EM.calibration_bins(
        spark, _cal_spark_src(spark, sf_dir), _CAL_SCALE)


# -- NDCG ------------------------------------------------------------------------

_NDCG_K = 10


def _ranking_spark_src(spark, sf_dir):
    return (load_table(spark, sf_dir, "part")
            .select(F.col("p_brand").alias("qid"),
                    F.col("p_partkey").alias("item"),
                    cents(F.col("p_retailprice")).alias("s"),
                    (F.col("p_size") % 4).alias("rel")))


_RANKING_SRC_SQL = (f"SELECT p_brand AS qid, p_partkey AS item, "
                    f"{cents_sql('p_retailprice')} AS s, "
                    f"p_size % 4 AS rel FROM part")


def q_ndcg_eval(spark, sf_dir):
    """NDCG@10 per brand: the price-descending catalog ranking scored
    against a graded size-derived relevance. Shuffle key is the query
    id (brand) — embarrassingly parallel across queries at any scale;
    per-query state is the k-position pivot row."""
    return EM.ndcg_at_k(
        spark, _ranking_spark_src(spark, sf_dir), "qid", _NDCG_K)


# -- RRF -------------------------------------------------------------------------

_RRF_K, _RRF_TOPN = 60, 5


def _rrf_spark_src(spark, sf_dir):
    base = _ranking_spark_src(spark, sf_dir)
    wa = Window.partitionBy("qid").orderBy(F.desc("s"), F.col("item"))
    wb = Window.partitionBy("qid").orderBy(F.col("rel"), F.col("item"))
    return base.select("qid", "item",
                       F.row_number().over(wa).alias("ra"),
                       F.row_number().over(wb).alias("rb"))


_RRF_SRC_SQL = f"""
    SELECT qid, item,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY s DESC, item) AS ra,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY rel, item) AS rb
    FROM ({_RANKING_SRC_SQL})
"""


def q_rrf_fusion(spark, sf_dir):
    """Top-5 per brand under reciprocal-rank fusion (K=60) of the
    price-descending and size-ascending rankings — rank merging without
    score normalization (Cormack et al. 2009). Integer ranks from total
    orders; the fused double is a fixed two-term expression, so its
    ORDER BY is deterministic on both engines."""
    return EM.rrf_fuse(spark, _rrf_spark_src(spark, sf_dir), "qid",
                       _RRF_K, _RRF_TOPN)


# -- k-means ---------------------------------------------------------------------

# features: (quantity 1..50, discount per-mille 0..100) — both exact
# integers; four corner seeds; 3 rounds (2 updates + the returned
# assignment round)
_KM_INIT = [(10.0, 20.0), (40.0, 20.0), (10.0, 80.0), (40.0, 80.0)]
_KM_ROUNDS = 3

_KM_POINTS_SQL = ("SELECT CAST(floor(l_quantity) AS BIGINT) AS x1, "
                  "CAST(round(l_discount * 1000) AS BIGINT) AS x2 "
                  "FROM lineitem")


def q_kmeans_fit(spark, sf_dir):
    """Lloyd k-means (k=4, 3 rounds) over (quantity, discount) —
    per-row assignment (zero-shuffle), k-row aggregate per round,
    driver state bounded by k (the similarity.py seed pattern). Sum
    headroom vs the 2^53 double mantissa is ~10⁶ at sf1 (Σx1 ≈ 1.5e8).
    floor() spelled explicitly: Spark CAST(double AS BIGINT) truncates
    while DuckDB rounds (the ols_fit note)."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.floor(F.col("l_quantity")).cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 1000).cast("bigint").alias("x2"))
    return CLU.kmeans_fit(pts, _KM_INIT, _KM_ROUNDS)


# -- A/B test --------------------------------------------------------------------

# arms split on order-key parity; arm B gets a real planted treatment
# effect: a lower conversion bar (242k$ vs 250k$, straddling the
# price median so the density there is high -> ~2pp rate lift) and a
# +8000$ value shift (~3 standard errors at sf0.01) — so z and t are
# decisively nonzero at every SF and GROW with sqrt(n). Value metric
# in DOLLARS, not cents: sum(v*v) must stay inside int64 at large SF
# (the ols_fit note; ~2.4e17 at sf1, margin ~38x).
_AB_LINE_A, _AB_LINE_B = 25_000_000, 24_200_000  # cents
_AB_VALUE_SHIFT_B = 8_000  # dollars

_AB_ROWS_SQL = f"""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
           CASE WHEN o_orderkey % 2 = 0
                THEN CASE WHEN {cents_sql('o_totalprice')}
                          > {_AB_LINE_A} THEN 1 ELSE 0 END
                ELSE CASE WHEN {cents_sql('o_totalprice')}
                          > {_AB_LINE_B} THEN 1 ELSE 0 END
           END AS conv,
           ({cents_sql('o_totalprice')} // 100)
               + CASE WHEN o_orderkey % 2 = 0 THEN 0
                      ELSE {_AB_VALUE_SHIFT_B} END AS v
    FROM orders
"""


def q_ab_test(spark, sf_dir):
    """One-row experiment readout over the parity-armed orders table:
    conversion rates with the pooled two-proportion z, value means with
    Welch's t and df. One partial+final aggregate emitting two rows,
    then a two-row pivot — one scan at any scale. The planted treatment
    effect (lower conversion bar + 8k$ value shift in arm B) keeps both
    statistics decisively nonzero at every SF (measured z ≈ -2.5,
    t ≈ -4.0 at sf0.01, growing ~sqrt(n))."""
    tc = F.expr(cents_sql("o_totalprice"))
    is_a = F.col("o_orderkey") % 2 == 0
    rows = (load_table(spark, sf_dir, "orders")
            .select(F.when(is_a, "A").otherwise("B").alias("arm"),
                    F.when(is_a, (tc > _AB_LINE_A).cast("int"))
                    .otherwise((tc > _AB_LINE_B).cast("int"))
                    .alias("conv"),
                    (F.expr(f"{cents_sql('o_totalprice')} div 100")
                     + F.when(is_a, 0).otherwise(_AB_VALUE_SHIFT_B))
                    .alias("v")))
    return AB.ab_summary(spark, rows)


# -- gains / lift -----------------------------------------------------------------

def q_gains_lift(spark, sf_dir):
    """Cumulative gains and lift over the calibration demo's ten price-
    score bins (descending): the top bins capture positives at ~1.3x
    the random baseline, decaying to exactly 1.0 at the last bin (the
    62%-positive base rate caps attainable lift at 1/0.62 ≈ 1.6) — the
    third targeting view (with auc_roc and calibration_bins) of the
    SAME noisy high-value model. Post-aggregate windows run over ten rows;
    the raw scan is the only data-sized work."""
    return EM.gains_lift(
        spark, _cal_spark_src(spark, sf_dir).select("bin", "label"))


_GAINS_SRC_SQL = f"SELECT bin, label FROM ({_CAL_SRC_SQL})"


# -- attribution -----------------------------------------------------------------
_AT_CHANNELS = ("view", "click", "signup")
_AT_LOOKBACK_DAYS, _AT_MAX_TOUCHES = 2, 4


def q_attribution(spark, sf_dir):
    """Per-channel last/first/linear credit for purchase conversions
    against the view/click/signup touchpoints of the same user inside a
    2-day lookback, capped at the 4 most recent touches. The candidate
    join is user-equi + interval residual (the as-of-tolerance
    pattern) — fan-out bounded by touches-per-user-per-window, not by
    history length."""
    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin(*_AT_CHANNELS))
    conversions = ev.filter(F.col("event_type") == "purchase")
    return AT.attribution_credits(
        touches, conversions, "user_id", "ts", "event_id",
        "event_type", _AT_LOOKBACK_DAYS, _AT_MAX_TOUCHES)


_AT_CH_LIST = ", ".join(f"'{c}'" for c in _AT_CHANNELS)
_AT_TOUCHES_SQL = (f"SELECT user_id, ts, event_id, event_type "
                   f"FROM events WHERE event_type IN ({_AT_CH_LIST})")
_AT_CONV_SQL = ("SELECT user_id, ts, event_id FROM events "
                "WHERE event_type = 'purchase'")

# -- survivorship -----------------------------------------------------------------

# records = the Fellegi-Sunter demo's A snapshot, its perturbed
# successor B, and the impostor families. Entity resolution is the
# clustering step itself, not a key trick (VERDICT r9 #2 retired the
# `k % 20000000` modulus, whose aliasing bound held only through
# ~sf130): records block on the normalized name — strip the impostor
# prefix and the perturbation tilde, exactly the derived match key
# `fellegi_sunter` compares on — and each block's label is its MIN
# record key, the same min-label convention dedup_components emits.
# c_name is key-derived and unique, so blocks ARE the true entities at
# every SF; no key-range bound, and the derivation text is shared
# verbatim with the oracle.
# Rule cascade: 1) completeness (placeholder segment loses), 2)
# freshness (snapshot B outranks A), 3) higher balance, 4) key — a
# total order, so the survivor is deterministic.
_SURV_RECORDS_SQL = f"""
    WITH a AS (
        SELECT c_custkey AS k, c_name AS name,
               {cents_sql('c_acctbal')} AS bal, c_mktsegment AS seg
        FROM customer
    ),
    all_records AS (
        SELECT k, 'A' AS src, name, bal, seg FROM a
        UNION ALL
        SELECT k, 'B' AS src,
               CASE WHEN k % 17 = 0 THEN name || '~' ELSE name END,
               bal + CASE WHEN k % 7 = 0 THEN 25 ELSE 0 END,
               CASE WHEN k % 11 = 0 THEN 'PERTURBED' ELSE seg END
        FROM a WHERE k % 19 != 0
        UNION ALL
        SELECT k + 20000000, 'B', 'IMPOSTOR-' || name, bal + 5000,
               'PERTURBED'
        FROM a WHERE k % 23 = 0
    )
    SELECT MIN(k) OVER (
               PARTITION BY replace(replace(name, 'IMPOSTOR-', ''),
                                    '~', '')
           ) AS entity,
           k, src, name, bal, seg
    FROM all_records
"""

_SURV_RULES_SQL = ("CASE WHEN seg = 'PERTURBED' THEN 1 ELSE 0 END, "
                   "CASE WHEN src = 'B' THEN 0 ELSE 1 END, "
                   "bal DESC, k")
_SURV_OUT_COLS = "entity, k, src, name, bal, seg"


def q_survivorship(spark, sf_dir):
    """Golden record per resolved entity over the two customer
    snapshots + impostors: entities come from a min-label over the
    normalized-name block (the clustering-output shape — no key-range
    aliasing bound, VERDICT r9 #2), then completeness beats freshness
    beats balance, key breaks ties — ONE entity-keyed rank window on
    top of ONE block-keyed min window. The records text, rule cascade,
    and output list are shared verbatim with the oracle. Output thinned
    to every 7th entity so the driver row stays result-sized (thinning
    AFTER selection on both engines)."""
    register_views(spark, sf_dir, ["customer"])
    records = spark.sql(_SURV_RECORDS_SQL)
    golden = LK.survivorship(spark, records, "entity",
                             _SURV_RULES_SQL, _SURV_OUT_COLS)
    return golden.filter(F.col("entity") % 7 == 0)


_SURV_ORACLE = f"""
    SELECT * FROM ({LK.survivorship_sql(
        _SURV_RECORDS_SQL, 'entity', _SURV_RULES_SQL, _SURV_OUT_COLS)})
    WHERE entity % 7 = 0
"""


# -- logistic regression -----------------------------------------------------

# planted signal (the ab_test precedent — the synthetic columns are
# mutually independent, so the label is a deterministic integer law
# both engines compute identically): P(y=1) rises linearly with the
# quantized value bucket and shifts per group. x in 0..15, success rate
# 15-95 % — interior probabilities, no separation, so 3 Newton rounds
# land within ~1e-4 of the fixpoint (measured: round 4 moves b0 by
# <= 1e-4) and round(…, 5) is stable across engines.
_LR_ROUNDS = 3
_LR_XY_SQL = (
    "SELECT user_id % 3 AS g, "
    "CAST(least(floor(value / 25), 15) AS BIGINT) AS x, "
    "CAST(CASE WHEN event_id % 100 < 15 + 5 * (user_id % 3) "
    "+ 4 * least(floor(value / 25), 15) THEN 1 ELSE 0 END AS BIGINT) "
    "AS y "
    "FROM events")


def q_logreg_fit(spark, sf_dir):
    """Per-group logistic fit of the planted conversion law: the xy
    projection is the SAME SQL fragment the oracle wraps (the ols_fit
    no-drift discipline), round 1 is exact integer arithmetic, rounds
    2..3 are one aggregate each over the broadcast-joined coefficients.
    Output (g, n, b0, b1, avg_ll) rounded to 5."""
    register_views(spark, sf_dir, ["events"])
    return ML.logreg_fit_1f(spark, spark.sql(_LR_XY_SQL), "g",
                            rounds=_LR_ROUNDS)


def q_stump_fit(spark, sf_dir):
    """Optimal decision stump over the SAME planted-law xy frame the
    logistic fit consumes (one data contract, two learners): the split
    minimizing weighted Gini, exhaustive over the 16 quantized buckets
    via one aggregate + one cumulative window — exact integer counts,
    fixed-shape impurity doubles, deterministic (impurity, split)
    tie-break."""
    register_views(spark, sf_dir, ["events"])
    return ML.stump_fit(spark, spark.sql(_LR_XY_SQL), "g")


_ADA_ROUNDS = 3

# bootstrap target: the events value column in exact integer cents
# (functions/money.py recipe — round() is half-away-from-zero on both
# engines), grouped like the other planted-law frames
_BOOT_XY_SQL = ("SELECT user_id % 3 AS g, "
                "CAST(round(value * 100) AS BIGINT) AS y, "
                "event_id AS id FROM events")

# conformal's planted regression law (the logreg/ab_test precedent —
# synthetic columns are mutually independent, so the integer law is
# identical on both engines): y = 500 + 30·x + noise, where the noise
# (event_id % 97 + 7·(user_id % 5), range 0..124) is independent of
# the x bucket, so the OLS fit recovers the slope and the conformal
# band's 90 % target is honest. Folds split on event_id % 10:
# 0-5 train, 6-7 calibrate, 8-9 test.
_CONF_XY_SQL = (
    "SELECT user_id % 3 AS g, "
    "CAST(least(floor(value / 25), 15) AS BIGINT) AS x, "
    "CAST(500 + 30 * least(floor(value / 25), 15) "
    "+ (event_id % 97) + 7 * (user_id % 5) AS BIGINT) AS y, "
    "event_id AS id, CAST(event_id % 10 AS BIGINT) AS fold "
    "FROM events")


def q_naive_bayes_fit(spark, sf_dir):
    """NB corpus classifier on the planted all-of-{'spark','join',
    'hash'} concept (measured 229/271 split at sf0.01): train on
    doc_id % 5 < 4, return the holdout confusion matrix with
    min/avg |log-odds| margins — min_margin is the in-result proof
    that no argmax decision sits inside cross-engine double-sum
    drift (measured >= 4e-4 at sf0.1 vs ~1e-13 drift)."""
    docs = load_table(spark, sf_dir, "documents")
    return CLF.naive_bayes_eval(spark, docs, "text", "doc_id")


def q_conformal_interval(spark, sf_dir):
    """Split conformal at alpha = 0.1 over the planted linear law:
    exact OLS from integer sums, order-statistic q-hat with a pure-
    integer rank, exact coverage counts — zero double sums, so the
    whole row is bit-exact across engines (coverage lands 0.86-0.94
    around the 0.9 target at the test SFs)."""
    register_views(spark, sf_dir, ["events"])
    return ML.conformal_interval_1f(spark, spark.sql(_CONF_XY_SQL), "g")


def q_adaboost_fit(spark, sf_dir):
    """Three AdaBoost rounds over the logreg/stump planted-law frame:
    the first stump matches stump_fit's split family, rounds 2-3 push
    training error below any single stump's (the ensemble effect the
    test pins), and min_abs_score attests every sign decision clears
    the drift band (measured >= 0.21)."""
    register_views(spark, sf_dir, ["events"])
    return B.adaboost_fit(spark, spark.sql(_LR_XY_SQL), "g",
                          rounds=_ADA_ROUNDS)


def q_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap 95% CI for each group's mean value (in exact
    cents): 100 hash-derived replicates, every draw an integer
    comparison, every replicate mean ONE division of exact integers,
    CI bounds order statistics — bit-exact across engines with no
    rounding leaps of faith (the conformal_interval class). The CI
    narrows ~sqrt(10)x per SF step, visible across the test SFs."""
    register_views(spark, sf_dir, ["events"])
    return SA.bootstrap_ci_mean(spark, spark.sql(_BOOT_XY_SQL), "g",
                                "id")


ORACLES = {
    "multimodal_features": """
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
               md5(text) AS digest,
               'text/plain' AS mime
        FROM documents
    """,
    "basket_rules": _BASKET_SQL,
    "label_index": _LABEL_INDEX_SQL,
    "image_pipeline": _IMAGE_PIPELINE_SQL,
    "audio_pipeline": _AUDIO_PIPELINE_SQL,
    "kfold_split": f"""
        SELECT doc_id, source,
               {SP.kfold_assign_sql('doc_id', k=5)} AS fold,
               {SP.group_split_assign_sql('source')} AS grp_split
        FROM documents
    """,
    "embedding_covariance": LA.embedding_covariance_sql(
        "embeddings", "embedding", "vec_id"),
    "random_projection": LA.random_projection_sql(
        "embeddings", "embedding", "vec_id",
        out_dims=_PROJ_DIMS, seed=_PROJ_SEED),
    "feature_hashing": feature_hash_counts_sql(
        f"(SELECT * FROM documents WHERE doc_id < {_FH_DOCS})",
        "text", "doc_id", n_buckets=_FH_BUCKETS),
    "target_encode": _TE_ORACLE,
    "ols_fit": ML.ols_fit_2f_sql(_OLS_XY_SQL, "g"),
    "auc_roc": EM.auc_roc_sql(_AUC_SRC_SQL, "g"),
    "calibration_bins": EM.calibration_bins_sql(_CAL_SRC_SQL,
                                                _CAL_SCALE),
    "ndcg_eval": EM.ndcg_at_k_sql(_RANKING_SRC_SQL, "qid", _NDCG_K),
    "rrf_fusion": EM.rrf_fuse_sql(_RRF_SRC_SQL, "qid", _RRF_K,
                                  _RRF_TOPN),
    "kmeans_fit": CLU.kmeans_fit_sql(_KM_POINTS_SQL, _KM_INIT,
                                    _KM_ROUNDS),
    "ab_test": AB.ab_summary_sql(_AB_ROWS_SQL),
    "gains_lift": EM.gains_lift_sql(_GAINS_SRC_SQL),
    "attribution": AT.attribution_credits_sql(
        _AT_TOUCHES_SQL, _AT_CONV_SQL, "user_id", "ts", "event_id",
        "event_type", _AT_LOOKBACK_DAYS, _AT_MAX_TOUCHES),
    "survivorship": _SURV_ORACLE,
    "logreg_fit": ML.logreg_fit_1f_sql(_LR_XY_SQL, "g", _LR_ROUNDS),
    "stump_fit": ML.stump_fit_sql(_LR_XY_SQL, "g"),
    "naive_bayes_fit": CLF.naive_bayes_eval_sql(
        "SELECT * FROM documents", "text", "doc_id"),
    "conformal_interval": ML.conformal_interval_1f_sql(_CONF_XY_SQL, "g"),
    "adaboost_fit": B.adaboost_fit_sql(_LR_XY_SQL, "g", _ADA_ROUNDS),
    "bootstrap_ci": SA.bootstrap_ci_mean_sql(_BOOT_XY_SQL, "g", "id"),
}

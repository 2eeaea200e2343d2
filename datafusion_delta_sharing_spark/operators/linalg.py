"""Distributed linear algebra over embedding columns: exact covariance
accumulation (the PCA/whitening prep pass) and seeded sign random
projection (Johnson-Lindenstrauss sketching).

Scale design: both operators reduce an ``array<float>`` column to narrow
(key, dim) rows and aggregate with plain hash aggregates, so the shuffle
width is independent of the embedding dimension — the same recipe that
fixed the IVF Lloyd update (similarity.py). Components are quantized to
fixed-point integers first (the embed_quantize convention,
embeddings.py:61), so every sum is exact and order-independent: float
accumulation order differs between engines and between Spark partitionings,
integer sums do not. For dim >= ~128 the posexplode self-join in
``embedding_covariance`` (d(d+1)/2 rows per vector) should yield to
``gram_matrix_pandas`` — an Arrow-batched outer-product partial sum whose
fan-out is d(d+1)/2 rows per PARTITION, not per vector.

The reference has no linear-algebra surface at all (its expression layer
stops at DataFusion scalars); these operators exist for the
training-data-pipeline tier (embedding whitening, cheap dim reduction
before clustering/ANN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

COMPONENT_SCALE = 1000  # 1e-3 fixed point: plenty for unit-norm embeddings

# LCG constants (glibc rand): public-domain recurrence, reproducible in
# ANSI SQL — the projection "matrix" is a formula, never materialized.
_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2147483648  # 2^31


def quantized_components(emb: DataFrame, vec_col: str, id_col: str,
                         scale: int = COMPONENT_SCALE) -> DataFrame:
    """(id, dim, q) rows: posexplode of the vector with components rounded
    to ``scale`` fixed point as bigint. One narrow shuffle-free scan."""
    return emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(vec_col).alias("dim", "_x"),
    ).select(
        "id", F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("_x").cast("double") * scale).cast("bigint").alias("q"),
    )


def embedding_covariance(emb: DataFrame, vec_col: str, id_col: str,
                         scale: int = COMPONENT_SCALE) -> DataFrame:
    """Exact upper-triangle covariance accumulator of the embedding
    column: for every dim pair i <= j, ``n_vecs`` and the integer
    covariance numerator ``n*Σq_i q_j − Σq_i Σq_j`` (= n² × covariance at
    fixed-point scale²). Integer output makes the result independent of
    partitioning and bit-comparable across engines; callers divide by
    n²·scale² for the float matrix, eigensolve on the driver (d×d is tiny
    even at d=4096 — the DATA pass is the distributed part).

    Plan: posexplode → self-equi-join on vector id (residual i <= j) →
    one hash aggregate keyed (dim_i, dim_j). Shuffle width d(d+1)/2 keys
    regardless of corpus size. Fan-out is d(d+1)/2 rows per vector, the
    right trade at d <= ~64; use ``gram_matrix_pandas`` beyond that.
    Bigint is overflow-safe to ~1e6 vectors at scale 1000 (|q| <= 2e3,
    n·Σq_iq_j <= 4e6·n²); past that, cast the three sums to
    decimal(38,0) before the products.
    """
    comps = quantized_components(emb, vec_col, id_col, scale)
    a, b = comps.alias("a"), comps.alias("b")
    return (
        a.join(b, (F.col("a.id") == F.col("b.id"))
               & (F.col("a.dim") <= F.col("b.dim")))
        .groupBy(F.col("a.dim").alias("dim_i"), F.col("b.dim").alias("dim_j"))
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.sum(F.col("a.q") * F.col("b.q")).alias("_s_ij"),
             F.sum("a.q").alias("_s_i"), F.sum("b.q").alias("_s_j"))
        .select("dim_i", "dim_j", "n_vecs",
                (F.col("n_vecs") * F.col("_s_ij")
                 - F.col("_s_i") * F.col("_s_j")).alias("cov_num"))
    )


def embedding_covariance_sql(source_sql: str, vec_col: str, id_col: str,
                             scale: int = COMPONENT_SCALE) -> str:
    """DuckDB mirror of :func:`embedding_covariance`."""
    return f"""
    WITH comps AS (
        SELECT id, CAST(ord - 1 AS BIGINT) AS dim,
               CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT) AS q
        FROM (SELECT {id_col} AS id, unnest({vec_col}) AS x,
                     generate_subscripts({vec_col}, 1) AS ord
              FROM {source_sql})
    )
    SELECT a.dim AS dim_i, b.dim AS dim_j,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(*) * sum(a.q * b.q) - sum(a.q) * sum(b.q)
                AS BIGINT) AS cov_num
    FROM comps a JOIN comps b ON a.id = b.id AND a.dim <= b.dim
    GROUP BY a.dim, b.dim
    """


def gram_matrix_pandas(emb: DataFrame, vec_col: str,
                       scale: int = COMPONENT_SCALE) -> DataFrame:
    """The wide-dimension path for the same accumulator: per Arrow batch,
    numpy computes the quantized Q^T·Q outer-product sum plus the column
    sums and row count, and emits ONE d×d partial per batch — fan-out
    d(d+1)/2 rows per partition instead of per vector. A final hash
    aggregate merges partials; output schema and values equal
    :func:`embedding_covariance` exactly (property-tested at d=16, smoke
    at d=512), because the quantization makes each partial integral.

    Preconditions (ADVICE r10): every non-empty vector must have the
    SAME dimension (the join path would instead score per-pair n_vecs, a
    different statistic). Ragged input within one task raises a
    ValueError naming the two lengths; each partial also carries its
    task's dimension, and the merge raises (``raise_error`` inside the
    same aggregate, so no extra job) when two tasks disagree. And
    vector ids must be unique upstream — a
    duplicated id contributes one outer product per copy here but
    cross-matched pairs in the join path, so the two paths only agree
    on id-deduplicated input (embeddings tables are, by contract).
    """
    import pandas as pd

    def _partials(batches):
        import numpy as np

        dim_seen = None
        for pdf in batches:
            if pdf.empty:
                continue
            # drop NULL/empty vectors — embedding_covariance's posexplode
            # drops them implicitly; np.stack would raise on None/ragged
            keep = pdf[vec_col].map(lambda v: v is not None and len(v) > 0)
            pdf = pdf[keep]
            if pdf.empty:
                continue
            lens = {len(v) for v in pdf[vec_col]}
            if dim_seen is not None:
                lens.add(dim_seen)
            if len(lens) > 1:
                raise ValueError(
                    f"gram_matrix_pandas needs uniform vector "
                    f"dimensions; saw lengths {sorted(lens)[:2]} in one "
                    "task — ragged embeddings must be filtered or "
                    "padded upstream")
            dim_seen = next(iter(lens))
            x = np.stack(pdf[vec_col].to_numpy()).astype("float64") * scale
            # half-AWAY-from-zero to match F.round / DuckDB round —
            # np.rint is half-to-EVEN and diverges on dyadic components
            # (0.0625 * 1000 = 62.5 → 63 there, 62 via rint)
            mat = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype("int64")
            n, d = mat.shape
            gram = mat.T @ mat                 # d×d exact in int64
            sums = mat.sum(axis=0)
            iu = np.triu_indices(d)
            yield pd.DataFrame({
                "dim": np.full(len(iu[0]), d, dtype="int64"),
                "dim_i": iu[0].astype("int64"),
                "dim_j": iu[1].astype("int64"),
                "n_part": np.full(len(iu[0]), n, dtype="int64"),
                "s_ij": gram[iu],
                "s_i": sums[iu[0]],
                "s_j": sums[iu[1]],
            })

    partials = emb.select(vec_col).mapInPandas(
        _partials,
        "dim bigint, dim_i bigint, dim_j bigint, n_part bigint, "
        "s_ij bigint, s_i bigint, s_j bigint")
    # every task emits key (0, 0), so that group sees every task's dimension
    lo, hi = F.min("dim"), F.max("dim")
    ragged = F.raise_error(F.format_string(
        "gram_matrix_pandas needs uniform vector dimensions; saw lengths "
        "%d and %d in different tasks — ragged embeddings must be "
        "filtered or padded upstream", lo, hi))
    return (
        partials.groupBy("dim_i", "dim_j")
        .agg(F.when(lo == hi, F.sum("n_part")).otherwise(ragged)
             .alias("n_vecs"), F.sum("s_ij").alias("_s_ij"),
             F.sum("s_i").alias("_s_i"), F.sum("s_j").alias("_s_j"))
        .select("dim_i", "dim_j", "n_vecs",
                (F.col("n_vecs") * F.col("_s_ij")
                 - F.col("_s_i") * F.col("_s_j")).alias("cov_num"))
    )


def _sign_expr(key):
    """±1 from the LCG parity of ``key`` — bit 16, not bit 0 (the low bit
    of an LCG alternates). Same arithmetic spelled in the SQL mirror."""
    v = (F.lit(_LCG_A) * key + F.lit(_LCG_C)) % F.lit(_LCG_M)
    return F.lit(1) - F.lit(2) * ((v / F.lit(65536)).cast("bigint") % F.lit(2))


def random_projection(emb: DataFrame, vec_col: str, id_col: str,
                      out_dims: int = 8, seed: int = 1,
                      scale: int = COMPONENT_SCALE) -> DataFrame:
    """Seeded ±1 (Achlioptas-style) random projection to ``out_dims``
    integer components: out[j] = Σ_i q_i · sign(seed, i, j). The sign
    matrix is a pure formula over (i, j), so executors never ship or
    sync a matrix — any engine (and the DuckDB oracle) regenerates it
    bit-identically. Quantized inputs keep the sums exact.

    Plan: posexplode → explode over out_dims (bounded constant fan-out)
    → one hash aggregate keyed (id, out_dim). For d ≥ ~1024 the same
    trick as :func:`gram_matrix_pandas` applies (numpy matmul against
    the formula-generated sign matrix per batch); this form is the
    declarative, oracle-mirrorable one.
    """
    # The sign formula needs key >= 0 (negative values hit Spark's
    # trunc-toward-zero vs DuckDB's floor division, and sign-carrying %)
    # and _LCG_A * key must fit in bigint — bound seed accordingly.
    if not (0 <= seed <= 8000):
        raise ValueError(
            f"random_projection: seed must be in [0, 8000], got {seed} — "
            "negative keys break trunc-vs-floor division parity across "
            "engines and large seeds overflow the bigint LCG step")
    comps = quantized_components(emb, vec_col, id_col, scale)
    key = (F.lit(seed).cast("bigint") * F.lit(1_000_003)
           + F.col("dim") * F.lit(out_dims) + F.col("out_dim"))
    return (
        comps.select(
            "id", "dim", "q",
            F.explode(F.sequence(F.lit(0), F.lit(out_dims - 1)))
            .alias("out_dim"))
        .select("id", F.col("out_dim").cast("bigint").alias("out_dim"),
                (F.col("q") * _sign_expr(key)).alias("_term"))
        .groupBy("id", "out_dim")
        .agg(F.sum("_term").alias("comp_q"))
    )


def random_projection_sql(source_sql: str, vec_col: str, id_col: str,
                          out_dims: int = 8, seed: int = 1,
                          scale: int = COMPONENT_SCALE) -> str:
    """DuckDB mirror of :func:`random_projection`."""
    return f"""
    WITH comps AS (
        SELECT id, CAST(ord - 1 AS BIGINT) AS dim,
               CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT) AS q
        FROM (SELECT {id_col} AS id, unnest({vec_col}) AS x,
                     generate_subscripts({vec_col}, 1) AS ord
              FROM {source_sql})
    ),
    terms AS (
        SELECT id, out_dim,
               q * (1 - 2 * ((((CAST({_LCG_A} AS BIGINT)
                                * ({seed} * 1000003
                                   + dim * {out_dims} + out_dim)
                                + {_LCG_C}) % {_LCG_M}) // 65536) % 2))
                   AS term
        FROM comps, (SELECT unnest(range({out_dims})) AS out_dim)
    )
    SELECT id, CAST(out_dim AS BIGINT) AS out_dim,
           CAST(sum(term) AS BIGINT) AS comp_q
    FROM terms GROUP BY id, out_dim
    """

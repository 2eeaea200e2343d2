"""Linear-algebra operators (operators/linalg.py), the skyline operator
(operators/skyline.py), containment dedup, and the streaming upsert
merge's replay guard."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datafusion_delta_sharing_spark.harness import load_table
from datafusion_delta_sharing_spark.operators import dedup as DD
from datafusion_delta_sharing_spark.operators import linalg as LA
from datafusion_delta_sharing_spark.operators import skyline as SKY


def _as_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# -- covariance: the explode-join and the pandas gram path must agree -----


def test_gram_pandas_equals_explode_join(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    cols = ["dim_i", "dim_j", "n_vecs", "cov_num"]
    exploded = _as_rows(
        LA.embedding_covariance(emb, "embedding", "vec_id"), cols)
    pandas_path = _as_rows(LA.gram_matrix_pandas(emb, "embedding"), cols)
    assert exploded == pandas_path
    assert len(exploded) > 0


def test_gram_pandas_wide_dim_smoke(spark):
    """d=512: the pandas path emits d(d+1)/2 partials per PARTITION and
    its values match a straight numpy covariance accumulator."""
    rng = np.random.default_rng(42)
    mat = rng.normal(size=(40, 512)).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(40), "embedding": list(mat)})
    emb = spark.createDataFrame(pdf).repartition(4)
    out = LA.gram_matrix_pandas(emb, "embedding").toPandas()
    assert len(out) == 512 * 513 // 2

    x = mat.astype("float64") * LA.COMPONENT_SCALE
    q = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype("int64")
    gram, sums, n = q.T @ q, q.sum(axis=0), q.shape[0]
    probe = out[(out.dim_i == 3) & (out.dim_j == 200)].iloc[0]
    assert probe.n_vecs == n
    assert probe.cov_num == n * gram[3, 200] - sums[3] * sums[200]


def test_gram_pandas_half_rounding_matches_spark(spark):
    """Regression: dyadic components (exactly-representable x.5 after
    scaling, e.g. 0.0625 * 1000 = 62.5) round half-AWAY-from-zero in
    F.round/DuckDB; np.rint's half-to-even silently diverged here."""
    pdf = pd.DataFrame({
        "vec_id": [0, 1],
        "embedding": [np.array([0.0625, 0.1], dtype="float32"),
                      np.array([-0.0625, 0.2], dtype="float32")],
    })
    emb = spark.createDataFrame(pdf)
    cols = ["dim_i", "dim_j", "n_vecs", "cov_num"]
    exploded = _as_rows(
        LA.embedding_covariance(emb, "embedding", "vec_id"), cols)
    pandas_path = _as_rows(LA.gram_matrix_pandas(emb, "embedding"), cols)
    assert exploded == pandas_path


def test_gram_pandas_refuses_dimensions_that_differ_between_tasks(spark):
    """Each task's vectors are uniform, so the per-task guard passes; the
    merge must still refuse, because the tasks disagree (2 vs 3)."""
    emb = (spark.range(0, 4, numPartitions=2)
           .withColumn("embedding", F.when(
               F.col("id") < 2, F.array(F.lit(0.5), F.lit(0.25)))
               .otherwise(F.array(F.lit(0.5), F.lit(0.25), F.lit(1.0)))))
    assert sorted(len(rows) for rows in emb.rdd.glom()
                  .map(lambda part: {len(r.embedding) for r in part})
                  .collect()) == [1, 1]
    with pytest.raises(Exception, match="uniform vector dimensions"):
        LA.gram_matrix_pandas(emb, "embedding").collect()


def test_covariance_diagonal_is_nonnegative(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(80)
    diag = (LA.embedding_covariance(emb, "embedding", "vec_id")
            .filter(F.col("dim_i") == F.col("dim_j")))
    assert diag.filter(F.col("cov_num") < 0).count() == 0


# -- random projection ----------------------------------------------------


def test_random_projection_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 20)
    out = LA.random_projection(emb, "embedding", "vec_id",
                               out_dims=4, seed=9).toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64")
            for r in emb.collect()}
    assert len(out) == len(vecs) * 4

    def sign(seed, i, j, out_dims):
        key = seed * 1_000_003 + i * out_dims + j
        v = (1103515245 * key + 12345) % 2147483648
        return 1 - 2 * ((v // 65536) % 2)

    for _, row in out[out.id < 3].iterrows():
        q = np.rint(vecs[row.id] * LA.COMPONENT_SCALE).astype("int64")
        expect = sum(int(q[i]) * sign(9, i, int(row.out_dim), 4)
                     for i in range(len(q)))
        assert row.comp_q == expect


def test_random_projection_signs_are_balanced():
    """The LCG bit-16 parity should be ~50/50 — bit 0 would alternate."""
    signs = [(1 - 2 * ((((1103515245 * k + 12345) % 2147483648)
                        // 65536) % 2)) for k in range(4096)]
    assert 0.45 < signs.count(1) / len(signs) < 0.55


# -- skyline --------------------------------------------------------------


def _naive_frontier(points):
    out = []
    for i, (c, g) in enumerate(points):
        dominated = any(
            bc <= c and bg >= g and (bc < c or bg > g)
            for j, (bc, bg) in enumerate(points) if j != i)
        if not dominated:
            out.append((i, c, g))
    return sorted(out)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(st.integers(-50, 50), st.integers(-50, 50)),
                min_size=1, max_size=40),
       st.sampled_from([1, 7, 1000]))
def test_pareto_frontier_matches_naive(spark, points, width):
    df = spark.createDataFrame(
        [(i, c, g) for i, (c, g) in enumerate(points)],
        "id long, cost long, gain long")
    got = _as_rows(
        SKY.pareto_frontier(df, "id", "cost", "gain", bucket_width=width),
        ["id", "cost", "gain"])
    assert got == _naive_frontier(points)


def test_pareto_keeps_equal_ties(spark):
    df = spark.createDataFrame(
        [(1, 10, 5), (2, 10, 5), (3, 20, 4)], "id long, cost long, gain long")
    got = _as_rows(SKY.pareto_frontier(df, "id", "cost", "gain", 4),
                   ["id", "cost", "gain"])
    # duplicates don't dominate each other; (3,20,4) is dominated
    assert got == [(1, 10, 5), (2, 10, 5)]


# -- containment ----------------------------------------------------------


def test_containment_catches_excerpts_jaccard_misses(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 10) & (F.col("n_chars") > 400)
    ).select("doc_id", "text")
    halves = docs.select(
        (F.col("doc_id") + F.lit(1000)).alias("doc_id"),
        F.array_join(F.expr(
            "slice(split(trim(text), '\\\\s+'), 1, "
            "greatest(1, size(split(trim(text), '\\\\s+')) div 2))"),
            " ").alias("text"))
    corpus = docs.unionByName(halves)
    n_docs = docs.count()
    assert n_docs > 0

    cont = DD.containment_pairs(corpus, "text", "doc_id",
                                k=5, threshold=0.99).toPandas()
    planted = cont[cont.id_b == cont.id_a + 1000]
    assert len(planted) == n_docs          # every excerpt is caught
    assert (planted.containment == 1.0).all()
    assert (planted.contained == "b_in_a").all()

    # the same pairs score LOW on Jaccard — the asymmetric measure is
    # the one that sees excerpts (the halves are ~half the shingles)
    jac = DD.ngram_jaccard_pairs(corpus, "text", "doc_id",
                                 k=5, threshold=0.0).toPandas()
    jac_planted = jac[jac.id_b == jac.id_a + 1000]
    assert (jac_planted.jaccard < 0.7).all()


# -- streaming upsert replay guard ---------------------------------------


def test_upsert_merge_is_replay_idempotent(spark, sf_dir, tmp_path):
    from datafusion_delta_sharing_spark.streaming import upsert as UP

    state = str(tmp_path / "state")
    merge = UP.upsert_totals_sink(spark, state, n_buckets=4,
                                  run_id="ckpt-solo")
    batch = (load_table(spark, sf_dir, "events")
             .select("user_id", "value").limit(500).localCheckpoint())

    merge(batch, 0)
    once = {(r.user_id, r.total_cents, r.n_events)
            for r in UP.state_totals(spark, state).collect()}
    assert once

    merge(batch, 0)   # crash-replay of the same batch id: must be a no-op
    twice = {(r.user_id, r.total_cents, r.n_events)
             for r in UP.state_totals(spark, state).collect()}
    assert twice == once

    merge(batch, 1)   # a NEW batch id genuinely accumulates
    thrice = {r.user_id: (r.total_cents, r.n_events)
              for r in UP.state_totals(spark, state).collect()}
    for (uid, cents, n) in once:
        assert thrice[uid] == (2 * cents, 2 * n)


def test_upsert_refused_first_batch_retry_probes_again(spark, sf_dir,
                                                       tmp_path,
                                                       monkeypatch):
    """A restarted sink's first batch meets stamps from the incarnation
    before it, its write is refused, and the same incarnation retries the
    batch. The retry must still see the earlier stamps: a memo primed by
    the refused attempt would merge the already-committed bucket twice."""
    from datafusion_delta_sharing_spark.streaming import upsert as UP

    state = str(tmp_path / "state")
    batch = (load_table(spark, sf_dir, "events")
             .select("user_id", "value").limit(500).localCheckpoint())
    old = UP.upsert_totals_sink(spark, state, n_buckets=4,
                                run_id="ckpt-r")
    old(batch, 0)
    once = {r.user_id: (r.total_cents, r.n_events)
            for r in UP.state_totals(spark, state).collect()}
    # the old incarnation crashed inside batch 1 after bucket 0 committed
    old(batch.filter(F.pmod("user_id", F.lit(4)) == 0), 1)

    restarted = UP.upsert_totals_sink(spark, state, n_buckets=4,
                                      run_id="ckpt-r")
    stamp_rows = UP.new_stamp_rows
    refusals = []

    def refuse_once(*args, **kwargs):
        if not refusals:
            refusals.append(args)
            raise RuntimeError("synthetic write refusal")
        return stamp_rows(*args, **kwargs)

    monkeypatch.setattr(UP, "new_stamp_rows", refuse_once)
    with pytest.raises(RuntimeError, match="synthetic write refusal"):
        restarted(batch, 1)
    assert sorted(refusals[0][2]) == [1, 2, 3]  # bucket 0 already done
    restarted(batch, 1)
    after = {r.user_id: (r.total_cents, r.n_events)
             for r in UP.state_totals(spark, state).collect()}
    assert after == {uid: (2 * cents, 2 * n)
                     for uid, (cents, n) in once.items()}


def test_upsert_batch_interrupted_before_record_probes_again(
        spark, sf_dir, tmp_path, monkeypatch):
    """Batch 1's write commits, then an interrupt lands before the guard
    records it, and the same sink receives batch 1 again. The replay must
    probe the stamps the memo never saw: skipping the probe would merge
    batch 1 twice."""
    from datafusion_delta_sharing_spark.streaming import upsert as UP

    state = str(tmp_path / "state")
    batch = (load_table(spark, sf_dir, "events")
             .select("user_id", "value").limit(500).localCheckpoint())
    merge = UP.upsert_totals_sink(spark, state, n_buckets=4,
                                  run_id="ckpt-i")
    merge(batch, 0)
    once = {r.user_id: (r.total_cents, r.n_events)
            for r in UP.state_totals(spark, state).collect()}

    record = UP.ReplayGuard.record
    interrupts = []

    def interrupt_once(self, todo, batch_id):
        if batch_id == 1 and not interrupts:
            interrupts.append(todo)
            raise RuntimeError("synthetic interrupt after commit")
        return record(self, todo, batch_id)

    monkeypatch.setattr(UP.ReplayGuard, "record", interrupt_once)
    with pytest.raises(RuntimeError, match="synthetic interrupt"):
        merge(batch, 1)
    assert interrupts and interrupts[0]
    merge(batch, 1)
    after = {r.user_id: (r.total_cents, r.n_events)
             for r in UP.state_totals(spark, state).collect()}
    assert after == {uid: (2 * cents, 2 * n)
                     for uid, (cents, n) in once.items()}


def test_upsert_overwrite_reads_its_own_state_dir(spark, sf_dir, tmp_path):
    """ADVICE r10 pin: the pre-write localCheckpoint is LAZY, so the
    write job's own tasks physically read the old state files while the
    dynamic partition overwrite replaces those directories at commit —
    the safety is the committer deleting old files only at job commit,
    AFTER every reading task finished. Pin that cycle explicitly: the
    second merge rewrites ONLY bucket dirs that already exist on disk
    (asserted), reads them inside its own write job, and the result is
    the exact two-batch sum — a committer or mode change that breaks
    the read-during-overwrite window fails this test loudly."""
    import os

    from datafusion_delta_sharing_spark.streaming import upsert as UP

    state = str(tmp_path / "state")
    merge = UP.upsert_totals_sink(spark, state, n_buckets=4,
                                  run_id="ckpt-cycle")
    batch = (load_table(spark, sf_dir, "events")
             .select("user_id", "value").limit(500).localCheckpoint())

    merge(batch, 0)
    first = {r.user_id: (r.total_cents, r.n_events)
             for r in UP.state_totals(spark, state).collect()}
    assert first
    buckets_on_disk = {d for d in os.listdir(state)
                       if d.startswith("bucket=")}
    assert buckets_on_disk, "batch 0 must have written bucket dirs"

    # batch 1 touches the SAME buckets: every directory the write reads
    # is a directory its commit will replace
    merge(batch, 1)
    after = {d for d in os.listdir(state) if d.startswith("bucket=")}
    assert after == buckets_on_disk
    second = {r.user_id: (r.total_cents, r.n_events)
              for r in UP.state_totals(spark, state).collect()}
    for uid, (cents, n) in first.items():
        assert second[uid] == (2 * cents, 2 * n)


def test_upsert_new_run_over_existing_state_merges(spark, sf_dir, tmp_path):
    """r5 review fix: batch ids only mean 'already applied' within one run
    (checkpoint lineage). A NEW query pointed at existing state restarts
    its batch ids at 0 — its data is real and must merge, not be
    discarded as a phantom replay; replays within each run stay no-ops."""
    from datafusion_delta_sharing_spark.streaming import upsert as UP

    state = str(tmp_path / "state")
    batch = (load_table(spark, sf_dir, "events")
             .select("user_id", "value").limit(500).localCheckpoint())

    run_a = UP.upsert_totals_sink(spark, state, n_buckets=4, run_id="ckpt-a")
    run_a(batch, 0)
    first = {r.user_id: (r.total_cents, r.n_events)
             for r in UP.state_totals(spark, state).collect()}
    assert first

    run_b = UP.upsert_totals_sink(spark, state, n_buckets=4, run_id="ckpt-b")
    run_b(batch, 0)   # same batch id, DIFFERENT run: real data
    second = {r.user_id: (r.total_cents, r.n_events)
              for r in UP.state_totals(spark, state).collect()}
    for uid, (cents, n) in first.items():
        assert second[uid] == (2 * cents, 2 * n)

    run_b(batch, 0)   # replay within run b: no-op
    third = {r.user_id: (r.total_cents, r.n_events)
             for r in UP.state_totals(spark, state).collect()}
    assert third == second


def test_upsert_stamps_survive_another_runs_overwrite(spark, sf_dir,
                                                      tmp_path):
    """r5 review: the stamp must be a standalone per-(bucket, run) row,
    not a column on data rows — run B rewriting a bucket used to erase
    run A's stamp, so a later crash-replay of run A's batch
    double-merged. Sequence: A applies batch 0, B applies ITS batch 0
    (real data), then A's batch 0 REPLAYS — it must be a no-op."""
    from datafusion_delta_sharing_spark.streaming import upsert as UP

    state = str(tmp_path / "state")
    batch = (load_table(spark, sf_dir, "events")
             .select("user_id", "value").limit(500).localCheckpoint())
    run_a = UP.upsert_totals_sink(spark, state, n_buckets=4, run_id="ckpt-a")
    run_b = UP.upsert_totals_sink(spark, state, n_buckets=4, run_id="ckpt-b")
    run_a(batch, 0)
    run_b(batch, 0)
    after_b = {r.user_id: (r.total_cents, r.n_events)
               for r in UP.state_totals(spark, state).collect()}
    run_a(batch, 0)   # late replay of A's batch: must be a no-op
    replayed = {r.user_id: (r.total_cents, r.n_events)
                for r in UP.state_totals(spark, state).collect()}
    assert replayed == after_b


def test_upsert_stats_and_stamp_compaction(spark, sf_dir, tmp_path):
    """VERDICT r8 #3: (a) the sink's per-batch stats report stamp rows
    bounded at one per (bucket, run) — the bench's fresh-state shape
    cannot accumulate stamps; (b) compact_stamps removes exactly the
    retired runs' stamps, leaves live stamps (replay guard intact) and
    never touches data rows."""
    from datafusion_delta_sharing_spark.streaming import upsert as UP

    state = str(tmp_path / "state")
    batch = (load_table(spark, sf_dir, "events")
             .select("user_id", "value").limit(500).localCheckpoint())
    stats_a: list = []
    run_a = UP.upsert_totals_sink(spark, state, n_buckets=4,
                                  run_id="ckpt-a", stats=stats_a)
    run_a(batch, 0)
    run_a(batch, 1)
    assert len(stats_a) == 2
    for s in stats_a:
        assert s["buckets"] == 4 and s["rewrite_bytes"] > 0
        # after every batch each bucket holds exactly ONE stamp for this
        # run (my_stamps replaces, never appends) — no growth in-run
        assert s["stamp_rows"] == 4
        assert s["data_rows"] > 0

    run_b = UP.upsert_totals_sink(spark, state, n_buckets=4,
                                  run_id="ckpt-b")
    run_b(batch, 0)
    totals = {r.user_id: (r.total_cents, r.n_events)
              for r in UP.state_totals(spark, state).collect()}
    stamps = (UP._state_df(spark, state)
              .filter("user_id IS NULL").collect())
    assert {r.last_run for r in stamps} == {"ckpt-a", "ckpt-b"}
    assert len(stamps) == 8  # one per (bucket, run)

    # retire run a: its 4 stamps go, run b's stay, data untouched
    removed = UP.compact_stamps(spark, state, live_runs=("ckpt-b",))
    assert removed == 4
    left = UP._state_df(spark, state).filter("user_id IS NULL").collect()
    assert {r.last_run for r in left} == {"ckpt-b"} and len(left) == 4
    assert {r.user_id: (r.total_cents, r.n_events)
            for r in UP.state_totals(spark, state).collect()} == totals
    # run b's replay guard still holds after compaction
    run_b(batch, 0)
    assert {r.user_id: (r.total_cents, r.n_events)
            for r in UP.state_totals(spark, state).collect()} == totals
    # idempotent when nothing is dead
    assert UP.compact_stamps(spark, state, live_runs=("ckpt-b",)) == 0


def test_upsert_refuses_bucket_count_drift_and_empty_run(spark, sf_dir,
                                                         tmp_path):
    """Reattaching with a different n_buckets would route users to other
    buckets and split their totals; an empty run_id merges two queries'
    stamp namespaces — both refuse loudly (r5 review)."""
    import pytest

    from datafusion_delta_sharing_spark.streaming import upsert as UP

    state = str(tmp_path / "state")
    with pytest.raises(ValueError, match="run_id"):
        UP.upsert_totals_sink(spark, state, n_buckets=4)
    UP.upsert_totals_sink(spark, state, n_buckets=4, run_id="ckpt-a")
    with pytest.raises(ValueError, match="n_buckets=4"):
        UP.upsert_totals_sink(spark, state, n_buckets=8, run_id="ckpt-a")

"""Extensions batch 22: the scd2_repair registry row (r10 session).

The refuse -> repair -> redeliver workflow assertions live inside the
query itself (it raises if the order guard never fires or if any
held-out row remains unapplied after repair); these tests pin the
registry row's shape and its equality to the batch build at sf0.001,
the same contract the DuckDB oracle hashes at sf0.01.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_delta_sharing_spark.harness import relational as E22
from datafusion_delta_sharing_spark.harness.relational import q_scd2_build


def test_scd2_repair_equals_batch_build(spark, sf_dir):
    got = {(r.user_id, r.version): (r.state, r.valid_from, r.valid_to,
                                    r.is_current)
           for r in E22.q_scd2_repair(spark, sf_dir).collect()}
    want = {(r.user_id, r.version): (r.state, r.valid_from, r.valid_to,
                                     r.is_current)
            for r in q_scd2_build(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_scd2_repair_oracle_text_is_the_batch_sql(spark, sf_dir):
    """The oracle is the batch interval SQL verbatim — DuckDB runs it
    and the row count matches the repaired state."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')")
    n_oracle = con.execute(
        f"SELECT count(*) FROM ({E22.ORACLES['scd2_repair']})"
    ).fetchone()[0]
    assert n_oracle == E22.q_scd2_repair(spark, sf_dir).count()


def test_scd2_repair_raises_when_guard_cannot_fire(spark, sf_dir,
                                                   monkeypatch):
    """Non-vacuousness: if the sink accepted the held-out stripe (e.g.
    a regression removed the order guard), the query must raise rather
    than let a trivially-green oracle row stand."""
    from datafusion_delta_sharing_spark.streaming import scd2 as S2

    real_sink = S2.scd2_upsert_sink

    def tolerant_sink(*args, **kwargs):
        merge = real_sink(*args, **kwargs)

        def _merge(batch_df, batch_id):
            try:
                merge(batch_df, batch_id)
            except ValueError:
                pass  # swallow the guard — the regression under test

        return _merge

    monkeypatch.setattr(
        "datafusion_delta_sharing_spark.streaming.scd2.scd2_upsert_sink",
        tolerant_sink)
    with pytest.raises(RuntimeError, match="order guard"):
        E22.q_scd2_repair(spark, sf_dir)


# -- logistic regression -------------------------------------------------------


def _py_logreg(rows, rounds):
    """Pure-Python Newton mirror of logreg_fit_1f for one group:
    identical round structure (round 1 exact from b=0, then IRLS)."""
    import math

    n = len(rows)
    sx = sum(x for x, _ in rows)
    sxx = sum(x * x for x, _ in rows)
    sy = sum(y for _, y in rows)
    sxy = sum(x * y for x, y in rows)
    det = float(n) * sxx - float(sx) * sx
    b0 = 4.0 * ((sy - n / 2.0) * sxx - (sxy - sx / 2.0) * sx) / det
    b1 = 4.0 * ((sxy - sx / 2.0) * float(n) - (sy - n / 2.0) * sx) / det
    for _ in range(rounds - 1):
        g0 = g1 = h00 = h01 = h11 = 0.0
        for x, y in rows:
            p = 1.0 / (1.0 + math.exp(-(b0 + b1 * x)))
            w = p * (1.0 - p)
            g0 += y - p
            g1 += x * (y - p)
            h00 += w
            h01 += x * w
            h11 += x * x * w
        det = h00 * h11 - h01 * h01
        b0 += (g0 * h11 - g1 * h01) / det
        b1 += (g1 * h00 - g0 * h01) / det
    ll = 0.0
    for x, y in rows:
        p = 1.0 / (1.0 + math.exp(-(b0 + b1 * x)))
        ll += y * math.log(p) + (1 - y) * math.log(1.0 - p)
    return round(b0, 5), round(b1, 5), round(ll / n, 5)


def test_logreg_matches_pure_python_newton(spark):
    from datafusion_delta_sharing_spark.operators import mlprep as ML

    rows = [(x % 11, 1 if (7 * x) % 10 < 2 + (x % 11) // 2 else 0)
            for x in range(400)]
    xy = spark.createDataFrame([("a", x, y) for x, y in rows],
                               "g string, x long, y long")
    got = ML.logreg_fit_1f(spark, xy, "g", rounds=3).collect()[0]
    b0, b1, avg_ll = _py_logreg(rows, 3)
    assert (got.n, got.b0, got.b1, got.avg_ll) == (400, b0, b1, avg_ll)
    assert got.b1 > 0  # the planted law rises in x


def test_logreg_degenerate_and_validation(spark):
    """Constant-x groups have a singular round-1 system and must drop
    out (the oracle's det != 0 filter), healthy siblings survive;
    rounds < 1 refuses on both builders."""
    import pytest as _pytest

    from datafusion_delta_sharing_spark.operators import mlprep as ML

    xy = spark.createDataFrame(
        [("flat", 5, i % 2) for i in range(40)]
        + [("ok", i % 7, 1 if i % 3 == 0 else 0) for i in range(60)],
        "g string, x long, y long")
    out = {r.g for r in ML.logreg_fit_1f(spark, xy, "g", 2).collect()}
    assert out == {"ok"}
    with _pytest.raises(ValueError, match="rounds"):
        ML.logreg_fit_1f(spark, xy, "g", 0)
    with _pytest.raises(ValueError, match="rounds"):
        ML.logreg_fit_1f_sql("SELECT 1", "g", 0)


def test_logreg_registry_row_cross_engine(spark, sf_dir):
    from datafusion_delta_sharing_spark.harness import ml as E22

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')")
    dk = {r[0]: tuple(r[1:])
          for r in con.execute(E22.ORACLES["logreg_fit"]).fetchall()}
    sp = {r.g: (r.n, r.b0, r.b1, r.avg_ll)
          for r in E22.q_logreg_fit(spark, sf_dir).collect()}
    assert sp == dk and len(sp) == 3
    assert all(v[2] > 0 for v in sp.values())  # planted slope recovered


# -- repair convergence property -------------------------------------------------


@settings(max_examples=12, deadline=None)
@given(st.data())
def test_scd2_repair_converges_for_any_holdout(spark, data):
    """Property (r10 session): for ANY per-entity event log and ANY
    held-out subset that triggers the order guard, repair_entities over
    the full log converges the state to the batch window build — the
    fixed-stripe registry query generalized. Entities, timestamps (NULL
    and equal ones included), NULL event ids and the holdout choice are
    all hypothesis-driven; the applied prefix is whatever the holdout
    leaves (still per-entity ordered), merged in drawn batches that the
    guard accepts, after which the state equals ``cdc.scd2_intervals``
    over the applied events."""
    import datetime as dt
    import itertools

    from pyspark.sql import Row, Window
    from pyspark.sql import functions as F

    from datafusion_delta_sharing_spark.operators import cdc as CDC
    from datafusion_delta_sharing_spark.streaming import scd2 as S2

    def key(ev):
        """The batch window's (ts, event_id) order, NULLS LAST."""
        _, _, ts, e = ev
        return (ts is None, ts or dt.datetime.min, e is None, e or 0)

    n_entities = data.draw(st.integers(1, 4), label="n_entities")
    logs = {}
    eid = 0
    for u in range(n_entities):
        n_ev = data.draw(st.integers(1, 6), label=f"n_ev_{u}")
        hours = data.draw(
            st.lists(st.none() | st.integers(0, 8), min_size=n_ev,
                     max_size=n_ev), label=f"hours_{u}")
        null_ids = data.draw(
            st.lists(st.booleans(), min_size=n_ev, max_size=n_ev),
            label=f"null_ids_{u}")
        evs = []
        for i, (h, null_id) in enumerate(zip(hours, null_ids)):
            e = None if null_id else eid + i
            # events that tie on (ts, event_id) share their state, so
            # every order of the tie builds the same intervals
            evs.append((u, f"t{h}" if e is None else f"s{e}",
                        None if h is None
                        else dt.datetime(2024, 4, 1) + dt.timedelta(hours=h),
                        e))
        logs[u] = sorted(evs, key=key)
        eid += n_ev
    # hold out a non-final subset per entity (an event at or before the
    # entity's last one — guaranteed to trip the guard when merged
    # afterwards); the applied rest goes in drawn batches that never
    # split a (ts, event_id) tie, so each batch starts after the last
    n_batches = data.draw(st.integers(1, 3), label="n_batches")
    held, batches = [], [[] for _ in range(n_batches)]
    for u, evs in logs.items():
        holdable = list(range(len(evs) - 1))  # all but the last
        picks = data.draw(
            st.lists(st.sampled_from(holdable), unique=True,
                     max_size=len(holdable)),
            label=f"holdout_{u}") if holdable else []
        held += [ev for i, ev in enumerate(evs) if i in picks]
        ties = [list(g) for _, g in itertools.groupby(
            [ev for i, ev in enumerate(evs) if i not in picks], key=key)]
        cuts = sorted(data.draw(
            st.lists(st.integers(0, n_batches - 1), min_size=len(ties),
                     max_size=len(ties)), label=f"batches_{u}"))
        for b, tie in zip(cuts, ties):
            batches[b] += tie

    def cdc(rows):
        return spark.createDataFrame(
            [Row(user_id=u, event_type=s, ts=ts, event_id=e)
             for u, s, ts, e in rows],
            "user_id bigint, event_type string, ts timestamp, "
            "event_id bigint").localCheckpoint()

    def intervals(frame):
        return {(r.user_id, r.version): (r.state, r.valid_from, r.valid_to)
                for r in frame.collect()}

    import tempfile

    state = tempfile.mkdtemp(prefix="scd2_prop_")
    merge = S2.scd2_upsert_sink(spark, state, n_buckets=2,
                                run_id=f"{state}-run")
    applied = [ev for batch in batches if batch for ev in batch]
    for batch_id, batch in enumerate(b for b in batches if b):
        merge(cdc(batch), batch_id)
    assert intervals(S2.scd2_state(spark, state)) == intervals(
        CDC.scd2_intervals(cdc(applied)))
    if held:
        with pytest.raises(ValueError, match="out-of-order"):
            merge(cdc(held), n_batches)
        all_rows = [e for evs in logs.values() for e in evs]
        S2.repair_entities(spark, state, cdc(all_rows),
                           sorted({u for u, *_ in held}))
        assert S2.unapplied_events(spark, state, cdc(held)).count() == 0

    got = intervals(S2.scd2_state(spark, state))
    wu = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id"))
    ev = cdc([e for evs in logs.values() for e in evs])
    want = intervals(ev.withColumn("version", F.row_number().over(wu))
                     .withColumn("valid_to", F.lead("ts").over(wu))
                     .select("user_id", "version",
                             F.col("event_type").alias("state"),
                             F.col("ts").alias("valid_from"),
                             "valid_to"))
    assert got == want


# -- decision stump --------------------------------------------------------------


def _py_stump(rows):
    """Pure-Python exhaustive mirror of stump_fit for one group."""
    from collections import Counter

    cnt, pos = Counter(), Counter()
    for x, y in rows:
        cnt[x] += 1
        pos[x] += y
    xs = sorted(cnt)
    n = sum(cnt.values())
    p = sum(pos.values())

    def gini(nn, pp):
        return (nn - (float(pp) * pp + float(nn - pp) * (nn - pp)) / nn)

    parent = gini(n, p) / n
    best = None
    n_l = p_l = 0
    for s in xs[:-1]:
        n_l += cnt[s]
        p_l += pos[s]
        g = (gini(n_l, p_l) + gini(n - n_l, p - p_l)) / n
        if best is None or g < best[0]:
            best = (g, s, n_l, p_l)
    g, s, n_l, p_l = best
    return (s, n, round(parent - g, 6), round(p_l / n_l, 6),
            round((p - p_l) / (n - n_l), 6))


def test_stump_matches_pure_python_exhaustive(spark):
    from datafusion_delta_sharing_spark.operators import mlprep as ML

    rows = [(x % 9, 1 if (3 * x + 1) % 10 < 1 + (x % 9) // 2 else 0)
            for x in range(300)]
    xy = spark.createDataFrame([("a", x, y) for x, y in rows],
                               "g string, x long, y long")
    got = ML.stump_fit(spark, xy, "g").collect()[0]
    s, n, gain, rl, rr = _py_stump(rows)
    assert (got.split, got.n, got.gain, got.rate_left,
            got.rate_right) == (s, n, gain, rl, rr)
    assert got.gain > 0 and got.rate_right > got.rate_left


def test_stump_single_bucket_group_drops(spark):
    """A group whose x is constant has no candidate split (the right
    side would be empty) and must vanish, like the logistic det
    filter; a healthy sibling survives with the exact split."""
    from datafusion_delta_sharing_spark.operators import mlprep as ML

    xy = spark.createDataFrame(
        [("flat", 7, i % 2) for i in range(20)]
        + [("ok", i % 2, i % 2) for i in range(40)],  # y == x: perfect
        "g string, x long, y long")
    out = {r.g: r for r in ML.stump_fit(spark, xy, "g").collect()}
    assert set(out) == {"ok"}
    r = out["ok"]
    assert (r.split, r.rate_left, r.rate_right) == (0, 0.0, 1.0)


def test_stump_registry_row_cross_engine(spark, sf_dir):
    from datafusion_delta_sharing_spark.harness import ml as E22

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')")
    dk = {r[0]: tuple(r[1:])
          for r in con.execute(E22.ORACLES["stump_fit"]).fetchall()}
    sp = {r.g: (r.split, r.n, r.gain, r.rate_left, r.rate_right)
          for r in E22.q_stump_fit(spark, sf_dir).collect()}
    assert sp == dk and len(sp) == 3
    assert all(v[3] < v[4] for v in sp.values())  # rising planted law

"""Extensions batch 23: Naive Bayes, split conformal, AdaBoost.

Each registry row's cross-engine hash equality is the driver/judge
comparator's job; these tests pin the SEMANTICS — pure-Python
references for the two iterative learners (the logreg/stump
precedent), the conformal finite-sample rank math, the boosting
effect (ensemble beats its first stump), and the margin attestations
that keep the argmax/sign decisions out of the double-drift band.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_delta_sharing_spark.harness import ml as E23
from datafusion_delta_sharing_spark.operators import boosting as B
from datafusion_delta_sharing_spark.operators import mlprep as ML


# -- naive bayes ---------------------------------------------------------------


def _py_naive_bayes(doc_words):
    """Pure-Python mirror of naive_bayes_eval over (id -> word list):
    same planted all-of-concept labels, id%5 folds, Laplace-smoothed
    multinomial likelihoods, prior-only fallback for holdout docs with
    no known token. Returns the (y_true, y_pred) -> [n, margins]
    confusion, or "ambiguous" when a holdout |log-odds| sits within
    summation-order drift of zero (the adaboost-mirror convention: the
    cross-ENGINE identical-text contract is the oracle tests' job), or
    "degenerate" when a train class is empty / the vocabulary is empty
    (ln(0)/NULL scalars — outside the operator's corpus contract)."""
    concept = {"spark", "join", "hash"}
    labels = {i: (1 if concept <= set(ws) else 0, i % 5)
              for i, ws in doc_words.items()}
    train = {i for i, (_, f) in labels.items() if f < 4}
    n1 = sum(1 for i in train if labels[i][0] == 1)
    n0 = len(train) - n1
    vocab = {}
    for i in train:
        for w in doc_words[i]:
            c1, c0 = vocab.get(w, (0, 0))
            vocab[w] = ((c1 + 1, c0) if labels[i][0] == 1
                        else (c1, c0 + 1))
    if not vocab or n1 == 0 or n0 == 0:
        return "degenerate"
    t1 = sum(c1 for c1, _ in vocab.values())
    t0 = sum(c0 for _, c0 in vocab.values())
    v = len(vocab)
    conf = {}
    for i, (y, f) in labels.items():
        if f != 4:
            continue
        known = [w for w in doc_words[i] if w in vocab]
        s1 = math.log(n1) - math.log(n1 + n0)
        s0 = math.log(n0) - math.log(n1 + n0)
        if known:
            s1 += (sum(math.log(vocab[w][0] + 1) for w in known)
                   - len(known) * math.log(t1 + v))
            s0 += (sum(math.log(vocab[w][1] + 1) for w in known)
                   - len(known) * math.log(t0 + v))
        diff = s1 - s0
        if abs(diff) < 1e-9:
            return "ambiguous"
        key = (y, 1 if diff > 0 else 0)
        conf.setdefault(key, []).append(abs(diff))
    return conf


@settings(max_examples=6, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from(
        ["spark", "join", "hash", "alpha", "beta", "gamma"]),
        min_size=0, max_size=8),
    min_size=5, max_size=25))
def test_naive_bayes_matches_python_reference(spark, word_lists):
    """Arbitrary tiny corpora (including empty documents — the junk a
    quality filter exists to catch) must reproduce the mirror's
    confusion counts exactly and its margins to the output rounding."""
    doc_words = dict(enumerate(word_lists))
    want = _py_naive_bayes(doc_words)
    if want in ("ambiguous", "degenerate"):
        return
    if not any(i % 5 == 4 for i in doc_words):
        return  # no holdout: zero output rows both sides, nothing to pin
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in doc_words.items()],
        "doc_id long, text string")
    from datafusion_delta_sharing_spark.operators.classify import (
        naive_bayes_eval)

    got = {(r.y_true, r.y_pred): r
           for r in naive_bayes_eval(spark, docs, "text", "doc_id").collect()}
    assert set(got) == set(want)
    for key, margins in want.items():
        r = got[key]
        assert r.n_docs == len(margins)
        assert r.min_margin == pytest.approx(min(margins), abs=2e-4)
        assert r.avg_margin == pytest.approx(
            sum(margins) / len(margins), abs=2e-4)


def test_naive_bayes_confusion_covers_holdout(spark, sf_dir):
    rows = E23.q_naive_bayes_fit(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_holdout = docs.filter("doc_id % 5 = 4").count()
    assert sum(r.n_docs for r in rows) == n_holdout
    assert {(r.y_true, r.y_pred) for r in rows} <= {(a, b)
                                                    for a in (0, 1)
                                                    for b in (0, 1)}
    # the drift-band attestation the docstring promises: every counted
    # argmax rests on a |log-odds| far above ~1e-13 summation drift
    assert min(r.min_margin for r in rows) > 1e-3
    assert all(r.min_margin <= r.avg_margin for r in rows)


def test_naive_bayes_learns_beyond_majority(spark, sf_dir):
    """The planted 3-token conjunction is learnable enough that NB must
    beat predicting the majority class on the holdout — a regression
    here means the vocabulary join or the likelihood arithmetic broke
    while the shape stayed plausible."""
    rows = E23.q_naive_bayes_fit(spark, sf_dir).collect()
    n = sum(r.n_docs for r in rows)
    correct = sum(r.n_docs for r in rows if r.y_true == r.y_pred)
    majority = max(
        sum(r.n_docs for r in rows if r.y_true == 1),
        sum(r.n_docs for r in rows if r.y_true == 0))
    assert correct > majority


def test_naive_bayes_scores_tokenless_docs(spark):
    """A document with empty/whitespace-only text — exactly what a
    quality filter exists to catch — must still receive a label (y=0),
    a prior contribution, and a prior-only holdout prediction, not
    silently vanish (the r10-continuation review's finding: labels now
    derive from the documents table, not the token table)."""
    from datafusion_delta_sharing_spark.operators import classify as CL

    rows = [(i, "spark join hash pipeline" if i % 2 else "filler words",
             ) for i in range(20)]
    rows.append((24, ""))        # holdout fold (24 % 5 == 4), no tokens
    rows.append((29, "   "))     # holdout fold, whitespace only
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = CL.naive_bayes_eval(spark, docs, "text", "doc_id").collect()
    n_holdout_docs = sum(1 for i, _ in rows if i % 5 == 4)
    assert sum(r.n_docs for r in out) == n_holdout_docs
    # both token-less docs are y_true = 0 and received SOME prediction
    assert sum(r.n_docs for r in out if r.y_true == 0) >= 2


def test_naive_bayes_single_tokenize_pass(spark, sf_dir):
    """The module's headline scale claim, pinned: the returned plan
    reads the two materialized leaves — the review measured 9 FileScan
    + 9 explode nodes in the naive all-CTE formulation, so a
    regression back to inlined CTEs is visible as parquet scans or
    Generate nodes in the executed plan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from datafusion_delta_sharing_spark.operators import classify as CL

    plan = (CL.naive_bayes_eval(spark, docs, "text", "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "FileScan parquet" not in plan
    assert "Generate explode" not in plan


def test_naive_bayes_oracle_matches_at_sf0001(spark, sf_dir):
    got = sorted(tuple(r) for r in
                 E23.q_naive_bayes_fit(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    want = sorted(tuple(r) for r in
                  con.execute(E23.ORACLES["naive_bayes_fit"]).fetchall())
    assert got == want


# -- split conformal -----------------------------------------------------------


def test_conformal_rank_is_finite_sample_ceil():
    """The pure-integer rank spelling equals ceil(0.9*(n+1)) for every
    calibration size, capped at n with the cal_too_small flag."""
    for n in range(1, 400):
        k10 = (9 * (n + 1) + 9) - ((9 * (n + 1) + 9) % 10)
        k = k10 // 10
        assert k == math.ceil(0.9 * (n + 1))
        assert (k > n) == (n < 9)


def test_conformal_coverage_near_target(spark, sf_dir):
    rows = E23.q_conformal_interval(spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.cal_too_small == 0
        assert r.n_tr > r.n_cal and r.n_test > 0
        assert r.qhat > 0
        assert 0.8 <= r.coverage <= 1.0
        assert r.covered == round(r.coverage * r.n_test)


def test_conformal_small_calibration_flags_and_caps(spark):
    """n_cal < 9 makes the finite-sample interval infinite; the query
    caps q-hat at the max calibration score and says so."""
    rows = []
    for i in range(40):
        fold = i % 10
        rows.append((0, i % 7, 100 + 3 * (i % 7) + (i % 4), i, fold))
    xy = spark.createDataFrame(
        rows, "g long, x long, y long, id long, fold long")
    # folds 6,7 hold 8 rows -> n_cal = 8 < 9
    out = ML.conformal_interval_1f(spark, xy, "g").collect()
    assert len(out) == 1 and out[0].cal_too_small == 1


def test_conformal_empty_calibration_surfaces_not_drops(spark):
    """A group with NO fold-6/7 rows is the extreme undersized-
    calibration case: it must stay in the output with NULL
    qhat/covered/coverage and cal_too_small = 1, not silently vanish
    (the r10-continuation review's finding)."""
    rows = [(0, i % 7, 100 + 3 * (i % 7), i,
             [0, 1, 2, 3, 4, 5, 8, 9][i % 8])  # folds 6,7 never occur
            for i in range(40)]
    xy = spark.createDataFrame(
        rows, "g long, x long, y long, id long, fold long")
    out = ML.conformal_interval_1f(spark, xy, "g").collect()
    assert len(out) == 1
    r = out[0]
    assert r.cal_too_small == 1 and r.n_cal == 0
    assert r.qhat is None and r.covered is None and r.coverage is None
    assert r.n_test > 0


def _py_conformal(rows):
    """Pure-Python mirror of the split-conformal SQL over integer rows
    (g, x, y, id, fold). The OLS sums are exact integers, so replicating
    the SQL's exact double-expression shapes (division/multiplication
    order) makes b0/b1 — and every score — bit-identical, not merely
    close; the only tolerance needed downstream is the output's
    round(·, 6) (SQL HALF_UP vs Python bankers)."""
    by_g = {}
    for g, x, y, i, fold in rows:
        by_g.setdefault(g, []).append((x, y, i, fold))
    out = {}
    for g, rs in by_g.items():
        tr = [(x, y) for x, y, _, f in rs if f <= 5]
        n_tr = len(tr)
        sx = sum(x for x, _ in tr)
        sy = sum(y for _, y in tr)
        sxx = sum(x * x for x, _ in tr)
        sxy = sum(x * y for x, y in tr)
        det = float(n_tr) * sxx - float(sx) * sx
        if det == 0:
            continue  # WHERE det != 0: no coef row, inner join drops g
        b1 = (float(n_tr) * sxy - float(sx) * sy) / det
        b0 = (sy - b1 * sx) / n_tr
        cal = sorted((abs(y - (b0 + b1 * x)), i)
                     for x, y, i, f in rs if f in (6, 7))
        n_cal = len(cal)
        q = too_small = None
        if n_cal:
            k = 9 * (n_cal + 1) + 9
            k10 = k - k % 10
            too_small = k10 > 10 * n_cal
            q = cal[min(k10, 10 * n_cal) // 10 - 1][0]
        test = [(x, y) for x, y, _, f in rs if f >= 8]
        if not test:
            continue  # FROM xy WHERE fold >= 8: no output row
        if q is None:
            out[g] = (n_tr, 0, len(test), None, None, None, 1)
        else:
            cov = sum(1 for x, y in test if abs(y - (b0 + b1 * x)) <= q)
            out[g] = (n_tr, n_cal, len(test), q, cov,
                      cov / len(test), int(too_small))
    return out


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 6), st.integers(0, 9),
              st.integers(0, 9)),
    min_size=1, max_size=40))
def test_conformal_matches_python_reference(spark, tuples_list):
    """Arbitrary tiny frames (groups x in [0,6], y in [0,9], folds
    drawn per row in [0,9]; ids are the row index) must reproduce the
    mirror exactly: same surviving
    group set (det=0 and test-less groups dropped the same way), exact
    integer columns, bit-identical coverage counts, and qhat/coverage
    within the output rounding."""
    rows = [(g, x, y, i, f) for i, (g, x, y, f) in enumerate(tuples_list)]
    want = _py_conformal(rows)
    xy = spark.createDataFrame(
        rows, "g long, x long, y long, id long, fold long")
    got = {r.g: r for r in ML.conformal_interval_1f(spark, xy, "g").collect()}
    assert set(got) == set(want)
    for g, (n_tr, n_cal, n_test, q, cov, coverage, flag) in want.items():
        r = got[g]
        assert (r.n_tr, r.n_cal, r.n_test, r.cal_too_small) == (
            n_tr, n_cal, n_test, flag)
        if q is None:
            assert r.qhat is None and r.covered is None and r.coverage is None
        else:
            assert r.qhat == pytest.approx(q, abs=1e-6)
            assert r.covered == cov
            assert r.coverage == pytest.approx(coverage, abs=1e-6)


def test_conformal_oracle_matches_at_sf0001(spark, sf_dir):
    got = sorted(tuple(r) for r in
                 E23.q_conformal_interval(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')")
    want = sorted(tuple(r) for r in
                  con.execute(E23.ORACLES["conformal_interval"]).fetchall())
    assert got == want


# -- adaboost ------------------------------------------------------------------


def _py_adaboost(cells, rounds):
    """Pure-Python mirror of the cell-table AdaBoost for ONE group:
    cells = {x: (cnt, pos)}; returns ([(split, pol, alpha)...],
    train_err), None when a round degenerates, or the string
    "ambiguous" when a float knife-edge makes the argmin (or a final
    sign) implementation-defined: from round 2 on the candidate errors
    are float expressions whose last-ulp values legitimately differ
    between this mirror and the SQL texts (different summation shapes),
    so a top-2 gap below 1e-9·W — including an exact tie, which the
    two shapes need not reproduce bit-identically — cannot be asserted
    against. (Round 1 is exempt: unit weights make every error an
    exact integer in ANY implementation.) The cross-ENGINE contract —
    Spark and DuckDB running the IDENTICAL text — is pinned by the
    oracle tests instead."""
    wp = {x: 1.0 for x in cells}
    wn = {x: 1.0 for x in cells}
    xs = sorted(cells)
    stumps = []
    for t in range(1, rounds + 1):
        w_tot = sum(wp[x] * cells[x][1] + wn[x] * (cells[x][0]
                                                   - cells[x][1])
                    for x in xs)
        keys = []
        for split in xs[:-1]:
            e1 = (sum(wn[x] * (cells[x][0] - cells[x][1])
                      for x in xs if x <= split)
                  + sum(wp[x] * cells[x][1] for x in xs if x > split))
            keys.append((e1, split, 1))
            keys.append((w_tot - e1, split, -1))
        keys.sort()
        err, split, pol = keys[0]
        if t > 1 and len(keys) > 1 and (keys[1][0] - err
                                        < 1e-9 * w_tot):
            return "ambiguous"
        if not (0 < err < w_tot):
            return None
        alpha = 0.5 * math.log((w_tot - err) / err)
        stumps.append((split, pol, alpha))
        for x in xs:
            h = pol if x <= split else -pol
            wp[x] *= math.exp(-alpha) if h == 1 else math.exp(alpha)
            wn[x] *= math.exp(-alpha) if h == -1 else math.exp(alpha)
    n = sum(c for c, _ in cells.values())
    n_err = 0
    for x, (cnt, pos) in cells.items():
        fx = sum(a * (p if x <= s else -p) for s, p, a in stumps)
        if abs(fx) < 1e-9:
            return "ambiguous"
        n_err += (cnt - pos) if fx > 0 else pos
    return stumps, n_err / n


@settings(max_examples=12, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 5), st.integers(1, 9), st.integers(0, 9)),
    min_size=4, max_size=12).filter(
        lambda cs: len({c[0] for c in cs}) >= 2))
def test_adaboost_matches_python_reference(spark, cells_list):
    cells = {}
    for x, cnt, pos in cells_list:
        c, p = cells.get(x, (0, 0))
        cells[x] = (c + cnt, p + min(pos, cnt))
    rows = [(0, x, i, 1 if i < pos else 0)
            for x, (cnt, pos) in cells.items() for i in range(cnt)]
    xy = spark.createDataFrame(
        [(g, x, y) for g, x, _, y in rows], "g long, x long, y long")
    ref = _py_adaboost(cells, 2)
    if ref == "ambiguous":
        return  # knife-edge argmin — see the mirror's docstring
    got = B.adaboost_fit(spark, xy, "g", rounds=2).collect()
    if ref is None:
        assert got == []
        return
    stumps, train_err = ref
    assert len(got) == 1
    r = got[0]
    for i, (s, p, a) in enumerate(stumps, 1):
        assert (getattr(r, f"split{i}"), getattr(r, f"pol{i}")) == (s, p)
        assert getattr(r, f"alpha{i}") == pytest.approx(a, abs=2e-5)
    assert r.train_err == pytest.approx(train_err, abs=2e-6)


def test_adaboost_first_stump_matches_stump_family(spark, sf_dir):
    """Round 1 minimizes the UNWEIGHTED misclassification count — its
    chosen split must be a minimizer of the same exact-count objective
    recomputed from the raw frame in Python."""
    from datafusion_delta_sharing_spark.harness import register_views
    from datafusion_delta_sharing_spark.harness.ml import _LR_XY_SQL

    register_views(spark, sf_dir, ["events"])
    raw = spark.sql(_LR_XY_SQL).collect()
    got = {r.g: r for r in
           E23.q_adaboost_fit(spark, sf_dir).collect()}
    for g in got:
        cells = {}
        for row in raw:
            if row.g != g:
                continue
            c, p = cells.get(row.x, (0, 0))
            cells[row.x] = (c + 1, p + row.y)
        xs = sorted(cells)
        best = None
        for split in xs[:-1]:
            e1 = (sum(c - p for x, (c, p) in cells.items() if x <= split)
                  + sum(p for x, (c, p) in cells.items() if x > split))
            w = sum(c for c, _ in cells.values())
            for pol, err in ((1, e1), (-1, w - e1)):
                key = (err, split, pol)
                if best is None or key < best:
                    best = key
        assert (got[g].split1, got[g].pol1) == (best[1], best[2])


def test_adaboost_satisfies_freund_schapire_bound(spark, sf_dir):
    """The boosting theorem (Freund & Schapire 1997, Thm 9): the
    ensemble's 0/1 training error is at most prod_t 2*sqrt(e_t(1-e_t))
    over the per-round NORMALIZED weighted errors (recoverable from
    the alphas: e_t = 1/(1+exp(2*alpha_t))). Each alpha must be > 0
    (the chosen polarity guarantees err <= W/2, and the planted law
    keeps it strictly below) — and every sign decision clears the
    drift band. NOTE the ensemble need NOT beat its first stump
    pointwise: when alpha1 > alpha2 + alpha3 the ensemble IS stump 1
    (observed at sf0.001), which the bound accommodates and a naive
    'strictly better' assertion would not."""
    rows = E23.q_adaboost_fit(spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        bound = 1.0
        for alpha in (r.alpha1, r.alpha2, r.alpha3):
            assert alpha > 0
            e_t = 1.0 / (1.0 + math.exp(2.0 * alpha))
            bound *= 2.0 * math.sqrt(e_t * (1.0 - e_t))
        assert r.train_err <= bound + 1e-6
        assert r.min_abs_score > 1e-3


def test_adaboost_separable_drop_is_round1_only(spark):
    """Perfectly separable data degenerates at ROUND 1 (err=0 → alpha
    infinite → documented drop, nothing lost: no earlier stumps
    exist). The boosting.py docstring proves a later round can never
    newly degenerate — err_t = 0 under strictly positive weights means
    the stump is perfect on every cell, which would already have made
    err_1 = 0 — so the drop semantics discard no partial ensemble."""
    rows = [(0, x, 1 if x >= 3 else 0) for x in range(6)] * 5
    xy = spark.createDataFrame(rows, "g long, x long, y long")
    assert B.adaboost_fit(spark, xy, "g", rounds=3).collect() == []
    # same data plus one noise row: survives round 1, then ALL rounds
    noisy = rows + [(0, 0, 1)]
    xy2 = spark.createDataFrame(noisy, "g long, x long, y long")
    out = B.adaboost_fit(spark, xy2, "g", rounds=3).collect()
    assert len(out) == 1
    assert all(getattr(out[0], f"alpha{i}") is not None
               for i in (1, 2, 3))


def test_adaboost_oracle_matches_at_sf0001(spark, sf_dir):
    from datafusion_delta_sharing_spark.harness import register_views

    register_views(spark, sf_dir, ["events"])
    got = sorted(tuple(r) for r in
                 E23.q_adaboost_fit(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')")
    want = sorted(tuple(r) for r in
                  con.execute(E23.ORACLES["adaboost_fit"]).fetchall())
    assert got == want


# -- poisson bootstrap ---------------------------------------------------------


def _round6(x):
    """Spark/DuckDB round(x, 6): HALF_UP on the shortest decimal
    representation (BigDecimal.valueOf semantics) — Python's round()
    is half-to-even on the exact binary value and can differ on
    6-decimal midpoints, so the EXACT mirror must not use it."""
    import decimal

    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("1e-6"), rounding=decimal.ROUND_HALF_UP))


def _py_bootstrap(rows, b_count):
    """Pure-Python mirror of bootstrap_ci_mean for ONE group: the same
    16-bit md5-slice draws against the same integer thresholds, exact
    integer sums, one float division per replicate, rank-from-survivor
    order-statistic bounds — every step bit-exact, so the comparison
    is EXACT."""
    import hashlib

    from datafusion_delta_sharing_spark.operators.sampling import (
        _BOOT_PER_HASH, _POIS_T, _boot_ranks)

    means = []
    for b in range(b_count):
        chunk, j = divmod(b, _BOOT_PER_HASH)
        swy = sw = 0
        for rid, y in rows:
            hx = hashlib.md5(
                f"{rid}:{chunk}:boot1".encode()).hexdigest()
            h = int(hx[j * 4:j * 4 + 4], 16)
            w = next((k for k, t in enumerate(_POIS_T) if h < t), 7)
            swy += w * y
            sw += w
        if sw > 0:
            means.append((swy / sw, b))
    means.sort()
    klo, khi = _boot_ranks(len(means))
    n = len(rows)
    mean = sum(y for _, y in rows) / n
    return (n, _round6(mean),
            _round6(means[klo - 1][0]), _round6(means[khi - 1][0]),
            len(means))


def test_bootstrap_matches_python_reference_exactly(spark):
    """40 rows, one group, B=100: the Spark row must equal the hashlib
    mirror bit-for-bit (no approx anywhere — the operator's whole point
    is that the bootstrap is deterministic integer arithmetic)."""
    from datafusion_delta_sharing_spark.operators.sampling import (
        bootstrap_ci_mean)

    rows = [(i, 100 + 7 * (i % 13)) for i in range(40)]
    xy = spark.createDataFrame([(0, y, i) for i, y in rows],
                               "g long, y long, id long")
    got = bootstrap_ci_mean(spark, xy, "g", "id").collect()
    want = _py_bootstrap(rows, 100)
    assert len(got) == 1
    r = got[0]
    assert (r.n, r.mean, r.ci_lo, r.ci_hi, r.n_boot) == want


@settings(max_examples=8, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 2), st.integers(-50, 950)),
    min_size=1, max_size=30))
def test_bootstrap_matches_python_reference_on_arbitrary_frames(
        spark, gy_list):
    """The fixed-input mirror test pins one 40-row frame; this one runs
    the same EXACT (no approx) comparison over arbitrary tiny frames —
    multiple groups, negative y, singleton groups whose replicates can
    die to all-zero weights. Row ids are the enumeration index, so
    groups share the hash stream exactly as a real scan would."""
    from datafusion_delta_sharing_spark.operators.sampling import (
        bootstrap_ci_mean)

    by_g = {}
    for i, (g, y) in enumerate(gy_list):
        by_g.setdefault(g, []).append((i, y))
    xy = spark.createDataFrame(
        [(g, y, i) for i, (g, y) in enumerate(gy_list)],
        "g long, y long, id long")
    got = {r.g: r for r in bootstrap_ci_mean(spark, xy, "g", "id").collect()}
    assert set(got) == set(by_g)
    for g, rows in by_g.items():
        r = got[g]
        assert (r.n, r.mean, r.ci_lo, r.ci_hi, r.n_boot) == \
            _py_bootstrap(rows, 100)


def test_bootstrap_tiny_group_gets_rank_adjusted_bounds(spark):
    """A 1-row group loses ~e^-1 of its replicates to all-zero weights
    (sw = 0); the CI ranks are computed FROM the survivor count, so
    the bounds exist (both equal the single y) instead of ci_hi
    landing on a rank that no longer exists — and NULL-y rows are
    excluded rather than deflating the mean (r10-continuation
    review)."""
    from datafusion_delta_sharing_spark.operators.sampling import (
        bootstrap_ci_mean)

    xy = spark.createDataFrame(
        [(0, 500, 1), (0, None, 2), (1, 300, 3)],
        "g long, y long, id long")
    got = {r.g: r for r in
           bootstrap_ci_mean(spark, xy, "g", "id").collect()}
    assert set(got) == {0, 1}
    for g, y in ((0, 500.0), (1, 300.0)):
        r = got[g]
        assert r.n == 1 and r.mean == y          # NULL y not counted
        assert r.ci_lo == y and r.ci_hi == y     # bounds exist
        assert 0 < r.n_boot < 100                # survivors reported


def test_bootstrap_ci_brackets_the_mean(spark, sf_dir):
    """On real group sizes the percentile CI must bracket the full-
    sample mean (the bootstrap distribution centers on it), be ordered,
    and keep all 100 replicates (zero-weight replicates are an e^-n
    event)."""
    rows = E23.q_bootstrap_ci(spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.n_boot == 100
        assert r.ci_lo < r.mean < r.ci_hi


def test_bootstrap_oracle_matches_at_sf0001(spark, sf_dir):
    got = sorted(tuple(r) for r in
                 E23.q_bootstrap_ci(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')")
    want = sorted(tuple(r) for r in
                  con.execute(E23.ORACLES["bootstrap_ci"]).fetchall())
    assert got == want


def test_bootstrap_rank_convention():
    """klo/khi are the ceil((a/2)B) / ceil((1-a/2)B) percentile-
    bootstrap ranks; at B=100, a=0.05 they are 3 and 98."""
    from datafusion_delta_sharing_spark.operators.sampling import (
        _boot_ranks)

    assert _boot_ranks() == (3, 98)
    assert _boot_ranks(200, 0.05) == (5, 195)
    assert _boot_ranks(1000, 0.10) == (50, 950)

"""Hypothesis property tests for the r8 operators: each DuckDB oracle
mirror (proven equal to the Spark plan by compare_oracle at three SFs)
is checked against an independent pure-Python reference on fuzzer-chosen
inputs — closing the 'both engines share the same misspelled formula'
hole (the test_r7_properties pattern). No Spark session."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_delta_sharing_spark.operators.dedup import (
    sorted_neighborhood_pairs_sql)
from datafusion_delta_sharing_spark.operators.graph import (
    bellman_ford_dists_sql, label_propagation_sql)


def _duck(views: dict[str, pd.DataFrame], sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for name, pdf in views.items():
        con.register(name, pdf)
    return con.execute(sql).fetchdf()


# -- bounded Bellman-Ford -------------------------------------------------------

_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9), st.integers(1, 50)),
    min_size=1, max_size=30).map(
        lambda es: [(min(a, b), max(a, b), c) for a, b, c in es
                    if a != b])
_seeds = st.lists(st.integers(0, 9), min_size=1, max_size=3)
_hops = st.integers(0, 4)


def _bf_ref(edges, seeds, max_hops):
    """Min path cost over <= max_hops edges, full relaxation per round.
    Parallel edges keep their individual costs (the SQL relaxes each adj
    ROW, so the cheapest parallel edge wins — mirror that)."""
    adj = []
    for a, b, c in edges:
        adj.append((a, b, c))
        adj.append((b, a, c))
    dist = {v: 0 for v in seeds}
    for _ in range(max_hops):
        new = dict(dist)
        for u, v, c in adj:
            if u in dist:
                cand = dist[u] + c
                if v not in new or cand < new[v]:
                    new[v] = cand
        dist = new
    return dist


@settings(max_examples=120, deadline=None)
@given(_edges, _seeds, _hops)
def test_bellman_ford_oracle_matches_python_reference(edges, seeds, hops):
    views = {
        "e": pd.DataFrame(edges or [(0, 1, 1)],
                          columns=["a", "b", "cost"]),
        "s": pd.DataFrame({"v": seeds}),
    }
    if not edges:
        edges = [(0, 1, 1)]
    sql = bellman_ford_dists_sql("SELECT * FROM e", "SELECT v FROM s",
                                 hops)
    got = {int(r.v): int(r.dist) for r in
           _duck(views, sql).itertuples()}
    assert got == _bf_ref(edges, seeds, hops)


# -- majority label propagation ---------------------------------------------------

_lp_edges = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)),
    min_size=1, max_size=20).map(
        lambda es: sorted({(min(a, b), max(a, b)) for a, b in es
                           if a != b}))
_rounds = st.integers(0, 3)


def _lp_ref(edges, rounds):
    adj = []
    for a, b in edges:
        adj.append((a, b))
        adj.append((b, a))
    verts = sorted({v for e in adj for v in e})
    labels = {v: v for v in verts}
    for _ in range(rounds):
        new = {}
        for v in verts:
            counts: dict[int, int] = {}
            for s, d in adj:
                if d == v:
                    lab = labels[s]
                    counts[lab] = counts.get(lab, 0) + 1
            if counts:
                best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
                new[v] = best[0]
            else:
                new[v] = labels[v]
        labels = new
    return labels


@settings(max_examples=120, deadline=None)
@given(_lp_edges, _rounds)
def test_label_propagation_oracle_matches_python_reference(edges, rounds):
    if not edges:
        edges = [(0, 1)]
    views = {"e": pd.DataFrame(edges, columns=["a", "b"])}
    sql = label_propagation_sql("SELECT * FROM e", rounds)
    got = {int(r.v): int(r.label) for r in
           _duck(views, sql).itertuples()}
    assert got == _lp_ref(edges, rounds)


# -- sorted-neighborhood tail ------------------------------------------------------

# docs: (id, text) where text is a few short words; the posting table fed
# to the SQL is single-token shingles — the property under test is the
# SNM TAIL (blocking, ranking, window pairing, Jaccard arithmetic), which
# is shingle-representation-agnostic
_words = st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
                  min_size=1, max_size=5)
_docs = st.lists(_words, min_size=1, max_size=12).map(
    lambda ws: [(i, " ".join(w)) for i, w in enumerate(ws)])


def _snm_ref(docs, block_chars, key_chars, window, threshold):
    posts = {i: set(t.split()) for i, t in docs}
    blocks: dict[str, list] = {}
    for i, t in docs:
        blocks.setdefault(t[:block_chars], []).append((t[:key_chars], i))
    out = {}
    for members in blocks.values():
        members.sort()
        for r1 in range(len(members)):
            for r2 in range(r1 + 1, min(r1 + window, len(members) - 1) + 1):
                ia, ib = members[r1][1], members[r2][1]
                lo, hi = min(ia, ib), max(ia, ib)
                sa, sb = posts[lo], posts[hi]
                inter = len(sa & sb)
                union = len(sa | sb)
                if union == 0:
                    continue
                j = round(inter / union, 6)
                if j >= threshold:
                    out[(lo, hi)] = j
    return out


@settings(max_examples=80, deadline=None)
@given(_docs, st.integers(1, 4), st.sampled_from([0.2, 0.5]))
def test_sorted_neighborhood_oracle_matches_python_reference(
        docs, window, threshold):
    views = {
        "docs": pd.DataFrame(docs, columns=["doc_id", "text"]),
    }
    tail = sorted_neighborhood_pairs_sql(
        "docs", "posts", "text", "doc_id", block_chars=3, key_chars=8,
        window=window, threshold=threshold)
    sql = f"""
        WITH posts AS (
            SELECT DISTINCT doc_id AS id, unnest(string_split(text, ' '))
                AS sh
            FROM docs
        ),
        {tail}
    """
    got = {(int(r.id_a), int(r.id_b)): float(r.jaccard)
           for r in _duck(views, sql).itertuples()}
    assert got == _snm_ref(docs, 3, 8, window, threshold)


# -- mergeable percentile core -------------------------------------------------------

_events = st.lists(
    st.tuples(st.sampled_from(["x", "y"]),
              st.one_of(st.none(),
                        st.floats(min_value=-100, max_value=100,
                                  allow_nan=False, width=32))),
    min_size=1, max_size=40)


def _pct_ref(rows):
    from collections import defaultdict

    groups = defaultdict(list)
    for g, v in rows:
        if v is None:
            continue
        cents = int(math.floor(abs(v * 100) + 0.5)
                    * (1 if v >= 0 else -1))
        groups[g].append(cents)
        groups["__all__"].append(cents)
    out = {}
    for g, vals in groups.items():
        vals.sort()
        n = len(vals)
        row = {"n": n}
        for p, col in ((0.50, "p50_cents"), (0.90, "p90_cents"),
                       (0.99, "p99_cents")):
            row[col] = vals[math.ceil(p * n) - 1]
        out[g] = row
    return out


@settings(max_examples=100, deadline=None)
@given(_events)
def test_percentile_core_matches_python_reference(rows):
    from datafusion_delta_sharing_spark.harness.relational import _PCT_CORE

    views = {"events": pd.DataFrame(
        rows, columns=["event_type", "value"])}
    if all(v is None for _, v in rows):
        got = _duck(views, _PCT_CORE)
        assert len(got) == 0
        return
    got = {r.event_type: {"n": int(r.n),
                          "p50_cents": int(r.p50_cents),
                          "p90_cents": int(r.p90_cents),
                          "p99_cents": int(r.p99_cents)}
           for r in _duck(views, _PCT_CORE).itertuples()}
    assert got == _pct_ref(rows)

"""The connector-on-the-oracle-path harness queries (VERDICT r1 #1): each
reads driver testdata through the real Delta Sharing stack (mock server +
DeltaSharingReader / format('deltasharing') / catalog SQL)."""

from __future__ import annotations

import pytest

from datafusion_delta_sharing_spark.harness import connector as C
from datafusion_delta_sharing_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark("connector-harness-tests", cpus=4)


def test_connector_flagship_http_path(spark):
    df = C.q_connector_flagship(spark, SF_DIR)
    assert df.columns == ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.c_acctbal >= 1000.0 for r in rows)
    # ranged executor fetch really hit the mock server
    server = C._SERVED[SF_DIR]["server"]
    assert any(r["path"] == "/customer-0.parquet" for r in server.requests)


def test_connector_dv_apply_drops_deleted_positions(spark):
    """Both DV codecs exercised through the registry query: inline ('i')
    on file 0, on-file ('p') on file 1; every c_custkey % 7 == 0 row must
    be gone and the framed DV must have been fetched over HTTP."""
    df = C.q_connector_dv_apply(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.c_custkey % 7 != 0 for r in rows)
    # survivors from BOTH halves (both files' DVs decoded, neither file
    # dropped wholesale)
    keys = sorted(r.c_custkey for r in rows)
    import pyarrow.parquet as pq
    n_total = pq.read_metadata(f"{SF_DIR}/customer.parquet").num_rows
    assert keys[0] <= n_total // 4 and keys[-1] > n_total // 2
    server = C._SERVED[SF_DIR]["server"]
    assert any(r["path"] == "/customer-dv.bin" for r in server.requests)


def test_connector_partitioned_reattaches_status(spark):
    df = C.q_connector_partitioned(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    # o_orderstatus is NOT in the staged data files; it must come back from
    # partition-value decode on every row
    assert {r.o_orderstatus for r in rows} == {"F"}
    assert all(r.o_totalprice > 150000.0 for r in rows)


def test_partition_only_projection_skips_data_columns(spark):
    """r9 review: projecting ONLY partition columns must take the
    metadata row-count path — the old fallback read every data column
    of every file just to learn batch lengths. Counts must match the
    full-projection scan exactly (the partitioned orders share is the
    file:// strategy, so assert on VALUES; the fast path itself is the
    mapInArrow branch, exercised via the customer HTTP share below)."""
    from collections import Counter

    from datafusion_delta_sharing_spark.harness.connector import _reader

    reader = C._reader(spark, SF_DIR)
    # HTTP share (mapInArrow path), unpartitioned: projecting a single
    # column still works and row count matches the full scan
    full = reader.table("bench.tpch.customer").count()
    one = reader.table("bench.tpch.customer",
                       columns=["c_mktsegment"]).collect()
    assert len(one) == full
    # partitioned share: partition-only projection reproduces the exact
    # per-status multiset of the full read
    t = "bench.tpch.orders"
    want = Counter(r.o_orderstatus for r in
                   reader.table(t, columns=["o_orderstatus",
                                            "o_orderkey"]).collect())
    got = Counter(r.o_orderstatus for r in
                  reader.table(t, columns=["o_orderstatus"]).collect())
    assert got == want and sum(got.values()) > 0


def test_connector_datasource_agg(spark):
    rows = C.q_connector_datasource(spark, SF_DIR).collect()
    assert 1 <= len(rows) <= 5  # one per mktsegment
    assert all(r.n_customers > 0 for r in rows)


def test_connector_catalog_sql_join(spark):
    rows = C.q_connector_catalog_sql(spark, SF_DIR).collect()
    assert len(rows) >= 1
    assert all(r.revenue > 0 for r in rows)


def test_bearer_expiry_mid_session(spark):
    """VERDICT r7 #8: a bearer whose expirationTime passes BETWEEN two
    requests of the same reader session must serve the first and reject
    the second with the documented ProfileError — expiry is checked at
    every authorize, not once at construction (reference
    src/profile.rs:317-356).

    Time passes DETERMINISTICALLY: the profile is frozen, so 'the clock
    crossing the expiry' is simulated by swinging the same reader's
    profile.expiration_time from future to past via object.__setattr__
    between the two requests — no sleep racing a wall-clock window (a
    loaded box could make a real 2 s validity window flake)."""
    import datetime
    import json

    from datafusion_delta_sharing_spark.client import DeltaSharingClient
    from datafusion_delta_sharing_spark.errors import ProfileError
    from datafusion_delta_sharing_spark.profile import Profile
    from datafusion_delta_sharing_spark.sources.reader import (
        DeltaSharingReader,
    )

    state = C._ensure_served(spark, SF_DIR)
    doc = json.loads(state["profile_json"])
    future = (datetime.datetime.now(datetime.timezone.utc)
              + datetime.timedelta(hours=1))
    profile = Profile.from_json(json.dumps(
        {**doc, "expirationTime": future.isoformat()}))
    reader = DeltaSharingReader(spark, DeltaSharingClient(profile))
    name = "bench.tpch.customer"
    # first request inside the validity window succeeds
    assert reader.table(name, columns=["c_custkey"]) is not None
    past = (datetime.datetime.now(datetime.timezone.utc)
            - datetime.timedelta(seconds=1))
    object.__setattr__(profile, "expiration_time", past)
    with pytest.raises(ProfileError, match="expired"):
        reader.table(name, columns=["c_custkey"])


def test_bearer_rotation_recovers_mid_session(spark, tmp_path):
    """VERDICT r8 #7: the opt-in on_expired='reload' recovery path. A
    reader built from a connection string with on_expired='reload'
    serves a query, its token then EXPIRES mid-session; because a
    credential manager rotated the profile FILE in the meantime, the
    next query re-reads the file and succeeds. Without a rotation the
    reload path must still end in the standard expired rejection
    (default semantics unchanged — the sibling test above pins those),
    and a rotation that changes the endpoint is refused."""
    import datetime
    import json

    from datafusion_delta_sharing_spark.errors import ProfileError
    from datafusion_delta_sharing_spark.sources.reader import (
        DeltaSharingReader,
    )

    state = C._ensure_served(spark, SF_DIR)
    doc = json.loads(state["profile_json"])
    now = datetime.datetime.now(datetime.timezone.utc)
    future = (now + datetime.timedelta(hours=1)).isoformat()
    past = (now - datetime.timedelta(hours=1)).isoformat()

    share = tmp_path / "rotated.share"
    share.write_text(json.dumps({**doc, "expirationTime": future}))
    reader, _ = DeltaSharingReader.from_connection_string(
        spark, f"{share}#bench.tpch.customer", on_expired="reload")
    profile = reader.client.profile
    name = "bench.tpch.customer"
    assert reader.table(name, columns=["c_custkey"]) is not None

    # the in-memory token crosses its expiry (deterministically — the
    # mid-session sibling test's clock-swing pattern)…
    expired_at = now - datetime.timedelta(seconds=1)
    object.__setattr__(profile._current, "expiration_time", expired_at)
    # …but the file was NOT rotated yet: reload re-reads, finds the same
    # expired doc, and the standard rejection still fires
    share.write_text(json.dumps({**doc, "expirationTime": past}))
    with pytest.raises(ProfileError, match="expired"):
        reader.table(name, columns=["c_custkey"])

    # ops rotates the file -> the very next query succeeds
    share.write_text(json.dumps({**doc, "expirationTime": future}))
    assert reader.table(name, columns=["c_custkey"]) is not None

    # a rotation that re-points the endpoint is a misconfig, not a refresh
    object.__setattr__(profile._current, "expiration_time", expired_at)
    share.write_text(json.dumps({**doc, "expirationTime": future,
                                 "endpoint": "http://other.invalid:1"}))
    with pytest.raises(ProfileError, match="endpoint"):
        reader.table(name, columns=["c_custkey"])


def test_rotating_profile_is_expired_consults_the_file(tmp_path):
    """r9 review: a fail-fast caller gating on is_expired() must see a
    rotated credential too — the one-shot re-read runs there, not only
    in authorization_header()."""
    import datetime
    import json

    from datafusion_delta_sharing_spark.profile import RotatingFileProfile

    now = datetime.datetime.now(datetime.timezone.utc)
    past = (now - datetime.timedelta(hours=1)).isoformat()
    future = (now + datetime.timedelta(hours=1)).isoformat()
    share = tmp_path / "p.share"
    doc = {"shareCredentialsVersion": 1, "endpoint": "http://h:1",
           "bearerToken": "t"}
    share.write_text(json.dumps({**doc, "expirationTime": past}))
    prof = RotatingFileProfile(share)
    assert prof.is_expired()          # un-rotated file: still expired
    share.write_text(json.dumps({**doc, "expirationTime": future}))
    assert not prof.is_expired()      # rotation adopted by the check
    assert prof.authorization_header()["Authorization"] == "Bearer t"
    # endpoint-changing rotation: is_expired reports expired (no adopt)
    expired_at = now - datetime.timedelta(seconds=1)
    object.__setattr__(prof._current, "expiration_time", expired_at)
    share.write_text(json.dumps({**doc, "expirationTime": future,
                                 "endpoint": "http://other:2"}))
    assert prof.is_expired()


def test_load_profile_dispatch(tmp_path):
    """load_profile: 'reject' returns the plain Profile, 'reload' the
    rotating wrapper, anything else is a loud ProfileError; OAuth (v2)
    profiles refuse the reload wrapper (they self-refresh)."""
    import json

    from datafusion_delta_sharing_spark.errors import ProfileError
    from datafusion_delta_sharing_spark.profile import (
        Profile, RotatingFileProfile, load_profile)

    share = tmp_path / "p.share"
    share.write_text(json.dumps({
        "shareCredentialsVersion": 1, "endpoint": "http://h:1",
        "bearerToken": "t"}))
    assert type(load_profile(share)) is Profile
    assert type(load_profile(share, on_expired="reload")) \
        is RotatingFileProfile
    with pytest.raises(ProfileError, match="on_expired"):
        load_profile(share, on_expired="retry")
    share.write_text(json.dumps({
        "shareCredentialsVersion": 2, "endpoint": "http://h:1",
        "type": "oauth_client_credentials",
        "tokenEndpoint": "http://h:1/t", "clientId": "c",
        "clientSecret": "s"}))
    with pytest.raises(ProfileError, match="self-refresh"):
        load_profile(share, on_expired="reload")


def test_bearer_expiry_registry_row(spark):
    rows = C.q_connector_bearer_expiry(spark, SF_DIR).collect()
    assert len(rows) == 1
    assert rows[0].n_customers > 0
    assert rows[0].expired_rejected and rows[0].error_mentions_expiry


def test_window_plan_covers_registry():
    """VERDICT r4 #6: the driver-window rotation must be self-checking.

    Invariants: (a) every _WINDOW name resolves in the registry, (b) the
    window has exactly the driver's 50 slots with no duplicates, (c) the
    r10 window contains every mandatory slot — all 10 r10_new
    capabilities (WINDOW_PLAN.json r10_new; a query registered after its
    round's window froze must take a driver row the round its committed
    slot comes up) — and (d) every registry query either already has a
    driver provenance pass row in WINDOW_PLAN.json, sits in the r10
    window, or holds a near-term committed future slot, so adding a
    registry query without a rotation plan fails the build instead of
    silently re-opening the attestation gap.
    """
    import json
    import pathlib
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    try:
        import __spark_entry__ as entry
    finally:
        while str(repo) in sys.path:
            sys.path.remove(str(repo))

    plan = json.loads((repo / "WINDOW_PLAN.json").read_text())
    registry = set(entry.queries().keys())
    window = list(entry._WINDOW)

    assert len(window) == plan["window_size"] == 50
    assert len(set(window)) == len(window), "duplicate window entries"
    missing = [q for q in window if q not in registry]
    assert not missing, f"window names not in registry: {missing}"
    mandatory = set(plan["r11_new"]["queries"])
    dropped = mandatory - set(window)
    assert not dropped, f"mandatory r11 slots missing from window: {dropped}"
    assert window == plan["r11_window"], (
        "_WINDOW and WINDOW_PLAN.json r11_window diverged")

    assert len(registry) == plan["registry_size"], (
        f"registry grew to {len(registry)} without a WINDOW_PLAN update "
        f"(recorded {plan['registry_size']}); add a rotation plan first")
    attested = {q for q, rounds in plan["provenance"].items()
                if any(v == "pass" for v in rounds.values())}
    # queries added after this round's window froze are legal ONLY if
    # they hold a mandatory slot in a NEAR-TERM future round's plan.
    # ADVICE r8 closed the deferral hole here: "any rN_new with N >= 9"
    # let a session park new queries in an arbitrarily distant round
    # (r99_new) and defer the oracle-window obligation forever while the
    # gate stayed green. Two bounds now hold: (1) only the next two
    # rounds count (N in {current+1, current+2} = {10, 11}), and (2) an
    # rN_new query must ALSO appear in the matching rN_planned list when
    # that plan exists, so the deferral stays concretely scheduled.
    import re as _re

    _CURRENT_ROUND = 11
    next_new = set()
    for key, val in plan.items():
        mm = _re.fullmatch(r"r(\d+)_new", key)
        if not (mm and isinstance(val, dict)):
            continue
        n = int(mm.group(1))
        if n <= _CURRENT_ROUND:
            continue
        assert n <= _CURRENT_ROUND + 2, (
            f"{key} defers new queries beyond the next two rounds "
            f"(ADVICE r8: bound the deferral horizon)")  # N in {12, 13}
        slot_queries = set(val.get("queries", []))
        planned = plan.get(f"r{n}_planned")
        if isinstance(planned, dict):
            unscheduled = slot_queries - set(planned.get("queries", []))
            assert not unscheduled, (
                f"{key} queries missing from r{n}_planned (the slot must "
                f"stay scheduled, ADVICE r8): {sorted(unscheduled)}")
        next_new |= slot_queries
    unplanned = registry - attested - set(window) - next_new
    assert not unplanned, (
        f"registry queries with no driver provenance and no rotation "
        f"slot (current window or a bounded rN_new): {sorted(unplanned)}")

    # provenance hygiene: the folded r5/r6/r7 rows must cover their
    # windows (r5: 49 pass + the join_salted fail its r6 row superseded;
    # r6 and r7: 50/50 pass)
    r5_rows = {q for q, rounds in plan["provenance"].items() if "r5" in rounds}
    assert set(plan["r5_window"]) <= r5_rows, "r5 driver rows not folded"
    r6_rows = {q for q, rounds in plan["provenance"].items() if "r6" in rounds}
    assert set(plan["r6_window"]) <= r6_rows, "r6 driver rows not folded"
    r7_rows = {q for q, rounds in plan["provenance"].items() if "r7" in rounds}
    assert set(plan["r7_window"]) <= r7_rows, "r7 driver rows not folded"
    r8_rows = {q for q, rounds in plan["provenance"].items() if "r8" in rounds}
    assert set(plan["r8_window"]) <= r8_rows, "r8 driver rows not folded"
    r9_rows = {q for q, rounds in plan["provenance"].items() if "r9" in rounds}
    assert set(plan["r9_window"]) <= r9_rows, "r9 driver rows not folded"
    r10_rows = {q for q, rounds in plan["provenance"].items()
                if "r10" in rounds}
    assert set(plan["r10_window"]) <= r10_rows, "r10 driver rows not folded"
    # the r11 rotation's reason to exist: after folding the 50/50-green
    # r10 rows nothing r4-or-older may remain anywhere, every r5-latest
    # row (the 16-row r10_spill) must SIT IN this window (their deferral
    # was a one-round commitment, not renewable), and every r6-latest
    # row must either sit in this window or in the pre-committed list
    # that leads r12 (r12_planned.queries = the 13 displaced refreshes +
    # the 24-row r11_spill). Round keys are parsed numerically, not
    # looked up in a hardcoded list — folding the r11 (or any later)
    # driver rows into provenance must not crash the freeze test itself
    # (r8 review)
    def _latest(rounds: dict) -> int:
        return max(int(r[1:]) for r in rounds)

    stale = {q for q, rounds in plan["provenance"].items()
             if _latest(rounds) <= 4}
    assert not stale, f"pre-r5 driver rows left unrefreshed: {stale}"
    r5_latest = {q for q, rounds in plan["provenance"].items()
                 if _latest(rounds) == 5}
    unseated5 = r5_latest - set(window)
    assert not unseated5, (
        f"r5-latest rows (the r10_spill one-round deferral) missing from "
        f"the r11 window: {unseated5}")
    r6_latest = {q for q, rounds in plan["provenance"].items()
                 if _latest(rounds) == 6}
    r12_lead = set(plan["r12_planned"]["queries"])
    unseated = r6_latest - set(window) - r12_lead
    assert not unseated, (
        f"r6-latest rows missing both a refresh slot and a spill "
        f"commitment: {unseated}")

    # forward plan hygiene: every r*_planned entry must resolve — a
    # typo'd name would silently drop a query from its future re-check.
    # EVERY list-valued field of a planned dict is checked (r8 review:
    # the original 'queries'-only check left r9_planned's spill list —
    # the rows deferred to r10 — unvalidated, exactly the silent-drop
    # hole this exists to close).
    for key, val in plan.items():
        if key.endswith("_planned") and isinstance(val, dict):
            for field, names in val.items():
                if not isinstance(names, list):
                    continue
                bad = [q for q in names if q not in registry]
                assert not bad, f"{key}.{field} names not in registry: {bad}"


def test_bench_headline_resolves_in_registry():
    """bench.py runs at round time with no human watching: a HEADLINE
    name that a registry refactor renamed would crash the whole bench
    (rc!=0, no artifact). Keep the list registry-valid and duplicate-free
    at test time instead."""
    import pathlib
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    try:
        import __spark_entry__ as entry
        import bench
    finally:
        # targeted removal (ADVICE r5): `import bench` executes bench.py's
        # own sys.path.insert(0, repo), so a bare pop(0) removed bench's
        # copy and leaked the test's entry for the rest of the run
        while str(repo) in sys.path:
            sys.path.remove(str(repo))

    registry = set(entry.queries().keys())
    headline = list(bench.HEADLINE)
    assert len(set(headline)) == len(headline), "duplicate HEADLINE entries"
    missing = [q for q in headline if q not in registry]
    assert not missing, f"HEADLINE names not in registry: {missing}"

    # the SPARK_GRAFT_BENCH_ONLY contract: no filter = full HEADLINE in
    # order with subset_active False (driver-shaped runs byte-identical);
    # a filter selects in HEADLINE order and flags subset_active (main
    # gates every artifact write on it); a typo'd name raises instead of
    # silently timing an empty suite.
    full, active = bench.subset_names(headline, "")
    assert full == headline and active is False
    pick = [headline[3], headline[0]]
    sub, active = bench.subset_names(headline, f" {pick[0]} , {pick[1]} ")
    assert sub == [headline[0], headline[3]] and active is True
    try:
        bench.subset_names(headline, f"{headline[0]},not_a_query")
        raise AssertionError("unknown SPARK_GRAFT_BENCH_ONLY name accepted")
    except ValueError as e:
        assert "not_a_query" in str(e)


def test_previous_bench_prefers_full_archives(tmp_path):
    """The prev-round lookup behind delta_vs_prev, pinned after two
    review rounds: a round's FULL archive (wall medians) beats its
    compact stub; a compact stub alone is used but FLAGGED substituted
    (so main divides compute-substituted numerators by it); parsed:null
    rounds are skipped."""
    import json as _json
    import pathlib
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    try:
        import bench
    finally:
        while str(repo) in sys.path:
            sys.path.remove(str(repo))

    full_map = {"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0}
    compact = {"parsed": {"sf": 0.1, "n_queries": 4,
                          "queries": {"a": 0.9, "b": 1.8, "c": 2.7}}}

    # compact stub only -> used, substituted flagged
    (tmp_path / "BENCH_r07.json").write_text(_json.dumps(compact))
    p = bench._previous_bench(tmp_path)
    assert (p["round"], p["substituted"]) == (7, True)
    assert len(p["queries"]) == 3

    # FULL archive for the same round -> preferred, wall medians
    (tmp_path / "BENCH_FULL_r07.json").write_text(_json.dumps(
        {"sf": 0.1, "n_queries": 4, "queries": full_map,
         "runs": {k: [v] for k, v in full_map.items()}}))
    p = bench._previous_bench(tmp_path)
    assert (p["round"], p["substituted"]) == (7, False)
    assert p["queries"] == full_map

    # a newer parsed:null round without a tail is skipped, not crashed
    (tmp_path / "BENCH_r08.json").write_text(_json.dumps(
        {"parsed": None, "tail": "not json"}))
    p = bench._previous_bench(tmp_path)
    assert p["round"] == 7


def test_full_archive_is_never_overwritten_by_an_inferred_round(
        tmp_path, capsys):
    """A full run infers its round as the newest BENCH_r{N}.json + 1; if
    that round's BENCH_FULL archive exists, it is skipped (and the path
    printed) unless SPARK_GRAFT_BENCH_ROUND names the round."""
    import pathlib
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    try:
        import bench
    finally:
        while str(repo) in sys.path:
            sys.path.remove(str(repo))

    (tmp_path / "BENCH_r11.json").write_text("{}")
    fresh = bench._full_archive_path(tmp_path, None)
    assert fresh == tmp_path / "BENCH_FULL_r12.json"
    fresh.write_text("{}")
    assert bench._full_archive_path(tmp_path, None) is None
    assert str(fresh) in capsys.readouterr().err
    assert bench._full_archive_path(tmp_path, "12") == fresh
    assert bench._full_archive_path(tmp_path, "13") == (
        tmp_path / "BENCH_FULL_r13.json")


def test_fill_compact_queries_budget(tmp_path):
    """VERDICT r10 #2: the compact stdout line must carry as many
    per-query medians as fit the driver's 2,000-char tail — greedy
    slowest-first, whole line under budget, never fewer than the old
    top-3, and a small map passes through complete."""
    import json as _json
    import pathlib
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    try:
        import bench
    finally:
        while str(repo) in sys.path:
            sys.path.remove(str(repo))

    base = {"metric": "headline_suite_seconds", "value": 100.0,
            "unit": "sec", "queries": {}, "n_queries": 0,
            "n_reported": 0, "sf": 0.1, "cpus": "32"}

    # 143 realistic-length names cannot all fit: the fill must stop
    # under budget with the SLOWEST queries all present
    big = {f"query_name_number_{i:03d}": round(0.1 + i * 0.05, 2)
           for i in range(143)}
    out = bench.fill_compact_queries(dict(base), big)
    line = _json.dumps(out)
    assert len(line) <= 1950
    assert out["n_reported"] == len(out["queries"]) > 3
    kept_min = min(out["queries"].values())
    dropped = set(big) - set(out["queries"])
    assert dropped, "expected overflow for 143 long names"
    assert all(round(big[n], 2) <= kept_min for n in dropped), \
        "a dropped query was slower than a kept one"

    # a small map fits whole
    small = {"a": 1.0, "b": 0.5}
    out = bench.fill_compact_queries(dict(base), small)
    assert out["queries"] == {"a": 1.0, "b": 0.5}
    assert out["n_reported"] == 2


def test_release_query_state_clears_sql_cache(spark):
    """VERDICT r10 #5: operators leave shared intermediates cached (the
    returned frames are lazy, so THEY cannot unpersist); the bench's
    between-queries hygiene hook must empty the SQL cache so persisted
    frames stop accumulating across the suite."""
    import pathlib
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    try:
        import bench
    finally:
        while str(repo) in sys.path:
            sys.path.remove(str(repo))

    from pyspark.sql import functions as SF

    df = spark.range(1000).withColumn("k", SF.col("id") % 7).cache()
    assert df.count() == 1000  # populate the cache
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert not cm.isEmpty(), "cache() + action should populate the cache"
    bench.release_query_state(spark)
    assert cm.isEmpty(), "release_query_state must clear the SQL cache"


def test_connector_cdf_scd2_maintains_intervals(spark):
    """VERDICT r9 #4: all three CDC kinds from the real /changes
    protocol maintain a segment-tracking SCD2 dimension. The v3 remove
    commit must CLOSE the open v1 interval of every mod-2 entity into a
    terminal '<deleted>' version; the v4 cdc commit's update postimages
    must move (mod3==1 AND mod5==0) entities to an open 'UPDATED'
    version (preimages dropped); other mod-1 entities stay single open
    segment rows from the seed; mod-0 entities are single open rows
    born from the v2 add commit over HTTP."""
    import datetime as dt

    df = C.q_connector_cdf_scd2(spark, SF_DIR)
    rows = df.collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id % 3, []).append(r)
    t = {v: dt.datetime(1970, 1, 1, 0, 0, v) for v in (1, 2, 3, 4)}
    segs = {"AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"}
    updated = {}
    for r in by_user[1]:
        if r.user_id % 5 == 0:
            updated.setdefault(r.user_id, {})[r.version] = r
        else:
            assert (r.version, r.valid_from, r.valid_to,
                    r.is_current) == (1, t[1], None, True)
            assert r.state in segs
    assert updated, "no mod-15 entity reached the update arm"
    for u, versions in updated.items():
        assert set(versions) == {1, 2}, f"user {u} missing a version"
        v1, v2 = versions[1], versions[2]
        assert v1.state in segs
        assert (v1.valid_from, v1.valid_to, v1.is_current) == (
            t[1], t[4], False)
        assert (v2.state, v2.valid_from, v2.valid_to,
                v2.is_current) == ("UPDATED", t[4], None, True)
    for r in by_user[0]:
        assert (r.version, r.valid_from, r.valid_to,
                r.is_current) == (1, t[2], None, True)
        assert r.state in segs
    mod2 = {}
    for r in by_user[2]:
        mod2.setdefault(r.user_id, {})[r.version] = r
    for u, versions in mod2.items():
        assert set(versions) == {1, 2}, f"user {u} missing a version"
        v1, v2 = versions[1], versions[2]
        assert v1.state in segs
        assert (v1.valid_from, v1.valid_to, v1.is_current) == (
            t[1], t[3], False)
        assert (v2.state, v2.valid_from, v2.valid_to,
                v2.is_current) == ("<deleted>", t[3], None, True)

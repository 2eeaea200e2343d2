"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (projection + filter + limit, the
reference's examples/query_from_catalog.rs:21 shape) on sf0.001.
``queries()``/``oracle_sql()`` expose the full operator inventory from
SURVEY.md §2 (Tier-B relational surface + LLM-pipeline extensions), each
checked against a DuckDB oracle at sf0.01 where ANSI-SQL expressible.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from datafusion_delta_sharing_spark.harness.relational import q_flagship

    return q_flagship(spark, "/root/testdata/sf0.001")


# The driver's CORRECTNESS harness checks the FIRST 50 registry entries.
# Window management (VERDICT r2 structural note): entries named in _WINDOW
# are pulled to the front, in order; everything else follows in module
# order. Rotation state lives in WINDOW_PLAN.json (per-query driver-row
# provenance r1-r8; every pre-r9 registry query has at least one driver
# row — distribution after folding the 50/50-green r8 rows:
# r4x45 r5x46 r6x50 r7x50 r8x50 — and the r6/r7/r8 windows each went
# 50/50 green).
# r10 window (VERDICT r9 #1 — executed exactly as pre-committed in the
# r9 session's WINDOW_PLAN.json r10_planned): the 10 mandatory r10_new
# slots (the r8-session extensions19/20 batches + the r9-session
# kmv_overlap / stream_scd2_upsert), then the 10-row r9_spill (the last
# r4-latest rows), then the alphabetical 30 of the 46 r5-latest
# refreshes. After a green r10 no driver row predates r5; the 16
# r5-latest rows that did not fit (r10_planned.r10_spill) lead
# r11_planned, which retires the r5 tail entirely (VERDICT r9 #6).
# New r10-session capabilities are capped at ~8 (VERDICT r9 #6) and hold
# mandatory r11_new slots — enforced by the same freeze test, which
# accepts an rN_new slot only for the next two rounds (N in {11, 12},
# ADVICE r8: an unbounded N let new queries defer their oracle-window
# obligation indefinitely). Registry growth without a rotation slot
# stays IMPOSSIBLE - enforced by
# tests/test_harness_connector.py::test_window_plan_covers_registry.
_MODULE_ORDER = ("connector", "relational", "text", "ml", "graph",
                 "timeseries", "streaming")

_WINDOW = (
    # --- r11 window (WINDOW_PLAN.json r11_window; executed r11_planned
    # modulo the VERDICT r10 #9 supersession the plan's own note
    # allows). 8 mandatory r11_new capabilities first (the r10-session
    # SCD2-repair/CDC-dimension pair and the ML-fit batch):
    "connector_cdf_scd2", "scd2_repair", "logreg_fit", "stump_fit",
    "naive_bayes_fit", "conformal_interval", "adaboost_fit",
    "bootstrap_ci",
    # --- ALL 16 r5-latest rows (r10_planned.r10_spill, a one-round
    # deferral): after a green r11 no driver row predates r6.
    "random_projection", "rolling_median", "stream_upsert",
    "table_profile_approx", "time_spine", "token_budget",
    "token_entropy", "triangles_degcut", "trig_funcs", "try_arith",
    "udaf_grouped_agg", "unigram_logprob", "url_funcs", "variant_funcs",
    "window_distribution", "zorder_stats",
    # --- 13 of the 26 planned r6-latest refreshes (alphabetical head;
    # bpe_pair_counts / heavy_hitters / arrow_grouped_map retained out
    # of order because their paths were optimization-touched). The 13
    # displaced rows join r11_spill to lead r12_planned.
    "agg_corr", "agg_having", "agg_stats", "array_funcs",
    "arrow_grouped_map", "bm25_topk", "bpe_pair_counts", "conditional",
    "connector_catalog_sql", "connector_dv_apply",
    "connector_time_travel_diff", "count_distinct", "heavy_hitters",
    # --- 13 INJECTED slots (VERDICT r10 #9): queries whose EXECUTION
    # changed in the r10/r11 optimization passes without a driver row
    # on the new path — the r10 graph/BPE/sketch/timeseries rewrites
    # and the r11 streaming/kmv/kmeans rewrites re-attest under the
    # driver's own oracle, not just the session sweeps.
    "stream_scd2_upsert", "stream_minhash_dedup", "kmv_overlap",
    "kmeans_fit", "pagerank", "bfs_hops", "shortest_paths",
    "label_propagation", "count_min", "acf_lags", "bpe_merge_steps",
    "bpe_encode_lens", "percentile_rollup",
)


def _modules():
    import importlib

    return [importlib.import_module(
        f"datafusion_delta_sharing_spark.harness.{name}")
        for name in _MODULE_ORDER]


def _windowed(merged: dict) -> dict:
    front = {k: merged[k] for k in _WINDOW if k in merged}
    front.update((k, v) for k, v in merged.items() if k not in front)
    return front


def _registered(mod) -> dict:
    """Query ``<key>`` is the function ``q_<key>`` defined in ``mod``."""
    return {name[2:]: fn for name, fn in vars(mod).items()
            if name.startswith("q_") and fn.__module__ == mod.__name__}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        registry.update(_registered(mod))
    return _windowed(registry)


def oracle_sql() -> dict[str, str]:
    oracles: dict[str, str] = {}
    for mod in _modules():
        oracles.update(mod.ORACLES)
    return _windowed(oracles)

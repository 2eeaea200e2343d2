"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced through the noop sink (full computation, no driver
collect) so projection-only queries aren't optimized away by count().

Noise attribution (VERDICT r4 #3): the r3->r4 artifacts could not separate
plan changes from machine load (18x swings on untouched queries). This
harness therefore records ALL per-query run timings (``runs``), the
1/5/15-minute load averages before and after the suite (``loadavg``), and
reports **medians** as the headline numbers; ``delta_vs_prev`` is
median-vs-median against the previous round's artifact.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    # the real connector stack: ranged-HTTP mapInArrow fetch and the
    # partition-value-decode native scan, served by the in-process mock
    # sharing server (first run pays one-time staging; best-of-3 reports
    # the steady-state read)
    "connector_flagship", "connector_partitioned",
    # connector-shape + relational core
    "flagship", "scan_filter_project", "join_inner", "join_range",
    "join_semi", "tpch_q1", "rollup", "agg_stats",
    "window_running", "topk_per_group",
    # TPC-H multi-join shapes
    "tpch_q2", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q8", "tpch_q10",
    "tpch_q18", "tpch_q21",
    # UDF / python path
    "pandas_udf_scalar", "grouped_map_zscore",
    # pipeline extensions
    "dedup_minhash", "ngram_jaccard", "ngram_jaccard_dfcut", "ann_topk",
    "text_metrics", "doc_fingerprint",
    "doc_chunks", "tfidf_top", "embed_quantize",
    "decontaminate", "repetition_metrics",
    # r3 additions: incremental ingest dedup, fuzzy entity join, Z-order
    # layout stats, Variant JSON access, table ops + time series
    "dedup_incremental", "fuzzy_join", "zorder_stats", "variant_funcs",
    "table_profile", "ohlc_rollup", "gap_fill", "winsorize",
    # behavioral + graph analytics
    "funnel", "retention", "triangles", "pagerank",
    # r4 additions: sketch primitives + bigram LM
    "heavy_hitters", "bloom_join", "freq_moments", "bigram_logprob",
    # r4 additions: entropy/median, media decode, splits, prefix join
    # (ngram_jaccard_prefix vs ngram_jaccard = the prefix-filter payoff)
    "token_entropy", "rolling_median", "image_pipeline", "audio_pipeline",
    "kfold_split", "ngram_jaccard_prefix",
    # r4 additions: containment dedup, distributed linalg, skyline
    "containment_pairs", "embedding_covariance", "random_projection",
    "pareto_frontier",
    # r5 bench-breadth additions (existing registry queries, previously
    # unbenched): the near-dup/ANN recall-summary stack, percentile and
    # interval shapes, warehouse SCD, end-to-end streaming upsert, CDF
    # snapshot reconstruction through the mock connector
    "semantic_dedup", "dedup_simhash", "ann_lsh_topk", "ann_ivf_topk",
    "exact_percentiles", "listagg_ordered", "interval_join", "scd2_build",
    "stream_upsert", "connector_cdf_apply",
    # r6 addition: deletion-vector apply through the connector (inline +
    # on-file DV decode executor-side, anti-join of deleted positions)
    "connector_dv_apply",
    # r6 additions: Spark-4 relational surface (recursive CTE spine,
    # correlated LATERAL top-N, regr_* aggregates) + retrieval/selection
    # (BM25, DSIR) + streaming session windows
    "recursive_cte", "lateral_topn", "regr_funcs",
    "bm25_topk", "dsir_select", "stream_session",
    # r6 late batch 2: BPE merge statistics, sparse TF-IDF cosine join,
    # version-pinned snapshot diff through the connector
    "bpe_pair_counts", "sparse_cosine_topk", "connector_time_travel_diff",
    # r6 late batch 3: window-frame pandas UDAF, applyInArrow grouped map,
    # reaggregatable HLL rollup
    "udaf_window", "arrow_grouped_map", "hll_rollup",
    # r7 additions: interval algebra + forward as-of, graph BFS,
    # distribution shape, streaming top-k, metadata-only connector counts
    "interval_merge", "asof_tolerance", "bfs_hops", "higher_moments",
    "within_group_percentiles", "zipf_fit", "stream_topk", "hash_funcs",
    "connector_meta_counts",
    # late-r7 additions: exact bitmap distinct, sketch top-k with exact
    # check, hashing-trick features, observe metrics, CDF streaming
    "bitmap_distinct", "approx_topk", "feature_hashing",
    "observe_metrics", "aes_roundtrip", "connector_cdf_stream",
    # VERDICT r6 prescriptions: query-TABLE BM25 (inverted-index join),
    # the k-round greedy BPE merge loop (vocab-bounded per round) — plus
    # the train->encode completion and the snapshot-diff streaming source
    "bm25_join_topk", "bpe_merge_steps",
    "bpe_encode_lens", "connector_snapshot_stream",
    # final r7 pair: partitioned TABLE-argument UDTF, OAuth end-to-end
    "udtf_table_arg", "connector_oauth",
    # r8 additions (VERDICT r7 #4-#8 + family completions): streaming
    # incremental LSH dedup, mergeable percentile rollup, SCD2
    # point-in-time lookup, bounded Bellman-Ford, majority label
    # propagation, sorted-neighborhood dedup, bearer-expiry rejection
    "stream_minhash_dedup", "percentile_rollup", "scd2_lookup",
    "shortest_paths", "label_propagation", "sorted_neighborhood",
    "connector_bearer_expiry",
    # r8 session batches 14-15: tabular-ML feature prep + lakehouse ops
    "target_encode", "ols_fit", "ewma_smooth", "mutual_info_terms",
    "kmv_rollup", "table_diff", "compaction_plan", "weighted_sample",
    # r8 session batches 16-17: offline eval metrics (rank-sum AUC,
    # calibration, NDCG@10, RRF), record linkage, count-min, ACF
    "auc_roc", "calibration_bins", "ndcg_eval", "rrf_fusion",
    "fellegi_sunter", "count_min", "acf_lags",
    # r8 session batch 18 (r10 slots): bounded Lloyd k-means, k-core
    # peeling, classical seasonal decomposition, CUSUM changepoint
    "kmeans_fit", "kcore", "seasonal_decompose", "cusum_changepoint",
    # r8 session batch 19 (r10 slots): A/B statistics, gains/lift
    "ab_test", "gains_lift",
    # r8 session batch 20 (r10 slots): multi-touch attribution, MDM
    # survivorship golden records
    "attribution", "survivorship",
    # r9 session batch 21 (r10 slots): KMV sketch set-algebra, streaming
    # CDC->SCD2 dimension maintenance
    "kmv_overlap", "stream_scd2_upsert",
    # r10 session (r11 slots): SCD2 late-data repair cycle, CDC commits
    # from the real /changes protocol maintaining the dimension,
    # Newton/IRLS logistic regression, Gini-optimal decision stump
    "scd2_repair", "connector_cdf_scd2", "logreg_fit", "stump_fit",
    # r10 continuation batch 23 (r11 slots): NB corpus classifier,
    # split conformal prediction, cell-table AdaBoost, Poisson
    # bootstrap CI
    "naive_bayes_fit", "conformal_interval", "adaboost_fit",
    "bootstrap_ci",
]


def subset_names(headline, env_value):
    """Resolve SPARK_GRAFT_BENCH_ONLY into the query list to time.

    Returns (names, subset_active). Unknown names RAISE instead of
    silently timing nothing — a typo'd filter that quietly produced an
    empty 0.0 s "suite" would read as a 100x speedup to any downstream
    comparison. Subset runs never write the round artifacts (guarded at
    the write sites in main), so a partial map can't clobber the
    archived full map."""
    only = {q.strip() for q in (env_value or "").split(",") if q.strip()}
    unknown = sorted(only - set(headline))
    if unknown:
        raise ValueError(
            f"SPARK_GRAFT_BENCH_ONLY names not in HEADLINE: {unknown}")
    return [n for n in headline if not only or n in only], bool(only)


def _previous_bench(root=None) -> dict:
    """Newest PARSABLE BENCH_r{N}.json in the repo root (per-query deltas;
    VERDICT r2 #9 asked for the r(N)/r(N-1) ratio to live in the artifact).

    The driver nests the bench stdout JSON under "parsed" — which is null
    when that round's stdout did not parse. Walk rounds newest-first until
    one yields usable per-query numbers. ``root`` exists for tests;
    production runs read the repo root."""
    import glob
    import re

    root = Path(root) if root else Path(__file__).resolve().parent
    rounds: list[tuple[int, str]] = []
    for path in glob.glob(str(root / "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    for n, path in sorted(rounds, reverse=True):
        # Prefer the round's FULL per-query archive (VERDICT r9 #5):
        # r7+ driver stubs keep only the top-3 COMPUTE-SUBSTITUTED
        # queries, so dividing this run's wall medians by them inflated
        # streaming deltas by the trigger wait counted in the numerator
        # only. The FULL archive is wall medians — like-for-like.
        full = Path(path).with_name(f"BENCH_FULL_r{n:02d}.json")
        for cand in ([full] if full.exists() else []) + [Path(path)]:
            try:
                with open(cand) as fh:
                    doc = json.load(fh)
            except (OSError, json.JSONDecodeError):
                continue
            if not isinstance(doc, dict):
                continue
            parsed = doc.get("parsed", doc)
            if not isinstance(parsed, dict) or not parsed.get("queries"):
                continue
            # r7+ compact stubs carry only the top-3 queries with the
            # stream segment counted at COMPUTE time — usable, but the
            # caller must divide its own compute-substituted numbers by
            # them, not wall medians (flagged via "substituted")
            n_q = parsed.get("n_queries")
            substituted = isinstance(n_q, int) and len(parsed["queries"]) < n_q
            return {"round": n, "sf": parsed.get("sf"),
                    "queries": parsed["queries"], "substituted": substituted}
    return {"round": -1, "sf": None, "queries": {}, "substituted": False}


def _full_archive_path(root: Path, env_round: str | None) -> Path | None:
    """Where a full sf0.1 run archives its per-query map: the round named
    by SPARK_GRAFT_BENCH_ROUND, or else the newest BENCH_r{N}.json's N + 1.
    An inferred round never overwrites an existing BENCH_FULL_r{NN}.json
    (a re-run after the driver's artifact write infers its round again):
    the skipped path is printed and None returned."""
    import glob
    import re

    if env_round:
        return root / f"BENCH_FULL_r{int(env_round):02d}.json"
    ns = [int(m.group(1)) for p in glob.glob(str(root / "BENCH_r*.json"))
          if (m := re.search(r"BENCH_r(\d+)\.json$", p))]
    this_round = (max(ns) + 1) if ns else 1
    archive = root / f"BENCH_FULL_r{this_round:02d}.json"
    if archive.exists():
        print(f"not overwriting {archive}; set "
              f"SPARK_GRAFT_BENCH_ROUND={this_round} to replace it",
              file=sys.stderr)
        return None
    return archive


def release_query_state(spark) -> None:
    """Drop every SQL-cached frame a finished query left behind
    (VERDICT r10 #5 — §5 cache hygiene). The operators deliberately
    leave their shared intermediates cached because the frames they
    return are lazy; once the runner has executed the final action the
    cache is dead weight for every later query. localCheckpoint RDDs
    are NOT touched — the ContextCleaner reclaims those when the frames
    are garbage-collected."""
    spark.catalog.clearCache()


def fill_compact_queries(compact: dict, timings: dict,
                         budget: int = 1950) -> dict:
    """Fill ``compact["queries"]`` greedily, slowest query first, until
    adding one more entry would push the serialized line past ``budget``
    (VERDICT r10 #2). The driver's stdout capture keeps only the LAST
    2,000 characters, so the line must fit whole or the leading
    ``{"metric"...`` is truncated away and nothing parses; full names
    for all 143 queries need ~3 KB, so the sub-budget tail (the
    cheapest, most weather-dominated queries) is the part that overflows
    to the BENCH_LATEST.json full map. Values at 2-decimal precision —
    1% resolution at the 1 s scale the cut sits near. Mutates and
    returns ``compact``."""
    by_cost = sorted(timings.items(), key=lambda kv: -kv[1])
    q: dict[str, float] = {}
    compact["queries"] = q
    for name, sec in by_cost:
        q[name] = round(sec, 2)
        compact["n_reported"] = len(q)
        if len(json.dumps(compact)) > budget:
            del q[name]
            break
    compact["n_reported"] = len(q)
    return compact


def _calibrate(spark) -> dict:
    """Fixed-size CPU probes, timed — the machine-speed yardstick.

    Loadavg only sees THIS box's runnable tasks; hypervisor steal and
    frequency/thermal drift are invisible to it, and they are real: the
    r5 preview measured byte-identical tpch_q2/q21 code 2.2x slower than
    the r4 artifact on a loadavg-quiet machine. Dividing a cross-round
    per-query delta by the calibration ratio separates "the plan
    changed" from "the box changed". Three axes: JVM all-core (Spark's
    hot path), BLAS matmul (the pandas-UDF/numpy path), single-thread
    pure Python (per-core speed irrespective of parallelism)."""
    import numpy as np

    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id * 3 % 7)").collect()
    jvm_s = round(time.perf_counter() - t0, 3)

    rng = np.random.default_rng(7)
    a = rng.random((1500, 1500))
    b = rng.random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a @ b
    numpy_s = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i % 7
    py_s = round(time.perf_counter() - t0, 3)

    # The probes' absolute times depend on runtime knobs (ADVICE r5):
    # the JVM probe scales with local[N]/shuffle partitions, the BLAS
    # probe with the BLAS thread count. Record them so cross-round
    # calibration-ratio division is validatable, not assumed.
    try:
        from threadpoolctl import threadpool_info
        blas_threads = max((i.get("num_threads", 0)
                            for i in threadpool_info()
                            if i.get("user_api") == "blas"), default=None)
    except ImportError:  # threadpoolctl not baked in — record the env hint
        blas_threads = None
    return {"jvm_allcore_s": jvm_s, "numpy_blas_s": numpy_s,
            "python_1core_s": py_s,
            "env": {
                "spark_master": spark.sparkContext.master,
                "shuffle_partitions":
                    spark.conf.get("spark.sql.shuffle.partitions"),
                "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                "os_cpu_count": os.cpu_count(),
                "blas_threads": blas_threads,
                "omp_num_threads": os.environ.get("OMP_NUM_THREADS"),
            }}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import __spark_entry__ as entrymod
    from datafusion_delta_sharing_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    # JVM + datasource warmup so the first timed query isn't paying startup
    # (parquet reader + codegen init cost ~1.4 s on first touch)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    import statistics

    load_before = os.getloadavg()
    calib_before = _calibrate(spark)
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # SPARK_GRAFT_BENCH_ONLY="q1,q2": time just those HEADLINE queries —
    # for targeted iteration and for re-measuring a block the box's steal
    # storms contaminated, without a full-suite exposure window. Subset
    # runs never write the round artifacts (see the writes below), so a
    # partial map can't clobber the archived full map.
    bench_names, only = subset_names(
        HEADLINE, os.environ.get("SPARK_GRAFT_BENCH_ONLY", ""))
    runs: dict[str, list[float]] = {}
    timings: dict[str, float] = {}  # medians — the headline numbers
    # VERDICT r7 #2: per-streaming-query compute vs trigger-wait split.
    # Each streaming helper records its query's summed
    # durationMs.triggerExecution under the registry name; wall - compute
    # is lifecycle/trigger wait, the part a loaded box inflates 5x
    # (stream_topk r7: 11.49 s loaded vs 2.34 s quiet, identical code).
    from datafusion_delta_sharing_spark.streaming import progress as PROG

    stream_split: dict[str, dict] = {}
    for name in bench_names:
        fn = queries[name]
        samples = []
        for _ in range(n_runs):
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - start, 3))
        runs[name] = samples
        timings[name] = round(statistics.median(samples), 3)
        # §5 cache hygiene (VERDICT r10 #5): operators cache shared
        # intermediates (posting lists, signatures) and return LAZY
        # frames, so they cannot unpersist without killing the reuse
        # the cache exists for — ownership of cleanup sits with the
        # runner once a query's last action finished. Clear between
        # queries, OUTSIDE the timed region: cached frames no longer
        # accumulate executor memory across the suite (dedup_minhash's
        # posts cache was the named leak). Within one query's n_runs
        # the cache still works exactly as before.
        release_query_state(spark)
        stream_runs = PROG.take(name)
        if stream_runs:
            compute = round(statistics.median(
                [r["compute"] for r in stream_runs]), 3)
            # stream segment wall (start -> processAllAvailable), so the
            # compute substitution below swaps ONLY the stream segment —
            # batch work in hybrid queries (e.g. stream_minhash_dedup's
            # parity check) stays in the headline and a regression there
            # cannot hide as "wait" (r8 review)
            stream_wall = round(statistics.median(
                [r["stream_wall"] for r in stream_runs
                 if r["stream_wall"] is not None] or [timings[name]]), 3)
            stream_wall = min(stream_wall, timings[name])
            stream_split[name] = {
                "wall": timings[name],
                "stream_wall": stream_wall,
                "compute": compute,
                "wait": round(max(0.0, stream_wall - compute), 3),
                "runs": stream_runs,
            }
    load_after = os.getloadavg()
    calib_after = _calibrate(spark)

    prev = _previous_bench()
    try:
        # try/except, not an isdigit guard: 'sf0.0.1' passed the old
        # replace('.','').isdigit() check and float() then crashed AFTER
        # the whole timing loop, losing every sample
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    same_sf = prev["sf"] == sf_val  # ratios across SFs are meaningless
    # streaming queries counted at micro-batch compute time (wall -
    # stream segment + compute) — built here because delta numerators
    # must match the prev artifact's basis: an r7+ compact stub stores
    # compute-substituted values, so dividing a WALL median by it
    # inflated streaming deltas by the trigger wait counted in the
    # numerator only (r10-continuation review)
    timings_c = {
        n: (round(t - stream_split[n]["stream_wall"]
                  + stream_split[n]["compute"], 3)
            if n in stream_split else t)
        for n, t in timings.items()}
    delta_num = timings_c if prev.get("substituted") else timings
    deltas = {name: round(delta_num[name] / prev["queries"][name], 3)
              for name in timings
              if same_sf and prev["queries"].get(name)}

    from datafusion_delta_sharing_spark.harness import text as EXT

    total = round(sum(timings.values()), 3)
    doc = {
        "metric": "headline_suite_seconds",
        "value": total,                # sum of per-query MEDIANS
        "unit": "sec",
        "queries": timings,            # per-query median of n_runs
        "runs": runs,                  # raw per-run timings, in run order
        "n_runs": n_runs,
        "loadavg": {"before": list(load_before),
                    "after": list(load_after)},
        "calibration": {"before": calib_before, "after": calib_after},
        "delta_vs_prev": deltas,       # this run / latest BENCH_r{N}.json
        # per-streaming-query wall/stream_wall/compute/wait (VERDICT r7
        # #2): compute = sum of durationMs.triggerExecution over the
        # query's progress events; stream_wall = the stream segment
        # alone (start -> processAllAvailable), so hybrid queries' batch
        # work is excluded from the wait; wait = stream_wall - compute
        # is trigger scheduling + lifecycle, NOT plan cost (medians
        # across runs, raw runs alongside)
        "stream_seconds": stream_split,
        "prev_round": prev["round"],
        # True when prev was an r7+ compact stub: its values (and this
        # run's delta numerators) are compute-substituted, not wall
        "prev_substituted": prev.get("substituted", False),
        "sf": sf_val,
        # VERDICT r3 #6: the near-dup workload is pinned by these
        # constants; a delta_vs_prev on the dedup/jaccard queries is
        # apples-to-apples iff they are unchanged between rounds
        "workload_pins": {
            "jaccard_docs": EXT._JACCARD_DOCS,
            "aug_offset": EXT._AUG_OFFSET,
            "aug_suffix": EXT._AUG_SUFFIX,
            "max_doc_freq": EXT._MAX_DOC_FREQ,
            "neardup_vecs": EXT._NEARDUP_VECS,
            "ann_queries": EXT._ANN_QUERIES,
            "ann_copies": EXT._ANN_COPIES,
            "lsh_tables": EXT._LSH_TABLES,
        },
        "notes": {
            "methodology":
                "r5 (VERDICT r4 #3): queries = per-query MEDIAN of n_runs "
                "with raw timings in 'runs' and 1/5/15-min loadavg before/"
                "after the suite. Wide spread within one query's runs = machine load, not plan. "
                "'calibration' times fixed-size CPU probes (JVM all-core, "
                "BLAS matmul, 1-core Python) before/after the suite: "
                "divide a cross-round per-query delta by the matching "
                "calibration ratio before reading it as a plan change — "
                "loadavg cannot see hypervisor steal or frequency drift "
                "(r5 preview: byte-identical tpch_q2/q21 ran 2.2x slower "
                "than the r4 artifact on a loadavg-quiet box).",
            "ngram_jaccard_prefix":
                "slower than plain ngram_jaccard AT THIS SF by design; "
                "the crossover is now MEASURED (SCALING.md r5 probe): "
                "prefix wins 7-9x on a skewed corpus at high threshold "
                "(10k docs, 50% boilerplate, t=0.8: plain 41-58s vs "
                "prefix ~6s) and cannot win at t=0.2 where the prefix "
                "keeps ~80% of postings - use the df-cut form for "
                "low-threshold near-dup; output is hash-identical "
                "(losslessness oracle-proven)",
            "dedup_minhash":
                "recall-summary form since r4: computes the exact jaccard "
                "baseline AND the LSH pairs in one job (single-pass "
                "full-outer summary; matrix-literal signatures)",
        },
    }
    # VERDICT r5 #5: two consecutive rounds lost the official artifact to
    # stdout-tail truncation (parsed: null). Persist the full document to
    # a file FIRST — the repo then carries the numbers regardless of what
    # happens to stdout downstream.
    root = Path(__file__).resolve().parent
    if not only:
        with open(root / "BENCH_LATEST.json", "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
    # VERDICT r9 #5: archive the FULL per-query map per round —
    # BENCH_r{N}.json keeps only the compact stdout summary (top-3 +
    # worst-3), and BENCH_LATEST.json is overwritten every run, so
    # cross-round per-query audits needed `git show`. This run's round =
    # newest driver artifact + 1 (the driver writes BENCH_r{N} only
    # AFTER the session closes, so during a session the inference is
    # exact). A manual re-run BETWEEN the driver's artifact write and
    # the next session's start would infer one round high (r10 review) —
    # that window is outside any session, so for reproduction runs pin
    # the label explicitly with SPARK_GRAFT_BENCH_ROUND. Only
    # driver-shaped runs archive (the default SF), so sf0.01 iteration
    # loops don't clobber the round's sf0.1 record.
    if sf_val == 0.1 and not only:
        archive = _full_archive_path(
            root, os.environ.get("SPARK_GRAFT_BENCH_ROUND"))
        if archive is not None:
            with open(archive, "w") as fh:
                json.dump(doc, fh, indent=1)
                fh.write("\n")
    # leading newline: if anything (JVM banner, a stray progress bar) left
    # an unterminated stdout line, the JSON must still start at column 0 —
    # r4's artifact was lost to exactly this gluing
    sys.stdout.write("\n")
    sys.stdout.flush()
    print(json.dumps(doc))
    # VERDICT r6 #3: the driver's stdout channel tail-truncated the full
    # document three rounds running (parsed: null). The FINAL stdout line
    # is therefore a compact summary guaranteed < 2,000 chars — total,
    # query count, the 3 slowest queries, the worst-3 prev-ratios, and
    # the calibration drift — so the driver's tail always captures
    # something machine-readable; the complete artifact is the line
    # above + BENCH_LATEST.json in-repo.
    # timings_c (VERDICT r7 #2, built above with the deltas): the
    # compact line's headline number counts stream segments at compute
    # time, so it can no longer be inflated 5x by trigger scheduling
    # waits on a loaded box, while batch work around the stream (hybrid
    # queries) stays counted
    total_c = round(sum(timings_c.values()), 3)
    calib_ratio = (round(calib_after["jvm_allcore_s"]
                         / calib_before["jvm_allcore_s"], 3)
                   if calib_before.get("jvm_allcore_s") else None)
    # VERDICT r10 #2: the compact line used to carry only the top-3
    # slowest queries, so the driver's round-over-round PERF comparison
    # saw n_common=2 and a bogus "dropped" query. The driver's stdout
    # tail keeps the LAST 2,000 characters, so the full 143-query map
    # with full names cannot fit (names alone are ~1.9 KB) — instead the
    # map is filled GREEDILY, slowest-first, to a measured length budget
    # (~85-90 queries at 2-decimal precision): every query that can
    # matter to a regression read is present, the sub-0.2 s tail (where
    # box weather dominates anyway) overflows to BENCH_LATEST.json,
    # which always carries the complete map. worst3_vs_prev was dropped
    # to make room (derivable from the full artifact's delta_vs_prev).
    compact = {
        "metric": "headline_suite_seconds",
        "value": total_c,              # streaming counted at compute time
        "wall_value": total,           # sum of wall medians (old headline)
        "stream_wait_s": round(total - total_c, 3),
        "unit": "sec",
        # subset runs (SPARK_GRAFT_BENCH_ONLY) write no artifact, so the
        # stdout line carries their complete map regardless of budget
        "queries": dict(timings_c) if only else {},
        "n_queries": len(timings),
        "n_reported": len(timings_c),  # rewritten below for full runs
        "sf": sf_val,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "prev_round": prev["round"],
        "calibration_ratio_jvm": calib_ratio,
        "full_artifact": None if only else "BENCH_LATEST.json",
    }
    if not only:
        fill_compact_queries(compact, timings_c)
    line = json.dumps(compact)
    # the 2,000-char bound protects the DRIVER's stdout tail; a subset
    # run's full map legitimately exceeds it for large selections, and
    # dying on the assert after the timed suite completed would lose
    # every sample (reviewed)
    if not only:
        assert len(line) < 2000, f"compact bench summary grew to {len(line)}"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()

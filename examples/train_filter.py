"""End-to-end example: train a corpus quality filter, boost it, bound it.

The classifier-training workflow an LLM data pipeline runs on the
engine's own primitives — every step is scan-shaped (one tokenize pass,
hash aggregates, broadcast scalars, bounded cell-table rounds), so the
same code runs on the 500-doc sample here and a 100 TB corpus:

1. ``naive_bayes_eval`` — fit a multinomial NB on a labeled training
   fold, report the holdout confusion matrix + decision margins.
2. ``adaboost_fit`` — boost exhaustive stumps over the contingency
   cells of a planted engagement law (one aggregate builds the cells;
   the boosting rounds never re-touch raw rows).
3. ``conformal_interval_1f`` — wrap the companion regression in a
   distribution-free 90 % prediction band whose holdout coverage is
   exact arithmetic, not an estimate.
4. ``bootstrap_ci_mean`` — put an error bar on each group's mean with
   the Poisson bootstrap (100 deterministic hash-derived replicates;
   every draw an integer comparison).

Run:  python examples/train_filter.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from datafusion_delta_sharing_spark.harness import (  # noqa: E402
    load_table, register_views)
from datafusion_delta_sharing_spark.harness.ml import (  # noqa: E402
    _BOOT_XY_SQL, _CONF_XY_SQL, _LR_XY_SQL)
from datafusion_delta_sharing_spark.operators import (  # noqa: E402
    boosting as B, classify as CL, mlprep as ML, sampling as SA)
from datafusion_delta_sharing_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("train-filter", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    print("== 1. Naive Bayes quality filter (holdout confusion) ==")
    docs = load_table(spark, sf_dir, "documents")
    nb = CL.naive_bayes_eval(spark, docs, "text", "doc_id")
    nb.show()
    rows = nb.collect()
    n = sum(r.n_docs for r in rows)
    acc = sum(r.n_docs for r in rows if r.y_true == r.y_pred) / n
    print(f"holdout accuracy: {acc:.3f} over {n} docs; "
          f"smallest decision margin "
          f"{min(r.min_margin for r in rows):.4f} log-odds\n")

    print("== 2. AdaBoost over stumps (cell-table boosting) ==")
    register_views(spark, sf_dir, ["events"])
    ada = B.adaboost_fit(spark, spark.sql(_LR_XY_SQL), "g", rounds=3)
    ada.orderBy("g").show(truncate=False)
    print("train_err is the ensemble's EXACT 0/1 error; min_abs_score "
          "is the closest any sign decision comes to the float drift "
          "band.\n")

    print("== 3. Split conformal 90% band on the companion regression ==")
    conf = ML.conformal_interval_1f(spark, spark.sql(_CONF_XY_SQL), "g")
    conf.show()
    for r in conf.collect():
        print(f"group {r.g}: y_hat +- {r.qhat:.2f} covers "
              f"{r.coverage:.1%} of {r.n_test} held-out rows "
              f"(target 90%)")

    print("\n== 4. Poisson-bootstrap 95% CI on each group's mean ==")
    boot = SA.bootstrap_ci_mean(spark, spark.sql(_BOOT_XY_SQL), "g",
                                "id")
    boot.show()
    for r in boot.collect():
        print(f"group {r.g}: mean {r.mean / 100:.2f} "
              f"[{r.ci_lo / 100:.2f}, {r.ci_hi / 100:.2f}] "
              f"from {r.n_boot} replicates over {r.n} rows")

    spark.stop()


if __name__ == "__main__":
    main()

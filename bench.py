"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the noop sink (full execution, no driver
collect). Timings include plan+execution but not session startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F
import __spark_entry__ as entry
from eventstore_spark.session import get_spark

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5_region_revenue",
    "top_order_per_customer",
    "events_hourly",
    "user_sessions",
    "y1_streams",
    "p6_fold_balance",
    "text_analyze",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "ann_bruteforce",
]

# Opt-in second tier (SPARK_GRAFT_BENCH_SECONDARY=1): the heaviest
# round-9 pipeline operators, so THEIR regressions get a tracked number
# round-over-round even though the driver's 12-query headline set is
# fixed (VERDICT r9 task #8). Timings land under "secondary" in the JSON;
# the headline metric/value are unchanged either way.
SECONDARY = [
    "bm25_search",
    "kn_perplexity",
    "winnowing_neardup",
    "ann_pq",
    "ccnet_buckets",
    "line_dedup",
    # r10 session-2 additions: the iterative-join and packing paths
    "link_pagerank",
    "sequence_pack",
    "ndcg_eval",
    # r10 session-3 additions
    "hybrid_rrf",
    "link_hits",
    "pmi_collocations",
    "quality_ensemble",
    "dedup_url",
    "chat_sft_spans",
    "span_dedup_apply",
    "hard_negatives",
    "scalar_quantize",
    "containment_pairs",
    "exact_quantiles",
    # r10 session-4 additions
    "dedup_edit_verify",
    "dedup_bloom",
    "overlap_eval",
    "embedding_pca",
    "source_drift_ks",
    "tokenizer_fertility",
    "weighted_sample",
    "rp_project",
    "kcenter_select",
    "auc_eval",
    "events_rate_anomaly",
    "langid_prf",
    "percentile_rank",
    "mad_outliers",
    "group_weighted_sample",
    "concentration_report",
    # r11 additions: the temporal joins + skew diagnostics
    "events_asof",
    "events_interval_join",
    "events_skew_report",
    "classifier_train_apply",
    # r12 additions: temporal family completion + eval/robust-stats
    "events_overlap_join",
    "events_resample",
    "classifier_calibration",
    "classifier_pr_curve",
    "score_winsorize",
    "events_rollup",
    "snapshot_diff",
    "source_lang_mi",
    # r13 additions: stats/eval + session detail + cluster sampler
    "source_lang_chi2",
    "classifier_brier",
    "events_sessions_detail",
    "cluster_balanced_sample",
    "events_twa",
    "length_deciles",
    "source_psi",
    "length_welch_t",
    # r14 addition: the shard-packing prefix sum (optimized this round —
    # base projection cached; tracked so the 3-pass regression class
    # stays visible)
    "pack_shards",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")
    qs = entry.queries()

    # Warm-up (not counted): run every headline query once before timing —
    # JMH-style steady-state measurement. The first execution of a plan is
    # dominated by Janino whole-stage-codegen compilation and JVM JIT
    # (profiling: identical re-runs are 4-5x faster on the same data);
    # those are fixed single-node costs, irrelevant both at cluster scale
    # and to the reference baseline (whose CLR JIT-compiles the same way).
    # All caches are dropped before the timed runs, so every timed query
    # does its full data work at the target SF.
    spark.range(1000).count()
    import pandas as pd  # noqa: F401

    (
        spark.range(64)
        .groupBy((F.col("id") % 8).alias("g"))
        .applyInPandas(lambda pdf: pdf.head(1)[["id"]], "id long")
        .count()
    )
    for name in HEADLINE:
        try:
            spark.sparkContext.setJobDescription(f"warmup: {name}")
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # loud: a broken query must not bench cold
            print(f"WARMUP FAILED {name}: {e!r}", file=sys.stderr)
        finally:
            spark.sparkContext.setJobDescription(None)
    spark.catalog.clearCache()

    # Median of 3 timed repetitions per query (steady-state, JMH-style).
    # A single local[32] run is noisy (GC pauses / JIT recompiles produce
    # 2-3x outliers on otherwise identical executions); the median is the
    # standard robust estimator. Caches are cleared before EVERY repetition
    # so no repetition reuses the previous one's materialized data — each
    # timed run does the full data work at the target SF.
    def _time_query(name: str) -> list[float]:
        """The three timed repetitions of ``name``, sorted."""
        reps: list[float] = []
        for rep in range(3):
            spark.catalog.clearCache()
            # label the jobs (guide §1.5) so the UI/event log attributes
            # every stage to its query; description is set OUTSIDE the
            # timed region's work (it is a thread-local assignment, no
            # Spark call) and does not alter the timing methodology
            spark.sparkContext.setJobDescription(f"bench: {name} rep{rep}")
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            reps.append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
        return sorted(reps)

    timings: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    for name in HEADLINE:
        reps = _time_query(name)
        timings[name] = round(reps[1], 3)
        # per-query spread makes the artifact noise-adjudicable: a wide
        # max/min ratio on a co-tenant machine is visible in the record
        # itself instead of needing a same-code re-run to diagnose
        spread[name] = {
            "min": round(reps[0], 3),
            "med": round(reps[1], 3),
            "max": round(reps[2], 3),
        }

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "sf": sf,
    }

    if os.environ.get("SPARK_GRAFT_BENCH_SECONDARY"):
        secondary: dict[str, float] = {}
        for name in SECONDARY:
            try:
                spark.sparkContext.setJobDescription(f"warmup: {name}")
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:
                print(f"SECONDARY WARMUP FAILED {name}: {e!r}", file=sys.stderr)
                continue
            finally:
                spark.sparkContext.setJobDescription(None)
            secondary[name] = round(_time_query(name)[1], 3)
        out["secondary"] = secondary

    print(json.dumps(out))


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Headline benchmark: ingest + query the engine at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Workload shape follows BASELINE.md: bulk ingest through the write path,
conjunctive label queries spanning one / several / all chunk
partitions, an exact-signature lookup, plus the analytic workload
queries. The WHOLE workload runs $SPARK_GRAFT_BENCH_REPS times
(default 3) in one process and every reported number is the per-row
MEDIAN across repetitions, with all raw samples carried in the JSON —
single-recording artifacts were dominated by VM-neighbor/JIT state
twice in five rounds (VERDICT r2, r5: a committed 1.6× "regression"
that re-ran at 0.96×), and the median across whole-run repetitions is
the cheapest estimator that survives one bad window. The FINAL stdout line is a compact
machine-readable headline:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
   "sf": ...}
with the raw per-rep samples written to ./bench_samples.json (the
driver captures only a bounded stdout tail, so the samples blob must
never ride on the last line — see VERDICT r7 "What's wrong" #1).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from monolith_spark.engine import MonolithDB
from monolith_spark.session import get_spark
from monolith_spark.sources.events import events_samples
from monolith_spark.workload import all_queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

# Events span 2024-01-01..2024-01-31; 2-day chunks → ~15 partitions.
CHUNK_MS = 2 * 86_400_000
JAN1 = 1_704_067_200_000

# Round-1 workload rows — the like-for-like contract (core_sec vs
# BENCH_r01). These run FIRST, before the skew stress and pipeline
# additions: round 2 ran them after 8 extra heavy rows and the changed
# JVM/codegen/GC state drifted the recorded numbers 1.5-2.9× while
# isolated re-timings showed unchanged plans (VERDICT r2).
R01_WORKLOAD_NAMES = [
    "ts_superset_eq",
    "ts_series_agg",
    "ts_downsample_1d",
    "ts_latest",
    "ts_delta_stats",
    "tpch_q1",
    "tpch_q3_top10",
    "tpch_nation_revenue",
    "topk_orders_per_customer",
]

# Later additions (LLM-pipeline operators + round-2 rows) — coverage
# widening, timed after the core contract rows.
EXTRA_WORKLOAD_NAMES = [
    "docs_bm25_search",
    "dedup_minhash_lsh",
    "sim_ivf_serving",  # serving path (ivf_topk proper, not the recall-verdict registry query)
    "docs_lm_score",
    "docs_dedup_keep_best",
    "ts_mad_outliers",
    "emb_kmeans_lloyd",
    # round-3 additions: semantic dedup + span/fingerprint text ops
    "emb_semdedup",
    "docs_span_dedup",
    "docs_tf_cosine_pairs",
    "docs_winnow_fingerprint",
    "events_kmv_daily_users",
    "docs_keywords",
    "text_bpe_train",
    # composite flagships (audit-trail curation; SemDeDup + D4 prune)
    "docs_curation_full",
    "emb_d4_prune",
    "docs_quality_classifier",
    "emb_hard_negatives",
    "events_k_anonymity",
    # round-5: the de-globalized ranking queries (exact histogram-offset
    # device replacing corpus-wide ntile / running-sum windows)
    "docs_perplexity_buckets",
    "orders_rfm_segments",
    "tpch_revenue_pareto",
    # perceptual-hash image dedup (real PPM decode -> aHash/dHash ->
    # banded-Hamming near-dup join at the distinct-hash grain)
    "multimodal_phash_near_dupes",
    # round-6: genuine PNG payloads through zlib inflate + un-filter
    # (times the real-world image decode path, not just PPM memcpy)
    "multimodal_phash_dupes_png",
    # round-6: JL-space IVF serving (quantize in 16-dim, re-rank full)
    "sim_jl_ivf_serving",
    # round-6 late: DSIR importance weights (two corpus scans + a
    # broadcast log-ratio table) and the PromQL nested subquery
    "docs_dsir_weights",
    "ts_subquery_max_rate",
    # round-7: the PromQL text front-end (parse + lower + evaluate a
    # regex-matcher rate + sum-by through promql.py), the 1:1
    # vector-matching ratio, and genuine GIF payloads through the LZW
    # decode path
    "ts_promql_parsed",
    "ts_promql_ratio",
    "multimodal_phash_dupes_gif",
    # round-7 late: many-to-one vector matching (group_left with an
    # extra-label copy off the one side), recording rules (a chained
    # two-rule group in one pass), the text-exposition roundtrip
    # (format+parse a week of samples), and the step-range ratio
    # composition (two tiled passes + one per-window keyed join)
    "ts_promql_group_left",
    "ts_recording_rules",
    "ts_exposition_roundtrip",
    "ts_promql_range_ratio",
    # round-7 fifth wave: the training-shard prefix sum (scan-bound,
    # key-parallel windows) and the posting-index oracle row's engine
    # twin lives in the engine rows above (build_label_index /
    # query_indexed)
    "docs_shard_assignment",
    # round-7 eighth wave: ridge train+apply (one scan to nine DECIMAL
    # sums + one broadcast-apply scan) and the deterministic
    # limit_ratio hash sample through the PromQL text front-end
    "docs_quality_ridge_scores",
    "ts_promql_limit_ratio",
    # round-8: the @-anchored range query (pinned instant fast path
    # fanned across the grid + tiled numerator, per-window 1:1 join)
    # and many-to-one group_left per (key, window)
    "ts_promql_range_at",
    "ts_promql_range_group_left",
    # round-9: the Grafana default shape — rate with range = 4×step,
    # a bounded ≤4-way explode over ONE scan (cost scales with k,
    # never with the step count) — and the range-mode subquery (inner
    # tiled grid evaluated once, fanned into outer windows)
    "ts_promql_range_rate4x",
    "ts_promql_range_subquery",
    # round-9: ALERTS historical backfill (one tiled pass + the
    # consecutive-run streak window at series×steps grain)
    "ts_alerts_backfill",
]

R01_ROWS = {
    "ingest", "query_1chunk", "query_multichunk", "query_allchunks",
    "exact_lookup", "ts_superset_eq", "ts_series_agg", "ts_downsample_1d",
    "ts_latest", "ts_delta_stats", "tpch_q1", "tpch_q3_top10",
    "tpch_nation_revenue", "topk_orders_per_customer",
}


def _force(df) -> None:
    """Execute the full plan without driver-side materialization."""
    df.write.format("noop").mode("overwrite").save()


def run_once(spark) -> dict[str, float]:
    """One full pass of the workload against fresh db dirs; returns
    per-row seconds. Mutating rows (ingest, retention) get their own
    tmp state every pass, so repetitions are independent."""
    timings: dict[str, float] = {}

    def timed(name: str, fn, runs: int = 1) -> None:
        # Read-only rows run best-of-2 within a pass (VERDICT r2:
        # single-run rows at this scale are dominated by JIT/GC state,
        # not the plan); mutation rows (ingest) stay single-run.
        best = None
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    tmp = tempfile.mkdtemp(prefix="monolith_bench_")
    db = MonolithDB(spark, os.path.join(tmp, "db"), chunk_size_ms=CHUNK_MS)
    try:
        samples = events_samples(spark, SF_DIR, with_signature=False)
        timed("ingest", lambda: db.write(samples))

        # Conjunctive matcher queries spanning 1 / ~5 / all chunks.
        # best-of-3: these four run FIRST in a cold JVM, and the r5
        # bisect (SCALE.md "Bench-row jitter audit") showed their
        # best-of-2 numbers are dominated by C2-compile state, not the
        # plan — query_allchunks converges 2.9 → 1.0s by the third
        # execution of the identical plan.
        timed("query_1chunk", lambda: _force(
            db.query_flat({"event_type": "purchase"}, JAN1, JAN1 + CHUNK_MS - 1)), runs=3)
        timed("query_multichunk", lambda: _force(
            db.query_flat({"event_type": "purchase", "kb": "3"}, JAN1, JAN1 + 10 * 86_400_000)), runs=3)
        timed("query_allchunks", lambda: _force(
            db.query({"event_type": "click"}, 0, 4_000_000_000_000)), runs=3)
        timed("exact_lookup", lambda: _force(
            db.query_exact(
                {"event_type": "purchase", "kb": "6", "user": "11"}, 0, 4_000_000_000_000)), runs=3)

        # round-7 late: the at-rest inverted label index — build cost
        # (a mutation row, one dim explode + bucketed write) and the
        # posting-served twin of query_multichunk (pruned posting scan
        # + count-intersection + hydration instead of a full dim scan).
        # Runs AFTER the r01-comparable engine rows so their plans (and
        # like-for-like numbers) are untouched.
        timed("build_label_index", lambda: db.build_label_index())
        timed("query_indexed", lambda: _force(
            db.query_flat({"event_type": "purchase", "kb": "3"}, JAN1, JAN1 + 10 * 86_400_000)), runs=3)

        queries = all_queries()
        for name in R01_WORKLOAD_NAMES:
            timed(name, lambda n=name: _force(queries[n].spark_fn(spark, SF_DIR)), runs=2)

        # --- end of the core (r01-comparable) rows ---

        # Skew stress: ≥10% of all points forced onto ONE series (constant
        # label map on a 1/8 timestamp-hash slice), then assembly routed
        # through the salted path via skew auto-detection. Target: within
        # 2× of the unskewed query_allchunks despite the hot series.
        from pyspark.sql import functions as F

        hot = F.create_map(
            F.lit("event_type"), F.lit("hot"),
            F.lit("kb"), F.lit("0"),
            F.lit("user"), F.lit("hot"),
        )
        skewed = samples.withColumn(
            "labels",
            F.when(F.pmod(F.xxhash64("timestamp"), F.lit(8)) == 0, hot).otherwise(
                F.col("labels")
            ),
        )
        db_skew = MonolithDB(spark, os.path.join(tmp, "db_skew"), chunk_size_ms=CHUNK_MS)
        timed("ingest_skewed", lambda: db_skew.write(skewed))
        timed("query_skewed_salted", lambda: _force(
            db_skew.query({"event_type": "hot"}, 0, 4_000_000_000_000, salted="auto")), runs=2)

        def _ivf_serving() -> None:
            from monolith_spark.operators import similarity as _sim

            embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            qv = embs.filter(F.col("vec_id") < 8).withColumnRenamed("vec_id", "query_id")
            _force(_sim.ivf_topk(embs, qv, k=10))

        def _jl_ivf_serving() -> None:
            from monolith_spark.operators import similarity as _sim

            embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            qv = embs.filter(F.col("vec_id") < 8).withColumnRenamed("vec_id", "query_id")
            _force(_sim.jl_ivf_topk(embs, qv, k=10))

        for name in EXTRA_WORKLOAD_NAMES:
            if name == "sim_ivf_serving":
                timed(name, _ivf_serving, runs=2)
            elif name == "sim_jl_ivf_serving":
                timed(name, _jl_ivf_serving, runs=2)
            else:
                timed(name, lambda n=name: _force(queries[n].spark_fn(spark, SF_DIR)), runs=2)

        # Exemplar store (round-7 eighth wave): a deterministic ~1%
        # slice of the ingested points becomes trace-id'd exemplars
        # (an exemplar-only db.write — same dim get-or-create + chunk
        # grid as samples, one manifest commit), then a matcher+chunk-pruned
        # query_exemplars read-back.
        ex = samples.filter(
            F.pmod(F.xxhash64("timestamp"), F.lit(101)) == 0
        ).select(
            "labels", "timestamp", "value",
            F.create_map(
                F.lit("trace_id"), F.md5(F.col("timestamp").cast("string"))
            ).alias("exemplar_labels"),
        )
        timed("write_exemplars", lambda: db.write(None, exemplars=ex))
        timed("query_exemplars", lambda: _force(
            db.query_exemplars(
                {"event_type": "purchase"}, JAN1, JAN1 + 10 * 86_400_000
            )), runs=2)

        # Resolution-tiering retention (mutates the main db — keep LAST):
        # roll chunks past a mid-January horizon into 1h rollups, then a
        # step-grain query served across both tiers.
        JAN11 = JAN1 + 10 * 86_400_000
        timed("retention_tiering",
              lambda: db.downsample_retention(JAN11, 3_600_000))
        timed("query_downsampled_tiered", lambda: _force(
            db.query_downsampled(
                {"event_type": "click"}, 0, 4_000_000_000_000, 3_600_000
            )), runs=2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return timings


def main() -> None:
    spark = get_spark(app_name="monolith-spark-bench", cpus=CPUS)
    # Warm the JVM/session so timings measure the engine, not startup.
    spark.range(1000).count()

    samples = [run_once(spark) for _ in range(max(1, REPS))]
    rows = list(samples[0])
    med = {
        name: round(statistics.median(s[name] for s in samples), 3)
        for name in rows
    }

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # Rows present since round 1 — "core_sec" keeps a like-for-like
    # number against BENCH_r01 (16.345 s at sf0.1); rows added later
    # (skew stress + pipeline operators) widen coverage, not the
    # baseline workload. All medians across the whole-run repetitions.
    #
    # The raw per-rep samples (drift forensics) go to a SIDECAR file,
    # not stdout: the driver captures only a bounded tail of stdout and
    # the inline samples blob made the headline line unparseable for
    # two rounds (BENCH_r06/r07 "parsed": null). The LAST stdout line
    # must stay small enough to survive that capture.
    headline = {
        "metric": "monolith_spark_e2e_sec",
        "value": round(sum(med.values()), 3),
        "unit": "sec",
        "core_sec": round(
            sum(v for k, v in med.items() if k in R01_ROWS), 3
        ),
        "reps": len(samples),
        "queries": med,
        "sf": sf_val,
    }
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_samples.json"
    )
    try:
        with open(sidecar, "w") as fh:
            json.dump({**headline, "samples": samples}, fh)
    except OSError:
        pass  # read-only checkout: the headline still prints below
    line = json.dumps(headline, separators=(",", ":"))
    # The driver captures the LAST 2000 chars of stdout and the JSON
    # line is last, so any line <= 2000 chars survives intact (verified:
    # BENCH_r08.json "tail" is exactly 2000 chars with the full line).
    # 1950 leaves slack for a trailing newline / CR artifacts.
    if len(line) > 1950:
        # Keep the final line under the driver's capture window: fall
        # back to the like-for-like core rows; full medians are in the
        # sidecar (and the preceding stdout line).
        print(line)  # full medians, one line earlier, for humans/logs
        headline["queries"] = {
            k: v for k, v in med.items() if k in R01_ROWS
        }
        headline["queries_full"] = "bench_samples.json"
        line = json.dumps(headline, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()

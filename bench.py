"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end through the noop sink (no driver-side
collect, no result materialization skew).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from oculus_data_pipeline_spark.queries import get_queries
from oculus_data_pipeline_spark.session import get_spark

HEADLINE = [
    "q01_pricing_summary",
    "q02_shipping_priority",
    "q03_region_revenue",
    "q06_top_customers_per_nation",
    "q07_running_order_totals",
    "q12_json_extraction",
    "q14_tumbling_windows",
    "q16_session_windows",
    "q19_asof_join",
    "q21_generate_uri",
    "q30_exact_dedup",
    # q31 is the stop-shingle-guarded exact Jaccard (the library
    # default since round 5 — linear join work, O(#shingles·max_df²)).
    # q133 (unguarded all-pairs, the explicit opt-in QA tier) is
    # deliberately NOT headline: it is the one super-linear tier
    # (Σ df² join work once the shingle vocab saturates); q66 is the
    # LSH-then-verify scale path.
    "q31_ngram_jaccard_pairs",
    "q32_minhash_lsh_pairs",
    "q33_simhash",
    "q38_lsh_ann_topk",
    "q42_lang_id",
    "q50_cosine_topk",
    "q56_deterministic_sample",
    "q62_graph_edges",
    "q66_lsh_verified_near_dups",
    "q70_curation_pipeline",
    # round-2 flagship additions — the headline follows the engine's
    # differentiated surface; r1 comparisons stay per-query
    "q93_pagerank",
    "q94_tfidf_top_terms",
    "q96_containment_pairs",
    "q97_semantic_clusters",
    "q98_value_outliers",
    "q101_chunk_documents",
    "q103_decontamination",
    # round-3 flagship additions
    "q107_pii_redaction",
    "q109_unigram_rarity",
    "q112_canonical_docs",
    "q113_int8_quantization",
    "q114_bucketed_range_join",
    "q120_prepare_corpus",
    "q124_point_in_time_join",
    "q126_entity_resolution",
    "q127_part_cooccurrence",
    "q128_gap_sessionization",
    "q129_gap_fill_forward",
    "q130_incremental_agg_merge",
    "q131_nearest_event_join",
    "q132_revenue_share",
    # round-4 second-wave flagships
    "q138_pq_encode",
    "q139_segment_scrub",
    "q140_embedding_gram",
    "q141_source_mixture",
    "q142_pq_adc_topk",
    "q143_snapshot_diff",
    "q144_stratified_split",
    "q145_table_fingerprint",
    "q146_variant_extract",
    # round-4 third-wave flagships
    "q148_power_iteration",
    "q149_ivf_pq_topk",
    "q150_cms_heavy_hitters",
    "q151_winsorized_stats",
    "q152_count_sketch",
    "q153_bloom_membership",
    "q154_hard_negatives",
    "q155_ewma_smoothing",
    "q156_ab_test_stats",
    "q157_pq_lloyd_update",
    "q158_pareto_frontier",
    "q159_pps_sample",
    "q160_label_gini",
    "q161_chi_square",
    "q162_k_anonymity",
    "q163_column_profile",
    "q164_referential_integrity",
    "q165_group_mode",
    "q39_lsh_bucket_stats",
    "q166_dedup_weights",
    "q168_ivf_pq_trained",
    "q169_label_propagation",
    "q170_markov_transitions",
    "q171_minhash_accuracy",
    "q172_weighted_median",
    "q173_event_debounce",
    "q174_expectations_report",
    # round-4 fourth-wave flagships (corpus audits + safe splitting)
    "q175_oov_rate",
    "q176_source_overlap_matrix",
    "q177_token_diversity",
    "q178_quality_calibration",
    "q179_group_aware_split",
    "q180_key_skew_profile",
    "q181_time_weighted_avg",
    "q182_mad_outliers",
    "q183_rolling_active_users",
    "q184_compression_ratio",
    "q185_collocations",
    "q186_near_dup_provenance",
    "q187_vocab_growth",
    "q188_dup_rate_by_source",
    "q189_embedding_norm_profile",
    "q190_pack_manifest",
    "q191_rrf_fusion",
    "q192_sequential_patterns",
    "q193_contrastive_triplets",
    "q194_burstiness",
    "q195_zorder_layout",
    "q196_padding_waste",
    "q197_sorted_neighborhood",
    "q198_interval_coverage",
    "q199_fd_audit",
    "q200_segment_dedup",
    "q201_cusum_changepoint",
    "q202_mutual_nn_margin",
    "q203_shuffle_shards",
    "q204_curriculum_schedule",
    "q205_apportionment",
    "q206_lag_xcorr",
    "q207_temporal_integrity",
    "q208_split_leakage",
    "q209_kmv_set_ops",
    "q210_drop_waterfall",
    "q211_bfs_distances",
    "q212_zone_map_report",
    "q213_gdpr_impact",
    "q214_benford_audit",
    "q215_kcore_peel",
    "q216_rank_agreement",
    "q217_lang_confusion",
    "q218_seasonality_profile",
    "q219_join_cardinality_forecast",
    "q220_watermark_lateness",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # 1-min load BEFORE this process adds its own: external contention
    # inflates timings silently (an r8 run measured a contiguous
    # 12-query window 5-16x slow while another process owned the box;
    # the clean re-run was normal). Recording it makes a contaminated
    # run self-documenting instead of a phantom regression.
    load_start = round(os.getloadavg()[0], 2)

    # Capture fd 2 for the whole run (the JVM inherits it at launch,
    # so Spark's log4j output lands in the temp file) and count
    # `WindowExec: No Partition Defined` warnings — the one-task
    # global-window scale killer this repo bans. The count goes INTO
    # the JSON line so the evidence is machine-checkable per round,
    # not a prose claim (r5 verdict item 7); the captured logs are
    # replayed to the real stderr afterwards so `2>/dev/null` behaves
    # as before.
    import tempfile

    orig_err = os.dup(2)
    cap = tempfile.NamedTemporaryFile(prefix="bench_stderr_", delete=False)
    os.dup2(cap.fileno(), 2)
    try:
        timings = _run(sf_dir)
    finally:
        sys.stderr.flush()
        os.dup2(orig_err, 2)
        os.close(orig_err)
        cap.seek(0)
        captured = cap.read()
        cap.close()
        os.unlink(cap.name)
        os.write(2, captured)
    window_warnings = captured.count(b"WindowExec: No Partition Defined")
    # bracket the run: twice in r8 an external process inflated the
    # TAIL queries 2-16x while the start load was quiet — the end
    # sample catches contention that arrives mid-run
    load_end = round(os.getloadavg()[0], 2)

    total = round(sum(timings.values()), 3)
    # key order matters operationally: the driver stores only the TAIL
    # of this process's output (BENCH_r04 lost the total that way), so
    # the per-query map comes first and the headline total/metric keys
    # come last, where truncation can't eat them
    print(
        json.dumps(
            {
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "n_queries": len(timings),
                "unpartitioned_window_warnings": window_warnings,
                "loadavg_1m_at_start": load_start,
                "loadavg_1m_at_end": load_end,
                "metric": "headline_queries_total_runtime",
                "unit": "sec",
                "value": total,
            }
        )
    )
    # Second, SHORT line: the 15 most expensive per-query timings.
    # The driver keeps only the tail of this process's output, and the
    # main line's alphabetical per-query map is large enough that the
    # cut eats its head — BENCH_r08 preserved only ~43/124 timings and
    # lost exactly the expensive head queries (q97/q112/q120/q166/q168,
    # the ones the r8 re-plans touched). This line is ~300 bytes and
    # printed LAST, so the expensive-head evidence survives any tail
    # truncation of the line above (r8 verdict item 2).
    print(json.dumps(top15_line(timings)))


def top15_line(timings: dict[str, float]) -> dict:
    """The truncation-proof second bench line: the 15 most expensive
    per-query timings, most expensive first (ties broken by name so
    the line is deterministic), plus their sum for a one-glance check
    of how much of the total the head explains."""
    top = dict(
        sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    )
    return {"top15": top, "top15_sum": round(sum(top.values()), 3)}


def _run(sf_dir: str) -> dict[str, float]:
    spark = get_spark("oculus-bench")
    queries = get_queries()

    # warm the JVM: parquet footers, whole-stage codegen, the shuffle
    # machinery, and a broadcast exchange — otherwise the first timed
    # query pays one-time session costs that are not query cost
    from pyspark.sql import functions as F

    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    region.count()
    # pre-touch EVERY table's parquet pages, not just region's: a cold
    # OS page cache inflated an otherwise-identical sf0.1 run 25%
    # (201.6 s cold vs 161.6 s immediately after — q120 alone 18.7 vs
    # 7.9 s), so without this the measured number depends on what ran
    # on the box before the bench did (r8 verdict item 3). count()
    # alone won't do it — parquet answers counts from footer metadata
    # without touching data pages — so force a real full-column page
    # read with a select-all noop write per table.
    import glob as _glob

    for tbl in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        spark.read.parquet(tbl).write.format("noop").mode("overwrite").save()
    warm = spark.range(100_000).withColumn("k", F.col("id") % 101)
    warm.groupBy("k").count().write.format("noop").mode("overwrite").save()
    warm.join(F.broadcast(region), warm.k == region.r_regionkey).write.format(
        "noop"
    ).mode("overwrite").save()
    # warm the PYTHON worker path too: the first Arrow stage of a run
    # pays python-worker fork + pandas/pyarrow import per executor
    # thread — cost that lands on whichever mapInPandas query runs
    # first (q78/q84/q105 multimodal, IVF probe stages) and shows up
    # as cold-run residual, not query cost (r9 verdict item 3)
    def _noop_batch(it):
        for pdf in it:
            yield pdf

    spark.range(32).repartition(32).mapInPandas(
        _noop_batch, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        # best of 2 runs: steady-state query cost, not run-to-run JVM
        # noise (GC pauses, first-touch page faults). Construction is
        # inside the timer — iterative operators (connected
        # components) materialize eagerly at plan build.
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)
    return timings


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Scale probe: would these plans survive 10×?

Synthesizes ~sf1 data (10× sf0.1: lineitem ≈ 6M rows, orders ≈ 1.5M,
documents ≈ 100K with fresh ids) as *multi-file* parquet in /tmp, then runs
the headline queries and the sketch pipelines, printing per-query seconds
at sf0.1 vs sf~1. Linear-ish scaling + no failures = the partition strategy
holds; anything super-linear is a red flag to fix.

Usage: python tools/scale_probe.py [--keep]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from database_migrator_spark.plans.registry import all_queries  # noqa: E402
from database_migrator_spark.session import get_session  # noqa: E402
from database_migrator_spark.sources import TABLES, table, warm_substrates  # noqa: E402

SRC_SF = "/root/testdata/sf0.1"
COPIES = 10
PROBE_QUERIES = [
    "q01_scan_filter_project",
    "q02_pricing_summary",
    "q04_star_join_revenue",
    "q07_window_top_orders_per_customer",
    "q23_asof_join_last_order",
    "q24_sessionize",
    "q25_exact_dedup",
    "q28_minhash_near_duplicates",
    "q29_simhash_near_duplicates",
    "q34_cosine_topk",
    "q52_range_join_followup_events",
    # full dedup/similarity family (round 2): text tiers + embedding tier
    "q45_embedding_near_duplicates",
    "q53_ivf_topk",
    "q54_char_ngram_jaccard",
    "q58_exact_text_dedup",
    "q66_minhash_verified_pairs",
    "q67_bmp_decode",
    # round-2 additions: clustering, reconciliation, temporal, skew
    "q70_salted_skew_join",
    "q72_neardup_components",
    "q73_resample_ffill",
    "q75_tfidf_top_terms",
    "q79_table_checksum",
    "q80_snapshot_diff",
    # round-3 additions: training-pipeline surface (chunking, repetition,
    # canonical pick, centroids, packing, PMI self-join, incremental
    # dedup, decontamination)
    "q87_token_window_chunks",
    "q88_repetition_score",
    "q90_canonical_docs",
    "q92_embedding_centroids",
    "q94_sequence_packing",
    "q96_cooccurrence_pmi",
    "q97_incremental_ingest_dedup",
    "q98_benchmark_decontamination",
    # round-4 additions: sketch top-k, pipeline composition, PNG decode
    "q99_quality_filter_yield",
    "q100_heavy_hitters",
    "q101_corpus_pipeline_report",
    "q102_png_decode",
    # round-5 additions: data-mixing diagnostics, k-means inertia, BPE
    "q103_source_divergence",
    "q104_sampling_weights",
    "q105_kmeans_inertia",
    "q106_bpe_merges",
    "q107_bpe_vocabulary",
    # round-5 wave 2: LM scoring, semantic dedup, PageRank, histogram,
    # span/novelty/overlap gram pipelines, caps, leakage split, fertility,
    # PQ, CDC chunking, Bloom pre-filter, mixing budget
    "q108_bigram_lm_score",
    "q109_semantic_dedup",
    "q110_pagerank",
    "q111_seq_length_histogram",
    "q113_repeated_ngram_spans",
    "q114_per_source_caps",
    "q115_leakage_safe_split",
    "q116_tokenizer_fertility",
    "q117_pq_compression",
    "q118_ngram_novelty",
    "q119_cross_source_overlap",
    "q120_cdc_chunk_dedup",
    "q121_bloom_ingest_filter",
    "q122_mixture_epochs",
    "q124_video_frame_sample",
    "q125_curriculum_order",
    "q126_vocab_contribution",
    "q127_incremental_neardup",
    "q128_mixture_materialize",
    # round-5 wave 4: audio frame features, bucketed join, compaction,
    # Count-Min sketch
    "q133_audio_frame_energy",
    "q134_bucketed_colocated_join",
    "q135_compaction_roundtrip",
    "q136_countmin_frequency",
    # round-5 wave 5: delete propagation, rollup cascade, corrupt-tolerant
    # ingest, XML round-trip, variant shredding
    "q137_delete_propagation",
    "q138_rollup_cascade",
    "q139_corrupt_tolerant_ingest",
    "q140_xml_roundtrip",
    "q141_variant_shredding",
    # round-5 wave 6: sequence analytics
    "q142_event_transitions",
    "q143_retention_cohorts",
    # round-6: fixed-codebook PQ encode, contamination attribution,
    # cluster-size histogram (component artifact), BFS, image aHash
    "q144_pq_encode_fixed",
    "q145_contamination_attribution",
    "q146_cluster_size_histogram",
    "q147_bfs_reachability",
    "q148_image_ahash_dupes",
    # round-6 wave 3: exactly-once sink, pivot, exact percentiles,
    # truncation fidelity, int8 quantization
    "q149_exactly_once_sink",
    "q150_pivot_crosstab",
    "q151_exact_percentiles",
    "q152_embedding_truncation_fidelity",
    "q153_int8_quantization_report",
    # round-6 wave 4 + round-7: skew report, anomalies, OHLC, sequence
    # motifs (strict + gap-constrained, per-user capped)
    "q154_join_key_skew_report",
    "q155_event_rate_anomalies",
    "q156_ohlc_bars",
    "q157_sequence_motif_match",
    "q158_gap_constrained_motif",
    # round-7 wave 2: funnel/TWAP/attribution, winnowing, prefix-filter
    # join, chi-square drift, incremental aggregate merge
    "q159_time_window_funnel",
    "q160_time_weighted_value",
    "q161_winnowing_fingerprints",
    "q162_prefix_filter_jaccard_join",
    "q163_last_touch_attribution",
    "q164_chi_square_drift",
    "q165_incremental_agg_refresh",
    "q166_concurrent_sessions",
    # round-7 wave 3: RFM cube, session paths, volume correlation
    "q168_rfm_segmentation",
    "q169_top_session_paths",
    "q170_event_type_correlation",
    "q171_seasonal_naive_forecast",
    "q172_ewma_control_chart",
    "q173_psi_value_drift",
    "q174_ks_value_drift",
    # round-8: negative-condition motif, variant QUALIFY, rank statistics,
    # graph statistics, containment join, near-dup triangles
    "q175_uninterrupted_funnel",
    "q176_variant_qualify_topk",
    "q177_hourly_autocorrelation",
    "q178_spearman_value_k",
    "q179_mann_whitney_value",
    "q180_degree_assortativity",
    "q181_shingle_containment_join",
    "q182_neardup_triangles",
    "q183_theil_sen_trend",
    "q184_benford_drift",
    "q185_stream_stream_left_outer",
    "q186_weighted_sample",
    "q187_source_entropy",
    "q188_zorder_layout",
    # round-8 wave 2: exact bitmap distinct family, BM25 + proximity
    # retrieval, single-pass profiling, CUSUM, k-core peel
    "q189_bitmap_distinct_rollup",
    "q190_bitmap_retention",
    "q191_bm25_topk",
    "q192_column_profile",
    "q193_cusum_changepoint",
    "q194_kcore_3core",
    "q195_phrase_proximity",
    # round-8 wave 5: QLD scorer, RRF fusion, rolling-bitmap stickiness
    "q196_qld_topk",
    "q197_rrf_fusion",
    "q198_bitmap_stickiness",
    "q199_greedy_coverage",
    "q200_association_rules",
    "q201_conversion_delay_quartiles",
    "q202_circular_peak_hour",
    "q203_js_divergence_matrix",
    "q204_record_linkage",
    "q205_stream_bitmap_dau",
    "q206_sparse_cosine_pairs",
    "q207_segment_dedup_yield",
    "q208_leadlag_xcorrelation",
    "q209_token_gini_concentration",
    "q210_minhash_fidelity",
    "q211_diurnal_variance_explained",
    "q212_distinctive_terms_logodds",
    "q213_order_value_outliers",
    "q214_referential_integrity",
    "q215_interarrival_burstiness",
    # round-9 backfill: the two wave-11 snapshot additions
    "q216_stream_heavy_hitters",
    "q217_audio_silence_segments",
    # round-9 additions
    "q218_stream_value_quantiles",
    "q219_ivf_index_append",
    "q220_doc_prefix_templates",
    "q221_kmv_distinct_fidelity",
    "q222_trimmed_order_stats",
    "q223_hll_register_fidelity",
    "q224_functional_dependencies",
    "q225_position_attribution",
    "q226_nearest_event_join",
    "q227_zipf_slope",
    "q228_delete_propagation_audit",
    "q229_incremental_index_refresh",
    "q230_embedding_centroid_drift",
    "q231_point_in_time_features",
    "q232_conversion_wilson_ci",
    "q233_cuped_adjusted_lift",
    "q234_minhash_lsh_portable",
    "q235_srp_lsh_topk_portable",
    "q236_ivf_topk_portable",
    "q237_bm25_maxscore_topk",
    "q238_simhash_hamming_portable",
    "q239_nelson_aalen_hazard",
    "q240_kruskal_wallis_value",
    "q241_textrank_keywords",
    "q242_bootstrap_ci_daily_revenue",
    "q243_kneser_ney_bigram_score",
    "q244_video_shot_boundaries",
    "q245_rm3_expansion_rescore",
    "q246_margin_bitext_mining",
    "q247_calibration_report",
    "q248_hard_negative_mining",
    "q249_training_shuffle_shard",
    "q250_groupwise_auc",
    "q251_isotonic_calibration",
    "q252_markov_removal_attribution",
    "q253_ipw_conversion_lift",
    "q254_unseen_mass_estimate",
    "q255_stream_hll_partials",
    "q256_mmr_diversified_topk",
    "q257_k_anonymity_audit",
    "q258_woe_information_value",
    "q259_waiting_suppliers",
    "q260_index_delete_refresh",
    "q261_sampled_quantile_fidelity",
    "q262_join_cardinality_sketch",
    # round-11: Lloyd-step twin, DP release, RAG chunking, kappa, packing
    "q263_lloyd_step_portable",
    "q264_randomized_response_release",
    "q265_rag_token_chunking",
    "q266_cohens_kappa_labelers",
    "q267_sequence_packing_report",
    "q268_shard_manifest_fingerprint",
    "q269_embedding_norm_screen",
    # round-11 wave 4: skyline, join-view IVM, LPA communities, conformal
    "q270_pareto_skyline_parts",
    "q271_join_view_delta_refresh",
    "q272_label_propagation_communities",
    "q273_split_conformal_coverage",
    # round-11 wave 5: postings index, WordPiece tokenize, power iteration
    "q274_postings_delta_index",
    "q275_wordpiece_greedy_tokenize",
    "q276_power_iteration_step",
    # round-11 wave 6: zone-map audit, feature hashing, MAD screen
    "q277_zone_map_prunability",
    "q278_feature_hash_collisions",
    "q279_mad_robust_screen",
    # round-11 wave 7: gaps-and-islands, watermark lateness
    "q280_activity_streaks",
    "q281_watermark_lateness_audit",
    # round-11 wave 8: FFD compaction planner, selectivity audit, recall curve
    "q282_compaction_bin_packing",
    "q283_selectivity_independence",
    "q284_ivf_recall_curve",
    # round-11 wave 9: physical-design advisors
    "q285_encoding_advisor",
    "q286_bloom_join_pruning",
    "q287_clustering_factor",
    # round-11 wave 10: apportionment, incremental sessions, qnorm
    "q288_largest_remainder_allocation",
    "q289_incremental_sessionize_stitch",
    "q290_quantile_normalization",
    # round-11 wave 11: CBO broadcast audit, IR metrics
    "q291_broadcast_decision_audit",
    "q292_retrieval_metrics_report",
    # round-11 wave 12: vocabulary growth
    "q293_vocab_growth_curve",
    # round-12: span-level ExactSubstr, histogram decision stump
    "q294_exact_substring_spans",
    "q295_decision_stump_split",
    "q296_temporal_reachability",
    "q297_wasserstein_length_shift",
    "q298_rank_biased_overlap",
    "q299_partition_sizing_advisor",
    "q300_kcenter_coreset",
    "q301_capture_recapture_dedup",
    "q302_neyman_allocation",
    "q303_audio_zcr_voicing",
    "q304_decile_mobility_matrix",
    "q305_difference_in_differences",
    # round-13 additions: unigram-LM tokenizer, trained NB language ID
    "q306_unigram_lm_vocabulary",
    "q307_charngram_naive_bayes_langid",
    # round-14 additions: Bradley-Terry preference fit, annotator kappa,
    # cross-table inclusion-dependency discovery
    "q308_bradley_terry_preference",
    "q309_annotator_agreement_kappa",
    "q310_inclusion_dependency_discovery",
]

# key columns to shift per copy so replicated rows stay distinct entities
SHIFT = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def synthesize(spark, out_dir: str) -> None:
    for name in TABLES:
        src = table(spark, SRC_SF, name)
        if name in SHIFT:
            n = src.count()
            parts = []
            for i in range(COPIES):
                df = src
                for col in SHIFT[name]:
                    df = df.withColumn(col, F.col(col) + F.lit(i * n * 10))
                parts.append(df)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = src  # dims keep their key space
        out.repartition(16).write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")


def run(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, float]]:
    # substrate fits are ingest-time work: build every registered one first
    # so the probed queries time the QUERY, mirroring bench.py; the build
    # cost is real once-per-deployment work, so it is timed and reported
    qs = all_queries()
    ingest = warm_substrates(spark, sf_dir)
    out = {}
    for name in PROBE_QUERIES:
        t0 = time.perf_counter()
        qs[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 2)
    return out, ingest


def synthesize_vocab_inflated_docs(spark, out_dir: str) -> None:
    """10× documents where every copy carries a DISJOINT vocabulary
    (each token suffixed with the copy index): distinct-token count grows
    10×, the hapax-heavy regime that killed q103's old full-vocabulary
    broadcast. Plain replication (synthesize()) multiplies token COUNTS
    but keeps the vocabulary constant, so it cannot exercise that axis."""
    from database_migrator_spark.operators.dedup import tokens_of

    src = table(spark, SRC_SF, "documents")
    n = src.count()
    parts = []
    for i in range(COPIES):
        parts.append(
            src.withColumn("doc_id", F.col("doc_id") + F.lit(i * n * 10)).withColumn(
                "text",
                F.concat_ws(
                    " ",
                    F.transform(
                        tokens_of("text"), lambda t, i=i: F.concat(t, F.lit(f"v{i}"))
                    ),
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(16).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def synthesize_pairfixed_docs(spark, out_dir: str, factor: int = 3) -> None:
    """``factor``× documents where every ADDED doc has a globally unique
    vocabulary (each token suffixed with copy index + shifted doc_id):
    added docs share zero shingles with anything, so the TRUE near-dup
    pair count stays exactly the base corpus's while the substrate
    (docs, shingles, df table, prefixes) scales ``factor``×. The
    replication probe (synthesize()) cannot separate those axes — its
    output pairs grow ~quadratically in the copy count (round-7 verdict
    #7)."""
    from database_migrator_spark.operators.dedup import tokens_of

    src = table(spark, SRC_SF, "documents")
    n = src.count()
    parts = [src]
    for i in range(1, factor):
        parts.append(
            src.withColumn("doc_id", F.col("doc_id") + F.lit(i * n * 10)).withColumn(
                "text",
                F.concat_ws(
                    " ",
                    F.transform(
                        tokens_of("text"),
                        lambda t, i=i: F.concat(
                            t, F.lit(f"u{i}d"), F.col("doc_id").cast("string")
                        ),
                    ),
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(16).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def q162_pairfixed_probe(spark, factor: int = 3) -> dict:
    """q162 wall-clock at ``factor``× docs with OUTPUT PAIRS HELD
    CONSTANT — separates substrate cost (shingle df count, per-doc sort,
    prefix join) from output-pair cost. Near-linear wall-clock here plus
    the replication probe's sub-linear-in-output-pairs reading together
    bound both axes."""
    qs = all_queries()
    build = qs["q162_prefix_filter_jaccard_join"].build
    build(spark, SRC_SF).count()  # warm: JVM, codegen, parquet footers
    t0 = time.perf_counter()
    base_pairs = build(spark, SRC_SF).count()
    base_t = round(time.perf_counter() - t0, 2)
    tmp = tempfile.mkdtemp(prefix="q162_pairfixed_")
    try:
        synthesize_pairfixed_docs(spark, tmp, factor)
        t0 = time.perf_counter()
        big_pairs = build(spark, tmp).count()
        big_t = round(time.perf_counter() - t0, 2)
        return {
            "factor": factor,
            "output_pairs": {"sf0.1": base_pairs, f"{factor}x_pairfixed": big_pairs},
            "q162_sec": {"sf0.1": base_t, f"{factor}x_pairfixed": big_t},
            "wall_ratio": round(big_t / base_t, 2) if base_t > 0 else None,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bucket_cap_stats(spark, sf_dir: str, max_bucket: int = 1000) -> dict:
    """How hard does the MinHash bucket cap work at this scale? Reports
    total band-buckets, buckets over the cap (dropped), and the largest
    bucket for BOTH shipped banding configs — q28's 16×4 and the
    verified pipeline's (q66/q72) 32×2, whose 2-row band hashes collide
    far more — the observability the 100 TB run needs to tune
    (bands, cap)."""
    from database_migrator_spark.operators.dedup import (
        lsh_bands,
        minhash_signature,
        tokens_of,
        word_shingles,
    )

    d = table(spark, sf_dir, "documents")
    sigs = (
        d.repartition(spark.sparkContext.defaultParallelism)
        .select(minhash_signature(word_shingles(tokens_of("text")), 64).alias("sig"))
        .localCheckpoint(eager=True)  # sketch once, band twice
    )
    out = {}
    for bands, rows in ((16, 4), (32, 2)):
        banded = (
            sigs.select(F.explode(lsh_bands(F.col("sig"), bands, rows)).alias("b"))
            .groupBy("b.band", "b.bh")
            .agg(F.count("*").alias("n"))
        )
        row = banded.agg(
            F.count("*").alias("n_buckets"),
            F.sum((F.col("n") > max_bucket).cast("long")).alias("n_capped"),
            F.max("n").alias("max_bucket_size"),
        ).first()
        out[f"{bands}x{rows}"] = {
            "n_buckets": row["n_buckets"],
            "n_capped_dropped": row["n_capped"],
            "max_bucket_size": row["max_bucket_size"],
            "cap": max_bucket,
        }
    return out


def semdedup_stats(spark, sf_dir: str) -> dict:
    """q109's candidate-pair observability: the replication probe holds
    the CLUSTER COUNT fixed while rows grow 10×, so per-cluster sizes grow
    10× and candidate pairs ~100× — the adversarial regime for any
    cluster-bounded pairwise operator. Wall clock must track THESE pair
    counts (the designed cost), not the input row count; production holds
    m_c flat by re-clustering with larger k as the corpus grows."""
    from database_migrator_spark.operators.similarity import semantic_cluster_stats

    row = semantic_cluster_stats(table(spark, sf_dir, "embeddings")).first()
    return {
        "n_clusters": row["n_clusters"],
        "max_cluster": row["max_cluster"],
        "n_cand_pairs": row["n_cand_pairs"],
    }


def vocab_growth_probe(spark) -> dict:
    """q103 under 10× VOCABULARY growth (not just 10× volume): the
    vocab-count join must stay a shuffle join and scale with the token
    stream, never OOM-broadcast the distinct-token table."""
    qs = all_queries()
    t0 = time.perf_counter()
    qs["q103_source_divergence"].build(spark, SRC_SF).write.format("noop").mode(
        "overwrite"
    ).save()
    base_t = round(time.perf_counter() - t0, 2)
    tmp = tempfile.mkdtemp(prefix="vocab10x_probe_")
    try:
        synthesize_vocab_inflated_docs(spark, tmp)
        from database_migrator_spark.operators.dedup import tokens_of

        def vocab(sf_dir):
            return (
                table(spark, sf_dir, "documents")
                .select(F.explode(tokens_of("text")).alias("t"))
                .agg(F.countDistinct("t"))
                .first()[0]
            )

        v0, v1 = vocab(SRC_SF), vocab(tmp)
        t0 = time.perf_counter()
        qs["q103_source_divergence"].build(spark, tmp).write.format("noop").mode(
            "overwrite"
        ).save()
        big_t = round(time.perf_counter() - t0, 2)
        return {
            "distinct_tokens": {"sf0.1": v0, "vocab10x": v1},
            "q103_sec": {"sf0.1": base_t, "vocab10x": big_t},
            "ratio": round(big_t / base_t, 1) if base_t > 0 else None,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    # --only q157,q158 runs just those queries (by qNN prefix), skipping
    # the ingest warms and the bucket/vocab/semdedup extras — the cheap
    # way to probe a new query without re-timing the whole catalog.
    keep = "--keep" in sys.argv
    if "--q162-pairfixed" in sys.argv:
        spark = get_session("scale-probe")
        print(json.dumps({"q162_pairfixed": q162_pairfixed_probe(spark)}, indent=2))
        return
    only: set[str] | None = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    queries = (
        PROBE_QUERIES
        if only is None
        else [q for q in PROBE_QUERIES if q.split("_", 1)[0] in only]
    )
    spark = get_session("scale-probe")

    def timed_run(sf_dir):
        if only is not None:
            # --warm: run the ingest fits first even for a subset probe,
            # so substrate-sharing queries (retrieval tf, shingles,
            # components, IVF/PQ/BPE) time only the QUERY — without it
            # the first such query pays the whole substrate build inside
            # its own timer (the round-9 q191 13.3x methodology artifact)
            qs = all_queries()
            ingest = warm_substrates(spark, sf_dir) if "--warm" in sys.argv else {}
            out = {}
            for name in queries:
                t0 = time.perf_counter()
                qs[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
                out[name] = round(time.perf_counter() - t0, 2)
            return out, ingest
        return run(spark, sf_dir)

    base, base_ingest = timed_run(SRC_SF)
    tmp = tempfile.mkdtemp(prefix="sf1_probe_")
    try:
        t0 = time.perf_counter()
        synthesize(spark, tmp)
        print(f"# synthesized ~sf1 in {time.perf_counter()-t0:.1f}s at {tmp}", file=sys.stderr)
        big, big_ingest = timed_run(tmp)
        report = {
            q: {"sf0.1": base[q], "sf1": big[q],
                "ratio": round(big[q] / base[q], 1) if base[q] > 0 else None}
            for q in queries
        }
        if base_ingest:
            report["ingest_fits"] = {
                k: {"sf0.1": base_ingest[k], "sf1": big_ingest[k],
                    "ratio": round(big_ingest[k] / base_ingest[k], 1) if base_ingest[k] > 0 else None}
                for k in base_ingest
            }
        if only is None:
            report["minhash_bucket_cap"] = {
                "sf0.1": bucket_cap_stats(spark, SRC_SF),
                "sf1": bucket_cap_stats(spark, tmp),
            }
            report["q103_vocab_growth"] = vocab_growth_probe(spark)
            report["q109_candidate_pairs"] = {
                sf: semdedup_stats(spark, d) for sf, d in (("sf0.1", SRC_SF), ("sf1", tmp))
            }
        print(json.dumps(report, indent=2))
    finally:
        if not keep:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()

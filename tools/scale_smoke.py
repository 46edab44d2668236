#!/usr/bin/env python
"""One-shot sf1 scale smoke (VERDICT r3 next-round #5).

Runs the heavy dedup/ANN/text/events tier at BOTH sf0.1 and the replicated
sf1 dataset (tools/make_scale.py) in one warm JVM, and records per-query
wall-times plus the sf1/sf0.1 ratio under BENCH_DETAIL.json's ``sf1`` key.
With 10x the data a linear operator should land well inside the 15x bound
(10x data, 1.5x overhead headroom); anything above is super-linear and must
be fixed or explained by a measured output/fixture bound, never waved
through.

The gate runs over the PRODUCTION scale paths.  Three fixture queries are
measured but reported under ``known_bound`` with the measured reason:

- doc_ngram_jaccard_pairs — exact inverted-index candidates are Σ df²; on
  this flat-df corpus (median df 69 at sf1) every exact candidate scheme is
  quadratic (PPJoin prefix filtering measured twice, lost twice).  The scale
  path is doc_lsh_verified_jaccard (gated here, ~linear), and the exact form
  remains the fixture-scale verification tool.
- emb_near_dup_pairs / near_dup_components — the fixture threshold 0.35 (set
  low so the sf0.01 oracle result is non-trivial) makes the TRUE pair count
  itself quadratic: 10x vectors → 92x pairs ≥ 0.35 (measured), and wall time
  tracks output sub-linearly.  The gate instead measures the production
  configuration (threshold 0.9, occupancy-adaptive plane count, 2-table
  OR-construction), where output and runtime are both ~linear.

Usage: python tools/scale_smoke.py [SF1_DIR]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"

# gate tier: the production scale paths
HEAVY = [
    "doc_exact_dedup",
    "doc_minhash_lsh_pairs",
    "doc_lsh_verified_jaccard",
    "doc_winnow_fingerprints",
    "doc_duplicate_spans",
    # doc_duplicate_span_scrub is NOT gated here: the ladder times .count(),
    # and Catalyst correctly prunes the scrubbed-text/interval computation a
    # count does not need (measured 0.85 s vs 4.65 s for a forcing aggregate
    # at sf0.01x100) — the detector above IS the scale path it shares.
    "doc_line_dedup_scrub",
    "token_pack_report",
    "emb_lsh_topk",
    "emb_cosine_topk",
    "emb_ivf_topk",
    "emb_kmeans_assign",
    "emb_pq_topk",
    "cohort_retention",
    "sessionize_events",
    "funnel_conversion",
    "funnel_windowed_conversion",
    "tpch_q1_pricing_summary",
    "tpch_q9_product_type_profit",
    # round 6: LM-quality / data-selection / sketch tier
    "doc_lm_perplexity",
    "dsir_resample_topk",
    "hll_distinct_report",
    "theta_set_report",
    "doc_incremental_dedup_report",
    "graph_pagerank_report",
    "curation_pipeline_report",
    # round 7: make_scale now replicates part/supplier (keys shifted, FKs
    # consistent), so the r6 part-dim family ladders honestly
    "theta_merge_report",
    "cms_join_size_report",
    "bloom_decontamination_report",
    # gated since the SymSpell deletion-neighborhood rework: the r6 prefix-8
    # pass measured 105x per 10x on this ladder (flat name-prefix
    # cardinality), the deletion blocking measures 4.6x at full recall
    "fuzzy_part_match",
    # round 7: the snapshot-log family (write-path; commits + manifest
    # reads scale with data, manifests stay KB-sized)
    "lake_time_travel_report",
    "lake_merge_upsert_report",
    "lake_change_feed_report",
    "lake_cdf_incremental_agg",
    "streaming_merge_upsert_sink",
    # round 7: the merge loop runs on the VOCABULARY, which grows with
    # distinct words (slowly), not documents — near-flat ratios expected
    "bpe_vocab_train",
    "bpe_encode_report",
    # round 8 (VERDICT r7 #5): the three unladdered r7 queries
    "emb_ivf_incremental_topk",
    "streaming_lifecycle_timeout_sink",
    "streaming_interval_join_outer_sink",
    # round 8 additions: lake lifecycle + the lake->stream feed
    "lake_optimize_report",
    "lake_lifecycle_report",
    "streaming_from_snapshot_sink",
    # round 8: manifest-stats pruning (file-list cut is manifest-sized) and
    # binary-quant ANN (fixed query set, one packed-word scan per batch)
    "lake_manifest_prune_report",
    "emb_binary_quant_topk",
    "lake_bloom_point_lookup_report",
    "lake_log_replay_agg",
    "lake_metadata_count_report",
    "lake_quarantine_report",
    "streaming_cms_heavy_hitters_sink",
    "ema_daily_close",
    "graph_triangle_count",
    "lake_ivm_join_report",
    # round 9: segmented EMA (fixed-size synthetic series per security — the
    # ladder measures the per-security fold at 10x the security count) and
    # the schema/clone/vacuum contract matrix (manifest-sized metadata ops;
    # data cost is a handful of segment-slice commits)
    "ema_daily_close_long",
    "lake_schema_clone_report",
    # round 9: concurrent OPTIMIZE WHERE (two threaded half-table
    # compactions), the history audit matrix (manifest-sized), and
    # cluster-canonical dedup (components + one quality join + one argmax)
    "lake_concurrent_compact_report",
    "lake_history_report",
    "dedup_keep_best_report",
    # round 9: deletion vectors — the DV write is hit-count-bounded sidecar
    # IO (zero data rewrites); the DV read adds one broadcast anti-join to
    # the scan; the streaming sink runs two foreachBatch DV commits
    "lake_deletion_vector_report",
    "lake_mor_update_report",
    "streaming_dv_delete_sink",
    # round 9: partition evolution — 11 one-file commits + 3 manifest-pruned
    # reads; cost is the commit loop (file-count-bounded), not the data
    "lake_partition_evolution_report",
    # round 9: the spine interpolation shares LOCF's shape (10x users =
    # 10x spine rows); rank IC adds one per-day exchange over the returns
    "linear_interpolate_calendar",
    "factor_rank_ic",
    "factor_backtest_report",
    # round 10: the O(Δ) DV change feed (position-delta semi-joins over only
    # the vectored files + one added-files scan) and the clone-pin vacuum
    # matrix (manifest-sized metadata ops + one OPTIMIZE rewrite)
    "lake_dv_change_feed_report",
    "lake_clone_pin_report",
    # round 10: the streaming CDF consumer — per-transition O(Δ) folds, so
    # sf1's cost grows with the commits' touched files, not the table
    "streaming_cdf_apply_sink",
    # round 10: metadata-only rename — cost is the commits, not the data
    "lake_column_rename_report",
    "lake_column_drop_report",
    "lake_constraint_report",
    # round 11: the change-feed streaming SOURCE — staging cost is the
    # per-transition O(Δ) change rows (deletes/updates are hit-bounded,
    # the initial insert feed is one table scan), the engine side is the
    # same file-source fold as the pointer consumer
    "streaming_change_feed_source_sink",
    # round 11: the CDC row-level replica — per-batch cost is one keyed
    # argmax over the batch's change rows + one anti-join rewrite of the
    # replica (replica-sized, key-clustered)
    "streaming_cdc_replica_sink",
    # round 11: two threaded DV deleters through the rebase loop — cost is
    # the two predicate scans + hit-bounded sidecar writes
    "lake_concurrent_dv_report",
    # round 11: DV carry through the retry writers — a delete + re-insert +
    # disjoint rewrite; cost is the three commits (hit-bounded sidecars)
    "lake_dv_retry_append_report",
    # round 11: row tracking — the id-attach adds one manifest-sized
    # broadcast join per arm; the OPTIMIZE rewrite materializes ids inline
    "lake_row_tracking_report",
    # round 11: two-table transaction + injected crash + roll-forward — all
    # coordination is manifest/status-file-sized; data cost is the batches
    "lake_txn_report",
    # round 11: merge-with-evolution — the same pruned copy-on-write rewrite
    # as lake_merge_upsert_report plus one mergeSchema survivors scan
    "lake_merge_evolve_report",
    # round 11 quant: per-date moments broadcast back over the returns (two
    # exchanges); the pair matrix is k-bounded and broadcast
    "xsec_zscore_report",
    "pairwise_corr_matrix",
    # round 11: membership turnover (k-bounded book self-join), IC decay
    # (one window pass for lag + three leads, per-day rank exchanges), and
    # the id-joined pre/post lineage read (two id-attached scans + one join)
    "portfolio_turnover_report",
    "factor_ic_decay",
    "lake_row_lineage_report",
    # round 11: the id-carrying O(Δ) change feed — pre-images open only the
    # newly-vectored files; the id-preserving OPTIMIZE contributes zero rows
    "lake_cdf_row_lineage_report",
    "lake_null_skipping_report",
    # round 12: the delete-cascade transaction (one DV-delete member with
    # Δ-sized staged positions + one derived rewrite; coordination stays
    # status-file-sized), the id-preserving merge lineage feed (by-identity
    # diff of the touched files only), the unified skipping planner (all
    # cuts decided from the KB manifest; scan cost is the kept files), and
    # the re-shaped O(Δ) CDC replica apply (DV-delete batch keys + append,
    # zero rewrites per batch)
    "lake_txn_cascade_report",
    "lake_cdf_merge_lineage_report",
    "lake_skipping_matrix_report",
]

# measured but excluded from the over-15x gate, each with its measured reason
KNOWN_BOUND = {
    "doc_ngram_jaccard_pairs": "exact Σ df² candidates on a flat-df corpus: "
    "2.8M → 272M candidates for 10x docs (measured; median df 69 at sf1, so "
    "PPJoin prefix filtering loses too — measured twice); scale path = "
    "doc_lsh_verified_jaccard",
    "doc_simhash_pairs": "output-quadratic on the homogeneous corpus: ham<=3 "
    "of 32 bits matches 1.57M pairs at sf0.1 → 95M at sf1 (60x TRUE output "
    "for 10x docs, measured); production config gated as doc_simhash_prod",
    "emb_near_dup_pairs": "fixture threshold 0.35 makes TRUE output pairs "
    "quadratic (10x vectors → 92x pairs, measured); production config gated "
    "as emb_near_dup_prod below",
    "near_dup_components": "driven by the same 0.35-threshold pair table; "
    "production config gated as near_dup_components_prod below",
    "emb_semdedup_report": "SemDeDup's cost is Σ|cluster|²; the graded "
    "fixture pins k=8 for the oracle, so 10x vectors at fixed k means 10x "
    "cluster sizes and ~100x within-cluster pairs — the paper's design "
    "scales k WITH the corpus to hold cluster size constant; that "
    "configuration is gated as emb_semdedup_prod below",
}


def _extra_queries():
    """Production-configuration variants gated alongside queries() entries.
    Not oracle-graded (the graded fixtures pin the oracle-mirrored configs);
    these exist to measure the scale path's wall-clock behavior."""
    from pyspark.sql import functions as F

    from us_equity_datalake_spark.operators import components, dedup
    from us_equity_datalake_spark.operators.similarity import cosine_near_dup_pairs
    from us_equity_datalake_spark.sources.registry import load_table

    # threshold 0.5: the highest cosine with a non-trivial TRUE pair count on
    # this corpus (14 pairs at sf0.1, measured brute-force in DuckDB; >= 0.7
    # is empty), and linear growth under the dissimilar-replica scaling
    def prod_pairs(spark, sf_dir):
        emb = load_table(spark, "embeddings", sf_dir)
        return cosine_near_dup_pairs(
            emb, id_col="vec_id", vec_col="embedding", threshold=0.5,
            n_planes=6, n_tables=2, seed=11, dim=64, target_occupancy=64,
        )

    def prod_components(spark, sf_dir):
        cc = components.connected_components(
            prod_pairs(spark, sf_dir), src="id_a", dst="id_b"
        )
        return cc.groupBy("component").agg(F.count("*").alias("cluster_size"))

    def prod_simhash(spark, sf_dir):
        docs = load_table(spark, "documents", sf_dir)
        return dedup.simhash_pairs(
            docs, text_col="text", id_col="doc_id", bits=32, max_hamming=1
        )

    # SemDeDup at the paper's operating point: k grows with the corpus so
    # the expected cluster size stays ~64 and Σ|cluster|² stays linear in n;
    # threshold 0.5 (same production near-dup bar as prod_pairs above)
    def prod_semdedup(spark, sf_dir):
        from us_equity_datalake_spark.operators.similarity import semdedup

        emb = load_table(spark, "embeddings", sf_dir)
        k = max(8, emb.count() // 64)
        return semdedup(
            emb, id_col="vec_id", vec_col="embedding",
            k=k, iters=2, threshold=0.5,
        )

    return {
        "emb_near_dup_prod": prod_pairs,
        "near_dup_components_prod": prod_components,
        "doc_simhash_prod": prod_simhash,
        "emb_semdedup_prod": prod_semdedup,
    }


def main() -> None:
    argv = list(sys.argv[1:])
    only: set[str] = set()
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1 :])
        argv = argv[:i]
    sf1_dir = argv[0] if argv else "/tmp/spark_graft_scale/sf1"
    import __spark_entry__ as entrymod
    from us_equity_datalake_spark.session import get_spark

    spark = get_spark("scale-smoke")
    qs = dict(entrymod.queries())
    qs.update(_extra_queries())
    names = HEAVY + list(_extra_queries()) + list(KNOWN_BOUND)
    if only:
        names = [n for n in names if n in only]
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    # codegen warmup at sf0.01 (same protocol as bench.py)
    for name in names:
        try:
            qs[name](spark, "/root/testdata/sf0.01").count()
        except Exception as e:
            print(f"warmup {name}: {e}", file=sys.stderr)
        spark.catalog.clearCache()

    out: dict[str, dict] = {}
    for name in names:
        row: dict = {}
        for label, d in (("sf0.1", SF01), ("sf1", sf1_dir)):
            best = -1.0
            rows = -1
            try:
                for _ in range(2):
                    t0 = time.time()
                    rows = qs[name](spark, d).count()
                    dt = time.time() - t0
                    best = dt if best < 0 else min(best, dt)
            except Exception as e:
                print(f"{name}@{label} failed: {e}", file=sys.stderr)
            row[label] = round(best, 3)
            row[f"rows_{label}"] = rows
            spark.catalog.clearCache()
        row["ratio"] = (
            round(row["sf1"] / row["sf0.1"], 2)
            if row["sf0.1"] > 0 and row["sf1"] > 0
            else None
        )
        if name in KNOWN_BOUND:
            row["known_bound"] = KNOWN_BOUND[name]
        out[name] = row
        print(f"{name}: sf0.1 {row['sf0.1']}s  sf1 {row['sf1']}s  ratio {row['ratio']}")
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    # --only runs MERGE into the committed section (don't clobber the rest)
    from bench import load_detail, merge_detail

    if only:
        out = {**load_detail().get("sf1", {}).get("queries", {}), **out}
    gated = {n: r for n, r in out.items() if n not in KNOWN_BOUND}
    over = {n: r["ratio"] for n, r in gated.items() if r["ratio"] and r["ratio"] > 15}
    summary = {
        "protocol": "10x key-shifted replication of sf0.1 with dissimilar "
        "replicas (tools/make_scale.py); best-of-2 warm; gate: ratio <= 15 "
        "(10x data, 1.5x overhead headroom) over the production scale paths; "
        "known_bound entries measured + explained, excluded from the gate",
        "queries": out,
        "n_gated": len(gated),
        "n_over_15x": len(over),
        "over_15x": over,
    }
    merge_detail({"sf1": summary})
    print(json.dumps({"sf1_smoke": {"n": len(out), "n_gated": len(gated),
                                    "n_over_15x": len(over), "over_15x": over}}))
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Regenerate BENCH_TRIAGE.md from BENCH_DETAIL.json: a written triage of
every query whose warm Spark wall time exceeds 2x the 32-thread DuckDB oracle
on the same sf0.1 parquet (VERDICT r3 next-round #1).

Classes (assigned per query, hand-tuned notes for the heavy tier):

- FLOOR    spark < 0.3 s: the per-query floor — JVM job scheduling, plan
           analysis, parquet listing (~0.1-0.25 s regardless of data) vs an
           in-process engine answering from page cache in 1-20 ms.  The ratio
           measures the floor, not the operator; at 100 TB the floor is
           amortized into scan time.
- STAGES   0.3 s <= spark < 1 s: floor plus a few shuffle-stage round trips
           (each ~0.1-0.2 s at local[32]); same amortization argument.
- WRITE    the query performs real lake WRITES (parquet commits, dynamic
           partition overwrites, bucketed table creation) that the read-only
           oracle SQL does not perform at all — the denominators are not
           comparable by construction; the oracle grades the ANSWER.
- COMPUTE  spark >= 1 s and read-only: a genuine compute-path gap worth a
           note (see table).
- UDF      the sanctioned Python path (pandas-UDF chunker / model kernel):
           Arrow round-trip + Python execution vs DuckDB native.

Usage: python tools/bench_triage.py
"""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WRITE_PATH = {
    "incremental_derived_report": "2x update_fundamentals: ~17 write/read jobs "
    "(partitioned appends, bucket-pruned rebuild, dynamic overwrites); oracle does 0 writes",
    "lake_roundtrip_report": "2x dynamic overwrite + anti-join append + compaction, real parquet commits",
    "bucketed_smj_rollup": "creates two bucketed catalog tables on disk, then joins them",
    "pipe_directory_roundtrip": "writes + re-reads the pipe-delimited directory file via spark.read.csv",
    "top3000_text_sink_report": "writes + re-reads the newline txt sink",
    "consolidate_year_report": "year consolidation job: partition-pruned rewrite",
    "streaming_tumbling_sink": "REAL streaming engine end-to-end: two availableNow queries "
    "(checkpoint + no-data flush batch) committing a parquet sink the oracle never writes",
    "streaming_session_sink": "REAL streaming engine: two availableNow session-window queries "
    "+ checkpoint + parquet sink the oracle never writes",
    "streaming_interval_join_sink": "REAL streaming engine: two watermarked source streams, "
    "stream-stream interval join, checkpoint + parquet sink; the heaviest real-engine job in the suite",
    "streaming_lifecycle_sink": "REAL streaming engine: applyInPandasWithState run as TWO "
    "availableNow jobs against one checkpoint (cross-run state restore is the graded behavior)",
    "streaming_dedup_sink": "REAL streaming engine: lands the events table TWICE (at-least-once "
    "delivery), dropDuplicatesWithinWatermark + checkpoint + parquet sink; the oracle reads the plain table",
    "streaming_enrich_join_sink": "REAL streaming engine: stream-static broadcast join inside every "
    "micro-batch + watermarked tumbling rollup, two availableNow runs, checkpoint + parquet sink "
    "the oracle never writes",
    "doc_incremental_dedup_report": "writes + re-reads the lake's MinHash signature store (the "
    "persisted-index pattern), then hashes only the delta; duck-1t re-hashes everything at 4.9 s — "
    "spark is FASTER than the 1-thread oracle here",
    "streaming_sliding_sink": "REAL streaming engine: overlapping windows (2x state per event), "
    "two availableNow runs, checkpoint + parquet sink the oracle never writes",
    "emb_ivf_persisted_topk": "writes + re-reads the centroid-partitioned IVF index (vector index "
    "as a lake table), then probes nprobe buckets",
    "orc_roundtrip_report": "writes + re-reads lineitem as partitioned ORC; the oracle reads the "
    "already-cached parquet",
    "streaming_lifecycle_timeout_sink": "REAL streaming engine: THREE availableNow runs against one "
    "checkpoint (two data runs + the empty eviction-flush run) — the GroupStateTimeout contract "
    "is the graded behavior; the oracle reads the plain table once",
    "streaming_interval_join_outer_sink": "REAL streaming engine: two watermarked source streams, "
    "stream-stream LEFT OUTER interval join run TWICE (second run's no-data batch performs the "
    "final eviction flush that emits the outer-nulls); the heaviest real-engine job in the suite",
    "lake_time_travel_report": "three snapshot-log commits (parquet writes) + three manifest-pinned "
    "version reads; the oracle reconstructs the versions from the base table with zero writes",
    "lake_merge_upsert_report": "snapshot commit + file-pruned MERGE rewrite + two version reads; "
    "the oracle reconstructs both versions with zero writes",
    "lake_change_feed_report": "three snapshot commits (base, merge, delete) + two full-outer "
    "change-feed joins over manifest-pinned reads",
    "lake_cdf_incremental_agg": "same three commits + two change feeds + the maintained-vs-direct "
    "identity aggregation",
    "streaming_merge_upsert_sink": "REAL streaming engine: foreachBatch MERGE commits into the "
    "snapshot lake across two availableNow runs (at-least-once feed landed twice)",
    "emb_ivf_incremental_topk": "partitioned index build + frozen-centroid delta APPEND + probe "
    "readback; the oracle computes the equivalent fresh build with zero writes",
    # round 8
    "lake_optimize_report": "six snapshot commits + z-order OPTIMIZE rewrite + two version reads; "
    "the oracle reads the base table twice with zero writes",
    "lake_lifecycle_report": "four commits (incl. a bad overwrite) + rollback + vacuum + six "
    "version reads; the oracle reconstructs every version with zero writes",
    "lake_manifest_prune_report": "key-clustered commit with footer-lifted manifest stats + the "
    "manifest-pruned slice read; the oracle filters the base table with zero writes",
    "streaming_from_snapshot_sink": "REAL streaming engine: three snapshot commits tailed through "
    "the manifest-delta feed into FOUR availableNow runs against one checkpoint (cross-commit "
    "watermark resume is the graded behavior); the oracle reads the plain table once",
    "lake_log_replay_agg": "four commits incl. a merge and a delete + the per-transition "
    "dispatched feeds + the replayed-vs-direct identity aggregation",
    "lake_bloom_point_lookup_report": "clustered commit + a driver-side bloom-index build "
    "(pyarrow distinct keys + positions per file, no Spark job) + the pruned point read; the "
    "oracle filters the cached base table",
    "lake_metadata_count_report": "three commits incl. a file-pruned delete; the graded counts "
    "are manifest sums (zero jobs) but the commits are real writes",
    "lake_quarantine_report": "two expectation-split commits + two table reads; the oracle "
    "splits the base table with zero writes",
    "streaming_cms_heavy_hitters_sink": "REAL streaming engine: applyInPandasWithState CMS grid "
    "across two availableNow runs + checkpoint + parquet sink; the oracle builds the grids in "
    "SQL with zero writes",
    "lake_ivm_join_report": "five snapshot commits across three tables (two bases + the "
    "materialized view and its delta-join maintenance commit) + the maintained-vs-direct "
    "identity aggregation; the oracle joins the base tables with zero writes",
    # round 9
    "lake_schema_clone_report": "a source table, two clones, five commits, two vacuums and "
    "a rejected-append arm; the oracle recounts customer segments with zero writes",
    "lake_concurrent_compact_report": "8-file commit + two THREADED OPTIMIZE WHERE "
    "rewrites through the publish-race retry loop; oracle aggregates the base table",
    "lake_history_report": "five commits (append/delete/rollback/clone chain) then the "
    "manifest-sized audit; oracle is a literal matrix",
    "lake_deletion_vector_report": "seven graded arms over a scratch 8-file lake: commit, "
    "two DV deletes, the purge rewrite, and a post-purge append, plus five read-backs; "
    "the oracle filters the base table with zero writes",
    "lake_mor_update_report": "commit + one atomic DV+append UPDATE + three read-backs; "
    "oracle is a CASE-WHEN recomputation with zero writes",
    "lake_partition_evolution_report": "ELEVEN one-file commits (7 year files + 4 "
    "custkey-quartile files) + three manifest-pruned read-backs; oracle filters the base "
    "table with zero writes",
    "streaming_dv_delete_sink": "REAL streaming engine: two foreachBatch micro-batches "
    "each publishing a deletion-vector commit + checkpoint + the final lake read-back; "
    "oracle anti-filters the base table with zero writes",
    # round 10
    "lake_dv_change_feed_report": "four commits (append/DV delete/DV update/append) + "
    "three O(Δ)-dispatched per-transition feeds; oracle reconstructs every change row "
    "from the base table with zero writes",
    "lake_clone_pin_report": "commit + DV delete + clone registration + append + "
    "OPTIMIZE rewrite + vacuum + four read-backs; oracle aggregates the base table",
    "streaming_cdf_apply_sink": "REAL streaming engine: four source-lake commits, two "
    "availableNow runs whose foreachBatch folds signed O(Δ) deltas into a downstream "
    "snapshot lake (three more commits); oracle recomputes the final aggregate once",
    "lake_column_rename_report": "commit + metadata rename + append + DV delete + "
    "three read-backs incl. a manifest-pruned range read; oracle filters the base table",
    "lake_column_drop_report": "commit + metadata drop + append + metadata rename + "
    "DV delete + two read-backs; oracle filters the base table",
    "lake_constraint_report": "commit + full-scan constraint registration + a REJECTED "
    "violating commit (the graded behavior) + the conforming append + two read-backs; "
    "oracle aggregates the base table",
    # round 11
    "streaming_change_feed_source_sink": "REAL streaming engine: four source-lake "
    "commits, FIVE O(Δ) change-feed stage advances (incl. two deliberate "
    "crash-replay re-stages — the dedup arms ARE the graded behavior) and three "
    "availableNow runs folding retraction rows into a downstream snapshot lake; "
    "oracle recomputes the final aggregate once with zero writes",
    "lake_concurrent_dv_report": "8-file commit + two THREADED deletion-vector "
    "commits through the publish-race rebase loop (the loser re-reads the log and "
    "unions per-file vectors); oracle filters the base table with zero writes",
    # round 11, second half
    "lake_dv_retry_append_report": "4-file commit + DV delete + a retry-writer "
    "re-insert + a disjoint rewrite (the DV-carry contract IS the graded "
    "behavior); oracle aggregates the base table with zero writes",
    "lake_row_tracking_report": "two sorted commits + metadata enable + DV delete "
    "+ a z-ordered OPTIMIZE rewrite + a third commit, then three id-attached "
    "read-backs; oracle recomputes the id assignment analytically with zero writes",
    "lake_txn_report": "two tables x three commits each incl. a two-table "
    "transaction, an INJECTED mid-publish crash, and the roll-forward recovery; "
    "oracle aggregates the base table with zero writes",
    "lake_merge_evolve_report": "4-file commit + a REJECTED no-flag merge (the "
    "graded guard) + the evolving copy-on-write merge + a mergeSchema read-back; "
    "oracle aggregates the base table",
    "lake_row_lineage_report": "sorted commit + metadata enable + a MoR UPDATE "
    "materializing preserved ids, then two id-attached snapshots joined on "
    "_row_id; oracle recomputes the id assignment analytically",
    "lake_null_skipping_report": "FOUR one-file commits with footer-lifted null-count "
    "stats + four manifest-cut pruned reads (IS NULL / IS NOT NULL / range-keeps-"
    "all-null / post-append maintenance); oracle filters the base table with zero "
    "writes",
    "lake_cdf_row_lineage_report": "sorted commit + row-tracking enable + DV delete "
    "+ MoR UPDATE + OPTIMIZE rewrite commits, then the id-carrying O(Δ) change "
    "feed across every transition and the id-join pairing arm; oracle recomputes "
    "the change rows analytically with zero writes",
    "streaming_cdc_replica_sink": "REAL streaming engine: four source-lake commits "
    "staged as change-feed files, one availableNow run whose foreachBatch resolves "
    "cross-version keys in-batch and maintains a row-level replica via "
    "delete-or-upsert anti-join commits; oracle reads the final source state once "
    "with zero writes",
}

COMPUTE_NOTES_R7 = {
    "q4_operator_roundtrip": "r8 flag triage: in-suite 1.45 (r7) -> 1.8-2.6 s across two r8 "
    "suite runs with an IDENTICAL plan (PLANS.md row unchanged: 1 scan/1 push/SMJ-only) and "
    "zero code changes on its path; isolated fresh-JVM noop best-of-3 measured 2.13 s. "
    "Variance, not regression — no action available without a plan or code delta to revert",
    "bpe_vocab_train": "12 merge rounds = 12 vocab aggregations + 12 argmax collects + 12 "
    "localCheckpoints (dimension-sized jobs; the corpus is scanned once; sf1 ladder flat at 1.0x)",
    "bpe_encode_report": "the same 12-round train loop + the final-vocab subword aggregation",
}

UDF_PATH = {
    "filing_sentiment_agg": "pandas-UDF chunker + model kernel (the sanctioned Arrow path)",
    "doc_fixed_chunks": "pandas-UDF chunker",
}

COMPUTE_NOTES = {
    "ema_daily_close_long": "generates the 1500-row-per-security series in-plan, then the "
    "blocked scan (two windows over ONE per-security exchange); the oracle's recursive CTE "
    "is sequential per security — the ratio shrinks as series count grows",
    "dedup_keep_best_report": "LSH bucket kernel (Arrow) + pair cosine + union-find + the "
    "quality argmax; the oracle's recursive-CTE closure is the same work in one process",
    "doc_lsh_verified_jaccard": "minhash sigs + band join + set verify: 3 shuffles vs "
    "DuckDB's in-process hash joins; md5 per shingle on both sides — gap is shuffle I/O, linear at scale",
    "doc_ngram_jaccard_pairs": "inverted-index self-join, Σ df² candidates; same asymptotics both engines "
    "(duck-1t 1.2 s vs spark 2.4 s once threads matter less)",
    "doc_minhash_lsh_pairs": "signatures now one hashlib+numpy Arrow kernel (r5, exactly-once via "
    "lazy persist(), lineage kept — 829fe39) — 1.9 s HOF -> ~1.0 s; residual is the banded self-join + distinct; duck-1t "
    "2.6 s is SLOWER than spark",
    "emb_kmeans_assign": "r4's cached-corpus Lloyd rework (VERDICT r3 #6) trades fixture-scale wall "
    "for the right plan: 1 corpus scan + broadcast literal centroids vs r3's 6 lazy re-scans "
    "(1.1 s -> 2.3 s here, because per-iteration centroid collects cost more than re-scanning 2 MB; "
    "the cache wins as soon as one corpus scan exceeds k x dim driver I/O — i.e. everywhere real)",
    "emb_lsh_topk": "Arrow/BLAS kernel is the default since r5 (24x -> 8x mt-oracle; bucket ids + "
    "scoring in one join-free corpus pass); graded cosines recomputed with exact left-to-right folds "
    "so the kernel shares the HOF oracle bitwise",
    "emb_near_dup_pairs": "r5 Arrow kernels: BLAS bucket matmul (exactly-once via lazy persist(), 829fe39) + "
    "paired exact-cosine verification over candidates",
    "emb_ivf_topk": "two distinct Arrow kernels (centroid assignment, candidate rescoring) + probe "
    "selection stages; stage-count bound at fixture scale",
    "emb_int8_quantize_report": "same kernel family (per-component HOF quantize/reconstruct)",
    "token_pack_report": "two-phase distributed prefix sum = 4 small stages + bucket boundary collect; "
    "stage-count bound at fixture scale, one-pass at real scale",
    "tpch_q21_waiting_supplier": "3 lineitem passes + 2 shuffle joins; DuckDB keeps the 74 MB table "
    "in-process — spark pays shuffle serialization; plan is the intended shape (AQE broadcasts the dims)",
    "near_dup_components": "iterative label propagation: per-iteration localCheckpoint materialization",
    "doc_simhash_pairs": "fingerprints in one zero-shuffle Arrow kernel since r5 (was 33-agg groupBy); "
    "cost is the band self-join's 1.6 M output pairs (homogeneous-corpus known_bound); duck-mt is "
    "within noise of spark here",
    "auto_resolve_nearest_interval": "agg -> join -> window = 3 AQE stages on dimension-scale data; "
    "isolated best-of-3 0.76 s, pure stage-scheduling floor",
    "pit_interval_lookup": "broadcast equi+range join over 600k facts: scan + broadcast + "
    "one agg stage; duck answers from cached pages in-process",
    "q4_operator_roundtrip": "drives the real derive_q4 (union + regroup + window chain) — "
    "multi-stage operator round-trip at fixture scale",
    "master_universe_lifecycle": "many rule-branch joins over cached dimension fixtures; "
    "stage-count bound (all sides broadcast)",
    # r6: rows that crossed 1 s once the noop protocol stopped count()-pruning
    # their terminal projections — the added cost IS the output materialization
    "doc_winnow_fingerprints": "row-local Arrow kernel; noop now materializes the per-doc "
    "fingerprint ARRAYS the count() protocol pruned (r5 measured this query 4x count-vs-noop)",
    "doc_duplicate_spans": "seed-and-extend positional join; output pairs + span columns now "
    "fully materialized; duck is within 2.2x — same asymptotics",
    "doc_duplicate_span_scrub": "victim-interval broadcast + JVM higher-order token cut; noop "
    "pays the scrubbed_text string construction for all 5k docs (the graded value)",
    "tfidf_top_terms": "inverted index + per-term window top-k: 3 shuffle stages plus the "
    "exploded term table materialized at the sink",
    "tpch_q1_pricing_summary": "the classic 8-agg scan; noop materializes all 8 decimal "
    "aggregates (count() pruned 6 of them — r5 measured 4.2x count-vs-noop on this query)",
    "kmv_distinct_customers": "md5-ranked KMV sketch: global top-k shuffle; sub-second isolated, "
    "stage-count bound",
    "hll_distinct_report": "two HLL arms (distinct -> bucket regs -> register agg = 3 shuffle "
    "stages each) unioned; the 48-branch integer rho CASE is codegen'd; stage-count bound, "
    "state is 4 KiB/group at any scale",
    "cms_heavy_hitters": "exact top-k pass + 4x2048 grid + broadcast probe join: the exact pass "
    "is the verification denominator, the grid is the scale path",
    "histogram_quantile_sketch": "two corpus passes (bounds, bins) + dimension-sized cum table + "
    "exact-rank verification sort the sketch exists to avoid at scale",
    "doc_lm_perplexity": "corpus-trained bigram LM: 2 vocab aggs + (p,w) shuffle join + per-doc "
    "agg; production trains once on the reference corpus, leaving scoring one pass",
    "dsir_resample_topk": "one feature pass for both hashed-ngram models + AQE-broadcast "
    "log-ratio join + TakeOrderedAndProject; duck-1t 1.4 s vs spark 1.6 s — same asymptotics",
    "graph_pagerank_report": "3 fixed PageRank rounds = 3 join+agg shuffle pairs over the "
    "persisted edge/degree tables + the unrolled decimal sums; duck-1t 2.7 s vs spark 3.4 s — "
    "same asymptotics, stage-count bound",
    "theta_set_report": "two KMV sketch passes (distinct + two-phase k-min rank each) + "
    "tagged-union set algebra + the exact-count pass the sketch exists to avoid; "
    "constant sketch state at any scale (sf1 ladder: 0.96x for 10x data)",
    "fuzzy_part_match": "two-pass blocked Levenshtein (suffix blocks near-singleton, prefix "
    "blocks bounded by name cardinality); the exact edit-distance compute is identical in both "
    "engines",
    "cms_join_size_report": "two 4x8192 integer grids + bucket-wise product join + the exact "
    "join-size pass that rides along as the error exhibit",
    "curation_pipeline_report": "one corpus pass of row-local quality/lang/hash features + the "
    "dedup window + rollup; the funnel composes five graded operators in one plan",
    "bloom_decontamination_report": "filter build (distinct member scan -> <=m set bits, "
    "persisted) + broadcast probe join + the exact-membership rider that grades the FP rate",
    "theta_merge_report": "four sketch passes (three slices + the direct arm) + the bottom-k "
    "merge; the graded content is the merge identity, the cost is the verification arm",
}


def classify(name: str, sp: float, ratio: float | None) -> tuple[str, str]:
    if name in WRITE_PATH:
        return "WRITE", WRITE_PATH[name]
    if name in UDF_PATH:
        return "UDF", UDF_PATH[name]
    if sp < 0.3:
        return "FLOOR", ""
    if sp < 1.0:
        return "STAGES", COMPUTE_NOTES.get(name, COMPUTE_NOTES_R7.get(name, ""))
    return "COMPUTE", COMPUTE_NOTES.get(name, COMPUTE_NOTES_R7.get(name, ""))


def main() -> None:
    d = json.load(open(os.path.join(REPO, "BENCH_DETAIL.json")))
    t, om, o1 = d["queries"], d["oracle_sec_mt"], d["oracle_sec_1t"]
    ratios = d["ratio_vs_oracle_mt"]
    over = [(n, t[n], om.get(n, -1), o1.get(n, -1), ratios[n])
            for n in t if ratios.get(n) and ratios[n] > 2.0]
    over.sort(key=lambda r: -r[1])
    counts: dict[str, int] = {}
    rows = []
    for n, sp, mt, s1, ratio in over:
        cls, note = classify(n, sp, ratio)
        counts[cls] = counts.get(cls, 0) + 1
        rows.append((n, sp, mt, s1, ratio, cls, note))

    total_sp = d["value"]
    total_mt = round(sum(v for v in om.values() if v > 0), 2)
    total_1t = round(sum(v for v in o1.values() if v > 0), 2)

    out = []
    out.append("# BENCH TRIAGE — every query > 2x the 32-thread DuckDB oracle\n")
    out.append(f"Generated by tools/bench_triage.py from BENCH_DETAIL.json "
               f"(sf {d['sf']}, best-of-{d['runs']} warm, suite order).\n")
    import math
    real = [r for r in ratios.values() if r]
    geo = round(math.exp(sum(math.log(r) for r in real) / len(real)), 2)
    out.append(f"Suite totals: Spark **{total_sp} s** vs DuckDB-mt **{total_mt} s** "
               f"/ DuckDB-1t **{total_1t} s**; geomean ratio vs mt **{geo}** across "
               f"{len(real)} comparable queries ({len(rows)} of them > 2x).\n")

    # Per-class geomeans over ALL comparable queries (VERDICT r6 #8): the
    # blended headline creeps as WRITE/FLOOR rows join the registry, so the
    # round-over-round contract is the COMPUTE class geomean — the one that
    # must not regress; FLOOR/STAGES measure scheduling overhead that
    # amortizes at scale, WRITE/UDF denominators aren't comparable by
    # construction (the oracle performs no writes / no Python).
    by_class: dict[str, list[tuple[str, float, float]]] = {}
    for n, r in ratios.items():
        if not r:
            continue
        cls, _ = classify(n, t[n], r)
        by_class.setdefault(cls, []).append((n, t[n], r))
    out.append("## Per-class geomeans (all comparable queries)\n")
    out.append("| class | queries | geomean ratio vs mt | spark total s |")
    out.append("|---|---|---|---|")
    for cls in ("COMPUTE", "STAGES", "FLOOR", "WRITE", "UDF"):
        qs_c = by_class.get(cls, [])
        if not qs_c:
            continue
        g = round(math.exp(sum(math.log(r) for _, _, r in qs_c) / len(qs_c)), 2)
        sp_tot = round(sum(sp for _, sp, _ in qs_c), 1)
        out.append(f"| {cls} | {len(qs_c)} | {g} | {sp_tot} |")
    out.append("")
    out.append("""
## Reading the ratios

Protocol note: since r6 the Spark side times a NOOP-SINK write (full
materialization of every output row and column — VERDICT r5 #2), so nothing
Catalyst can prune out of the timed plan and both sides of every ratio pay
the whole answer (the DuckDB denominator always fetched full rows; the
correctness gate always hashed them).  The r1-r5 count() numbers remain
reproducible via SPARK_GRAFT_BENCH_ACTION=count, recorded under
BENCH_DETAIL's ``count_action`` section (r5 measured the pruning delta at
102.3 s noop vs 70.0 s count, 36 queries >= 1.5x).

DuckDB here is an IN-PROCESS single-node engine answering millisecond queries
from page cache with zero scheduling; Spark pays a fixed per-query floor
(~0.1-0.25 s: plan analysis + job scheduling + parquet listing) plus
~0.1-0.2 s per shuffle stage at local[32].  At sf0.1 most queries finish
inside that floor, so the RATIO for sub-second queries measures engine
overhead that amortizes away at the 100 TB design point — not operator cost.
The honest comparisons are (a) the >= 1 s read-only queries (class COMPUTE,
individually noted) and (b) suite totals, where Spark is within ~2.9x of the
1-thread oracle while running every query through a distributed planner.

Class counts: """ + ", ".join(f"**{k}** {v}" for k, v in sorted(counts.items())) + "\n")
    out.append("| query | spark s | duck mt s | duck 1t s | ratio | class | note |")
    out.append("|---|---|---|---|---|---|---|")
    for n, sp, mt, s1, ratio, cls, note in rows:
        out.append(f"| {n} | {sp:.3f} | {mt:.3f} | {s1:.3f} | {ratio} | {cls} | {note} |")
    out.append("""
## Round-over-round (r3 -> r4)

Suite total 59.8 s (121 queries) -> ~85 s (130): ~12 s is the nine NEW
queries (dominated by the write-path incremental_derived_report, ~10 s), and
the remainder is a uniform ~1.2-1.3x drift across sub-second rows (host
noise — isolated best-of-3 matches the in-suite numbers, so not plan
regressions).  Individually verified deltas: tpch_q5 +0.2 s is the PRICE of
removing the forced broadcast hints on SF-proportional tables (AQE now
converts at runtime — the 100 TB-safe choice, plan-asserted); emb_kmeans's
+1.2 s is the cached-Lloyd rework (note in table).  No unexplained
regression.

## What would actually close the COMPUTE gaps

- Vector math (emb_*): Spark's higher-order lambdas are interpreted per
  element; `emb_cosine_topk_arrow` implements the Arrow-batched numpy swap
  (one BLAS matmul per batch + local top-k) and passes the SAME exact oracle
  — measured 2.2x end-to-end / ~4x on the kernel fraction at the sf1 smoke
  corpus, widening with corpus and query count.  The HOF forms remain the
  default for bit-exact fold-order parity; at real scale the bucket/IVF
  pruning (already in place) dominates the constant factor.
- Shuffle-stage floors (kmeans, token_pack, auto_resolve): stage-count-bound
  fixtures; the operators are one-or-two-shuffle shapes at real data sizes.
- q21-style multi-pass joins: the remaining gap is shuffle serialization vs
  in-process hash tables — the cluster answer is bucketing the fact table
  (bucketed_smj_rollup demonstrates the exchange-free join).
""")
    with open(os.path.join(REPO, "BENCH_TRIAGE.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"BENCH_TRIAGE.md: {len(rows)} queries > 2x, classes {counts}")


if __name__ == "__main__":
    main()

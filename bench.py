"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is executed once to completion (count() forces the full
plan) after a warm-up of the Spark session; per-query wall-clock and
total are reported.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from __spark_entry__ import queries  # noqa: E402
from local_vectordb_spark.session import get_spark  # noqa: E402

# Queries representative of each operator family; extended as coverage
# grows. The 100 TB-shaped plans are timed first-class — the exact and
# LSH-bucketed kNN-graph builds and both embedding near-dup tiers (BLAS
# vs LSH-bucketed), plus as-of join, hash sampling, sequence packing,
# streaming, and a wider TPC-H slice, so every operator family has a
# timed representative.
HEADLINE = [
    # vector search
    "knn_brute_force",
    "knn_range_search",  # r6: threshold (radius) search
    "knn_batch",
    "knn_hydrated",
    "knn_metadata_filter",
    "ivf_search",
    "ivf_sign_pruned",  # r5: oracle-exact partition-pruned search
    "knn_graph",  # the exact top-k kernel's graph form
    "knn_graph_auto",  # size-dispatched build (exact regime here)
    "knn_sq8",
    "knn_pq_adc",  # r6: product-quantization ADC tier, oracle-exact
    "ivf_pq_search",  # r6: partition-pruned + PQ-compressed composition
    "knn_pq_stored",  # r6: stored-codes deployment shape (codes-only scan)
    # r7 recall tiers (verdict #1): each family's >=0.9-recall form
    "ivf_sign_multiprobe",
    "ivf_sign_two_level",  # r12: two-level-routed pruned search, oracle-exact
    "lsh_search_md5_multi",
    "knn_pq_adc_deep",
    "knn_pq_trained",
    "knn_pq_batch",  # r7: one codes scan serving 8 queries
    "knn_pq_residual_batch_stored",  # r10: residual-coded batch over stored codes
    "knn_graph_lsh",  # bucket-local graph build (beats the exact one at 10x)
    "ivf_pq_trained",  # r7: fully-trained FAISS-shaped composition
    "ivf_pq_residual",  # r8: residual-encoded IndexIVFPQ fidelity tier
    "graph_beam_search_lsh",  # r7: NSW with no quadratic stage anywhere
    "graph_beam_search_stored",  # r8: traverse-only over the stored graph —
    # the HEADLINE representative of the NSW family since r12 (r11
    # verdict #2, option a): the fused build+traverse form
    # (graph_beam_search) pays a long cold tail (exact graph build +
    # localCheckpoint barriers re-JIT per session) that the driver's
    # best-of-2 sampled mid-warm-up three rounds running (2.85/3.83/
    # 7.38 s vs a 2.16 s warm pin); it now lives in BENCH_scale.json
    # as the build-cost diagnostic it actually is, while the stored
    # twin times the deployment shape a serving system runs per query
    "api_search_nsw",  # r12: the facade's stored-graph ANN serving path
    "api_search_sign",  # r12: the auto strategy's past-the-knee default
    "api_search_sign_filtered",  # r17: metadata-filtered search on the
    # same pruned layout (semi join against an id+metadata column-pruned
    # base scan — no whole-corpus embedding read); full oracle
    "api_search_sq8",  # r18: the QUANTIZED tier — probed partitions read
    # as SQ8 codes (0.31x of the fp32 bytes, column-pruned), exact fp rerank
    # via a bucket-pruned point read; `auto` routes here past
    # AUTO_SQ8_MIN; full oracle (deterministic quantize/reconstruct)
    "api_search_sign_incremental",  # r13: delta-maintained layout, full oracle
    "api_search_time_travel",  # r12: version-pinned search, full oracle
    "api_search_export_bundle",  # r16: search served from an exported,
    # checksum-verified bundle (manifest + hard-linked artifacts) — the
    # deployment shape; shares api_search_sign's full oracle
    "api_search_bundle_time_travel",  # r17 (r16 verdict #4): bundle of a
    # RETAINED pre-delete generation reproduces the full-corpus top-k the
    # live head deleted — the backfill deployment shape; version pinning
    # made falsifiable; shares api_search_cosine's full oracle
    "api_search_bundle_sync",  # r17 (r16 verdict #5): search served from
    # a bundle refreshed IN PLACE by the rsync-shaped delta sync (cost ∝
    # churn); shares api_search_cosine's full oracle
    "api_bundle_cascade_read",  # r18 (r17 verdict #6): multi-table bundle
    # answers the chunks→documents→libraries cascade offline (broadcast
    # dims); full oracle over every chunk row
    "fts_bm25",
    "hybrid_rrf",
    "knn_mmr_diversified",
    # relational / star schema
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q13_order_count_distribution",
    "tpch_q17_small_quantity_revenue",
    "tpch_q21_waiting_suppliers",
    "window_top_orders_per_customer",
    # event windowing / time-series joins
    "events_tumbling_hour",
    "events_sessionize",
    "events_asof_last_view",
    "events_session_funnel",  # r5: ordered-funnel conditional agg
    # streaming engine
    "stream_tumbling_hour",
    "stream_strip_boilerplate",  # r8: stream-static anti-join strip
    "stream_view_purchase_attribution",  # r8: watermarked stream-stream join
    # LLM-pipeline ops
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard_capped",  # r5: skew-capped near-dup path
    "dedup_simhash_md5",  # r5: one-pass simhash (was 60 aggregate passes)
    "dedup_lines_boilerplate",  # r8: sub-document line-level dedup
    "api_search_batch_table",  # r5: unbounded batch-search path
    "dedup_embedding_cosine_lsh",
    "text_quality",
    "text_repetition_stats",
    "text_fingerprint_winnow",
    "embed_hashed",
    "embedding_stats",  # r8: per-dimension hygiene aggregate, full oracle
    "sample_hash_10pct",
    "sample_temperature_by_lang",  # r6: temperature mixture rebalancing
    # split_group_aware (pair form) moved to registry-only r16 (r15
    # verdict #3): it is the family's value-oracle anchor but its
    # all-pairs plan OOMs at 100-deep dup families (measured r10) —
    # the timed representative must be the plan that survives 100x,
    # which is the star-edge LSH form below (full-oracle since r10).
    "split_group_aware_lsh",  # r10: star-edge LSH family split (100 TB path)
    "docs_training_manifest",  # r6: full curation funnel as one plan
    "docs_training_manifest_leakage_safe",  # r10: family-keyed split funnel
    "pack_token_budget",
    # storage engine
    "crud_time_travel",  # r10: versioned snapshot read (time travel)
    "crud_cdf_mirror",  # r16: the CDF consumer loop (feed -> broadcast
    # anti-join apply -> bucketed mirror) timed first-class now that the
    # consumer is the r15 flagship; full value oracle (mirror == live)
    "crud_change_feed",  # r14: CDF read over the delta log (r13 shipped
    # the path full-oracle but deliberately left it out of HEADLINE to
    # keep the committed 69-query closing record valid; r13 verdict #3
    # finishes it — a shipped read path with a full oracle gets timed)
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    # Warm up JVM + parquet footer caches with a trivial action.
    spark.range(1).count()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in qs:
            continue
        best = float("inf")
        for _ in range(2):  # best-of-2: steady state, less scheduler noise
            t0 = time.perf_counter()
            # noop sink materializes EVERY output column — count() would
            # let Catalyst prune the computed columns out of map-only plans
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)

    total = round(sum(timings.values()), 4)
    # ambient load (r11 verdict #7): three of r11's four >2x driver
    # artifact readings were pure machine load, and each cost a
    # re-measure cycle — recording 1/5/15-min loadavg beside the
    # timings lets the reader separate load from regression in-place
    loadavg = [round(x, 2) for x in os.getloadavg()]
    record = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "loadavg": loadavg,
        # r19 additions (r18 verdict #4), contract-compatible:
        # cpus identifies which core count produced the record, and
        # canary_knn_brute_force (a query untouched since r1) makes the
        # host's fast/slow phases machine-detectable — readings of
        # 0.63 s and 5.02 s were committed for IDENTICAL code in r18
        "cpus": cpus,
        "canary_knn_brute_force": timings.get("knn_brute_force"),
    }
    # Truncation-proof output (r10 verdict #3): the driver keeps only
    # the LAST 2000 bytes of stdout, and the one-line contract record
    # outgrew that in r10 ("parsed": null — the head of the line was
    # cut, losing the headline total). Emit lines least important
    # first, so the tail window always covers the end:
    #   1. the full 4-decimal record (head may be cut from the tail;
    #      the complete copy is also written to BENCH_FULL_LAST.json —
    #      a gitignored SCRATCH pointer since r13, because the
    #      driver's own post-commit bench run rewrites it and dirtied
    #      the tree every round (r12 verdict #6); each round's closing
    #      full record is committed as the round-stamped
    #      BENCH_FULL_r{N}.json instead),
    #   2-3. the per-query map rounded to 2 dp, compact separators,
    #      SPLIT across two lines (r11 verdict #3: at 67 queries one
    #      map line alone is ~1800 B — it would push the parseable
    #      final line's head out of the 2000 B tail window),
    #   4. a SHORT final line with the parseable headline total.
    # per-cpus filename (r18 verdict #4): the driver's 8-core control
    # run used to clobber the 32-core full record; BENCH_FULL_LAST.json
    # stays as the unqualified latest pointer for existing readers
    here = os.path.dirname(os.path.abspath(__file__))
    for fname in ("BENCH_FULL_LAST.json", f"BENCH_FULL_LAST_c{cpus}.json"):
        with open(os.path.join(here, fname), "w") as f:
            json.dump(record, f)
    print(json.dumps(record))
    names = list(timings)
    for chunk in (names[: len(names) // 2], names[len(names) // 2:]):
        print(json.dumps(
            {n: round(timings[n], 2) for n in chunk}, separators=(",", ":")
        ))
    print(json.dumps(
        {
            "metric": "headline_queries_total_wall_clock",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "n_queries": len(timings),
            "loadavg": loadavg,
            "cpus": cpus,
            "canary_knn_brute_force": timings.get("knn_brute_force"),
            "full_record": f"BENCH_FULL_LAST_c{cpus}.json",
        }
    ))


if __name__ == "__main__":
    main()

"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "reps": N,
   "spread": {name: max-min sec, ...}}

Methodology (round 4): the suite runs REPS (default 3) full passes,
each in a FRESH SparkSession, and reports the per-query MEDIAN across
passes plus the max-min spread.  A single shared-JVM pass (rounds 1-3)
could not distinguish a real plan regression from heap/GC pressure as
the session aged — r3's uniform ~+10% drift was exactly that ambiguity.
Fresh sessions bound session age identically for every rep, and the
median absorbs one-off JIT/page-cache outliers; the spread column is
the noise floor a regression claim must clear.  (The reference's
BigDataBenchmarkSuite.scala:82-124 likewise runs each query in its own
spark-submit — per-run isolation is the published methodology.)

Each query is forced end-to-end through the `noop` sink (full compute,
no driver collect) — the honest measure of plan cost.  Run with
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 while iterating; the driver
runs sf0.1 per-round.  SPARK_GRAFT_BENCH_REPS=1 restores the old
single-pass behavior for quick local loops.
"""

from __future__ import annotations

import gc
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: the headline suite — one per operator family that dominates runtime
#: at scale (scan+agg, join+agg+topk, multiway join, window, dedup,
#: similarity, set op, time window).
HEADLINE = [
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5_region_revenue",
    "join_broadcast_dims",
    "join_left_outer",
    "window_topn_per_group",
    "union_all_op",
    "dedup_exact_groups",
    "token_stats",
    "minhash_near_dups",
    "ann_cosine_topk",
    "events_hourly_window",
    "bdb_q4_transform",
    "embedding_near_dups",
    "sql_lateral_view",
    "tpch_q6_forecast",
    "tpch_q10_returns",
    "tpch_q18_big_orders",
    "events_sessionize",
    # subquery shapes (queries/tpch_extra.py, added r2)
    "tpch_q9_profit",
    "tpch_q17_small_qty",
    "tpch_q21_waiting",
    # training-pipeline ops (added r2): packing window, n-gram
    # decontamination join, FP-tree mining
    "pack_sequences",
    "contamination_check",
    "ml_fpgrowth_itemsets",
    # added r3: loader manifest (window+explode), multimodal header
    # decode (mapInPandas codec), Hive INSERT OVERWRITE path
    "pack_manifest",
    "media_meta_extract",
    "sql_insert_overwrite_partitioned",
    # added r3 (second batch): as-of + range joins (union-window /
    # bucketed equi-join), quality + repetition filters, skew-salted
    # agg, vocabulary build
    "asof_join_events",
    "range_join_sessions",
    "quality_filter_rules",
    "repetition_stats",
    "salted_agg_skew",
    "vocab_top_tokens",
    # added r3 (third batch): corpus-level segment dedup (C4 line-dedup
    # shape) and deterministic domain-mixture sampling
    "segment_dedup_reassemble",
    "mixture_sample_rows",
    # added r3 (fourth batch): table maintenance (broadcast-anti upsert,
    # rollup state merge), real pixel decode, RANGE-framed window
    "merge_upsert_orders",
    "incremental_agg_refresh",
    "image_pixel_stats",
    "window_range_trailing",
    # flagship composite: quality filter -> dedup -> split, one flow
    "e2e_training_pipeline",
    # retrieval stack representative (df/dl aggregates + broadcast +
    # top-k) and the entropy-level decode path
    "bm25_rank_query",
    "jpeg_decode_stats",
    # added r3 (fifth batch): mergeable frequency sketch (bounded-shuffle
    # build + broadcast estimate) and the ANALYZE stats roundtrip
    "cms_heavy_hitters",
    "analyze_table_stats",
    # added r3 (sixth batch): steady-state ingest — batch dedup against
    # the history fingerprint store, and manifest-committed time travel
    "incremental_dedup_batch",
    "versioned_time_travel",
    # added r4: families rotated into the driver window (SQL session
    # windows, funnel analytics, histogram-quantile sketch), the
    # single-pass chi-square contingency test, and iterative graph CC
    "session_window_sql",
    "funnel_conversion",
    "histogram_quantile_rollup",
    "stat_chisq_independence",
    "graph_connected_components",
    # added r5: the de-scale-killed row indexing (two-pass zipWithIndex
    # shape), sequence gapfill + schema-evolution scan families rotated
    # into the gate window, and the SVD++ t0 relational state
    "zip_with_index",
    "timeseries_gapfill",
    "schema_evolution_merge",
    "graph_svdpp_t0",
    # added r5 (second batch): web-curation ops — regex cleanup
    # projection and the broadcast-semi domain-blocklist filter
    "clean_text_normalize",
    "url_blocklist_filter",
    # added r5 (third batch, re-pointed r6): steady-state near-dup
    # ingest against the persistent signature store (history text never
    # rescanned).  The bench times the xxhash64 SCALE path — the form a
    # production ingest runs every batch; the ~2× dearer md5affine
    # audit twin (incremental_minhash_batch) stays in the correctness
    # window where its recursive-CTE oracle value-proves the shared
    # pipeline (r5 verdict finding #1)
    "incremental_minhash_scale",
    # added r5 (fourth batch): warehouse-maintenance + compressed-ANN
    # families — SCD2 versioning (broadcast close-and-open), single-pass
    # constraint profiling (Expand distinct aggregates), PQ ADC top-k
    "scd2_customer_dim",
    "data_profile_constraints",
    "ann_pq_topk",
    # added r5 (fifth batch): BPE merge-list ENCODE (the recurring
    # corpus-pass op; merge LEARNING runs once per tokenizer and is
    # compile-dominated at this SF — driver-gated for correctness,
    # excluded here) and the Tukey-fence numeric outlier screen
    # (single-Exchange rank + fence + count)
    "bpe_encode_tokens",
    "iqr_outlier_orders",
    # added r5 (sixth batch): second-order LM quality scoring (bigram
    # count + prefix-count joins, AQE-picked strategy) and the ORC
    # write->read roundtrip (partitioned sink + pruned scan)
    "bigram_logprob_score",
    "orc_partitioned_roundtrip",
    # added r6 (late batch): ExactSubstr maximal-span dedup — the
    # sliding-gram cover is the heaviest per-token text pass (O(tokens)
    # exploded keys vs segments' O(tokens/seg)), so it belongs in the
    # headline suite; benched as the xxhash128 scale path (the md5
    # audit twin is the oracle-gated catalog form)
    "exact_substring_spans_scale",
    # the lossless set-similarity join (PPJoin prefix + positional
    # filters) — the deterministic audit complement of the MinHash
    # families.  r7 re-measured the r6 "4.0s" claim at 5.2s steady
    # (the r6 driver saw 5.5s) and cut it to ~2.5s median by
    # persist()-pinning the two multiply-consumed frames (toks,
    # prefixes) so AQE's serial broadcast builds stop re-executing the
    # shingle+freq+sort chain once per consumer (dedup.py
    # jaccard_join_prefix)
    "jaccard_similarity_join",
    # added r7: join-strategy showcases (bucketed zero-shuffle SMB
    # write+join, salted skew routing), churn-proportional snapshot
    # diff, rank-statistic AUC on the distributed prefix sum,
    # grid-bucketed spatial kNN, blocked entity resolution (block join
    # + star-CC), and the KMV sketch set-ops (3x TakeOrdered)
    "bucketed_smb_join",
    "skew_salted_join",
    "snapshot_diff",
    "eval_auc_score",
    "spatial_grid_knn",
    "entity_resolution_cluster",
    "kmv_distinct_setops",
    # r7 (second batch): exact order statistics on the prefix sum,
    # vocabulary-free feature hashing (explode + one agg), and the
    # bounded-basket pair count join
    "exact_quantiles_prefix",
    "feature_hash_encode",
    "item_cooccurrence_pairs",
    # r8: the monitoring layer's two corpus-pass shapes — the linear
    # rolling-distinct decomposition (dedup + per-key lag + bounded
    # explode) and the per-source trigram-diversity gram stream — plus
    # the image perceptual-hash dedup (decode + aHash + banding join,
    # the multimodal analogue of the MinHash families)
    "sliding_distinct_users",
    "ngram_diversity_by_source",
    "image_ahash_neardup",
    # r8 (second batch): greedy k-center coreset (k chained argmax
    # scans — the multi-round selection shape) and conjunctive search
    # (pruned posting-list intersection)
    "kcenter_coreset",
    "conjunctive_search",
    # r9: IVF-PQ (the memory-resident billion-vector index shape —
    # encode scan + probe filter + ADC TakeOrdered), span-level
    # benchmark decontamination (the gram-explode + reference-semi
    # probe corpus pass), and the sweep-line session-concurrency peak
    # (sessionize + the two-pass distributed prefix sum)
    "ann_ivfpq_topk",
    "contamination_span_scrub",
    "session_concurrency_peak",
    # r9 (second batch): batched multi-query serving (one scan +
    # WindowGroupLimit heaps — the amortized shape per-query
    # TakeOrdered cannot give) and the iterative k-core peel (the
    # data-dependent-rounds graph loop, fixpoint-guarded)
    "ann_batch_queries",
    "graph_kcore",
    # r7 (third batch): the privacy pass (three-pattern regex
    # detect+redact fused into the scan projection), the Merkle-leaf
    # corpus integrity diff (per-bucket digests; churn-proportional
    # compare), late-interaction MaxSim retrieval (literal-folded dot
    # products + one hash aggregate — no join, no pair explosion), and
    # the portable register-level HLL rollup (mergeable distinct
    # counts via exact integer MSB arithmetic)
    "pii_redact_stats",
    "corpus_digest_diff",
    "ann_maxsim_topk",
    "hll_register_rollup",
    # r8 (this round): the skew-resilience pair on a REAL Zipf-skewed
    # hot key (~50% of fact rows on one key; r7 verdict ask #6) — the
    # AQE skew-join split vs the explicit 16-way salt, identical
    # results by construction.  The unmitigated straggler form is
    # measured in SCALE.md ("Skew resilience"), not benched: a plan we
    # know stalls a straggler task has no place in a headline suite.
    "skew_zipf_join_aqe",
    "skew_zipf_join_salted",
]


#: entries whose r7 published spread exceeded their median (r7 verdict
#: ask #7): 3 samples cannot give a stable median under that noise, so
#: these get EXTRA_REPS additional fresh-session samples (mini-passes
#: over just this set) and their median/spread are computed over all
#: reps+EXTRA_REPS samples.
NOISY = [
    "incremental_minhash_scale",
    "minhash_near_dups",
    "exact_substring_spans_scale",
    # r9 (verdict ask #8): both joined the >2.5x driver-gap club in r8
    # (driver 6.27s/7.32s vs builder 2.19s/2.72s on identical code) —
    # 5 samples each so one loaded window can't own the median
    "exact_quantiles_prefix",
    "jaccard_similarity_join",
]
EXTRA_REPS = 2


def _host_snapshot() -> dict:
    """Raw /proc counters for the host-noise fields (r9, verdict ask #2):
    identical code benched 98.4s/127.4s/200.9s across r8 windows and every
    cross-window comparison needed manual forensics — recording steal/load
    lets PERF comparisons be auto-qualified."""
    snap: dict = {"cpu": None, "loadavg": None}
    try:
        with open("/proc/stat") as f:
            snap["cpu"] = [int(x) for x in f.readline().split()[1:]]
    except Exception:
        pass
    try:
        with open("/proc/loadavg") as f:
            snap["loadavg"] = float(f.read().split()[0])
    except Exception:
        pass
    return snap


def _host_delta(a: dict, b: dict) -> dict:
    """steal%/busy% of ALL host cpu time between two snapshots, plus the
    1-min loadavg at each end.  steal > ~1% or loadavg far above our own
    task count means the window was contended and absolute seconds from
    it are not comparable with quiet-window runs."""
    out = {"loadavg_start": a["loadavg"], "loadavg_end": b["loadavg"]}
    if a["cpu"] and b["cpu"]:
        d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
        total = sum(d) or 1
        idle = d[3] + (d[4] if len(d) > 4 else 0)  # idle + iowait
        steal = d[7] if len(d) > 7 else 0
        out["steal_pct"] = round(100.0 * steal / total, 3)
        out["busy_pct"] = round(100.0 * (total - idle) / total, 2)
    return out


def open_session(app_name: str, sf_dir: str, extra_conf: dict | None = None):
    """The one fresh-session harness of bench and ``tools/``: a
    ``get_spark`` session with its one-time costs paid outside any timed
    region.  A first job warms the session; a mapInPandas no-op starts
    the Python worker pool and Arrow channels (otherwise the first
    pandas-path query pays ~3 s of cluster-init, which is not query
    cost); and the persistent MinHash signature store is staged, since
    incremental_minhash_scale probes a durable store a production
    deployment builds once, not per batch (the stage call is idempotent:
    later sessions see its _SUCCESS marker and skip)."""
    from spark_monotasks_spark.queries.pipeline_queries import stage_minhash_store
    from spark_monotasks_spark.session import get_spark

    spark = get_spark(app_name=app_name, extra_conf=extra_conf)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1000).mapInPandas(lambda it: it, "id long").count()
    stage_minhash_store(spark, sf_dir)
    return spark


def run_pass(
    sf_dir: str,
    rep: int,
    names: list[str] | None = None,
    warm: bool = False,
    extra_conf: dict | None = None,
) -> dict[str, float]:
    """One full pass over HEADLINE (or a subset) in a fresh SparkSession
    (:func:`open_session`, with ``extra_conf`` applied).

    ``warm=True`` (r9, verdict ask #7) executes each query TWICE and
    records the SECOND execution: the codegen/JIT/plan-compile cost a
    cold fresh-session run pays once is then visible per entry as the
    cold-median minus warm gap.  The published per-query numbers stay
    the fresh-session cold medians (methodology unchanged since r4);
    the warm column is additive evidence only.
    """
    from spark_monotasks_spark.queries import QUERY_REGISTRY

    spark = open_session(f"bench-rep{rep}", sf_dir, extra_conf)

    timings: dict[str, float] = {}
    for name in (names if names is not None else HEADLINE):
        fn = QUERY_REGISTRY[name]
        # guide §1.5: label every job so event logs / the UI attribute
        # stages to the query that ran them
        spark.sparkContext.setJobDescription(f"bench:{name}")
        if warm:
            # unmeasured first execution compiles the plan; the timed
            # second execution is the steady-state (JIT-warm) cost
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        start = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - start, 3)
        spark.sparkContext.setJobDescription(None)
        tag = "warm" if warm else f"rep{rep}"
        print(f"# {tag} {name}: {timings[name]}s", file=sys.stderr)
        # between queries (outside the timed region): let the
        # ContextCleaner reap dropped localCheckpoints/broadcasts now
        # instead of mid-measurement — driver gc publishes the dead
        # references the async cleaner acts on; without it, state from
        # checkpoint-heavy queries (minhash, embedding near-dups)
        # inflates later queries' times by up to ~2x
        gc.collect()
        spark._jvm.System.gc()
    spark.stop()
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    host_start = _host_snapshot()
    passes = []
    host_per_rep = []
    for rep in range(reps):
        h0 = _host_snapshot()
        passes.append(run_pass(sf_dir, rep))
        host_per_rep.append(_host_delta(h0, _host_snapshot()))
    # extra fresh-session samples for the noisy heavies (r7 ask #7);
    # skipped in quick single-pass loops
    samples: dict[str, list[float]] = {
        name: [p[name] for p in passes] for name in HEADLINE
    }
    if reps > 1:
        for k in range(EXTRA_REPS):
            extra = run_pass(sf_dir, reps + k, names=NOISY)
            for name, t in extra.items():
                samples[name].append(t)
    # warm column (r9, verdict ask #7): one extra fresh session, each
    # query run twice, second execution recorded — JIT/plan-compile
    # evidence per entry.  Published medians above stay cold-only
    # (prior-round comparability intact).  Skipped in single-pass quick
    # loops or with SPARK_GRAFT_BENCH_WARM=0.
    warm: dict[str, float] = {}
    if reps > 1 and os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") != "0":
        warm = run_pass(sf_dir, reps + EXTRA_REPS, warm=True)
    host = _host_delta(host_start, _host_snapshot())
    queries = {
        name: round(statistics.median(samples[name]), 3) for name in HEADLINE
    }
    spread = {
        name: round(max(samples[name]) - min(samples[name]), 3)
        for name in HEADLINE
    }
    total = round(sum(queries.values()), 3)
    payload = {
        "metric": "headline suite wall time (median of reps)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "reps": reps,
        "spread": spread,
        # --- additive fields (r9): host-noise + raw evidence.  The
        # contract fields above are unchanged; these let a reader
        # qualify cross-window comparisons without forensics. ---
        "host": host,
        "host_per_rep": host_per_rep,
        "samples": samples,
    }
    if warm:
        payload["warm"] = warm
    line = json.dumps(payload)
    print(line)
    # durable artifact: the driver captures only the TAIL of stdout and
    # r4's 52-query line got truncated past the capture window
    # ("parsed": null in BENCH_r04.json) — persist the same line to a
    # file so round numbers survive tail-capture
    here = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(here, "BENCH.json")
    with open(out, "w") as f:
        f.write(line + "\n")
    # r6 verdict ask #6: the driver's per-round capture tail-truncates
    # ("parsed": null in BENCH_r06.json), so when the driver exports
    # SPARK_GRAFT_ROUND also persist the full line AS the round
    # artifact — BENCH_r{N}.json becomes self-contained
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd and rnd.isdigit():
        # r7 verdict ask #2: the driver's post-commit tail-capture
        # OVERWRITES BENCH_r{N}.json in the working tree, so the full
        # line written there kept getting clobbered (r6, r7).  Write
        # the builder's copy ALSO to a name the driver doesn't own —
        # BENCH_full_r{N}.json survives the driver pass.
        for stem in (f"BENCH_r{int(rnd):02d}.json", f"BENCH_full_r{int(rnd):02d}.json"):
            with open(os.path.join(here, stem), "w") as f:
                f.write(line + "\n")


if __name__ == "__main__":
    main()

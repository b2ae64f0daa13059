#!/usr/bin/env python
"""Benchmark harness — the driver runs this per-round (BENCH_r{N}.json).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced through the noop sink (full pipeline runs on executors,
nothing is collected to the driver) — the honest way to time a distributed
plan.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Names that reached the ROUND-14 printed line (BENCH_r14.json). The driver
# keeps only the last 2,000 chars of stdout and PERF matches queries
# round-over-round BY NAME, so these are PINNED onto the printed line: a
# pinned query can never be trimmed, hence PERF_r15 can never manufacture a
# phantom "dropped_from_bench" row for a query that merely got FASTER
# (VERDICT_r14 "what's wrong #2" — q_embedding_gram vanished from PERF_r14
# exactly because it improved past the trim cutoff).
R14_PRINTED = frozenset({
    "q_agg_multi", "q_ann_ivf_pq", "q_ann_ivf_pq_filtered", "q_ann_pca",
    "q_ann_pq", "q_ann_topk", "q_asof_join", "q_bloom_semi_join",
    "q_bm25_batch", "q_bm25_topk", "q_bpe_budget_sample", "q_context_pack",
    "q_cooccurrence_capped", "q_corpus_pipeline", "q_corpus_release",
    "q_cross_split_decontamination", "q_dedup_components", "q_dedup_evidence",
    "q_dedup_minhash", "q_dedup_ngram_jaccard", "q_drop_reasons",
    "q_embedding_cosine_dedup", "q_embedding_dedup_components",
    "q_except_diff", "q_heavy_hitters", "q_hybrid_retrieval",
    "q_incremental_dedup", "q_inverted_index", "q_join_using",
    "q_kn_doc_score", "q_kneser_ney", "q_knn_eval", "q_mixture_budget",
    "q_perplexity_buckets", "q_profile_table", "q_quality_classifier_auc",
    "q_release_substring_scrub", "q_repetition_score", "q_retrieval_eval",
    "q_semantic_decontamination", "q_semdedup", "q_source_drift",
    "q_source_overlap", "q_span_dedup", "q_substring_dedup",
    "q_substring_evidence", "q_substring_scrub", "q_term_saliency",
    "q_vocab_coverage", "q_vocabulary", "q_winnow_overlap", "q_winnowing",
})

# Headline queries: the shuffle/join/window/extension-heavy subset.
HEADLINE = [
    "q_agg_multi",
    "q_group_having",
    "q_join_using",
    "q_join_multi",
    "q_left_anti",
    "q_except_diff",
    "q_orderby_limit",
    "q_window_rank",
    "q_window_running",
    "q_timestamp_cast",
    "q_union_all",
    "q_string_split_index",
]
# Extension headliners (registered later modules) are included when present.
EXTENSION_HEADLINE = [
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_ngram_jaccard",
    "q_text_stats",
    "q_lang_id",
    "q_ann_topk",
    "q_session_window",
    "q_window_tumbling",
    "q_pivot",
    "q_percentiles",
    "q_rollup",
    "q_json_extract",
    "q_window_extras",
    "q_corpus_pipeline",
    "q_vocabulary",
    "q_train_test_split",
    "q_contamination",
    "q_sequence_packing",
    "q_asof_join",
    "q_dedup_components",
    "q_bloom_semi_join",
    "q_repetition_score",
    "q_redact_pii",
    "q_embedding_cosine_dedup",
    "q_embedding_dedup_components",
    "q_term_saliency",
    "q_span_dedup",
    "q_source_overlap",
    "q_retention",
    "q_event_transitions",
    "q_heavy_hitters",
    "q_temperature_sample",
    "q_multimodal_frames",
    "q_cross_split_decontamination",
    "q_winnowing",
    "q_cooccurrence_capped",
    "q_token_budget_sample",
    "q_inverted_index",
    "q_bigram_lm",
    "q_winnow_overlap",
    "q_dedup_evidence",
    "q_quality_prune",
    "q_incremental_dedup",
    "q_bpe_token_count",
    "q_bpe_budget_sample",
    "q_training_shards",
    "q_corpus_release",
    "q_lm_doc_score",
    "q_corpus_datasheet",
    "q_quality_classifier",
    "q_quality_classifier_auc",
    "q_media_dedup",
    "q_dsir_select",
    "q_semdedup",
    "q_profile_table",
    "q_perplexity_buckets",
    "q_knn_eval",
    "q_drop_reasons",
    "q_semantic_decontamination",
    "q_zorder_layout",
    "q_epoch_order",
    "q_mixture_budget",
    "q_scd2_history",
    "q_text_chunks",
    "q_embedding_quantize",
    "q_pit_join",
    "q_curriculum_order",
    "q_bm25_topk",
    "q_priority_sample",
    "q_source_drift",
    "q_embedding_gram",
    "q_embedding_pca",
    "q_kneser_ney",
    "q_ann_pca",
    "q_kn_doc_score",
    "q_vocab_coverage",
    "q_kanon_release",
    "q_substring_dedup",
    "q_substring_scrub",
    "q_release_substring_scrub",
    "q_partitioned_scan",
    "q_hybrid_retrieval",
    "q_substring_evidence",
    "q_retrieval_eval",
    # ANN-PQ joins the headliners now that the codes table is materialized
    # (build_pq_index): recorded min-of-3 is the encode-free steady state;
    # the one-time index build lands in the first (discarded) rep.
    "q_ann_pq",
    "q_ann_ivf_pq",
    # r11 gates & serving: the skew diagnostic (two corpus shuffles), the
    # keyed release diff (full-outer equi-join), the one-scan expectation
    # suite, and greedy RAG context packing over the BM25 run.
    "q_key_skew_profile",
    "q_dataset_diff",
    "q_expectations",
    "q_context_pack",
    # r11 third wave: batched multi-query BM25 (one postings pass) and
    # filtered vector search (exact pre-filter baseline + the probed
    # IVF-PQ composition over the materialized index).
    "q_bm25_batch",
    "q_ann_filtered",
    "q_ann_ivf_pq_filtered",
    # r14: the sampling/estimation pair — pure scan-side compute (no
    # scaffold), the shapes a planner runs before sizing real work.
    "q_cluster_sample",
    "q_join_size_estimate",
]


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from dbt_parquet_spark import memo
    from dbt_parquet_spark.registry import load_all
    from dbt_parquet_spark.session import get_spark
    from dbt_parquet_spark.sources import readers

    spark = get_spark("bench")
    specs = load_all()
    names = [n for n in HEADLINE + EXTENSION_HEADLINE if n in specs]

    # Warm the JVM once: scheduler, parquet reader + codegen + exchange /
    # broadcast / decimal-aggregate / distinct-expand class-loading. Touches
    # only the tiny region table (5 rows), not the benched data paths —
    # this moves ONE-TIME class-loading out of the first measured query, not
    # any per-query work.
    from pyspark.sql import functions as F

    spark.range(1000).count()
    region = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    region.groupBy("r_name").count().write.format("noop").mode("overwrite").save()
    warm = region.groupBy("r_name").agg(
        F.sum(F.col("r_regionkey").cast("decimal(12,2)")).cast("double").alias("s"),
        F.countDistinct("r_regionkey").alias("d"),
    )
    warm.join(F.broadcast(region.select("r_name")), "r_name").write.format(
        "noop"
    ).mode("overwrite").save()

    # Box-state normalization (PERF_r8: a draw taken right after a heavy
    # suite/sweep run came in +9-12% uniformly — the benched parquet had
    # been evicted from the page cache and the box was still flushing).
    # Deterministically re-warm the cache by reading every benched table's
    # bytes, then give the box a short settle before the first timed query,
    # so the committed artifact measures plans, not the previous workload.
    def _touch(path: str) -> None:
        if os.path.isdir(path):
            for entry in sorted(os.listdir(path)):
                _touch(os.path.join(path, entry))
        elif os.path.isfile(path):
            with open(path, "rb") as fh:
                while fh.read(1 << 22):
                    pass

    for t in sorted(os.listdir(SF_DIR)):
        if t.endswith(".parquet"):
            _touch(os.path.join(SF_DIR, t))
    # flush our own dirty pages (fixture/index writes from a prior run
    # otherwise write back DURING the timed queries) and settle
    try:
        os.sync()
    except (AttributeError, OSError):
        pass
    time.sleep(3.0)

    # Loadavg guard (r11 verdict: a contended committed draw came in 1.39x
    # uniformly on identical code and was indistinguishable from a
    # regression). Measure 1-min loadavg AFTER our own warm-up settles:
    # load beyond what this process generates means another workload is
    # competing for the box. A contended draw is FLAGGED on the artifact
    # (machine-classifiable as noise), given extra settle time, and its
    # per-query repeats are raised so the recorded min has more chances to
    # land in a quiet window — never refused outright (the round driver
    # needs an artifact either way).
    def _loadavg() -> float | None:
        try:
            return round(os.getloadavg()[0], 2)
        except (AttributeError, OSError):
            return None

    def _spin_s() -> float:
        """Absolute single-thread CPU canary (r14): seconds to run a fixed
        pure-Python loop. Loadavg catches COMPETING work; this catches the
        box itself being slow (host frequency/co-tenancy epochs) — the r14
        draws measured a stable +35% floor on an idle box that loadavg
        could not see. A draw whose spin_s is far off the round-to-round
        norm is environment, whatever its other flags say."""
        t0 = time.perf_counter()
        x = 0
        for i in range(10_000_000):
            x += i
        return round(time.perf_counter() - t0, 3)

    n_cpus = os.cpu_count() or 8
    spin_pre = _spin_s()
    load_pre = _loadavg()
    contended = load_pre is not None and load_pre > max(4.0, n_cpus / 4)
    if contended:
        time.sleep(10.0)
        load_pre = _loadavg()
        contended = load_pre is not None and load_pre > max(4.0, n_cpus / 4)

    # Min-of-up-to-5 per query with CONVERGENCE early-stop (r11 verdict:
    # the instrument must out-resolve box noise whose spread on identical
    # code approached the 2x gate — but a flat min-of-5 over ~110
    # headliners blows the wall-time envelope). Rule: run at least 2 reps;
    # stop as soon as the two FASTEST reps agree within 5% (the min is
    # then a stable plan-cost estimate, more reps cannot move it much);
    # otherwise KEEP DRAWING to the global cap. r12 verdict ("what's
    # wrong #1") removed the cost-tiered rep caps (>4 s: 2, >1.5 s: 3):
    # they stopped drawing exactly where noise concentrates — the round's
    # q_agg_multi committed a min off {2.57, 3.23, 5.02} that never
    # converged while the draw-level flag stayed green. Now a non-
    # converged expensive query rides to the full budget (the same
    # discipline the still-dropping override always had), and the sidecar
    # records per-query `converged` so a committed min that never
    # stabilized is machine-identifiable; PERF doc rule: compare such
    # movers by their last converged min, not this draw's.
    # A quiet box converges in 2-3 reps (old wall time); a noisy box
    # spends its full budget exactly where the noise is. A contended draw
    # gets one extra rep of budget. A throwing query costs one error row,
    # never the artifact: the loop isolates per-query failures so the
    # JSON line always carries whatever ran.
    # A query is annotated warm_cache when its reps rode ANY memoized
    # scaffold (its own rep-1 build or another headliner's), so scale-sweep
    # ratios aren't over-credited; meta_memo (`mm` on the line) when they
    # rode a metadata memo (footer probes, resolved-plan handles, row counts).
    timings: dict[str, float] = {}
    spreads: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}
    warm_cache: list[str] = []
    meta_memo: list[str] = []
    extra = 1 if contended else 0
    for name in names:
        hits_before = memo.stats()["hits"]
        memo_before = readers.memo_hits
        runs: list[float] = []
        for attempt in range(5 + extra):
            t0 = time.perf_counter()
            try:
                run_query(specs[name].builder(spark, SF_DIR))
            except Exception as exc:  # noqa: BLE001 — isolate, record, continue
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                break
            runs.append(time.perf_counter() - t0)
            if len(runs) >= 2:
                lo = sorted(runs)
                if lo[1] <= lo[0] * 1.05:
                    break  # converged: the min is stable
        converged = len(runs) >= 2 and sorted(runs)[1] <= sorted(runs)[0] * 1.05
        if name not in errors and runs:
            if memo.stats()["hits"] > hits_before:
                warm_cache.append(name)
            if readers.memo_hits > memo_before:
                meta_memo.append(name)
            # steady spread EXCLUDES rep 1 (which carries per-query plan
            # compilation/codegen and any scaffold build): on a quiet box
            # the remaining reps agree within a few percent, so a large
            # steady spread is BOX noise (IO stall, noisy VM neighbor),
            # not plan cost — the signal the draw-level `noisy` flag keys
            # on, where raw (max-min)/min cannot separate compile overhead
            # from genuine contention.
            steady = runs[1:] if len(runs) > 1 else runs
            sspread = (
                (max(steady) - min(steady)) / min(steady) if min(steady) > 0 else 0.0
            )
            runs.sort()
            timings[name] = round(runs[0], 3)
            # min/median/spread per query so a driver-vs-local offset or a
            # flagged regression is attributable from the artifact alone
            # (spread = (max-min)/min: >~0.3 means the min is warm-up noise,
            # not plan cost).
            spreads[name] = {
                "min": round(runs[0], 3),
                "med": round(runs[len(runs) // 2], 3),
                "max": round(runs[-1], 3),
                "spread": round((runs[-1] - runs[0]) / runs[0], 3) if runs[0] > 0 else 0.0,
                "steady_spread": round(sspread, 3),
                "n": len(runs),
                # the 5% two-fastest-agree criterion was actually achieved:
                # a False here means the committed min exhausted the rep
                # budget without stabilizing — judge it against the last
                # CONVERGED min, not round-over-round (r12 wrong #1)
                "converged": converged,
            }

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None
    # The driver captures a bounded window of stdout (BENCH_r07.json was
    # truncated to a 2,000-char tail once spreads pushed the line past it,
    # leaving parsed:null). So: print a COMPACT line — total + per-query min
    # only — and write the full min/med/max/spread detail to a sidecar file
    # next to this script. If the compact line itself ever outgrows the
    # window (more headliners), degrade per-query precision before anything
    # else; the total and query set always survive.
    load_post = _loadavg()
    # Draw-level noise classification on the artifact itself: the median
    # per-query spread says whether THIS draw's mins are trustworthy
    # ((max-min)/min per query; a quiet box sits well under 0.3 median),
    # and the loadavg pair says whether another workload was competing.
    # A round-over-round mover can now be machine-classified from the two
    # artifacts alone: if either draw is flagged, it's box state, not code.
    all_spreads = sorted(s["spread"] for s in spreads.values())
    med_spread = all_spreads[len(all_spreads) // 2] if all_spreads else 0.0
    steady_spreads = sorted(s["steady_spread"] for s in spreads.values())
    med_steady = steady_spreads[len(steady_spreads) // 2] if steady_spreads else 0.0
    # noisy = the box's steady reps disagree beyond plan-cost variance:
    # a draw carrying this flag is machine-classified as environment, and
    # a round-over-round mover against a flagged draw is not a regression.
    noisy = med_steady > 0.15
    # Printed-line encoding (r15, VERDICT_r14 "what's wrong #2"): the driver
    # keeps only the LAST 2,000 chars of stdout, and the 107 headliner names
    # alone are ~1,660 chars — a line carrying every full name physically
    # cannot fit, and renaming/shortening keys would break PERF's by-name
    # round-over-round matching ("never remove or rename"). So the encoding
    # is squeezed everywhere else: compact JSON separators, 2-decimal mins
    # from the start, short box keys (l0/l1 = loadavg pre/post, sp0/sp1 =
    # spin-canary seconds pre/post, msp/mss = median (steady) spread, nc =
    # non-converged count; `contended`/`noisy` keep their full names — they
    # are the machine-classification flags other rounds grep for), and the
    # trim order PINS every name that reached the r14 printed line
    # (R14_PRINTED) so a pinned query can never be trimmed — PERF can no
    # longer manufacture a phantom "dropped_from_bench" row for a query
    # that merely got faster. Remaining space is filled with the SLOWEST
    # unpinned queries; the BENCH_DETAIL.json sidecar always carries every
    # query at full precision plus per-query spreads.
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "box": {
            "l0": load_pre,
            "l1": load_post,
            "sp0": spin_pre,
            "sp1": _spin_s(),
            "contended": bool(contended),
            "noisy": bool(noisy),
            "msp": round(med_spread, 3),
            "mss": round(med_steady, 3),
            # queries whose rep budget ran out before the two fastest
            # agreed within 5% — their committed mins are draw-suspect
            # (count here; names in the BENCH_DETAIL.json sidecar's
            # per-query `converged` flags)
            "nc": sum(1 for s in spreads.values() if not s["converged"]),
        },
    }
    if errors:
        out["errors"] = errors
    if warm_cache:
        # count only on the compact line; the sidecar carries the names
        out["warm_cache_count"] = len(warm_cache)
    if meta_memo:
        # metadata-memo riders (footer/schema/row-count memos), reported
        # distinctly from result scaffolds; names in the sidecar
        out["mm"] = len(meta_memo)

    def _encode(sel: list[str]) -> str:
        out["queries"] = {k: round(timings[k], 2) for k in sorted(sel)}
        omitted = len(timings) - len(sel)
        if omitted:
            out["queries_omitted"] = omitted
        else:
            out.pop("queries_omitted", None)
        return json.dumps(out, separators=(",", ":"))

    sel = list(timings)
    line = _encode(sel)
    if len(line) > 1950:
        pinned = [n for n in timings if n in R14_PRINTED]
        others = sorted(
            (n for n in timings if n not in R14_PRINTED), key=timings.get
        )  # fastest first — popped first
        while len(line) > 1950 and others:
            others.pop(0)
            line = _encode(pinned + others)
        # Degenerate last resort (pins alone exceed the window — cannot
        # happen at current name lengths): fall back to trimming fastest.
        while len(line) > 1950 and len(out["queries"]) > 5:
            keep = sorted(pinned, key=timings.get)[1:]
            pinned = keep
            line = _encode(pinned)
    detail = dict(
        out,
        queries=timings,
        spreads=spreads,
        warm_cache=sorted(warm_cache),
        meta_memo=sorted(meta_memo),
        reps="min-of-<=5, 5%-convergence early stop, no tier caps (r13)",
    )
    try:
        sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
        with open(sidecar, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass  # read-only checkout: the printed line is the artifact of record
    print(line)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

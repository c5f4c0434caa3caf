"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE compact JSON line: {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec}, "sf": ...}.

The headline set is one representative per operator family (agg, join
pipeline, window, dedup/LSH, ANN, CF, text, skew, streaming-batch,
multimodal, incremental) — the full 100+ registry sweep is available
with --all, but the default output stays small enough for a log-tail
parser to recover the JSON line intact.

Each query is timed to full materialization (noop-format write — same
work the correctness gate does, minus driver-side collection).

Headline timings are the MEDIAN OF 3 runs per query (VERDICT r4 #4):
single-shot numbers mix first-touch costs (JIT, Arrow worker spin-up,
parquet footer caches) into whichever queries run early, which round 4
showed can fabricate 15%+ "regressions" that a second run disproves.
The --all sweep runs ONE UNTIMED WARM-UP per query (VERDICT r11 #1 —
a single-run sweep otherwise times run 0 of cold mapInPandas stages,
the documented ~5 s worker spin-up trap) then a single timed pass,
promoting any query whose warm run exceeds 2 s to median-of-3; every
sample plus per-query warm-up seconds land in BENCH_full_latest.json,
and queries whose cold run exceeded 1.5x their warm median are listed
under "cold_start".
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from listenbrainz_server_spark.queries import load_all
from listenbrainz_server_spark.session import get_session

# The driver recovers the headline JSON from a bounded stdout tail
# (2,000 chars measured: r12's 1,695-char line parsed, r13's
# 2,280-char line recorded parsed:null — VERDICT r13 #1). Budget the
# emitted line below that with headroom.
LINE_BUDGET = 1900


def headline_line(out: dict) -> str:
    """Serialize the headline JSON line, enforcing LINE_BUDGET chars.

    An over-budget line drops its per-query timings (value and
    value_comparable always survive); the drop is recorded under
    "trimmed" so a reader knows the omission was deliberate.
    """
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > LINE_BUDGET and "queries" in out:
        out = {k: v for k, v in out.items() if k != "queries"}
        out["trimmed"] = ["queries"]
        line = json.dumps(out, separators=(",", ":"))
    return line


# One per family; the expensive ones stay in so regressions in the
# heavy paths (ALS, cosine join, LSH re-rank, Arrow decode) are visible.
HEADLINE = (
    "a1_pricing_summary",
    "a4_count_distinct",
    "h_top_genres",
    "h_user_entity_stats",
    "h_troi_periodic_jams",
    "j13_explode_equi_join",
    "w1_topk_per_group",
    "d_minhash_lsh",
    "d_dup_groups",
    "v_lsh_topk",
    "v_cosine_topk",
    # r3: the serving default is the degree-capped plan; the uncapped
    # form survives only as the m_user_cosine_uncapped oracle fixture.
    "m_user_cosine_capped",
    "m_als_recommend",
    "t_token_stats",
    "x_salted_agg",
    "i_incremental_lifecycle",
    "mm_decode_features",
    "st_session_window",
)

# Families added after the r01 bench; kept separate so the historical
# total stays comparable ("value_comparable" = HEADLINE subtotal).
HEADLINE_NEW = (
    "v_pq_topk",
    "j_asof_join",
    "d_contamination",
    "t_repetition_signals",
    "t_sequence_pack",
    # r4 families: verbatim-span dedup, quantized ANN, epoch mixing,
    # histogram-CDF calibration.
    "d_exact_substring_pairs",
    "v_sq8_topk",
    "x_interleave_domains",
    "t_quality_calibrated_hist",
    # r4 session-3 families: RAG chunking, kNN label propagation,
    # MMR diversified re-rank, PMI collocations.
    "t_chunk_documents",
    "v_knn_classify",
    "v_mmr_rerank",
    "t_pmi_cooccurrence",
    # r5 families: verbatim-span extents, embedding decontamination,
    # Markov power iteration.
    "d_substring_spans",
    "v_semantic_contamination",
    "w_markov_power",
    # r6 families: nearest as-of, banded radius search, IVF-PQ,
    # growth accounting, perceptual-hash dedup, sparse lexical cosine.
    "j_asof_nearest",
    "v_range_search",
    "v_ivfpq_topk",
    "w_user_lifecycle",
    "mm_phash_dedup",
    # r9: the UNCAPPED t_tfidf_cosine_pairs left the headline set —
    # it is the exact all-pairs baseline, fixture-scale only
    # (measured 67x at 10x data); the capped form is the serving path.
    "t_tfidf_cosine_pairs_capped",
    # r7/r8 families: iterative graph, semantic dedup, CMS sketch,
    # Bloom runtime pruning, DSIR selection, CDC retraction merge,
    # triangle/clustering, EWMA, MAD outliers, two-tier deletion.
    "g_pagerank",
    "g_triangle_count",
    "d_semdedup",
    "x_heavy_hitters",
    "x_bloom_prune",
    "x_dsir_weights",
    "i_cdc_merge",
    "i_deletion_apply",
    "w_ewma",
    "w_mad_outliers",
    # r9 families: sessionized CDC retraction, sweep-line overlap
    # census (the 86x->2.8x fix), t-digest sketch quantiles, weighted
    # reservoir, content-defined chunking, aggregate-state erasure,
    # robust trend.
    "st_session_cdc",
    "j_overlap_census_sweep",
    "w_mad_tdigest",
    "x_reservoir_sample",
    "d_cdc_chunks",
    "i_retraction_combine",
    "w_theil_sen",
)


def _cold_start(warmup: dict[str, float], timings: dict[str, float]) -> dict:
    """Queries whose untimed warm-up ran >1.5x their warm median —
    exactly the set whose single-run reading would have manufactured a
    phantom regression pre-r12."""
    return {
        n: w for n, w in sorted(warmup.items())
        if n in timings and w > 1.5 * max(timings[n], 0.01)
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    run_all = "--all" in sys.argv
    # --only a,b,c: bench just those names with --all semantics and MERGE
    # the results into BENCH_full_latest.json (delta-mode endround — keeps
    # the at-head artifact invariant cheap per-registration instead of a
    # full ~4 min sweep; tests/test_artifacts.py enforces the coverage).
    only: list[str] = []
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
        run_all = True
    # --no-artifact: measure and print the JSON line but do NOT write /
    # merge BENCH_full_latest.json. Used by the interleaved A/B legs
    # (tools/ab_interleave.py), whose measurements are evidence about a
    # specific code snapshot in a specific window — merging them into
    # the artifact of record would contaminate it with repeated-leg
    # numbers taken under deliberately different code.
    no_artifact = "--no-artifact" in sys.argv

    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    if only:
        unknown = [n for n in only if n not in registry]
        if unknown:
            raise SystemExit(f"--only names not in registry: {unknown}")
        names = only
    else:
        names = (
            sorted(registry)
            if run_all
            else [n for n in HEADLINE + HEADLINE_NEW if n in registry]
        )

    # Warm the JVM + parquet footers once so per-query numbers measure
    # query execution, not session cold-start.
    registry["a1_pricing_summary"].fn(spark, sf_dir).count()
    # Warm MLlib's ALS codepath too: the first fit in a fresh JVM pays
    # ~2-10 s of JIT that would otherwise be billed to whichever ALS
    # query runs first (measured: m_als_cv 11.0 s cold vs 8.5 s warm).
    from pyspark.ml.recommendation import ALS

    tiny = spark.createDataFrame(
        [(i % 7, i % 5, 1.0) for i in range(50)], "user int, item int, rating float"
    )
    ALS(maxIter=1, rank=2, seed=1, userCol="user", itemCol="item",
        ratingCol="rating").fit(tiny)

    # --all: ONE UNTIMED WARM-UP per query, then one timed pass; any
    # query over HEAVY_SECS (warm) gets two more runs and reports the
    # median (VERDICT r5 #4: a 1-run full bench cannot distinguish
    # regression from noise exactly where it matters — the heavies).
    # The warm-up (VERDICT r11 #1) exists because a single-run sweep
    # otherwise times run 0 of cold mapInPandas stages — the repo's
    # own documented ~5 s Python-worker spin-up trap — manufacturing
    # phantom regressions in the artifact of record (r11:
    # mm_decode_features read 2.7x its headline median; g_pagerank
    # 2.3x; both IMPROVED in the median-of-3 headline). Warm-up
    # seconds are recorded per query (warmup_secs) and any query whose
    # cold run exceeds 1.5x its warm median is flagged in cold_start.
    runs = 1 if run_all else 3
    HEAVY_SECS = 2.0
    timings: dict[str, float] = {}
    samples_by_query: dict[str, list[float]] = {}
    warmup_by_query: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        samples: list[float] = []

        def one_run() -> None:
            t0 = time.time()
            df = registry[name].fn(spark, sf_dir)
            # Force full execution of every operator in the plan.
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)

        try:
            if run_all:
                # Untimed warm-up (VERDICT r11 #1): absorbs Python
                # worker spin-up / JIT / footer caches so the timed
                # run measures steady state, same as the headline's
                # median-of-3 does implicitly. Duration recorded so
                # cold-start cost stays visible instead of billed.
                one_run()
                warmup_by_query[name] = round(samples.pop(), 2)
            for _ in range(runs):
                one_run()
            if run_all and samples[0] > HEAVY_SECS:
                one_run()
                one_run()
            timings[name] = round(sorted(samples)[len(samples) // 2], 2)
            samples_by_query[name] = [round(s, 2) for s in samples]
        except Exception as e:  # noqa: BLE001 — one bad query must not kill the bench
            errors[name] = str(e).splitlines()[0][:120]
        # Per-query isolation: drop cached frames AND the Python refs
        # whose GC releases accumulated localCheckpoint RDD blocks —
        # without this, block-manager pressure from ~200 earlier
        # queries inflated the mid-alphabet ML heavies ~3x in the full
        # sweep (m_als_cv 25.3 s in-sweep vs 7.8 s fresh-session,
        # measured r8; the same query, same code, same box).
        spark.catalog.clearCache()
        gc.collect()

    out = {
        "metric": "headline_query_wall_seconds" if not run_all else "total_query_wall_seconds",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": runs,
    }
    if run_all:
        out["cold_start"] = _cold_start(warmup_by_query, timings)
    else:
        out["value_comparable"] = round(
            sum(t for n, t in timings.items() if n in HEADLINE), 2
        )
    if errors:
        out["errors"] = errors
    if run_all and not no_artifact:
        # Side artifact for round-over-round regression tracking of the
        # full registry (VERDICT r2 #5) — the stdout line stays the
        # driver's parse target. Per-run samples let a reader separate
        # noise from regression without re-running.
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH_full_latest.json")
        # Every query measured this invocation is stamped with this
        # run's start time so a merged artifact records WHEN each
        # number was taken (advisor r8: a spliced total mixes windows
        # that drift +/-40% — the stamp + "merged" flag make that
        # legible).
        window_id = time.strftime("%Y-%m-%dT%H:%M:%S")
        artifact = {
            **out,
            "samples": samples_by_query,
            "warmup_secs": warmup_by_query,
            "sf_dir": sf_dir,
            "query_window": {n: window_id for n in timings},
        }
        if only and os.path.exists(path):
            with open(path) as f:
                prior = json.load(f)
            if prior.get("sf_dir", sf_dir) != sf_dir:
                raise SystemExit(
                    f"--only merge refused: prior artifact sf_dir="
                    f"{prior.get('sf_dir')} != current {sf_dir}"
                )
            merged_q = {**prior.get("queries", {}), **timings}
            merged_wu = {**prior.get("warmup_secs", {}), **warmup_by_query}
            merged_e = {**prior.get("errors", {}), **errors}
            for n in timings:  # a now-passing query clears its old error
                merged_e.pop(n, None)
            artifact.update(
                queries=merged_q,
                samples={**prior.get("samples", {}), **samples_by_query},
                warmup_secs=merged_wu,
                cold_start=_cold_start(merged_wu, merged_q),
                value=round(sum(merged_q.values()), 2),
                merged=True,
                query_window={**prior.get("query_window", {}),
                              **artifact["query_window"]},
            )
            artifact.pop("errors", None)
            if merged_e:
                artifact["errors"] = merged_e
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1)
    if run_all:
        # The --all sweep's stdout is not the driver's parse target
        # (BENCH_full_latest.json is its artifact of record) — no
        # budget applies.
        print(json.dumps(out, separators=(",", ":")))
    else:
        print(headline_line(out))


if __name__ == "__main__":
    main()

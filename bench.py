"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes via collect-to-count (df.count() after a cache-free
plan) so the full pipeline — scan, shuffle, agg — runs; times are
wall-clock per query after a session warmup.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from graphdbetl_spark.plans.registry import all_queries
from graphdbetl_spark.session import get_spark

# Headline set: scan-heavy agg, multi-join, window, as-of, graph build,
# streaming windows, dedup/similarity/text (one per operator family).
HEADLINE = [
    "agg_hash",
    "join_bridge",
    "join_fk_inner",
    "join_asof",
    "win_rank",
    "topk_per_group",
    "dedup_first_wins",
    "node_build_party",
    "rel_join_table",
    "stream_session",
    "stream_tumbling",
    "dedup_exact",
    "dedup_minhash",
    "sim_cosine_topk",
    "text_tfidf_top_term",
    "text_quality",
    "tpch_q5_style",
    "sql_frontend_q3",
    "sql_frontend_q1",
    "node_upsert",
    "decontaminate_ngrams",
    "chunk_documents",
    "ngram_topk_per_lang",
    "retention_cohorts",
    "sql_frontend_q6",
    # r2 additions promoted into driver-visible bench evidence (r2
    # verdict ask #4): PQ ANN query, ExactSubstr scrub, binary decode,
    # and the now-default hyperplane-blocked embedding dedup.
    "sim_pq_topk_md5",
    "dedup_repeated_ngram_scrub",
    "multimodal_decode",
    "dedup_embedding_cosine",
    # r3-continuation additions: segment-level dedup, Bloom-filter
    # decontamination, incremental MinHash screen, Count-Min heavy
    # hitters — the new corpus-hygiene operators, benched cold.
    "dedup_segments",
    "decontaminate_bloom",
    "dedup_minhash_incremental",
    "sketch_countmin_md5",
    # perceptual near-dup over decoded images (banded Hamming LSH) —
    # the multimodal representative (audio/video fingerprints share
    # the same decode-kernel + groupBy shape)
    "dedup_image_hamming",
    # the composed end product: quality ∩ mixture → epochs → order
    "pipeline_training_order",
    # r4 additions: normalized-exact dedup tier, URL canonicalization
    # dedup, char-entropy gate, Gopher rules, bigram-LM scoring, and
    # the mixture epoch planner — benched cold like every new family.
    "dedup_normalized_exact",
    "dedup_url_canonical",
    "text_entropy_gate",
    "curation_gopher_filter",
    "text_bigram_logprob",
    "mixture_epochs",
    # distributed LR training loop (10 GD rounds, driver sees only the
    # 5-float gradient per round) — the iterative-operator representative
    "train_quality_classifier",
    # exact cosine range search (broadcast queries, in-scan radius filter)
    "sim_range_search",
    # r6 additions: embedding-tier decontamination, per-dimension
    # whitening, the pre-join skew diagnostic, Z-order layout keying,
    # and incremental IVF append — benched cold like every new family.
    "decontaminate_semantic",
    "embedding_whiten",
    "skew_report",
    "maintenance_zorder_key",
    "sim_ivf_append",
    # DSIR selection: two LMs from one count shuffle + top-k cut
    "select_importance_resampling",
    # r7 additions: diversity coreset (batch-admitted trajectory rounds)
    # and the prefix-sum compaction planner — benched cold.
    "select_kcenter_coreset",
    "maintenance_compact_plan",
    # r8 additions: the manifest EXECUTED (staged rewrite + read-back
    # re-aggregation) — benched cold like every new family.
    "maintenance_compact_execute",
    # MMR diversity re-rank (relevance-weighted k-center sibling) —
    # benched cold like every new family.
    "select_mmr_diverse",
    # asymmetric n-gram containment (sub-document duplication) —
    # shares the Jaccard candidate core, benched cold.
    "dedup_containment",
    # r9 additions: IVF-cell-restricted semantic decontamination (the
    # eval-grows-with-corpus scale path) and CCNet perplexity terciles
    # — benched cold.
    "decontaminate_semantic_ivf",
    "curation_ccnet_buckets",
    # r10 addition: HLL two-hop reach with in-plan error-bound
    # attestation — benched cold like every new family.
    "graph_two_hop_approx",
    # r11 additions: the containment upstream-collapse composition,
    # the GK approx-cutpoint ccnet buckets, and IVF n_cells="auto"
    # with in-plan attestation booleans — benched cold like every new
    # family. (ivf_auto computes BOTH the exact and IVF forms in one
    # plan — its wall is the attestation's price, not the operator's.)
    "dedup_containment_collapsed",
    "curation_ccnet_buckets_approx",
    "decontaminate_semantic_ivf_auto",
]

# Host-drift control (r7 verdict #6): a query whose code has been
# UNTOUCHED since r4, measured alongside every bench run. The driver
# box is shared, and three rounds of verdicts have had to hand-wave
# "uniform host band" for ±25% whole-suite drift; the control
# formalizes that — if control_wall moved by the same factor as the
# suite, the drift is the host, not the code. Per-query normalized
# ratios (t / control_wall) are what to compare ACROSS rounds.
CONTROL = "curation_c4_filter"


def warmup(spark, qs, sf_dir: str) -> None:
    """Bring the session to steady state before the measured pass.

    The driver may run a single iteration, so cold-start cost would
    land directly in the recorded numbers. Three caches matter: OS page
    cache + parquet footers for every headline input; JVM JIT/codegen
    for the headline plan shapes; and the Python worker pool (first
    pandas-UDF use pays worker fork + Arrow init, and the pool grows
    with partition parallelism). A measured-but-unrecorded pass of the
    full headline set at the bench scale factor warms all three —
    isolated probes show first-run cost up to 6× steady state (e.g.
    dedup_minhash 10.7s cold vs 1.75s warm at sf0.1), so without this
    an n=1 run benchmarks the cold path, not the engine.
    """
    from graphdbetl_spark.sources.catalog import TABLES, load_table

    t0 = time.perf_counter()
    for t in TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
    for name in HEADLINE:
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # warmup must never fail the bench
            print(f"# warmup {name} skipped: {exc}", file=sys.stderr)
    print(f"# warmup: {time.perf_counter() - t0:.1f}s", file=sys.stderr, flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("graphdbetl-bench")
    qs = all_queries()

    warmup(spark, qs, sf_dir)

    # min-of-3: single-iteration stragglers (GC pauses, host CPU
    # contention on a shared VM) rotate randomly between queries and
    # inflate one entry per run; three samples strip them reliably.
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    # Scheduler-wave guard (r10 verdict #5): at the 30×/100× campaign
    # legs, entries whose true wall is under ~7 s sit inside the
    # scheduler-wave noise band — one unlucky task-launch wave adds
    # seconds, and with min-of-3 a band member showed a 5.8× phantom
    # rung ratio on an unchanged plan (agg_hash, r10). Campaign legs
    # set SPARK_GRAFT_BENCH_MIN5_UNDER=7: any query whose min-of-3
    # lands under the threshold gets topped up to min-of-5. Off by
    # default so the driver's sf0.1 run keeps its 3-iteration budget.
    min5_under = float(os.environ.get("SPARK_GRAFT_BENCH_MIN5_UNDER", "0"))

    def measure(name: str) -> float:
        fn = qs[name]
        best = float("inf")
        done = 0
        while done < iters or (best < min5_under and done < max(iters, 5)):
            # Cache hygiene (r11 verdict #2, guide §5): operators that
            # return a lazily-consumed frame built over .cache()d
            # intermediates (dedup_minhash's hashed-shingle table,
            # dedup_first_wins' survivor set, the incremental-minhash
            # index) cannot unpersist before the caller's action, so
            # iteration 1's blocks stay in the CacheManager — and Spark
            # matches cached plans by CANONICALIZED logical plan, so
            # iterations 2..N of the identical query silently read
            # iteration 1's cached blocks: min-of-N reported warm-cache
            # walls and pinned dead blocks in storage memory. Clearing
            # between iterations (OUTSIDE the timed region — the timed
            # region itself is unchanged: fn() + noop write) makes every
            # sample compute from the parquet inputs. Expected effect is
            # honest (higher) walls for the never-unpersisted entries;
            # r11 numbers for them were warm-cache flattered.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            done += 1
        print(f"# {name}: {best:.3f}s (n={done})", file=sys.stderr, flush=True)
        return round(best, 3)

    # Control at head, MIDDLE, and tail (each min-of-N), control_wall =
    # the MEDIAN of the three spaced probes. r9 showed a single
    # scan-shaped probe is too noisy as a CROSS-RUN denominator: the
    # campaign leg's control read 2.85 s vs the driver bench's 1.39 s
    # while the query walls themselves agreed within ~7%, so normalized
    # cross-run ratios read as a spurious 2×. Three spaced probes +
    # median make one bad window survivable; the written comparison
    # rule (BASELINE.md "Cross-run comparison rule") falls back to raw
    # sums whenever two runs' controls still disagree by >1.5×.
    qs[CONTROL](spark, sf_dir).write.format("noop").mode("overwrite").save()
    probes: list[float] = [measure(CONTROL)]
    times: dict[str, float] = {}
    for i, name in enumerate(HEADLINE):
        times[name] = measure(name)
        if i == len(HEADLINE) // 2:
            probes.append(measure(CONTROL))
    probes.append(measure(CONTROL))
    control_wall = sorted(probes)[len(probes) // 2]

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:  # non-sf-named dir (e.g. a replicated scale set)
        sf_val = sf_dir
    print(emit_lines(times, sf_val, control_wall, control_probes=probes))
    spark.stop()


def emit_lines(
    times: dict[str, float],
    sf_val: float | str,
    control_wall: float,
    full_path: str | None = "bench_full.json",
    control_probes: list[float] | None = None,
) -> str:
    """Build the single stdout JSON line; write the full payload to a file.

    The driver captures only ~2000 chars of the final line, and r8's
    line (raw walls + normalized walls for 55 queries) outgrew that —
    BENCH_r08.json recorded ``parsed: null`` and the round's headline
    wall was unrecoverable from the driver artifact. The stdout line now
    carries only the contract fields (metric/value/unit/queries/sf) plus
    the control pair, with 2-decimal walls; the normalized ratios (the
    cross-round comparison signal) move to ``bench_full.json`` next to
    the repo root. test_bench_line.py asserts the line stays < 1800
    chars even at 3-digit walls.
    """
    def _wall(t: float) -> float | int:
        # Magnitude-scaled precision keeps the line inside the driver's
        # capture budget even with 3-digit walls (62 entries at 999.999
        # overflowed the 2-decimal format); relative error stays <1% and
        # bench_full.json keeps the full 3-decimal walls.
        if t >= 100:
            return int(round(t))
        if t >= 10:
            return round(t, 1)
        return round(t, 2)

    compact = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 2),
        "unit": "sec",
        "queries": {n: _wall(t) for n, t in times.items()},
        "sf": sf_val,
        # host-drift control (see CONTROL above): median of three
        # spaced min-of-N probes (head/middle/tail). Compare normalized
        # ratios (bench_full.json) across rounds, not raw seconds —
        # and raw SUMS when two runs' controls disagree >1.5×
        # (BASELINE.md "Cross-run comparison rule").
        "control": CONTROL,
        "control_wall": round(control_wall, 2),
    }
    full = dict(compact)
    full["queries"] = times  # 3-decimal raw walls
    if control_probes is not None:
        full["control_probes"] = [round(p, 3) for p in control_probes]
    full["queries_normalized"] = {
        n: round(t / control_wall, 2) if control_wall else None
        for n, t in times.items()
    }
    if full_path:
        try:
            Path(full_path).write_text(json.dumps(full, indent=1))
        except OSError as exc:  # file write must never fail the bench
            print(f"# bench_full.json not written: {exc}", file=sys.stderr)
    # no-space separators: ~2 chars per query of headroom under the
    # driver's capture budget
    return json.dumps(compact, separators=(",", ":"))


if __name__ == "__main__":
    main()

"""Query registry: every engine operator registers a named
(spark, sf_dir) -> DataFrame callable plus, when SQL-expressible, the
equivalent DuckDB oracle SQL (SURVEY.md §5.1 — this is the correctness
gate's contract with ``__spark_entry__.py``).
"""

from __future__ import annotations

import atexit
import functools
import importlib
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules that register queries on import. Registration order is the
# order the correctness driver visits queries, and the driver's budget
# may not cover all of them — so the families whose verdicts matter
# most (LLM-pipeline dedup/similarity, streaming windows, SQL frontend,
# the reference's graph-ETL identity) register first; the relational /
# expression core, fully attested in round 1, registers last.
_FAMILY_MODULES = (
    "graphdbetl_spark.plans.llm_q",
    "graphdbetl_spark.plans.streaming_q",
    "graphdbetl_spark.plans.extra_q",
    "graphdbetl_spark.plans.graph_etl_q",
    "graphdbetl_spark.plans.curation_q",
    "graphdbetl_spark.plans.prep_q",
    "graphdbetl_spark.plans.pipeline_q",
    "graphdbetl_spark.plans.etl_ops_q",
    "graphdbetl_spark.plans.analytics_q",
    "graphdbetl_spark.plans.tpch_q",
    "graphdbetl_spark.plans.relational",
    "graphdbetl_spark.plans.expressions",
)


@dataclass
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> driver does a rows-only check


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register an operator query. ``oracle`` is ANSI SQL DuckDB runs on
    the same parquet tables; alias computed columns identically on both
    sides (the driver's compare is column-name sensitive)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(name, fn, oracle)
        return fn

    return deco


@functools.cache
def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="graft_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def scratch_dir(prefix: str) -> str:
    """A fresh directory for a write-then-read-back entry. The returned
    frame reads it lazily, so it must outlive the call (and a second
    run of the entry must not delete it): every such directory sits
    under one per-process parent that is removed at interpreter exit."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


def _load() -> None:
    for mod in _FAMILY_MODULES:
        importlib.import_module(mod)


# The correctness driver visits queries in dict order with a ~50-query
# budget per round. Cumulative attestation after r5: 210/210
# oracle-backed entries green across CORRECTNESS_r01-r05; the only
# never-green entries were the 11 oracle-less ones. Round 6 gave every
# one of them a driver-attestable oracle (r5 verdict #1): md5/portable
# re-points (dedup_minhash/dedup_simhash/sketch_kmv_distinct/
# text_tokens), in-plan invariant bounds (agg_approx,
# embedding_pca_project), unrolled trajectories (bpe_learn_merges,
# bpe_tokenize_corpus, + the new batched entry), and md5-seeded ANN
# replays (sim_ivf/lsh/ivfpq_topk). The r6 slate leads with those 12
# never-green entries, then the r5-attested head (re-attestation is
# free within the budget), then everything long-attested.
_PRIORITY: tuple[str, ...] = (
    # r11 NEW entries FIRST (never driver-attested): the containment
    # upstream-collapse composition (r10 verdict #1), the ccnet
    # approx-cutpoint production form (#2), and IVF n_cells="auto"
    # with in-plan lower-bound/recall-floor booleans (#3).
    "dedup_containment_collapsed",
    "curation_ccnet_buckets_approx",
    "decontaminate_semantic_ivf_auto",
    # THEN the six entries r10's 50-query budget didn't reach — the
    # only rows whose latest driver check is still round 1.
    "union_all", "union_by_name", "union_distinct",
    "win_analytic", "win_frame", "win_rank",
    # THEN the r03-vintage families the r10 verdict named (#7): the
    # SQL-frontend q4–q22 shapes and the SCD2/CDC/upsert family.
    "sql_frontend_q4", "sql_frontend_q6", "sql_frontend_q7_style",
    "sql_frontend_q8_style", "sql_frontend_q9_style",
    "sql_frontend_q10_style", "sql_frontend_q11_style",
    "sql_frontend_q12_style", "sql_frontend_q13_style",
    "sql_frontend_q14", "sql_frontend_q15_style",
    "sql_frontend_q16_style", "sql_frontend_q17",
    "sql_frontend_q19_style", "sql_frontend_q20_style",
    "sql_frontend_q21_style", "sql_frontend_q22_style",
    "scd2_history", "cdc_apply", "node_upsert",
    # FILL the budget with the r02-vintage head (stalest remaining):
    # the graph-ETL identity, dedup/similarity core, text analysis.
    "node_build_party", "rel_foreign_key", "rel_join_table",
    "dedup_merge_by_id", "dedup_exact", "dedup_minhash_md5",
    "dedup_simhash_md5", "dedup_embedding_cosine", "dedup_keep_list",
    "dedup_cluster_components", "dedup_cluster_keep_best",
    "dedup_embedding_keep", "sim_cosine_topk", "sim_pq_topk_md5",
    "dedup_repeated_ngram_scrub", "text_stats", "text_quality",
    "text_lang_id", "text_fingerprint", "text_tokens_portable",
    "text_tfidf_top_term",
    # r02-vintage continuation (next rotation's head if the budget
    # reaches past 50)
    "split_train_test", "sample_stratified", "pack_sequences",
    "multimodal_features", "multimodal_decode", "stream_tumbling",
    "stream_sliding", "stream_session", "rollup_hourly",
    "sketch_kmv_md5",
)


def _ordered() -> dict[str, QueryDef]:
    _load()
    out: dict[str, QueryDef] = {}
    for name in _PRIORITY:
        if name in REGISTRY:
            out[name] = REGISTRY[name]
    for name, qd in REGISTRY.items():
        if name not in out:
            out[name] = qd
    return out


def all_queries() -> dict[str, QueryFn]:
    return {name: qd.fn for name, qd in _ordered().items()}


def all_oracles() -> dict[str, str]:
    return {
        name: qd.oracle for name, qd in _ordered().items() if qd.oracle is not None
    }

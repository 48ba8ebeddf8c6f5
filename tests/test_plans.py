"""Plan-shape regression tests: the physical-plan properties
docs/SCALING.md claims (pushdown, pruning, broadcast, partial
aggregation, top-k specialization) asserted against .explain output so
a refactor can't silently regress them."""

import io
import contextlib

import pytest

from graphdbetl_spark.plans.registry import all_queries

SF = "/root/testdata/sf0.001"


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_of(spark, name: str) -> str:
    return formatted(all_queries()[name](spark, SF))


def node_count(plan: str, node: str) -> int:
    """Count physical operators by their detail header '(n) Node'
    (the tree section repeats names)."""
    import re

    return len(re.findall(rf"^\(\d+\) {node}\b", plan, flags=re.MULTILINE))


def test_scan_pushdown_and_pruning(spark):
    plan = plan_of(spark, "scan_parquet")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # pruned read schema: only the 4 projected + 2 filter columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read_schema and "l_tax" not in read_schema


def test_dimension_joins_broadcast(spark):
    plan = plan_of(spark, "join_fk_inner")
    assert node_count(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_aggregation_is_partial_plus_final(spark):
    plan = plan_of(spark, "agg_hash")
    # two HashAggregate nodes around one exchange
    assert node_count(plan, "HashAggregate") == 2
    assert node_count(plan, "Exchange") == 1


def test_sort_limit_uses_take_ordered(spark):
    plan = plan_of(spark, "sort_limit")
    assert "TakeOrderedAndProject" in plan


def test_node_build_single_shuffle(spark):
    plan = plan_of(spark, "node_build_party")
    # merge-dedup = one exchange on the id key, nothing else shuffles
    assert node_count(plan, "Exchange") == 1


def test_asof_join_single_shuffle(spark):
    plan = plan_of(spark, "join_asof")
    assert node_count(plan, "Exchange") <= 2  # union shuffle + window partitioning


def test_six_table_join_broadcasts_all_dimensions(spark):
    plan = plan_of(spark, "tpch_q5_style")
    # supplier/nation/region broadcast; only customer⋈orders⋈lineitem
    # (fact chain) plus the final group-by shuffle
    assert node_count(plan, "BroadcastHashJoin") >= 3
    assert node_count(plan, "BroadcastExchange") >= 3


def test_config_declared_pushdown(spark):
    """fields/filter declared in the YAML config reach the scan."""
    from graphdbetl_spark.etl.builder import GraphDBBuilder
    from graphdbetl_spark.plans.graph_etl_q import fixture_config

    cfg = fixture_config(SF)
    cfg["Nodes"]["Nation"]["sources"]["TPCH"] = {
        "table": "nation",
        "id_key": "n_nationkey",
        "uri_key": "n_name",
        "fields": ["n_name"],
        "filter": "n_regionkey > 1",
    }
    df = GraphDBBuilder(spark, cfg).build_node("Nation")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "n_regionkey" in read_schema  # filter column read
    assert "n_comment" not in read_schema
    assert "GreaterThan(n_regionkey,1)" in plan  # predicate pushed to scan
    rows = df.collect()
    assert all(r["n_name"] is not None for r in rows)
    assert 0 < len(rows) < 25  # filter applied


def test_curation_ops_shuffle_free_or_minimal(spark):
    # pii_scrub and doc_repetition are pure projections: zero exchanges
    for name in ("pii_scrub", "doc_repetition"):
        assert node_count(plan_of(spark, name), "Exchange") == 0, name
    # seeded shuffle: exactly one hash exchange (shard partitioning)
    plan = plan_of(spark, "shuffle_deterministic")
    assert node_count(plan, "Exchange") == 1
    assert "Sort" in plan  # within-shard order only, no global sort


def test_decontaminate_broadcasts_eval_grams(spark):
    plan = plan_of(spark, "decontaminate_ngrams")
    # eval-gram set and contaminated-id set both broadcast: the corpus
    # side is scanned, never shuffled for the joins
    assert node_count(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_sql_q18_semi_join_rewrite(spark):
    plan = plan_of(spark, "sql_frontend_q18")
    # the IN-subquery must become a semi join, not a full join+distinct
    assert "LeftSemi" in plan


def test_sql_q6_full_pushdown_and_pruning(spark):
    plan = plan_of(spark, "sql_frontend_q6")
    # every WHERE predicate reaches the parquet scan
    for pushed in (
        "GreaterThanOrEqual(l_shipdate,1996-01-01",
        "LessThan(l_shipdate,1997-01-01",
        "GreaterThanOrEqual(l_discount,0.03)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in plan, pushed
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # 4 of 11 lineitem columns read
    assert read_schema.split("struct<")[1].count(":") == 4
    assert "l_orderkey" not in read_schema
    assert "partial_sum" in plan  # map-side combine before the 1-row exchange


def test_sql_q17_decorrelates_to_aggregate_join(spark):
    plan = plan_of(spark, "sql_frontend_q17")
    # correlated scalar subquery must rewrite to agg+join, not a per-row subplan
    assert node_count(plan, "HashAggregate") >= 2
    assert "avg(l_quantity" in plan


def test_chunking_is_shuffle_free(spark):
    plan = plan_of(spark, "chunk_documents")
    assert node_count(plan, "Exchange") == 0  # fan-out rides the scan stage
    assert "Generate" in plan  # explode, not a UDF


def test_ngram_topk_partial_aggregates(spark):
    plan = plan_of(spark, "ngram_topk_per_lang")
    assert "partial_count" in plan  # map-side combine before the gram shuffle


def test_anomaly_stats_broadcast(spark):
    plan = plan_of(spark, "events_anomaly_zscore")
    assert node_count(plan, "BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan


def test_tfidf_no_vocab_broadcast_and_no_eager_count(spark):
    """text_tfidf_top_term's dfreq side is vocabulary-cardinality —
    unbounded at 100 TB. The plan must not *force* a broadcast of it
    (AQE may still pick one from real sizes), and building the query
    must not run an eager driver-side count() job."""
    import pyspark.sql
    from graphdbetl_spark.plans.registry import all_queries

    fn = all_queries()["text_tfidf_top_term"]
    # no eager action during plan construction
    orig_count = pyspark.sql.DataFrame.count
    orig_collect = pyspark.sql.DataFrame.collect

    def _boom(self):
        raise AssertionError("eager action during query construction")

    pyspark.sql.DataFrame.count = _boom
    pyspark.sql.DataFrame.collect = _boom
    try:
        df = fn(spark, SF)
    finally:
        pyspark.sql.DataFrame.count = orig_count
        pyspark.sql.DataFrame.collect = orig_collect

    # With size-based broadcast disabled, only the explicit 1-row n_docs
    # broadcast survives; a hint on dfreq would broadcast regardless.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df2 = fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df2.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert node_count(plan, "BroadcastHashJoin") == 0
    assert node_count(plan, "BroadcastNestedLoopJoin") == 1  # the 1-row n_docs
    rows = df.limit(5).collect()
    assert len(rows) > 0


def test_join_strategy_hints_are_honored(spark):
    """Tuning surface: per-join strategy hints override the planner's
    default — the knob used when a dimension outgrows broadcast but a
    shuffled hash join still beats sort-merge."""
    o = all_queries()["scan_parquet"](spark, SF).limit(0)  # warm registry
    import pyspark.sql.functions as F
    from graphdbetl_spark.sources.catalog import load_table

    li = load_table(spark, SF, "lineitem")
    od = load_table(spark, SF, "orders")
    hinted = li.join(od.hint("shuffle_hash"), li.l_orderkey == od.o_orderkey)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        hinted.explain("formatted")
    assert "ShuffledHashJoin" in buf.getvalue()
    merged = li.join(od.hint("merge"), li.l_orderkey == od.o_orderkey)
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        merged.explain("formatted")
    assert "SortMergeJoin" in buf2.getvalue()


def test_driver_priority_slate():
    """Rotation contract (r5 verdict #1, generalized in r7 from a
    hard-coded round-6 list): the slate must LEAD with every entry no
    driver CORRECTNESS file has ever marked GREEN — the driver samples
    ~50 queries per round in slate order, so a never-attested entry
    parked behind attested ones may never get its first attestation.
    Additionally every registered query is oracle-backed and the
    priority list is registered in order, without duplicates."""
    import json
    from pathlib import Path

    from graphdbetl_spark.plans.registry import _PRIORITY, all_oracles, all_queries

    qs = list(all_queries())
    assert len(_PRIORITY) == len(set(_PRIORITY))
    assert qs[: len(_PRIORITY)] == list(_PRIORITY)  # all registered, in order
    # every queries() entry must be oracle-backed (zero no_oracle rows)
    assert set(all_queries()) == set(all_oracles())
    root = Path(__file__).resolve().parent.parent
    files = sorted(root.glob("CORRECTNESS_r*.json"))
    try:  # pin to COMMITTED attestation files so the same commit can't
        # pass or fail depending on uncommitted working-tree state
        import subprocess

        tracked = set(
            subprocess.run(
                ["git", "ls-files", "CORRECTNESS_r*.json"],
                cwd=root,
                capture_output=True,
                text=True,
                check=True,
            ).stdout.split()
        )
        files = [f for f in files if f.name in tracked]
    except Exception:
        pass  # no git in the environment — fall back to on-disk files
    green: set[str] = set()
    for f in files:
        for name, rec in json.loads(f.read_text()).items():
            if rec.get("rows_match") and rec.get("hash_match", True):
                green.add(name)
    never_green = [q for q in qs if q not in green]
    if green:  # unconditional when attestations exist: an empty
        # never_green trivially satisfies the head check, so the
        # assertion can never be vacuously skipped by full coverage
        head = qs[: len(never_green)]
        assert set(head) == set(never_green), (
            "never-attested entries must lead the slate: "
            f"{sorted(set(never_green) - set(head))} are parked behind "
            "already-attested queries"
        )


def test_domain_cap_uses_window_group_limit(spark):
    """The per-domain cap must keep ~K rows per group per partition
    ahead of the shuffle (partial + final WindowGroupLimit) — the
    property that makes it safe under hot-domain skew."""
    df = all_queries()["curation_domain_cap"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2  # partial + final


def test_q10_order_limit_compiles_to_take_ordered(spark):
    """ORDER BY + LIMIT must become TakeOrderedAndProject (per-partition
    top-k + driver merge), never a global sort."""
    df = all_queries()["sql_frontend_q10_style"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert node_count(plan, "Sort ") == 0 or "GlobalSort" not in plan


def test_decontaminate_broadcasts_fingerprints_not_corpus(spark):
    """The eval-gram side must broadcast (corpus never shuffles for the
    membership check) and the probe column must be the 8-byte
    fingerprint, not gram strings."""
    df = all_queries()["decontaminate_ngrams"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "gfp" in plan


def test_q21_exists_pair_becomes_semi_and_anti(spark):
    """Q21's EXISTS + NOT EXISTS must decorrelate into left-semi and
    left-anti joins (no nested-loop re-execution per row), all keyed on
    l_orderkey so one shuffle partitioning serves the whole chain."""
    df = all_queries()["sql_frontend_q21_style"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q16_not_in_is_anti_join_and_q22_scalar_broadcasts(spark):
    """Q16's NOT IN blacklist must plan as a join (anti/null-aware),
    never a per-row subquery; Q22's AVG threshold must evaluate once as
    a scalar subquery node."""
    plan16 = (
        all_queries()["sql_frontend_q16_style"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in plan16 or "NullAware" in plan16
    plan22 = (
        all_queries()["sql_frontend_q22_style"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Subquery" in plan22 or "scalar-subquery" in plan22
    assert "LeftAnti" in plan22


def test_pq_query_path_single_shuffle(spark):
    """PQ ADC serving plan: code assignment and ADC scoring are
    vectorized Arrow kernels over a map-only codes scan (no join at
    query time — the bounded LUT batch ships in the kernel closure),
    so the ONLY exchange in the whole query is the final per-query
    top-k window, and WindowGroupLimit prunes to ~k rows per partition
    before it. A second exchange appears only when the small-input
    parallelism guard fires (single-row-group test parquet → hash
    repartition before the per-vector code assignment; never fires on
    multi-split cluster inputs)."""
    plan = plan_of(spark, "sim_pq_topk_md5")
    assert node_count(plan, "Exchange") in (1, 2)
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name, min_arrow",
    [
        ("sim_pq_topk_md5", 2),  # code assignment + ADC scoring
        ("sim_cosine_topk", 1),
        ("mine_hard_negatives", 1),
        ("sim_range_search", 1),
        ("sim_lsh_topk", 1),
        ("sim_ivf_topk", 1),
        ("dedup_embedding_cosine", 1),
        ("dedup_semantic_clusters", 1),
        ("decontaminate_semantic", 1),
        # multimodal: attach generator + decoder
        ("dedup_image_hamming", 2),
        ("dedup_image_ahash", 2),
        ("dedup_audio_fingerprint", 2),
        ("dedup_video_signature", 2),
        ("multimodal_decode", 2),
        ("multimodal_audio_decode", 2),
        ("multimodal_audio_chunks", 2),
        ("multimodal_video_frames", 2),
        ("multimodal_features", 1),
        # text kernels
        ("text_fingerprint", 1),
        ("text_winnow_fingerprints", 1),
        ("dedup_winnow_pairs", 1),  # behind a localCheckpoint
        ("dedup_normalized_exact", 1),
        ("bpe_tokenize_corpus", 1),
    ],
)
def test_python_kernels_run_as_map_in_arrow(spark, monkeypatch, name, min_arrow):
    """Every Python kernel crosses the boundary as mapInArrow —
    MapInArrow nodes, no pandas boxing anywhere in the plan. Frames
    the query materializes with localCheckpoint are planned too, since
    the final plan shows only their Scan ExistingRDD."""
    frame_cls = type(spark.range(1))
    checkpointed: list[str] = []
    local_checkpoint = frame_cls.localCheckpoint

    def spy(df, *args, **kwargs):
        checkpointed.append(formatted(df))
        return local_checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    plan = "\n".join([plan_of(spark, name), *checkpointed])
    assert node_count(plan, "MapInArrow") >= min_arrow
    assert plan.count("MapInPandas") == 0


def test_package_crosses_the_python_boundary_through_arrow_only():
    """No module of the package imports pandas, builds a pandas_udf or
    calls a ``*InPandas*`` DataFrame/GroupedData method: every Python
    kernel takes and returns Arrow."""
    import ast
    from pathlib import Path

    import graphdbetl_spark

    root = Path(graphdbetl_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                bad = [a.name for a in node.names if a.name.split(".")[0] == "pandas"]
            elif isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                bad = [mod] if mod.split(".")[0] == "pandas" else []
                bad += [a.name for a in node.names if a.name == "pandas_udf"]
            elif isinstance(node, ast.Attribute):
                bad = [node.attr] if "InPandas" in node.attr or node.attr == "pandas_udf" else []
            else:
                continue
            found += [f"{path.relative_to(root)}:{node.lineno} {b}" for b in bad]
    assert found == []


def test_package_has_one_implementation_per_operator_family():
    """``pyspark.ml`` is imported only by ``similarity._unit_vectors``
    (the JVM Normalizer), and none of the deleted twins is defined
    again: the seeded ANN twins (MLlib k-means IVF and IVF-PQ,
    BucketedRandomProjection LSH), the xxhash64 MinHash, SimHash and
    KMV sketch, the star-contraction connected components, the
    whole-dataset compaction, the approxQuantile Z-order key, the PCA
    pass-through wrapper, the raw-frame centroid sample, the lookaround
    subword count and the persisted bigram LM. Each operator family has
    the one implementation the registry serves, and ``operators/sketch.py``
    hashes with md5 only. The greedy selections have one round loop:
    no ``batch_p`` parameter in ``operators/coreset.py``, and neither
    the ``_batched`` twins nor the hyperplane-blocking alias is served.
    The exact n-gram pair measures reach one gram index: no containment
    screen or second gram-index entry point, and the oracles spell the
    stop-gram cap once. ``decontaminate_against_eval`` has no
    ``force_broadcast`` knob and ``ivf_assign_cells_md5`` no
    ``normalize`` knob."""
    import ast
    from pathlib import Path

    import graphdbetl_spark
    from graphdbetl_spark.plans.registry import all_queries

    deleted = {
        "ivf_cosine_topk", "ivf_build_index", "ivf_query", "lsh_cosine_topk",
        "pq_build_codebooks_kmeans", "ivfpq_cosine_topk", "ivfpq_query",
        "ivfpq_persist_index", "ivfpq_load_index", "minhash_near_duplicates",
        "simhash_fingerprints", "_unit_hash", "kmv_sketch", "kmv_merge",
        "kmv_estimate", "_TWO63", "_TWO64", "connected_components_star",
        "compact_dataset", "zorder_rank", "pca_project",
        "md5_sampled_centroids_raw", "bpe_ish_token_count",
        "bigram_lm_persist", "bigram_lm_score",
        "containment_screened_pairs", "_capped_gram_slim",
    }
    knobs = {
        ("operators/curation.py", "decontaminate_against_eval"): "force_broadcast",
        ("operators/similarity.py", "ivf_assign_cells_md5"): "normalize",
    }
    root = Path(graphdbetl_spark.__file__).parent
    ml, defined, xxhash, batch_p, knob = [], [], [], [], []

    def walk(node, rel, owner):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if child.name in deleted:
                    defined.append(f"{rel}:{child.lineno} {child.name}")
                walk(child, rel, child.name)
                continue
            if isinstance(child, ast.Name) and isinstance(child.ctx, ast.Store):
                if child.id in deleted:
                    defined.append(f"{rel}:{child.lineno} {child.id}")
            if rel == "operators/coreset.py" and isinstance(child, ast.arg):
                if child.arg == "batch_p":
                    batch_p.append(f"{owner}:{child.lineno}")
            if isinstance(child, ast.arg) and knobs.get((rel, owner)) == child.arg:
                knob.append(f"{rel}:{owner}({child.arg})")
            if rel == "operators/sketch.py" and isinstance(child, ast.Call):
                fn = child.func
                if getattr(fn, "attr", getattr(fn, "id", None)) == "xxhash64":
                    xxhash.append(child.lineno)
            if isinstance(child, ast.Import):
                mods = [a.name for a in child.names]
            elif isinstance(child, ast.ImportFrom):
                mods = [child.module or ""]
            else:
                mods = []
            if any(m == "pyspark.ml" or m.startswith("pyspark.ml.") for m in mods):
                ml.append((rel, owner))
            walk(child, rel, owner)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        walk(ast.parse(path.read_text(), str(path)), rel, None)
    assert defined == []
    assert xxhash == []
    assert batch_p == []
    assert knob == []
    assert not {
        "select_kcenter_coreset_batched",
        "select_mmr_diverse_batched",
        "dedup_embedding_lsh_blocked",
        "dedup_containment_screened",
    } & set(all_queries())
    cap = "HAVING COUNT(*) > 10000"
    assert sum(f.read_text().count(cap) for f in (root / "plans").glob("*.py")) == 1
    assert ml == [("operators/similarity.py", "_unit_vectors")] * 2


def test_repeated_ngram_scrub_broadcasts_filtered_grams(spark):
    """Span scrub: the df>=2-filtered repeated-gram table (a sliver of
    the vocabulary) lands on the broadcast side of the join back, and
    nothing in the pipeline goes quadratic."""
    plan = plan_of(spark, "dedup_repeated_ngram_scrub")
    assert node_count(plan, "BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    # ≤4: gram-df agg, per-doc starts agg, rebuild join, plus the
    # small-input parallelism guard's repartition of the RAW input
    # (fires only on single-split test files). The corpus-wide
    # (doc, gram) distinct exchange the r2 form paid is gone.
    assert node_count(plan, "Exchange") <= 4


def test_segment_dedup_two_uniform_shuffles(spark):
    """Segment dedup: keeper choice is a min-struct hash aggregation on
    the segment digest (no window), rebuild is one regroup by doc, the
    empty-survivor fill joins broadcast — and nothing goes quadratic."""
    plan = plan_of(spark, "dedup_segments")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert node_count(plan, "BroadcastHashJoin") >= 1
    # digest agg + doc regroup (+ the small-input parallelism guard's
    # repartition on single-split test files)
    assert node_count(plan, "Exchange") <= 4


def test_bloom_decontaminate_capped_broadcast_probe(spark):
    """Bloom decontamination: the position set (≤2^18 ints) is the
    build side of a broadcast semi-join; the corpus probe side never
    shuffles before the per-doc rollup."""
    plan = plan_of(spark, "decontaminate_bloom")
    assert node_count(plan, "BroadcastHashJoin") >= 2  # semi probe + flag join
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_minhash_incremental_batch_side_broadcasts(spark):
    """Incremental MinHash screen: the new batch is the small side of
    every join (band-bucket candidates, both verification joins). The
    cached signature tables have no static size estimate, so the
    initial plan conservatively sort-merges — the decision is AQE's,
    and the EXECUTED plan must have broadcast every batch-side join
    with no sort-merge surviving."""
    df = all_queries()["dedup_minhash_incremental"](spark, SF)
    df.collect()  # finalize THIS plan's AQE (a sink write would finalize its own)
    plan = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "isFinalPlan=true" in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_countmin_sketch_bounded_exchange_and_takeordered(spark):
    """Count-Min: the d×w grid is built with map-side partial
    aggregation, read via a broadcast of the (≤4096-row) sketch, and
    the heavy-hitter cut compiles to TakeOrderedAndProject — no global
    sort."""
    plan = plan_of(spark, "sketch_countmin_md5")
    assert "TakeOrderedAndProject" in plan
    assert node_count(plan, "BroadcastHashJoin") >= 1
    assert "HashAggregate" in plan and "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_package_materializes_only_through_skew_pinned():
    """No ``cache``, ``persist`` or ``unpersist`` call anywhere in the
    package outside ``skew.pinned``: a frame a returned DataFrame reads
    is a lineage-owned checkpoint, and a frame only the function's own
    actions read is pinned for their duration (skew.pinned's rule)."""
    import ast
    from pathlib import Path

    import graphdbetl_spark

    root = Path(graphdbetl_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.relative_to(root).as_posix() == "operators/skew.py":
            pinned = [
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "pinned"
            ]
            allowed = {id(n) for n in ast.walk(pinned[0])}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("cache", "persist", "unpersist")
                and id(node) not in allowed
            ):
                found.append(f"{path.relative_to(root)}:{node.lineno} {node.func.attr}")
    assert found == []

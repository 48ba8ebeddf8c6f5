"""Round-10 operator tests: ccnet approx-cutpoint buckets (r9 verdict
#4), exact containment's sub-document recall (r9 verdict #1), and the
production n_cells scaling for IVF semantic decontamination (#5)."""

from __future__ import annotations

import pytest


# ---------- CCNet approx-cutpoint buckets ----------


def _ccnet_fixture(spark, n=240):
    rows = []
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    for i in range(n):
        lang = ["en", "fr", "de"][i % 3]
        txt = " ".join(words[(i + j) % 7] for j in range(3 + i % 11))
        rows.append((i, lang, txt))
    return spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )


def test_ccnet_approx_agrees_with_exact_terciles(spark):
    """The approx-cutpoint form must agree with the exact ntile form on
    ≥95% of documents, and every disagreement must be off by exactly
    one bucket (a doc near/at a tercile boundary), never head↔tail."""
    from graphdbetl_spark.operators.curation import (
        ccnet_perplexity_buckets,
        ccnet_perplexity_buckets_approx,
    )

    df = _ccnet_fixture(spark)
    exact = {
        r["doc_id"]: r["bucket"]
        for r in ccnet_perplexity_buckets(df, "text", "doc_id", "lang").collect()
    }
    approx = {
        r["doc_id"]: r["bucket"]
        for r in ccnet_perplexity_buckets_approx(
            df, "text", "doc_id", "lang"
        ).collect()
    }
    assert set(exact) == set(approx)  # same omit-short-docs semantics
    order = {"head": 0, "middle": 1, "tail": 2}
    diffs = [d for d in exact if exact[d] != approx[d]]
    assert len(diffs) <= max(1, len(exact) // 20), (
        f"{len(diffs)}/{len(exact)} disagreements"
    )
    for d in diffs:
        assert abs(order[exact[d]] - order[approx[d]]) == 1, (
            d, exact[d], approx[d],
        )


def test_ccnet_approx_plan_has_no_per_language_score_sort(spark):
    """The approx form's reason to exist: NO per-language sort of the
    scores (the exact form's ntile window is one sort task per
    language — single-task on a skewed language mix at 100 TB). The
    LM-scoring subtree keeps its own small sorts (bigram-context
    window, doc-id merge join); what must be gone is any ntile window
    and any Sort over the score column."""
    from graphdbetl_spark.operators.curation import (
        ccnet_perplexity_buckets,
        ccnet_perplexity_buckets_approx,
    )

    df = _ccnet_fixture(spark, n=60)
    exact_plan = ccnet_perplexity_buckets(
        df, "text", "doc_id", "lang"
    )._jdf.queryExecution().executedPlan().toString()
    assert "ntile(" in exact_plan  # the shape being removed
    plan = ccnet_perplexity_buckets_approx(
        df, "text", "doc_id", "lang"
    )._jdf.queryExecution().executedPlan().toString()
    assert "ntile(" not in plan  # ("ntile" alone matches perceNTILE_approx)
    for line in plan.splitlines():
        if "Sort " in line:
            assert "mean_logprob" not in line, line


# ---------- exact containment: sub-document recall ----------


def test_containment_recalls_embedded_subdocument(spark):
    """The property containment exists for (r9 verdict #1): a small doc
    embedded whole in a much larger one (containment ~1.0, Jaccard
    ~0.01 — invisible to MinHash-LSH) comes back at containment 1.0.
    Fixture: a ~500-gram doc inside a ~50k-gram doc."""
    from graphdbetl_spark.operators.dedup import ngram_containment_pairs

    # deterministic vocabulary large enough that no gram hits the df cap
    words = [f"w{(i * 2654435761) % 99991:05d}" for i in range(50_002)]
    container = " ".join(words)                # ~50k 3-grams
    contained = " ".join(words[:502])          # 500 3-grams, all shared
    unrelated = " ".join(f"z{i:05d}" for i in range(600))
    df = spark.createDataFrame(
        [(1, contained), (2, container), (3, unrelated)],
        "doc_id long, text string",
    )
    got = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in ngram_containment_pairs(
            df, "text", "doc_id", n=3, threshold=0.5
        ).collect()
    }
    assert got == {(1, 2): 1.0}


# ---------- IVF decontamination: production n_cells scaling ----------


def test_ivf_decontaminate_auto_cells_lower_bound(spark):
    """n_cells='auto' (the production target-cell-size scaling, r9
    verdict #5) must keep the IVF contract on the real fixture: the reported max
    is a LOWER BOUND of the exact max per vector, and flagged vectors
    are a subset of the exact form's."""
    import pyspark.sql.functions as F

    from graphdbetl_spark.operators.curation import (
        semantic_decontaminate,
        semantic_decontaminate_ivf,
    )
    from graphdbetl_spark.operators.sampling import hash_bucket
    from graphdbetl_spark.sources.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    b = hash_bucket(F.col("vec_id"))
    corpus, eval_df = e.filter(b >= 10), e.filter(b < 10)

    exact = {
        r["vec_id"]: (r["max_eval_cosine"], r["contaminated"])
        for r in semantic_decontaminate(
            corpus, eval_df, "vec_id", "embedding", threshold=0.35
        ).collect()
    }
    ivf = {
        r["vec_id"]: (r["max_eval_cosine"], r["contaminated"])
        for r in semantic_decontaminate_ivf(
            corpus, eval_df, "vec_id", "embedding",
            threshold=0.35, n_cells="auto",
        ).collect()
    }
    assert set(ivf) <= set(exact)  # omitted-no-candidate semantics
    for vid, (mx, _) in ivf.items():
        assert mx <= exact[vid][0] + 1e-9, vid  # lower-bound property
    hot = {v for v, (_, c) in exact.items() if c}
    got = {v for v, (_, c) in ivf.items() if c}
    assert got <= hot


def _clustered_vectors(n_clusters: int, per_cluster: int, dim: int = 64):
    """Deterministic clustered unit-ish vectors: cluster centers from a
    fixed LCG, members = center + small deterministic jitter. The shape
    IVF's recall argument assumes (eval-dense directions) — isotropic
    random data defeats ANY cell restriction by construction
    (docs/SCALING.md's 0%-pruning measurement)."""
    import numpy as np

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1)[:, None]
    out = []
    for c in range(n_clusters):
        for m in range(per_cluster):
            v = centers[c] + 0.05 * rng.normal(size=dim)
            out.append((c, m, [float(x) for x in v]))
    return out


def test_ivf_decontaminate_auto_cells_recall_on_clustered_data(spark):
    """On clustered data — the regime the IVF restriction is FOR —
    n_cells='auto' must hold its recall floors vs the exact form
    (0.80 at n_probe=2, 0.90 at n_probe=3 — see the in-test note on
    sampled-centroid collisions). Fixture: 24 clusters; eval = 8
    members of each of 16 clusters, train = 12 other members
    (contaminated twins, cosine ~0.99) plus vectors from eval-free
    clusters (clean)."""
    from graphdbetl_spark.operators.curation import (
        semantic_decontaminate,
        semantic_decontaminate_ivf,
    )

    rows = _clustered_vectors(24, 20)
    eval_rows = [
        (1000 * c + m, v) for c, m, v in rows if c < 16 and m < 8
    ]
    train_rows = [
        (1000 * c + m, v) for c, m, v in rows if m >= 8
    ]
    eval_df = spark.createDataFrame(
        eval_rows, "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        train_rows, "vec_id long, embedding array<double>"
    )
    exact = {
        r["vec_id"]: r["contaminated"]
        for r in semantic_decontaminate(
            corpus, eval_df, "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    hot = {v for v, c in exact.items() if c}
    assert hot, "fixture must produce contaminated vectors"
    # md5-SAMPLED centroids (the oracle-replayable quantizer) can land
    # 2-3 centroids inside one cluster; among near-identical centroids
    # the argmax/probe ranking is jitter noise, so n_probe=2 misses
    # pairs whose eval twin sits behind a 3-way near-tie. That is the
    # documented sampled-vs-kmeans recall cost; n_probe is the knob
    # (measured on this fixture: 0.84 at 2 probes, 0.94 at 3).
    for n_probe, floor in ((2, 0.80), (3, 0.90)):
        ivf = {
            r["vec_id"]: r["contaminated"]
            for r in semantic_decontaminate_ivf(
                corpus, eval_df, "vec_id", "embedding",
                threshold=0.9, n_cells="auto", n_probe=n_probe,
            ).collect()
        }
        got = {v for v, c in ivf.items() if c}
        assert got <= hot
        recall = len(got) / len(hot)
        assert recall >= floor, (n_probe, len(got), len(hot))

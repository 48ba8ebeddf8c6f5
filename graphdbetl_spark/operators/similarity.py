"""Similarity search over embedding columns (north-star extension).

Brute-force cosine top-k is the correctness baseline (and is exactly
right when the query set is small: broadcast queries × corpus scan =
one pass, no shuffle). The scale paths are one implementation per ANN
family, each md5-deterministic so its full output replays in the DuckDB
oracle: IVF (md5-sampled cells, :func:`ivf_cosine_topk_md5`), LSH
(md5-derived hyperplanes → equi-join on bucket,
:func:`lsh_cosine_topk_md5`), PQ and IVF-PQ (md5-sampled codebooks,
:func:`pq_cosine_topk`, :func:`ivfpq_cosine_topk_md5`).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from graphdbetl_spark.functions.vectors import (
    arrow_matrix,
    fold_dots,
    list_column,
    seq_sum,
    sign_buckets,
)
from graphdbetl_spark.operators.skew import BYTES_PER_TASK, fan


def md5_cap_corpus(
    df: DataFrame,
    id_col: str,
    cap: int = 50_000,
    keep: "F.Column | None" = None,
) -> DataFrame:
    """Deterministically downsample ``df`` to ~``cap`` rows by an md5
    coin on the id (per-mille threshold), for QUALITY-GATE harnesses
    whose cost must not scale with the corpus (r6 verdict #5: the
    recall-floor harnesses ran both ANN arms over the full 100×
    replica and dominated the walls campaign — a recall diagnostic is
    meaningful on a bounded deterministic sample; the production ANN
    operators keep their full-corpus walls). Below ``cap`` rows the
    input passes through untouched, so small-scale oracle values are
    bit-identical. Rows matching ``keep`` survive regardless (the
    query vectors must stay in the corpus for self-exclusion parity).
    """
    n = df.count()
    if n <= cap:
        return df
    permille = max(1, int(1000 * cap / n))
    coin = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000
    ) < permille
    return df.filter(coin if keep is None else (coin | keep))


def _pairs_batch(ids, qids, qi, ni, scores, score_col: str):
    """(query_id, neighbor_id, score_col) record batch for the query
    rows ``qids[qi]`` against the batch rows ``ids[ni]``; query ids take
    the corpus id type, like the declared output schema."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(qids[qi], type=ids.type), ids.take(ni), pa.array(scores)],
        names=["query_id", "neighbor_id", score_col],
    )


def _collect_queries(corpus: DataFrame, queries: DataFrame, *cols: str):
    """Collect the query set (small by contract) into a corpus-scan
    kernel's closure: ``(corpus, ids, matrix, *extras)`` for ``cols`` =
    (id, vector, *extra), with the matrix shaped (n, d) float64. An
    empty set comes back as a (0, 0) matrix and the corpus cut to
    ``limit(0)``: the caller builds its usual plan, so its schema is
    unchanged, and the optimizer folds the corpus scan into an empty
    relation."""
    import numpy as np

    rows = queries.select(*cols).collect()
    if not rows:
        return (corpus.limit(0), np.array([]), np.zeros((0, 0)),
                *(np.array([]) for _ in cols[2:]))
    ids, vecs, *extras = zip(*rows)
    return (corpus, np.array(ids), np.array(vecs, dtype=np.float64),
            *(np.array(c) for c in extras))


def _scan_topk(src, id_col: str, vec_col: str, qids, qm, k: int, eligible):
    """One mapInArrow pass of the corpus ``src`` against the query
    matrix ``qm`` (rows ``qids``): per batch, cosine of every
    (row, query) pair, then each query's top-k among the rows
    ``eligible(rb, nids)`` allows (an (n, Q) mask), cut by
    (-cosine, neighbor_id) — the total order the final rank window
    ranks by, so float-equal ties survive the partial cut. The exchange
    carries ≤ batches·|Q|·k rows into that window.

    Bit-parity: dot and both squared norms are true left folds over
    the raw doubles (``fold_dots``/``seq_sum``), then one IEEE divide
    by the norm product — the arithmetic of the JVM cosine fold."""
    import numpy as np

    qn = np.sqrt(seq_sum(qm * qm, axis=1))

    def kern(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            v = arrow_matrix(rb, vec_col, width=qm.shape[1])
            cn = np.sqrt(seq_sum(v * v, axis=1))
            scores = fold_dots(v, qm) / (cn[:, None] * qn[None, :])
            ids = rb.column(id_col)
            nids = ids.to_numpy(zero_copy_only=False)
            ok = eligible(rb, nids)
            qsel, nsel = [], []
            for qi in range(len(qids)):
                valid = np.flatnonzero(ok[:, qi])
                order = valid[np.lexsort((nids[valid], -scores[valid, qi]))][:k]
                qsel.append(np.full(order.size, qi))
                nsel.append(order)
            qsel, nsel = np.concatenate(qsel), np.concatenate(nsel)
            yield _pairs_batch(ids, qids, qsel, nsel, scores[nsel, qsel], "cosine")

    id_type = dict(src.dtypes)[id_col]
    scored = src.mapInArrow(
        kern, schema=f"query_id {id_type}, neighbor_id {id_type}, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (self-pairs
    excluded).

    ``queries`` is small by contract: they are collected into the
    kernel closure (the PQ codebook-closure pattern, bounded by
    construction). The corpus streams ONCE through the numpy Arrow
    kernel of :func:`_scan_topk`, which emits each query's per-batch
    top-k — the same partial-top-k-before-the-shuffle that
    WindowGroupLimit performed, but without the |corpus|·|queries|
    interpreted cosine folds that preceded it: one fold-dot plus two
    fold-norms per pair put the DataFrame form past 900 s at the 100×
    replica, where the kernel takes seconds. Scores are bit-identical
    to the JVM cosine fold (see :func:`_scan_topk`).
    """
    corpus, qids, qm = _collect_queries(corpus, queries, id_col, vec_col)
    src = fan(corpus, id_col, BYTES_PER_TASK).select(id_col, vec_col)
    return _scan_topk(
        src, id_col, vec_col, qids, qm, k,
        lambda rb, nids: nids[:, None] != qids[None, :],
    )


def _unit_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Unit-normalize an array column JVM-side via ml.feature.Normalizer.

    NOT the obvious ``transform(x -> x / fold-norm)``: that interpreted
    HOF re-evaluates the whole norm fold PER ELEMENT once
    CollapseProject inlines the projection (SCALING.md "the kernel
    ladder") — O(d²) per row, measured ~12 s per 50k×64 corpus pass.
    Normalizer runs in the JVM with the same sequential sum-of-squares
    norm and per-element divide, so values are unchanged. The package's
    only ``pyspark.ml`` use."""
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector, vector_to_array

    v = df.withColumn("__fv", array_to_vector(F.col(vec_col).cast("array<double>")))
    out = Normalizer(inputCol="__fv", outputCol="__nv", p=2.0).transform(v)
    return out.withColumn("__unit", vector_to_array(F.col("__nv"))).drop("__fv", "__nv")


def pca_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 8,
):
    """Fit the top ``out_dim`` principal components of the embeddings —
    the standard dimensionality-reduction step before ANN indexing or
    visualization (and the rotation half of OPQ); :func:`pca_apply`
    projects onto them.

    Distributed/driver split done the only way that scales: the
    covariance accumulates as bounded-key aggregations of d means and
    d·(d+1)/2 running sums (posexplode to (i, j≥i) pairs → partial-agg
    shuffle keyed by the dim-pair space — never by row), and the
    eigendecomposition runs driver-side on the resulting d×d matrix
    (64×64 floats — a few KB; numpy eigh). The corpus is scanned twice
    and collected never; driver memory is O(d²) regardless of corpus
    size.

    Eigenvector sign is fixed by making each component's
    largest-|loading| coordinate positive (eigh's sign is otherwise
    arbitrary), so output is deterministic. Engine-specific float
    reductions (LAPACK) make the projected VALUES non-replayable in an
    oracle; the registry entry therefore attests the operator through
    distributed PCA invariants instead (see plans/llm_q.py
    embedding_pca_project).

    Returns ``(mu, comps)`` numpy arrays — mu is the d-vector of
    column means, comps the (out_dim × dim) orthonormal projector.
    Raises ValueError when ``df`` has no vectors."""
    import numpy as np

    pairs = (
        fan(df, id_col)
        .select(F.posexplode(vec_col).alias("i", "__x"))
        .select("i", "__x")
    )
    # mean vector (d sums) and raw second moments (d² sums via the
    # (i, j) self-pair within one row) in two bounded-key aggs
    means = pairs.groupBy("i").agg(
        F.avg("__x").alias("mu"), F.count(F.lit(1)).alias("n")
    )
    mu_rows = means.orderBy("i").collect()  # d rows — bounded, not data-sized
    if not mu_rows:
        raise ValueError("pca_fit: the input has no vectors to fit")
    mu = np.array([r["mu"] for r in mu_rows])
    n = mu_rows[0]["n"]
    x2 = (
        df.select(F.posexplode(vec_col).alias("i", "__x"), F.col(vec_col).alias("__v"))
        .select("i", "__x", F.posexplode("__v").alias("j", "__y"))
        .filter(F.col("j") >= F.col("i"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("__x") * F.col("__y")).alias("sxy"))
    )
    cov = np.zeros((dim, dim))
    for r in x2.collect():  # d(d+1)/2 rows — bounded, not data-sized
        c = r["sxy"] / n - mu[r["i"]] * mu[r["j"]]
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = c
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:out_dim]
    comps = vecs[:, order].T  # (out_dim, dim)
    for k in range(out_dim):  # deterministic sign: largest |loading| positive
        jmax = int(np.abs(comps[k]).argmax())
        if comps[k, jmax] < 0:
            comps[k] = -comps[k]
    return mu, comps


def pca_apply(
    df: DataFrame, id_col: str, vec_col: str, mu, comps
) -> DataFrame:
    """Project onto the components :func:`pca_fit` returned: mu/comps
    broadcast as plan literals into a map-only zip_with projection (how a fitted
    rotation ships to a 1000-executor projection job)."""
    out_dim = len(comps)
    mu_lit = F.array(*[F.lit(float(v)) for v in mu])
    centered = F.zip_with(F.col(vec_col), mu_lit, lambda x, m: x - m)
    proj = F.array(*[
        F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(w)) for w in comps[k]]),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        for k in range(out_dim)
    ])
    return df.select(F.col(id_col), proj.alias("proj"))


def mine_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 1,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the top-k most-similar corpus vectors with a DIFFERENT label — the
    pairs that teach a metric model the most (in-batch negatives are
    mostly easy; mined ones dominate gradient signal).

    Same scale shape as brute-force top-k: anchors live in the kernel
    closure (bounded by construction) and the corpus streams once
    through the numpy Arrow kernel of :func:`_scan_topk`, with the
    label-mismatch predicate applied BEFORE the per-batch top-k cut
    (the cosine_topk_bruteforce kernel with labels instead of
    self-exclusion — identical left-fold arithmetic and (-cosine, id)
    tie order). Swap the scan for an IVF/PQ index probe when the
    anchor set stops being broadcastable.

    Returns (query_id, neighbor_id, cosine, rank).
    """
    corpus, qids, qm, qlabels = _collect_queries(corpus, queries, id_col, vec_col, label_col)

    def eligible(rb, nids):
        nlabels = rb.column(label_col).to_numpy(zero_copy_only=False)
        return nlabels[:, None] != qlabels[None, :]

    src = fan(corpus, id_col).select(id_col, vec_col, label_col)
    return _scan_topk(src, id_col, vec_col, qids, qm, k, eligible)


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid of an embedding column, exploded to one row
    per (label, dimension) — the building block for IVF coarse
    quantizers, cluster drift monitoring, and class-prototype dedup.

    posexplode → groupBy(label, pos) keeps the aggregation fully
    JVM-side with map-side partial averages; the shuffle key space is
    |labels| × dims, so it stays balanced no matter how skewed the
    label distribution is (vs. collecting whole vectors per label).
    Reassemble into array form downstream with
    ``sort_array(collect_list(struct(pos, v)))`` only when |dims| is
    bounded.
    """
    ex = df.select(F.col(label_col).alias("label"), F.posexplode(vec_col).alias("pos", "__v"))
    return ex.groupBy("label", "pos").agg(
        F.round(F.avg("__v"), 6).alias("centroid_v"),
        F.count("*").cast("long").alias("n_vecs"),
    )


def _pq_fold(arr) -> F.Column:
    """Left fold sum from 0.0 — the exact sequential order DuckDB's
    list_reduce replays, so oracle doubles match bit for bit."""
    return F.aggregate(arr, F.lit(0.0), lambda a, v: a + v)


# Certified fp32-screen margin for the tiered-precision exact kernels.
# An fp32 BLAS dot of two 64-dim unit vectors carries at most
# n·eps32·Σ|x_i·y_i| ≤ 64·6e-8·1 ≈ 3.8e-6 accumulation error plus
# ~1.2e-7 from rounding the fp64 unit vectors to fp32 — call it 4e-6.
# 1e-3 gives >200× slack, and the extra candidates it admits (exact
# cosine in [τ−1e-3, τ)) are a sliver of a smooth score distribution.
_SCREEN_MARGIN = 1e-3

# Bound on pairs gathered per fp64 fold block: 256k pairs × 64 dims ×
# 8 B × 2 sides ≈ 256 MB of gathered copies, regardless of how wide
# the fp32 screen band gets (on duplicate-heavy corpora — the dedup
# domain — the band can approach the FULL pair set, r9 ADVICE).
_FOLD_BLOCK_PAIRS = 1 << 18


def _fold_pairs_fp64(left, li, right, ri):
    """Dim-major fp64 left-fold of ``left[li[p]] · right[ri[p]]`` per
    candidate pair p, gathered in blocks of ``_FOLD_BLOCK_PAIRS`` so
    kernel memory stays bounded no matter the score distribution.
    Pairs are independent and the per-pair fold order is unchanged, so
    results are bit-identical to an unblocked gather."""
    import numpy as np

    out = np.zeros(len(li), dtype=np.float64)
    for lo in range(0, len(li), _FOLD_BLOCK_PAIRS):
        sl = slice(lo, lo + _FOLD_BLOCK_PAIRS)
        V, Q = left[li[sl]], right[ri[sl]]
        acc = np.zeros(V.shape[0], dtype=np.float64)
        for i in range(left.shape[1]):  # dim-major: left-fold per pair
            acc = acc + V[:, i] * Q[:, i]
        out[sl] = acc
    return out


def _screened_pair_fold(v, cn, qm, qn, threshold):
    """Tiered-precision EXACT cosine pair scan: an fp32 BLAS matmul of
    the unit-normalized sides screens for candidates at
    ``threshold − _SCREEN_MARGIN`` (a certified superset — see margin
    note above), then ONLY the candidates get the bit-parity fp64
    dim-major left-fold (identical arithmetic, identical fold order to
    the full-matrix kernel this replaces, so returned scores are
    bit-identical to it). Same result set, ~30× less memory traffic:
    the old kernel streamed a (rows × queries) fp64 matrix through
    memory 64 times; the screen is one sgemm pass and the fold runs
    over the ~2% of pairs that can possibly clear the radius.

    Returns (ci, qi, scores) index arrays into ``v``/``qm`` rows for
    pairs with EXACT cosine ≥ threshold (self-pairs not excluded).
    Banded-LSH candidate pruning was evaluated and rejected for this
    exact path: on an isotropic 64-d corpus every sampled-centroid
    cell has ~90° radius, so geometric bounds prune nothing (measured:
    0% pruning at 8/16/32 cells on the sf0.1 embeddings) — certified
    precision tiering is the screen that actually works there.
    """
    import numpy as np

    u32 = (v / cn[:, None]).astype(np.float32)
    q32 = (qm / qn[:, None]).astype(np.float32)
    a32 = u32 @ q32.T
    ci, qi = np.nonzero(a32 >= np.float32(threshold - _SCREEN_MARGIN))
    if len(ci) == 0:
        return ci, qi, np.zeros(0, dtype=np.float64)
    scores = _fold_pairs_fp64(v, ci, qm, qi) / (cn[ci] * qn[qi])
    keep = scores >= threshold
    return ci[keep], qi[keep], scores[keep]



def _adc_score(m: int):
    """ADC score Σ_j lut[j][codes[j]+1] as a zip_with + left fold.

    Measured NEGATIVE result (BASELINE.md): unrolling this into an
    m-term element_at chain — the trick that won 4× on the subvector
    dot products — is 2× SLOWER here: each chain term re-extracts the
    j-th LUT sub-array (a 16-double copy per term per row), while the
    fold walks the nested array in place. Unroll scalar arithmetic;
    keep folds for indexed lookups into nested arrays.
    """
    return _pq_fold(
        F.zip_with("__lut", "codes", lambda row, c: F.element_at(row, c + 1))
    )


def _pq_codebook_row(codebooks: DataFrame) -> DataFrame:
    """Collapse the (sub, code, centroid) codebook table into ONE row
    holding cb[sub][code] = centroid (and cn[sub][code] = ||c||²/2,
    precomputed once per codeword) as nested arrays — a few KB that
    broadcasts to every task, so code assignment and ADC scoring are
    zero-shuffle projections (the sample_stratified bounded-cross-join
    pattern)."""
    half_norm = _pq_fold(F.transform("centroid", lambda x: x * x)) / F.lit(2.0)
    per_sub = (
        codebooks.withColumn("__hn", half_norm)
        .groupBy("sub")
        .agg(
            F.array_sort(F.collect_list(F.struct("code", "centroid", "__hn"))).alias("__cc")
        )
        .select("sub", F.col("__cc.centroid").alias("__cents"), F.col("__cc.__hn").alias("__hns"))
    )
    return (
        per_sub.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("sub", "__cents", "__hns"))).alias("__sc"))
        .select(F.col("__sc.__cents").alias("__cb"), F.col("__sc.__hns").alias("__cn"))
    )


def md5_sampled_centroids(
    u: DataFrame, id_col: str, k: int, seed: str = "42", vec_col: str = "__unit"
) -> DataFrame:
    """Deterministic k-centroid sample for semantic clustering: the k
    corpus vectors ranked first by the engine-portable md5(seed:id)
    key, numbered 0..k-1 (the PQ donor-selection pattern — top-k via
    TakeOrderedAndProject, join-rank numbering on the tiny survivor
    set, no single-partition window). Stands in for a k-means fit
    where bit-for-bit cross-engine reproducibility matters more than
    centroid quality (SemDeDup's clustering step is robust to the
    choice; see dedup_semantic_clusters)."""
    base = (
        u.select(
            F.col(id_col),
            F.col(vec_col),
            F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))).alias("__r"),
        )
        .orderBy("__r", id_col)
        .limit(k)
    )
    peers = base.select(F.col("__r").alias("__r2"), F.col(id_col).alias("__i2"))
    ranks = (
        base.select(id_col, "__r")
        .join(
            peers,
            (F.col("__r2") < F.col("__r"))
            | ((F.col("__r2") == F.col("__r")) & (F.col("__i2") < F.col(id_col))),
            "left",
        )
        .groupBy(id_col)
        .agg(F.count("__i2").cast("int").alias("cell"))
    )
    return base.join(ranks, id_col).select("cell", F.col(vec_col).alias("centroid"))


def md5_sampled_centroid_list(
    corpus: DataFrame, id_col: str, vec_col: str, k: int, seed: str = "42"
) -> list[tuple[int, list[float]]]:
    """:func:`md5_sampled_centroids` semantics fed from the RAW corpus,
    as plain Python (cell, centroid) pairs for kernels that embed the
    centroid matrix in their closure: pick the k md5-ranked rows first
    (the rank key is the id alone), THEN unit-normalize the k
    survivors. Normalizing before the top-k pays an interpreted
    transform over the WHOLE corpus just to keep k rows — 26–29 s per
    200k × 64 pass at the 100× replica once CollapseProject inlines
    the scan projection into the lambda.

    The k survivors are COLLECTED (bounded by construction) and
    normalized driver-side with the same left-fold sum-of-squares +
    IEEE sqrt/divide the JVM Normalizer applies, so values stay
    bit-identical at the cost of ONE TakeOrdered job + k rows of
    numpy. Ranking matches md5_sampled_centroids: cell = position in
    (md5 key ASC, id ASC) order; zero-norm survivors keep their raw
    values (Normalizer's norm!=0 contract)."""
    import numpy as np

    rows = (
        corpus.select(
            F.col(id_col),
            F.col(vec_col),
            F.md5(
                F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
            ).alias("__r"),
        )
        .orderBy("__r", id_col)
        .limit(k)
        .collect()
    )
    rows.sort(key=lambda r: (r["__r"], r[id_col]))
    cents: list[tuple[int, list[float]]] = []
    for cell, r in enumerate(rows):
        v = np.array(r[vec_col], dtype=np.float64)
        nrm = float(np.sqrt(seq_sum(v[None, :] * v[None, :], axis=1)[0]))
        u = v / nrm if nrm != 0.0 else v
        cents.append((cell, [float(x) for x in u]))
    return cents


def lsh_hyperplanes(
    n_planes: int = 8, dim: int = 64, seed: str = "42"
) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from hashlib-md5 bits — plain
    Python, so the SAME literal vectors embed in the Spark plan and the
    generated DuckDB oracle (no in-engine hashing to keep in sync)."""
    import hashlib

    planes = []
    for k in range(n_planes):
        h = []
        for i in range(dim):
            dig = hashlib.md5(f"{seed}:{k}:{i}".encode()).hexdigest()
            h.append(1.0 if int(dig[:8], 16) % 2 == 0 else -1.0)
        planes.append(h)
    return planes


def _unit_dot(a: str, b: str):
    """Left-fold dot product — the exact sequential float order
    DuckDB's list_reduce replays (0.0 + x1 == x1 in IEEE)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def ivf_assign_cells_md5(
    u: DataFrame,
    id_col: str,
    cents,  # DataFrame(cell, centroid) or list[(cell, centroid)]
    vec_col: str,
    passthrough: bool = False,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Assign every vector to its max-dot centroid (ties to the
    lowest cell id). Returns (id, cell), or (id, __unit, cell) with
    ``passthrough`` — which spares the caller a corpus-sized self-join
    to re-attach the vectors (sim_ivf_topk's shape). ``keep`` carries
    additional source columns through the kernel unchanged for the
    same reason (ivf_append_report's batch tag: one scan, zero
    re-attach shuffles).

    The scoring is a numpy Arrow kernel, not the broadcast
    crossJoin + HOF-fold + struct-min it used to be: interpreted
    lambda folds cost ~2 µs per element (SCALING.md r2 lesson), and
    |corpus|·n_cells 64-element dots put the DataFrame form at 55.7 s
    for 1.6M dots on the 100× replica — numpy does the identical
    arithmetic per Arrow batch in under a second. The kernel also
    unit-normalizes the raw ``vec_col`` itself, removing the OTHER
    interpreted hot pass: a JVM
    ``transform(x -> x / fold-norm)`` over a wide corpus re-evaluates
    its argument tree per element once CollapseProject inlines the
    scan projection into the lambda (measured 26–29 s per 200k × 64
    pass at 100×; the kernel does it in milliseconds).

    Bit-parity with the DuckDB oracle (the semantic_decontaminate
    kernel treatment): normalization divides by
    sqrt(left-fold Σ x²) (``seq_sum`` — matches the engines' fold
    order; sqrt and division are IEEE-exact), the per-pair dot is a
    TRUE left fold (``fold_dots``, matching ``list_reduce``), and the
    argmax scans cells in ascending id order so float-equal ties
    break to the lowest cell exactly like the struct-min did. The
    centroid table is collected bounded-by-construction (n_cells rows
    — the PQ codebook-closure pattern); zero-norm vectors (NaN units)
    are out of contract either way.
    """
    import numpy as np
    import pyarrow as pa

    if isinstance(cents, DataFrame):
        pairs = sorted(
            ((r["cell"], r["centroid"]) for r in cents.select("cell", "centroid").collect()),
        )
    else:  # already-driver-side (cell, centroid) pairs — no round-trip
        pairs = sorted(cents)
    cm = np.array([c for _, c in pairs], dtype=np.float64)
    cells = np.array([i for i, _ in pairs], dtype=np.int32)
    names = [id_col, *(["__unit"] if passthrough else []), "cell", *keep]

    def assign(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            v = arrow_matrix(rb, vec_col, width=cm.shape[1])
            v = v / np.sqrt(seq_sum(v * v, axis=1))[:, None]
            cell = pa.array(cells[np.argmax(fold_dots(v, cm), axis=1)])
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(id_col),
                    *([list_column(v)] if passthrough else []),
                    cell,
                    *(rb.column(c) for c in keep),
                ],
                names=names,
            )

    src = u.select(id_col, vec_col, *keep)
    types = dict(src.dtypes)
    id_type = types[id_col]
    unit_part = ", __unit array<double>" if passthrough else ""
    keep_part = "".join(f", {c} {types[c]}" for c in keep)
    return src.mapInArrow(
        assign, schema=f"{id_col} {id_type}{unit_part}, cell int{keep_part}"
    )


def _probe_cells_md5(
    queries: DataFrame, vec_col: str, id_col: str, cents: DataFrame, n_probe: int
) -> DataFrame:
    """Rank cells per query by centroid dot and keep the top n_probe.
    Returns (query_id, __qv, cell)."""
    q = _unit_vectors(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("__unit").alias("__qv")
    )
    dt = _unit_dot("__qv", "centroid")
    w = Window.partitionBy("query_id").orderBy(F.col("__dt").desc(), F.col("cell"))
    return (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__dt", dt)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "__qv", "cell")
    )


def ivf_cosine_topk_md5(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 3,
    seed: str = "42",
) -> DataFrame:
    """IVF ANN with the md5-sampled deterministic coarse quantizer —
    the package's one IVF implementation (the sim_pq_topk_md5
    treatment): cells are the n_cells corpus vectors ranked first by
    md5(seed:id) (the PQ donor pattern), assignment is the max-dot
    argmax kernel, and each query scores only its n_probe max-dot
    cells. Every step is md5-seeded, so candidate restriction AND
    final ranking replay bit-for-bit in any md5-capable engine
    (sim_ivf_topk's oracle), and sim_ivf_recall_floor gates its
    recall@10 against brute force at ≥ 0.3. Sampled cells are not
    refined: on uniform vectors recall trails a k-means quantizer
    (0.62 vs 0.74 at sf0.1, docs/SCALING.md "ANN recall").

    Scale shape: candidates come from an equi-join on cell id
    ((n_probe/n_cells) of the corpus per query; at 100 TB persist the
    assignment bucketed by cell), the centroid table broadcasts, and
    the only shuffle is the final top-k window.

    Returns (query_id, neighbor_id, rank) — integer-only output keeps
    the driver hash float-free.
    """
    cent_list = md5_sampled_centroid_list(corpus, id_col, vec_col, k=n_cells, seed=seed)
    cents = corpus.sparkSession.createDataFrame(
        cent_list, schema="cell int, centroid array<double>"
    )
    # the assign kernel does the corpus-wide unit pass itself;
    # passthrough carries __unit through the assignment, sparing a
    # corpus-sized self-join to re-attach the vectors; the assign
    # kernel takes the driver-side list (no LocalRelation re-collect)
    corpus_cells = ivf_assign_cells_md5(
        fan(corpus, id_col),
        id_col,
        cent_list,
        passthrough=True,
        vec_col=vec_col,
    ).select(F.col(id_col).alias("neighbor_id"), F.col("__unit").alias("__cv"), "cell")
    probed = _probe_cells_md5(queries, vec_col, id_col, cents, n_probe)
    w = Window.partitionBy("query_id").orderBy(F.col("__s").desc(), F.col("neighbor_id"))
    return (
        probed.join(corpus_cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__s", _unit_dot("__qv", "__cv"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def lsh_cosine_topk_md5(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 2,
    dim: int = 64,
    seed: str = "42",
) -> DataFrame:
    """Random-hyperplane LSH ANN with literal md5-derived ±1 planes —
    the ORACLE-CHECKABLE member of the LSH family (r5 verdict #1c):
    the n_planes sign bits split into n_tables bucket tables
    (OR-amplification — a candidate matches in ANY table), candidates
    come from equi-joins on (table, bucket), and survivors score by
    exact unit-vector dot. The planes are plan literals from
    :func:`lsh_hyperplanes`, so buckets, candidates, and ranking all
    replay in the oracle (sim_lsh_topk), and sim_lsh_recall_floor
    gates recall@10 against brute force at ≥ 0.15. The package's one
    LSH implementation.

    Scale shape: linear candidate generation (equi-join per table),
    bucket count 2^(n_planes/n_tables) grows with the corpus via the
    plane-count knob; the only shuffle is the final top-k window.

    Returns (query_id, neighbor_id, rank). Queries with fewer than k
    bucket-mates return fewer rows — recall < 1 by construction, and
    the oracle replays exactly that.
    """
    import numpy as np
    import pyarrow as pa

    planes = lsh_hyperplanes(n_planes, dim, seed)
    per_t = n_planes // n_tables
    pm = np.array(planes, dtype=np.float64)

    def prep(df: DataFrame, alias_id: str) -> DataFrame:
        # Buckets + unit vectors in ONE Arrow kernel (the IVF-assignment
        # treatment): the DataFrame form paid n_planes interpreted
        # 64-element folds per row PLUS the CollapseProject-inlined
        # unit-normalize quadratic, twice per side (bucketing + the
        # verification re-normalize). Parity: plane dots are left folds
        # over the raw doubles (``fold_dots``, matching the oracle's
        # list_reduce), sign → bit OR is integer, and the normalize is
        # the ``seq_sum`` fold. The planes stay md5-derived Python
        # literals shared verbatim with the generated oracle SQL.
        def kern(batches):
            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                v = arrow_matrix(rb, vec_col, width=pm.shape[1])
                unit = list_column(v / np.sqrt(seq_sum(v * v, axis=1))[:, None])
                acc = fold_dots(v, pm)
                for t in range(n_tables):
                    bk = sign_buckets(acc[:, t * per_t : (t + 1) * per_t])
                    yield pa.RecordBatch.from_arrays(
                        [
                            rb.column(id_col),
                            pa.array(np.full(n, t, dtype=np.int32)),
                            pa.array(bk),
                            unit,
                        ],
                        names=[alias_id, "tbl", "bk", "__unit"],
                    )

        src = df.select(id_col, vec_col)
        id_type = dict(src.dtypes)[id_col]
        return src.mapInArrow(
            kern, schema=f"{alias_id} {id_type}, tbl int, bk int, __unit array<double>"
        )

    qb = prep(queries, "query_id")
    cb = prep(fan(corpus, id_col), "neighbor_id")
    cand = (
        qb.select("query_id", "tbl", "bk")
        .join(cb.select("neighbor_id", "tbl", "bk"), ["tbl", "bk"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # tbl 0 carries exactly one (id, unit) row per vector — no second
    # corpus normalize pass, no dedup shuffle
    qu = qb.filter(F.col("tbl") == 0).select(
        "query_id", F.col("__unit").alias("__qv")
    )
    cu = cb.filter(F.col("tbl") == 0).select(
        "neighbor_id", F.col("__unit").alias("__cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("__s").desc(), F.col("neighbor_id"))
    return (
        cand.join(qu, "query_id")
        .join(cu, "neighbor_id")
        .withColumn("__s", _unit_dot("__qv", "__cv"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivfpq_cosine_topk_md5(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 3,
    dim: int = 64,
    m: int = 32,
    k_codes: int = 16,
    seed: str = "42",
) -> DataFrame:
    """IVF-PQ with BOTH levels md5-deterministic — the oracle-checkable
    composition of :func:`ivf_cosine_topk_md5` (coarse cells) and
    :func:`pq_cosine_topk`'s sampled codebooks + ADC scoring (r5
    verdict #1c): each query reads only the PQ codes of its n_probe
    cells and scores them with the per-query LUT fold. Candidate
    restriction, code assignment, LUT build, ADC scores, and ranking
    all replay bit-for-bit in the DuckDB oracle (sim_ivfpq_topk). The
    package's one IVF-PQ implementation; its recall floor is pinned
    in pytest against brute force.

    Returns (query_id, neighbor_id, rank)."""
    _pq_check(dim, m)
    sub = dim // m
    cent_list = md5_sampled_centroid_list(corpus, id_col, vec_col, k=n_cells, seed=seed)
    cents = corpus.sparkSession.createDataFrame(
        cent_list, schema="cell int, centroid array<double>"
    )
    asn = ivf_assign_cells_md5(
        fan(corpus, id_col),
        id_col,
        cent_list,
        vec_col=vec_col,
    )
    codes, codebooks = pq_build_codebooks_md5(
        corpus, id_col, vec_col, dim, m, k_codes, seed
    )
    probed = _probe_cells_md5(queries, vec_col, id_col, cents, n_probe).select(
        "query_id", "cell"
    )
    qn = _unit_vectors(queries, vec_col)
    cbrow = F.broadcast(_pq_codebook_row(codebooks))
    dot = _dot_unrolled_sql("__unit", f"j * {sub}", "c", sub)
    lut = F.expr(
        f"transform(sequence(0, {m - 1}), j -> "
        f"transform(element_at(__cb, j + 1), c -> {dot}))"
    )
    ql = qn.crossJoin(cbrow).select(F.col(id_col).alias("query_id"), lut.alias("__lut"))
    cand = probed.join(
        codes.join(asn, id_col).select(
            F.col(id_col).alias("neighbor_id"), "codes", "cell"
        ),
        "cell",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col("neighbor_id")
    )
    return (
        cand.join(F.broadcast(ql), "query_id")
        .select("query_id", "neighbor_id", _adc_score(m).alias("__s"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _dot_unrolled_sql(vec: str, base: str, cent: str, sub: int) -> str:
    """Σ_i vec[base+i] · cent[i] as SQL text: a plain left-associated
    arithmetic chain — no inner lambda, so the per-codeword work inside
    the (interpreted) outer transforms of the F.expr-built PQ
    projections below is raw expression eval, in the left-to-right
    order the DuckDB oracle replays. Building the m × k_codes score
    matrix through the Column API costs ~2000 py4j round-trips (~0.7 s
    of driver time PER QUERY CONSTRUCTION); one F.expr parses the same
    tree in a single call. Construction cost is driver-side only,
    but it is paid per planned query, so it matters for short
    interactive batches as much as the executed plan does."""
    terms = [
        f"element_at({vec}, {base} + {i + 1}) * element_at({cent}, {i + 1})"
        for i in range(sub)
    ]
    return " + ".join(terms)


def _pq_check(dim: int, m: int) -> None:
    """PQ subspaces must tile the vector exactly: ``sub = dim // m``
    would otherwise silently drop the trailing ``dim % m`` dimensions
    from codebooks, assignment, and ADC scores — biased results with
    no error raised. Fail loudly instead."""
    if m <= 0 or dim % m != 0:
        raise ValueError(
            f"PQ requires dim divisible by m (got dim={dim}, m={m}); "
            f"the trailing {dim % m if m > 0 else dim} dims would be dropped"
        )


def pq_build_codebooks_md5(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 32,
    k_codes: int = 16,
    seed: str = "42",
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization index build (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search") with a DETERMINISTIC
    sampled codebook: split each unit-normalized vector into ``m``
    contiguous subvectors; subspace codebooks are the slices of the
    ``k_codes`` corpus vectors ranked first by the engine-portable
    md5(seed:id) key. A vector compresses to m small codes (m bytes at
    k_codes <= 256 — 8-32× smaller than the float vector), and because
    every step is md5-seeded DataFrame algebra the whole index — codes
    included — is reproducible bit for bit on any engine, making the
    approximate pipeline oracle-checkable end to end (the md5-family
    treatment that dedup_minhash_md5 applies to LSH).

    Scale shape: donor selection is TakeOrderedAndProject (top-k by
    md5 rank, no global sort, no single-partition window); assignment
    joins the corpus against the ONE broadcast codebook row and picks
    argmin sub-distances in a higher-order projection — the corpus is
    scanned once and never shuffled. Sampled codewords are not refined
    (no k-means): on uniform-random data they measured within noise of
    an m-fit MLlib k-means codebook at a fraction of the build cost.

    Returns ``(codes, codebooks)``: ``codes`` has one (id, m-int-array)
    row per corpus vector; ``codebooks`` is the (sub, code, centroid)
    table every query batch broadcasts.
    """
    _pq_check(dim, m)
    sub = dim // m
    # donor selection is TakeOrderedAndProject (top-k_codes by md5
    # rank) over the RAW vectors — normalizing after the limit, not
    # before, keeps the corpus-wide interpreted unit-normalize (an
    # O(dim) lambda per row) out of the donor job entirely; only the
    # ≤256 survivors pay it. Numbering uses a join-rank (count of
    # strictly-smaller peers) on the tiny result instead of a
    # single-partition window.
    base = _unit_vectors(
        corpus.select(
            F.col(id_col),
            F.col(vec_col),
            F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))).alias("__r"),
        )
        .orderBy("__r", id_col)
        .limit(k_codes),
        vec_col,
    )
    peers = base.select(F.col("__r").alias("__r2"), F.col(id_col).alias("__i2"))
    ranks = (
        base.select(id_col, "__r")
        .join(
            peers,
            (F.col("__r2") < F.col("__r"))
            | ((F.col("__r2") == F.col("__r")) & (F.col("__i2") < F.col(id_col))),
            "left",
        )
        .groupBy(id_col)
        .agg(F.count("__i2").cast("int").alias("code"))
    )
    donors = base.join(ranks, id_col)
    codebooks = donors.select(
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        "code",
        F.col("__unit").alias("__dv"),
    ).select(
        "sub", "code", F.slice("__dv", F.col("sub") * sub + 1, sub).alias("centroid")
    )
    codes = pq_assign_codes(corpus, codebooks, id_col, vec_col, dim, m)
    return codes, codebooks


def pq_assign_codes(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 32,
) -> DataFrame:
    """Quantize each corpus vector to its m nearest-centroid codes:
    one broadcast of the nested codebook row, one map-only projection.

    Nearest centroid via  argmin ||x−c||² = argmax (x·c − ||c||²/2):
    the half-norms are precomputed per codeword in the codebook row, so
    the per-vector work is m × k_codes unrolled sub-dim dot products —
    plain arithmetic inside the (interpreted) transforms, ~10× the
    throughput of nested fold lambdas. The score matrix materializes in
    an intermediate projection so the first-max argmax reads each score
    row without re-evaluating it (CollapseProject keeps non-cheap
    expressions from inlining twice). Ties break to the lowest code on
    both engines (first occurrence of the max)."""
    _pq_check(dim, m)
    sub = dim // m
    u = fan(corpus, id_col).select(F.col(id_col), F.col(vec_col))
    # Vectorized Arrow kernel instead of DataFrame higher-order
    # functions: unit normalization plus the m × k_codes score matrix
    # is ~600 lambda evaluations PER ROW, and Spark HOFs never enter
    # whole-stage codegen — the interpreted path measured 77 s for
    # 200k vectors. numpy does the identical arithmetic per Arrow
    # batch. The codebook is collected bounded (m × k_codes rows — an
    # index artifact, not data) and shipped in the UDF closure.
    #
    # Bit-exactness vs the DuckDB oracle: every reduction goes through
    # ``seq_sum`` (true left-fold order — np.add.reduce is pairwise
    # and drifts by ULPs), and np.argmax takes the FIRST maximum
    # (matches array_position-of-max). Pinned by
    # tests/test_similarity.py kernel-vs-fold equality tests.
    import numpy as np

    cb_rows = codebooks.collect()  # bounded: m × k_codes index rows
    # an empty corpus has no donors: a 0-code book, and no row to assign
    k_codes = max((r["code"] for r in cb_rows), default=-1) + 1
    cb = np.zeros((m, k_codes, sub))
    for r in cb_rows:
        cb[r["sub"], r["code"], :] = r["centroid"]
    half_norms = seq_sum(cb * cb, axis=2) / 2.0

    def assign(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            v = arrow_matrix(rb, vec_col, width=dim)
            norm = np.sqrt(seq_sum(v * v, axis=1))
            x = (v / norm[:, None]).reshape(n, m, sub)
            scores = seq_sum(x[:, :, None, :] * cb[None, :, :, :], axis=3) - half_norms
            codes = scores.argmax(axis=2).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [rb.column(id_col), list_column(codes)], names=[id_col, "codes"]
            )

    id_type = dict(corpus.dtypes)[id_col]
    return u.mapInArrow(assign, schema=f"{id_col} {id_type}, codes array<int>")


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    m: int = 32,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k against a PQ index: per query,
    precompute the m × k_codes lookup table of subvector·centroid
    partial dot products (a few KB), broadcast it with the query, and
    score every corpus vector with m array lookups + a sequential fold
    — no float vector is read at query time, only the m-byte codes.

    cosine ≈ Σ_j  dot(q_j, centroid[j][code_j])  on unit vectors.

    Scale shape: the LUT build is a projection over |queries| × 1
    broadcast-codebook rows; the corpus side is a map-only scan of the
    codes table (1/8th-1/32nd the bytes of the float vectors), and the
    only shuffle anywhere is the final per-query top-k window — same
    as brute force, at a fraction of the scan and compute.
    """
    _pq_check(dim, m)
    sub = dim // m
    q = _unit_vectors(queries, vec_col)
    cbrow = F.broadcast(_pq_codebook_row(codebooks))
    dot = _dot_unrolled_sql("__unit", f"j * {sub}", "c", sub)
    lut = F.expr(
        f"transform(sequence(0, {m - 1}), j -> "
        f"transform(element_at(__cb, j + 1), c -> {dot}))"
    )
    ql = q.crossJoin(cbrow).select(F.col(id_col).alias("query_id"), lut.alias("__lut"))
    # The per-query LUT batch is bounded by construction (a serving
    # batch, not data); collect it and score the codes scan with one
    # vectorized numpy gather per Arrow batch — the interpreted
    # m-lookup fold costs ~64 lambda evals per (query, vector) pair
    # and never codegens. seq_sum over j replays the fold's float
    # order exactly (pinned by test), so the oracle stays bit-green.
    # For oversized query batches, fall back to the broadcast-join JVM
    # path (same semantics, no driver collect).
    lut_rows = ql.collect()  # bounded: one row per query in the batch
    if len(lut_rows) <= 256:
        import numpy as np

        if not lut_rows:  # no queries: the usual plan over no codes
            codes = codes.limit(0)
        qids = [r["query_id"] for r in lut_rows]
        L = np.array([r["__lut"] for r in lut_rows])  # (Q, m, k_codes)
        jj = np.arange(m)
        id_type = dict(codes.dtypes)[id_col]

        def score_batches(batches):
            import pyarrow as pa

            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                ids = rb.column(id_col)
                cmat = arrow_matrix(rb, "codes", dtype=np.int32, width=m)
                picked = L[:, jj, cmat]  # (Q, n, m) gather
                s = seq_sum(picked, axis=2)  # left-fold over j
                qarr = pa.concat_arrays(
                    [pa.array([qid] * n, type=ids.type) for qid in qids]
                )
                nid = pa.concat_arrays([ids] * len(qids))
                yield pa.RecordBatch.from_arrays(
                    [qarr, nid, pa.array(s.ravel())],
                    names=["query_id", "neighbor_id", "adc_cosine"],
                )

        scored = codes.select(F.col(id_col), "codes").mapInArrow(
            score_batches,
            schema=f"query_id {id_type}, neighbor_id {id_type}, adc_cosine double",
        ).filter(F.col("query_id") != F.col("neighbor_id"))
    else:
        score = _adc_score(m)
        scored = (
            codes.select(F.col(id_col).alias("neighbor_id"), "codes")
            .join(F.broadcast(ql), F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", score.alias("adc_cosine"))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    m: int = 32,
    k_codes: int = 16,
    seed: str = "42",
) -> DataFrame:
    """Build + query convenience wrapper: md5 codebooks, then ADC top-k."""
    codes, codebooks = pq_build_codebooks_md5(
        corpus, id_col, vec_col, dim, m, k_codes, seed
    )
    return pq_adc_topk(codes, codebooks, queries, id_col, vec_col, k, dim, m)


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.25,
) -> DataFrame:
    """Exact cosine RANGE search (the FAISS ``range_search`` surface,
    complementing the top-k family): every corpus vector within the
    similarity radius of each query, not a fixed-k cut. Queries are
    collected into the kernel closure; the corpus streams ONCE through
    a numpy Arrow kernel and the radius filter runs inside it — no
    window, no top-k state, output size is data-dependent by
    definition. Linear in
    |corpus|·|queries| like any exact multi-query scan: right while
    the query batch is bounded; for query sets that grow with the
    corpus, block both sides with the hyperplane-bucket machinery
    (dedup_embedding_cosine) instead.
    Returns (query_id, neighbor_id, cosine rounded 6), self-pairs
    excluded.

    The pair scan is the TIERED-PRECISION exact kernel
    (`_screened_pair_fold`): an fp32 sgemm screen at a certified
    margin restricts the bit-parity fp64 left-fold (dim-major
    dot/norms, one IEEE divide — the cosine_topk_bruteforce
    arithmetic) to the ~2% of pairs that can clear the radius, so the
    result set and every returned float are identical to the former
    full-matrix fold while the 100×-replica wall drops from ~52 s to
    low single digits (the r8-verdict scale-killer). Rounding stays
    JVM-side (np.round is half-even; F.round/DuckDB ROUND are
    ties-away). The query axis is scored in chunks (the
    semantic_decontaminate treatment) so kernel working memory stays
    bounded as the query batch grows."""
    import numpy as np

    corpus, qids, qm = _collect_queries(corpus, queries, id_col, vec_col)
    qn = np.sqrt(seq_sum(qm * qm, axis=1))

    def kern(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            v = arrow_matrix(rb, vec_col, width=qm.shape[1])
            cn = np.sqrt(seq_sum(v * v, axis=1))
            ids = rb.column(id_col)
            nids = ids.to_numpy(zero_copy_only=False)
            chunk = max(1, 40_000_000 // rb.num_rows)
            qsel, nsel, cos = [], [], []
            for lo in range(0, qm.shape[0], chunk):
                sl = slice(lo, lo + chunk)
                ci, qi, scores = _screened_pair_fold(v, cn, qm[sl], qn[sl], threshold)
                keep = nids[ci] != qids[lo + qi]
                qsel.append(lo + qi[keep])
                nsel.append(ci[keep])
                cos.append(scores[keep])
            yield _pairs_batch(
                ids, qids, np.concatenate(qsel), np.concatenate(nsel),
                np.concatenate(cos), "__cos",
            )

    src = fan(corpus, id_col, BYTES_PER_TASK).select(id_col, vec_col)
    id_type = dict(src.dtypes)[id_col]
    return src.mapInArrow(
        kern, schema=f"query_id {id_type}, neighbor_id {id_type}, __cos double"
    ).select("query_id", "neighbor_id", F.round("__cos", 6).alias("cosine"))


def standardize_dimensions(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension standardization (whitening without rotation):
    z_k = (x_k - mean_k) / stddev_pop_k. The preprocessing step in
    front of cosine/PCA/IVF when embedding dimensions arrive on
    different scales (mixed encoder versions, concatenated feature
    blocks) — unstandardized, one hot dimension dominates every dot
    product.

    Scale shape: posexplode → per-dimension moments is an aggregation
    keyed by the DIMENSION index, so the shuffle carries d partial-sum
    rows per map task (d = 64 here) no matter the corpus size; the
    d-row stats table is then explicitly broadcast back and the z
    rewrite is one codegen'd corpus pass. Output is flattened to
    (id, component, zvalue) scalars — the driver-attestable shape the
    r5 PCA crash taught (VERDICT r5 #1); components are 1-based.
    """
    ex = emb.select(
        F.col(id_col),
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "__pos", "__v"
        ),
    )
    stats = ex.groupBy("__pos").agg(
        F.avg("__v").alias("__mu"), F.stddev_pop("__v").alias("__sd")
    )
    return (
        ex.join(F.broadcast(stats), "__pos")
        .select(
            id_col,
            (F.col("__pos") + 1).cast("int").alias("component"),
            F.round(
                F.when(F.col("__sd") == 0.0, F.lit(0.0)).otherwise(
                    (F.col("__v") - F.col("__mu")) / F.col("__sd")
                ),
                6,
            ).alias("zvalue"),
        )
    )


def ivf_append_report(
    corpus: DataFrame,
    new_pred,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    seed: str = "42",
) -> DataFrame:
    """Incremental IVF index maintenance — the streaming-ingest path:
    vectors matching ``new_pred`` are an arriving batch appended to an
    index whose md5-sampled centroids were fitted on the BASE corpus
    only. Appending never re-clusters: the fixed centroid table is
    broadcast and assignment is the same map-only max-dot pass the
    query path uses, so ingest cost is one scan of the batch no matter
    how big the index already is (FAISS `add` vs `train`; at 100 TB
    the assignments land in a cell-bucketed table and queries stay
    co-located).

    What re-clustering would fix is drift — so the report surfaces it:
    per cell, base/new/total member counts plus a rebuild_hint that
    fires when the post-append cell exceeds 2x the mean cell size
    (pure integer arithmetic: n_total * n_cells > 2 * total). A
    drifted batch distribution piles into few cells, degrading probe
    recall; the hint is the trigger for scheduling a centroid refit.
    """
    cent_list = md5_sampled_centroid_list(
        corpus.filter(~new_pred), id_col, vec_col, k=n_cells, seed=seed
    )
    # the batch tag rides through the assignment kernel (keep=): one
    # corpus scan, no re-attach shuffle join; centroids stay a driver
    # list (no LocalRelation re-collect — the r7 bench regression)
    tagged = ivf_assign_cells_md5(
        fan(corpus.withColumn("__new", new_pred), id_col),
        id_col,
        cent_list,
        vec_col=vec_col,
        keep=("__new",),
    )
    c = tagged.groupBy("cell").agg(
        F.sum(F.when(~F.col("__new"), 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(F.col("__new"), 1).otherwise(0)).alias("n_new"),
        F.count(F.lit(1)).alias("n_total"),
    )
    # grand total over the POST-AGG report (≤ n_cells rows, bounded by
    # construction): a global window on the tiny frame, not a
    # crossJoin(broadcast(agg)) — the broadcast build added a whole
    # extra job/exchange per call for a 1-row side (r8 ask #3's
    # constant-cost hunt). One of the engine's three intentional
    # bounded global windows (WindowExec logger scoped to ERROR in
    # session.configure_session).
    w_tot = Window.partitionBy()
    return c.select(
        F.col("cell").cast("int").alias("cell"),
        "n_base",
        "n_new",
        "n_total",
        (F.col("n_total") * n_cells > 2 * F.sum("n_total").over(w_tot)).alias(
            "rebuild_hint"
        ),
    )

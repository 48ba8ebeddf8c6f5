"""Coreset / diversity selection for training-data curation.

Greedy k-center (farthest-point traversal, Gonzalez 1985) over an
embedding column: pick the point whose distance to the already-selected
set is LARGEST, k times. The dual of importance resampling
(select_importance_resampling matches a target DISTRIBUTION; k-center
maximizes COVERAGE) — the classic coreset recipe for picking a small,
diverse fine-tuning or eval slice out of a large corpus.

Scale shape: each of the k rounds is ONE map-only corpus pass (a
vectorized Arrow kernel scoring every row against the ≤k selected
centers — the PQ codebook-closure pattern: the center matrix lives in
the kernel closure, bounded by construction) feeding a
TakeOrderedAndProject(1) — no shuffle ever carries more than one row
per partition, and the driver receives exactly one (id, vector, score)
row per round.  k sequential jobs total, the same synchronous-trajectory
cost model as train_quality_classifier's gradient rounds.

Determinism / oracle parity (the sim_cosine_topk conventions):
- distance is cosine distance 1 − dot/(‖a‖·‖b‖), the dot and both
  squared norms accumulated dimension-major over raw doubles (TRUE left
  folds, ``fold_dots``/``seq_sum``) and divided by the PRODUCT of the
  two norms — bit-identical to DuckDB's ``list_cosine_similarity``;
- max-over-centers is exact (IEEE max has no rounding);
- the next center is argmin of max-cosine with ties to the LOWER id,
  via a (score ASC, id ASC) total order both engines replay;
- the seed is the minimum id, so the whole trajectory is a pure
  function of the data and unrolls into a DuckDB CTE chain.

Precondition: every embedding must have a nonzero norm — cosine
distance is undefined at the origin, and a NaN score would order
differently across numpy lexsort (NaN last), Spark orderBy (NaN
greatest) and DuckDB list_cosine_similarity, silently desyncing the
trajectory from the oracle. Both the kernel and the center-matrix
build FAIL FAST on a zero-norm vector instead.

Batch mode (``batch_p``): greedy farthest-point admits provably-safe
batch selection. One pass collects the top-``p`` candidates under the
(score ASC, id ASC) order; the p-th score is a LOWER BOUND on every
out-of-list point's distance-to-centers (adding centers only raises a
point's max-similarity, never lowers it), so candidates can be
admitted driver-side in sequence — each re-verified against the
centers admitted earlier in the same batch with the identical
dim-major fold — for as long as the updated argmin stays STRICTLY
below that bound. The resulting trajectory is bit-identical to the
sequential form (parity-tested), but the k sequential jobs collapse
to ~k/p passes — the regime a real coreset needs (k in the
thousands). When a pass returns fewer than p rows the candidate list
IS the whole remaining corpus, so the rest of the trajectory finishes
driver-side with no further passes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from graphdbetl_spark.functions.vectors import (
    arrow_matrix,
    fold_dots,
    list_column,
    seq_sum,
)
from graphdbetl_spark.operators.skew import BYTES_PER_TASK, fan, pinned

# Plan-evidence hook: the final frame of an iterative operator is the
# driver-built trajectory (Scan ExistingRDD), which shows nothing about
# the per-round job. tools/dump_plans.py sets this to a callable
# receiving (label, DataFrame) for each round's pre-collect frame and
# keeps the first; None in production (one identity check per round).
PLAN_PROBE = None


def _arrow_out(id_col: str, ids, vecs, extra: dict):
    """Output record batch (id_col, __v, *extra) for the trajectory
    kernels' per-batch top-p rows."""
    import pyarrow as pa

    cols = [pa.array(ids, type=pa.int64()), list_column(vecs)]
    names = [id_col, "__v"]
    for name, arr in extra.items():
        cols.append(pa.array(arr, type=pa.float64()))
        names.append(name)
    return pa.RecordBatch.from_arrays(cols, names=names)


def _norms(m):
    """Row norms via the left-fold sum, failing fast on zero norm —
    cosine distance is undefined there and the NaN it would produce
    orders differently across numpy / Spark / DuckDB (silent oracle
    desync)."""
    import numpy as np

    n = np.sqrt(seq_sum(m * m, axis=1))
    if np.any(n == 0.0):
        raise ValueError(
            "zero-norm embedding — cosine distance is undefined; "
            "filter such rows out before selection"
        )
    return n


def _max_cos(v, vn, cm, cn):
    """Max cosine of each row of ``v`` (norms ``vn``) against the
    center matrix ``cm`` (norms ``cn``). Dim-major left-fold dots —
    the SINGLE shared kernel arithmetic, so the executor pass and the
    driver-side batch re-verify produce bit-identical scores (IEEE
    max over a set is order-independent; each pairwise dot folds the
    dimensions in the same sequence on both paths)."""
    return (fold_dots(v, cm) / (vn[:, None] * cn[None, :])).max(axis=1)


def kcenter_select(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    batch_p: int | None = None,
) -> DataFrame:
    """Greedy k-center selection; returns one row per round:
    (step, center_id, radius) where radius is the selected point's
    cosine distance to the previously-selected set (NULL for the
    seed), rounded to 4 decimals JVM-side (ties-away on both engines;
    np.round would be half-even — SCALING.md r6 invariant).

    ``batch_p=None`` runs the classic one-pick-per-pass loop (k
    sequential jobs); ``batch_p=p`` admits up to p provably-exact
    picks per pass (see module docstring) — the same trajectory in
    ~k/p jobs. Embeddings must have nonzero norm (fail-fast)."""
    import numpy as np

    p = max(1, int(batch_p)) if batch_p else 1
    spark = emb.sparkSession
    src = fan(emb, id_col, BYTES_PER_TASK).select(
        id_col, F.transform(vec_col, lambda x: x.cast("double")).alias("__v")
    )
    with pinned(src):
        first = src.orderBy(F.col(id_col).asc()).limit(1).collect()
        if not first:  # an empty corpus selects nothing
            return spark.createDataFrame(
                [], "step int, center_id bigint, radius double"
            )
        seed = first[0]
        centers = [(int(seed[id_col]), np.array(seed["__v"], dtype=np.float64))]
        _norms(centers[0][1][None, :])  # fail fast on a zero-norm seed
        trajectory: list[tuple[int, int, float | None]] = [(1, centers[0][0], None)]

        while len(trajectory) < k:
            cm = np.array([v for _, v in centers], dtype=np.float64)
            cn = _norms(cm)
            picked = frozenset(cid for cid, _ in centers)

            picked_arr = np.fromiter(picked, dtype=np.int64, count=len(picked))

            def kern(batches, cm=cm, cn=cn, picked_arr=picked_arr, p=p):
                for rb in batches:
                    if rb.num_rows == 0:
                        continue
                    ids = rb.column(id_col).to_numpy(zero_copy_only=False)
                    v = arrow_matrix(rb, "__v", width=cm.shape[1])
                    keep = ~np.isin(ids, picked_arr)
                    if not keep.any():
                        continue
                    ids, v = ids[keep], v[keep]
                    vn = _norms(v)
                    mc = _max_cos(v, vn, cm, cn)
                    # partial cut: only each batch's top-p candidates
                    # (by the global (mc ASC, id ASC) order) survive
                    # to the TakeOrdered exchange. Safe for the batch
                    # bound below: a suppressed row sits at or above
                    # its batch's p-th emitted row, which sits at or
                    # above the global p-th collected row.
                    top = np.lexsort((ids, mc))[:p]
                    yield _arrow_out(id_col, ids[top], v[top], {"__mc": mc[top]})

            round_q = (
                src.mapInArrow(
                    kern, schema=f"{id_col} bigint, __v array<double>, __mc double"
                )
                .orderBy(F.col("__mc").asc(), F.col(id_col).asc())
                .limit(p)
            )
            if PLAN_PROBE is not None:
                PLAN_PROBE("kcenter_round", round_q)
            rows = round_q.collect()
            if not rows:  # k exceeds the corpus — trajectory ends early
                break
            # The p-th collected score lower-bounds every point NOT in
            # the candidate list (adding centers never lowers a point's
            # max-similarity). A short list means the list IS the whole
            # remaining corpus — no bound needed, finish driver-side.
            bound = float(rows[-1]["__mc"]) if len(rows) == p else float("inf")
            cand = [
                (int(r[id_col]), np.array(r["__v"], dtype=np.float64), float(r["__mc"]))
                for r in rows
            ]
            admitted: list[np.ndarray] = []
            while cand and len(trajectory) < k:
                if admitted:
                    bm = np.array(admitted, dtype=np.float64)
                    bn = _norms(bm)
                    cand = [
                        (
                            cid,
                            cv,
                            max(s, float(_max_cos(cv[None, :], _norms(cv[None, :]), bm, bn)[0])),
                        )
                        for cid, cv, s in cand
                    ]
                cand.sort(key=lambda t: (t[2], t[0]))
                cid, cv, s = cand[0]
                # First admit of a pass is the exact global argmin.
                # Later admits stay exact only while STRICTLY below the
                # out-of-list lower bound.
                if admitted and not (s < bound):
                    break
                centers.append((cid, cv))
                trajectory.append((len(trajectory) + 1, cid, s))
                admitted.append(cv)
                cand = cand[1:]
            if len(rows) < p and not cand:
                break  # corpus exhausted before reaching k

    out = spark.createDataFrame(
        [(r, cid, mc) for r, cid, mc in trajectory],
        schema="step int, center_id bigint, __mc double",
    )
    return out.select(
        "step",
        "center_id",
        F.round(F.lit(1.0) - F.col("__mc"), 4).alias("radius"),
    )


def mmr_select(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    batch_p: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): greedily pick the point maximizing

        mmr(d) = 0.5·cos(q, d) − 0.5·max_{s∈S} cos(d, s)

    where q is the query vector (the minimum-id row, per the
    sim_cosine_topk seed convention) and S the already-selected set —
    the relevance-weighted sibling of k-center (λ=1 recovers pure
    top-k retrieval, λ=0 pure farthest-point diversity). λ is pinned
    to 0.5 because multiplying by a power of two is IEEE-exact, so
    the combined score is bit-replayable on any engine whose cosine
    matches (the DuckDB oracle's list_cosine_similarity does, per the
    dim-major left-fold convention).

    Scale shape (the kcenter_select cost model): the relevance term
    is round-invariant, so it is computed ONCE in a single map-only
    pass and persisted alongside the vectors; each of the k rounds is
    then one map-only Arrow-kernel pass (selected-set matrix in the
    kernel closure, bounded by k) with a per-batch partial top-p cut
    into a TakeOrdered(p) — no shuffle ever carries more than p rows
    per partition, and the driver receives at most p rows per round.

    ``batch_p=p`` admits up to p provably-exact picks per pass:
    adding centers only RAISES a point's max-similarity, hence only
    LOWERS its mmr score, so the p-th collected score is an UPPER
    bound on every out-of-list point — candidates re-verified against
    the batch's earlier admits stay exact while STRICTLY above that
    bound (the mirror of kcenter_select's lower-bound admission).

    Returns one row per round: (step, selected_id, mmr_score) with
    the score rounded to 4 decimals JVM-side. Embeddings must have
    nonzero norm (fail-fast, same rationale as kcenter_select).
    """
    import numpy as np

    p = max(1, int(batch_p)) if batch_p else 1
    spark = emb.sparkSession
    base = fan(emb, id_col, BYTES_PER_TASK).select(
        id_col, F.transform(vec_col, lambda x: x.cast("double")).alias("__v")
    )
    first = base.orderBy(F.col(id_col).asc()).limit(1).collect()
    if not first:  # an empty corpus has no query row and selects nothing
        return spark.createDataFrame(
            [], "step int, selected_id bigint, mmr_score double"
        )
    qrow = first[0]
    qid = int(qrow[id_col])
    qv = np.array(qrow["__v"], dtype=np.float64)
    qn = float(_norms(qv[None, :])[0])

    def rel_kern(batches, qv=qv, qn=qn, qid=qid):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(id_col).to_numpy(zero_copy_only=False)
            v = arrow_matrix(rb, "__v", width=qv.shape[0])
            keep = ids != qid
            if not keep.any():
                continue
            ids, v = ids[keep], v[keep]
            vn = _norms(v)
            rel = _max_cos(v, vn, qv[None, :], np.array([qn]))
            yield _arrow_out(id_col, ids, v, {"__rel": rel})

    src = base.mapInArrow(
        rel_kern, schema=f"{id_col} bigint, __v array<double>, __rel double"
    )
    with pinned(src):
        selected: list[tuple[int, np.ndarray]] = []
        trajectory: list[tuple[int, int, float]] = []
        while len(trajectory) < k:
            if selected:
                cm = np.array([v for _, v in selected], dtype=np.float64)
                cn = _norms(cm)
            else:
                cm = cn = None
            picked = frozenset(cid for cid, _ in selected)

            picked_arr = np.fromiter(picked, dtype=np.int64, count=len(picked))

            def kern(batches, cm=cm, cn=cn, picked_arr=picked_arr, p=p):
                for rb in batches:
                    if rb.num_rows == 0:
                        continue
                    ids = rb.column(id_col).to_numpy(zero_copy_only=False)
                    v = arrow_matrix(rb, "__v", width=qv.shape[0])
                    rel = rb.column(
                        rb.schema.get_field_index("__rel")
                    ).to_numpy(zero_copy_only=False).astype(np.float64)
                    keep = ~np.isin(ids, picked_arr)
                    if not keep.any():
                        continue
                    ids, v, rel = ids[keep], v[keep], rel[keep]
                    if cm is not None:
                        mc = _max_cos(v, _norms(v), cm, cn)
                        score = 0.5 * rel - 0.5 * mc
                    else:
                        score = 0.5 * rel
                    # partial cut: each batch's top-p by the global
                    # (score DESC, id ASC) order — a suppressed row
                    # sits at or below its batch's p-th emitted row.
                    top = np.lexsort((ids, -score))[:p]
                    yield _arrow_out(
                        id_col, ids[top], v[top],
                        {"__rel": rel[top], "__score": score[top]},
                    )

            round_q = (
                src.mapInArrow(
                    kern,
                    schema=(
                        f"{id_col} bigint, __v array<double>,"
                        " __rel double, __score double"
                    ),
                )
                .orderBy(F.col("__score").desc(), F.col(id_col).asc())
                .limit(p)
            )
            if PLAN_PROBE is not None:
                PLAN_PROBE("mmr_round", round_q)
            rows = round_q.collect()
            if not rows:  # k exceeds the corpus — trajectory ends early
                break
            # The p-th collected score UPPER-bounds every out-of-list
            # point (adding centers never raises an mmr score). A
            # short list is the whole remaining corpus — finish
            # driver-side with no bound.
            bound = float(rows[-1]["__score"]) if len(rows) == p else float("-inf")
            cand = [
                (
                    int(r[id_col]),
                    np.array(r["__v"], dtype=np.float64),
                    float(r["__rel"]),
                    float(r["__score"]),
                )
                for r in rows
            ]
            admitted: list[np.ndarray] = []
            while cand and len(trajectory) < k:
                if admitted:
                    bm = np.array(admitted, dtype=np.float64)
                    bn = _norms(bm)
                    cand = [
                        (
                            cid,
                            cv,
                            rl,
                            min(
                                s,
                                0.5 * rl
                                - 0.5
                                * float(
                                    _max_cos(cv[None, :], _norms(cv[None, :]), bm, bn)[0]
                                ),
                            ),
                        )
                        for cid, cv, rl, s in cand
                    ]
                cand.sort(key=lambda t: (-t[3], t[0]))
                cid, cv, rl, s = cand[0]
                # First admit of a pass is the exact global argmax;
                # later admits stay exact only while STRICTLY above
                # the out-of-list upper bound.
                if admitted and not (s > bound):
                    break
                selected.append((cid, cv))
                trajectory.append((len(trajectory) + 1, cid, s))
                admitted.append(cv)
                cand = cand[1:]
            if len(rows) < p and not cand:
                break  # corpus exhausted before reaching k

    out = spark.createDataFrame(
        trajectory, schema="step int, selected_id bigint, __score double"
    )
    return out.select(
        "step", "selected_id", F.round(F.col("__score"), 4).alias("mmr_score")
    )

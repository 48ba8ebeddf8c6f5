"""Coreset / diversity selection for training-data curation.

Two greedy selections over an embedding column, one round loop
(``_greedy``):

- k-center (farthest-point traversal, Gonzalez 1985): pick the point
  whose cosine distance to the already-selected set is LARGEST, k
  times. The dual of importance resampling (select_importance_resampling
  matches a target DISTRIBUTION; k-center maximizes COVERAGE) — the
  classic coreset recipe for picking a small, diverse fine-tuning or
  eval slice out of a large corpus.
- MMR (Maximal Marginal Relevance): the relevance-weighted sibling,
  see ``mmr_select``.

Each operator hands the loop its first pick and its per-row score over
a NON-EMPTY selected set, a function of the row's max-cosine to that
set; the loop picks the argmax of the score with ties to the LOWER id.

Scale shape: each round is ONE map-only corpus pass (a vectorized
Arrow kernel scoring every unpicked row against the selected set — the
PQ codebook-closure pattern: the set's matrix lives in the kernel
closure, bounded by k) with a per-batch top-p cut feeding a
TakeOrderedAndProject(p), where p is the number of picks still to
make. No shuffle carries more than p rows per partition.

Batch admission: once the selected set is non-empty, adding a pick can
only RAISE a row's max-cosine to the set, hence only LOWER its score,
so the p-th collected score upper-bounds every row NOT in the list for
the rest of the pass. The pass's first admit is the exact global
argmax; the remaining candidates are then re-verified driver-side —
each folds the newest admit into its max-cosine as a running max,
bit-identical to a fold over every admit because ``fold_dots`` computes
each pair on its own and IEEE max is exact — and admitted for as long
as the updated argmax stays STRICTLY above the bound. A list shorter
than p IS the whole remaining corpus, so the trajectory finishes
driver-side with no bound and no further pass. The first pick is made
before any bound is used: over an EMPTY set the monotonicity does not
hold (a negative cosine to MMR's first pick raises a score above its
0.5·rel). The trajectory is the one-pick-per-pass trajectory, in
about k/p passes.

Determinism / oracle parity (the sim_cosine_topk conventions):
- distance is cosine distance 1 − dot/(‖a‖·‖b‖), the dot and both
  squared norms accumulated dimension-major over raw doubles (TRUE left
  folds, ``fold_dots``/``seq_sum``) and divided by the PRODUCT of the
  two norms — bit-identical to DuckDB's ``list_cosine_similarity``;
- max-over-selected is exact (IEEE max has no rounding);
- the (score DESC, id ASC) total order is replayed by both engines;
- the first pick is a pure function of the data (k-center: the
  minimum id), so the whole trajectory unrolls into a DuckDB CTE chain.

Precondition: every embedding must have a nonzero norm — cosine
distance is undefined at the origin, and a NaN score would order
differently across numpy lexsort (NaN last), Spark orderBy (NaN
greatest) and DuckDB list_cosine_similarity, silently desyncing the
trajectory from the oracle. Both the kernels and the driver-side norm
of the first pick FAIL FAST on a zero-norm vector instead.
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
    """Output record batch (id_col, __v, *extra) for the kernels'
    per-batch rows."""
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
    matrix ``cm`` (norms ``cn``). Dim-major left-fold dots — the
    SINGLE shared kernel arithmetic, so the executor pass and the
    driver-side re-verify produce bit-identical scores (IEEE max over
    a set is order-independent; each pairwise dot folds the dimensions
    in the same sequence on both paths)."""
    return (fold_dots(v, cm) / (vn[:, None] * cn[None, :])).max(axis=1)


def _vectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id_col, __v) with the embedding cast to doubles, fanned out by
    bytes per task."""
    return fan(emb, id_col, BYTES_PER_TASK).select(
        id_col, F.transform(vec_col, lambda x: x.cast("double")).alias("__v")
    )


def _greedy(src, id_col, first, score, carry, k, label):
    """The greedy round loop both selections share (module docstring).

    ``src`` is the caller-pinned (id_col, __v, *carry) frame, ``carry``
    the names of its per-row double columns; ``first`` is the first
    pick as (id, vector, score), or None for an empty corpus;
    ``score(mc, *carry)`` maps a row's max-cosine to the non-empty
    selected set to the score the loop maximizes, ties to the lower
    id. Returns the trajectory as [(step, id, score)]."""
    import numpy as np

    if first is None:
        return []
    fid, fv, fs = first
    _norms(fv[None, :])  # fail fast on a zero-norm first pick
    width = fv.shape[0]
    sel_ids, sel_vecs = [fid], [fv]
    trajectory = [(1, fid, fs)]
    schema = ", ".join(
        [f"{id_col} bigint", "__v array<double>"]
        + [f"{c} double" for c in (*carry, "__mc", "__s")]
    )
    while len(trajectory) < k:
        p = k - len(trajectory)
        cm = np.array(sel_vecs, dtype=np.float64)
        cn = _norms(cm)
        picked = np.array(sel_ids, dtype=np.int64)

        def kern(batches, cm=cm, cn=cn, picked=picked, p=p):
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                ids = rb.column(id_col).to_numpy(zero_copy_only=False)
                v = arrow_matrix(rb, "__v", width=width)
                keep = ~np.isin(ids, picked)
                if not keep.any():
                    continue
                ids, v = ids[keep], v[keep]
                cols = [rb.column(c).to_numpy(zero_copy_only=False)[keep] for c in carry]
                mc = _max_cos(v, _norms(v), cm, cn)
                s = score(mc, *cols)
                # partial cut: only each batch's top-p by the global
                # (s DESC, id ASC) order reach the TakeOrdered
                # exchange. Safe for the bound: a suppressed row sits
                # at or below its batch's p-th emitted row, which sits
                # at or below the global p-th collected row.
                top = np.lexsort((ids, -s))[:p]
                extra = {c: x[top] for c, x in zip(carry, cols)}
                extra.update(__mc=mc[top], __s=s[top])
                yield _arrow_out(id_col, ids[top], v[top], extra)

        round_q = (
            src.mapInArrow(kern, schema=schema)
            .orderBy(F.col("__s").desc(), F.col(id_col).asc())
            .limit(p)
        )
        if PLAN_PROBE is not None:
            PLAN_PROBE(label, round_q)
        rows = round_q.collect()
        if not rows:  # k exceeds the corpus — trajectory ends early
            break
        # A short list is the whole remaining corpus: no bound.
        bound = rows[-1]["__s"] if len(rows) == p else -np.inf
        ids = np.array([r[id_col] for r in rows], dtype=np.int64)
        v = np.array([r["__v"] for r in rows], dtype=np.float64)
        vn = _norms(v)
        mc = np.array([r["__mc"] for r in rows], dtype=np.float64)
        cols = [np.array([r[c] for r in rows], dtype=np.float64) for c in carry]
        s = np.array([r["__s"] for r in rows], dtype=np.float64)
        admits = 0
        while ids.size and len(trajectory) < k:
            i = np.lexsort((ids, -s))[0]
            if admits and not s[i] > bound:
                break  # later admits are exact only STRICTLY above it
            sel_ids.append(int(ids[i]))
            sel_vecs.append(v[i])
            trajectory.append((len(trajectory) + 1, int(ids[i]), float(s[i])))
            admits += 1
            newest, newest_n = v[i : i + 1], vn[i : i + 1]
            rest = np.arange(ids.size) != i
            ids, v, vn, mc = ids[rest], v[rest], vn[rest], mc[rest]
            cols = [c[rest] for c in cols]
            mc = np.maximum(mc, _max_cos(v, vn, newest, newest_n))
            s = score(mc, *cols)
        if len(rows) < p:
            break  # the corpus is exhausted
    return trajectory


def kcenter_select(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """Greedy k-center selection; returns one row per round:
    (step, center_id, radius) where radius is the selected point's
    cosine distance to the previously-selected set (NULL for the
    seed, the minimum id), rounded to 4 decimals JVM-side (ties-away
    on both engines; np.round would be half-even — SCALING.md r6
    invariant).

    The loop maximizes −max-cosine, so the radius 1 − mc is 1 + score
    (IEEE x − y is x + (−y), exactly). Embeddings must have nonzero
    norm (fail-fast)."""
    import numpy as np

    src = _vectors(emb, id_col, vec_col)
    with pinned(src):
        seed = src.orderBy(F.col(id_col).asc()).limit(1).collect()
        first = (
            (int(seed[0][id_col]), np.array(seed[0]["__v"], dtype=np.float64), None)
            if seed
            else None
        )
        trajectory = _greedy(
            src, id_col, first, lambda mc: -mc, (), k, "kcenter_round"
        )
    out = emb.sparkSession.createDataFrame(
        trajectory, schema="step int, center_id bigint, __s double"
    )
    return out.select(
        "step",
        "center_id",
        F.round(F.lit(1.0) + F.col("__s"), 4).alias("radius"),
    )


def mmr_select(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): greedily pick the point maximizing

        mmr(d) = 0.5·cos(q, d) − 0.5·max_{s∈S} cos(d, s)

    where q is the query vector (the minimum-id row, per the
    sim_cosine_topk seed convention, excluded from the candidates) and
    S the already-selected set — the relevance-weighted sibling of
    k-center (λ=1 recovers pure top-k retrieval, λ=0 pure
    farthest-point diversity). λ is pinned to 0.5 because multiplying
    by a power of two is IEEE-exact, so the combined score is
    bit-replayable on any engine whose cosine matches (the DuckDB
    oracle's list_cosine_similarity does, per the dim-major left-fold
    convention). Over the empty S the score is 0.5·rel: the first
    pick is the argmax of 0.5·rel, ties to the lower id.

    The relevance term rel = cos(q, d) is round-invariant, so it is
    computed ONCE in a single map-only pass, held alongside the
    vectors and carried through the rounds of the shared loop.

    Returns one row per round: (step, selected_id, mmr_score) with
    the score rounded to 4 decimals JVM-side. Embeddings must have
    nonzero norm (fail-fast, same rationale as kcenter_select).
    """
    import numpy as np

    base = _vectors(emb, id_col, vec_col)
    q = base.orderBy(F.col(id_col).asc()).limit(1).collect()
    trajectory = []
    if q:  # an empty corpus has no query row and selects nothing
        qid = int(q[0][id_col])
        qv = np.array(q[0]["__v"], dtype=np.float64)
        qn = _norms(qv[None, :])

        def rel_kern(batches):
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                ids = rb.column(id_col).to_numpy(zero_copy_only=False)
                v = arrow_matrix(rb, "__v", width=qv.shape[0])
                keep = ids != qid
                if not keep.any():
                    continue
                ids, v = ids[keep], v[keep]
                rel = _max_cos(v, _norms(v), qv[None, :], qn)
                yield _arrow_out(id_col, ids, v, {"__rel": rel})

        src = base.mapInArrow(
            rel_kern, schema=f"{id_col} bigint, __v array<double>, __rel double"
        )
        with pinned(src):
            top = (
                src.orderBy((F.col("__rel") * 0.5).desc(), F.col(id_col).asc())
                .limit(1)
                .collect()
            )
            first = (
                (
                    int(top[0][id_col]),
                    np.array(top[0]["__v"], dtype=np.float64),
                    0.5 * top[0]["__rel"],
                )
                if top
                else None
            )
            trajectory = _greedy(
                src,
                id_col,
                first,
                lambda mc, rel: 0.5 * rel - 0.5 * mc,
                ("__rel",),
                k,
                "mmr_round",
            )
    out = emb.sparkSession.createDataFrame(
        trajectory, schema="step int, selected_id bigint, __s double"
    )
    return out.select(
        "step", "selected_id", F.round(F.col("__s"), 4).alias("mmr_score")
    )

"""Vector math over ``array<float>`` embedding columns.

Two kernels compute the same cosine, bit-identical to each other
(pinned in tests/test_similarity.py):

* ``dot`` / ``l2_norm`` / ``cosine_sim_exprs`` — pure Catalyst
  higher-order functions (``zip_with`` + ``aggregate``). No Python
  worker and no call-site constraint, but HOFs are CodegenFallback:
  every row interprets three lambda chains, ~µs/row.
* ``cosine_sim`` — a zero-copy ``arrow_udf`` that replays the SAME
  IEEE-754 operation sequence with numpy over the Arrow values buffer.
  It pays a Python-worker round trip per batch, which only a large
  candidate volume amortizes.

Routing: one paired order-alternating A/B per call-site family
(pandas / HOF / Arrow variants in one process, sf0.1, 4 cores, 6 reps,
md5-equal across variants; variant minima in seconds; ties go to the
HOF form, which needs no Python worker and has no call-site
constraint):

=======================  =================================  =====  =====  ======
family                   entry measured                     HOF    Arrow  routed
=======================  =================================  =====  =====  ======
query-batch top-k        ann_ivf_scaled                     1.137  1.174  HOF
corpus self-cosine       q_embedding_stats                  0.374  0.581  HOF
candidate-pair verify    embedding_neardup_banded_scaled    2.452  1.181  Arrow
streaming-gate tier 2    stream_embedding_admit_scaled      2.133  2.429  HOF
brute-force top-k        ann_brute_topk (12.5k pairs)       0.537  0.749  HOF
corpus-scale scorers     emb_knn_graph (2.56 M pairs)       ·      wins   Arrow
=======================  =================================  =====  =====  ======

Query-batch top-k covers ``ann_srp_lsh``, ``ann_ivf``,
``ann_ivf_scaled`` and ``ivf_index_serve``; candidate-pair verify
covers ``banded_neardup_pairs`` and both SemDeDup pair sets; the
corpus-scale scorers are the kNN graph and the incremental/persisted
SRP ANN. The last two rows come from earlier A/Bs; the kNN one beat a
pandas UDF form by 1.23× on the minima.

Floats are widened to double *before* any arithmetic so accumulation
order and precision match the DuckDB oracle (which computes list_* in
double).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, functions as F


def _d(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with left-to-right double accumulation."""
    return F.aggregate(F.zip_with(_d(a), _d(b), lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(_d(a), lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_sim_exprs(a: Column, b: Column) -> Column:
    """Cosine similarity as Catalyst expressions; NULL (not an ANSI
    divide-by-zero crash) when either vector has zero norm — a zero
    vector has no direction, and a NULL similarity drops out of every
    top-k/threshold filter, which is the only sensible semantics for
    degenerate embeddings. NULL inputs, NULL elements and ragged pairs
    (``zip_with`` pads with NULL) are NULL too."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def _cos_row(x, y) -> float:
    """Per-row replay of the exact Catalyst sequence, for ragged /
    mismatched-length pairs only (zip_with pads → NULL dot → NULL)."""
    if len(x) != len(y):
        return float("nan")
    d = 0.0
    sa = 0.0
    sb = 0.0
    for xi, yi in zip(x, y):
        xd = float(xi)
        yd = float(yi)
        d = d + xd * yd
        sa = sa + xd * xd
        sb = sb + yd * yd
    denom = np.sqrt(sa) * np.sqrt(sb)
    return d / denom if denom > 0 else float("nan")


def _list_matrix(arr: pa.Array) -> np.ndarray | None:
    """(n, d) float64 matrix over a fixed-dim ``ListArray<float>``'s
    VALUES BUFFER — the guide §4.2 re-slice trick: an Arrow list column
    is one contiguous values buffer plus offsets, so a fixed-dim batch
    reshapes into a matrix without touching a single row object. None
    → caller takes the row-wise fallback (ragged lengths, null rows or
    null elements — never the fixture corpora).

    ``arr.values`` is the WHOLE child buffer, ignoring a slice's
    offset, so the null check runs on the sliced range only: a null
    outside the slice must not demote the batch to the row loop."""
    if arr.null_count:
        return None
    try:
        offs = arr.offsets.to_numpy()
    except AttributeError:          # not a list-typed array
        return None
    lens = np.diff(offs)
    if len(lens) == 0 or lens.min() != lens.max():
        return None
    vals = arr.values.slice(int(offs[0]), int(offs[-1] - offs[0]))
    if vals.null_count:
        return None
    return (vals.to_numpy(zero_copy_only=True)
            .reshape(len(lens), int(lens[0])).astype(np.float64))


def cosine_sim(a: Column, b: Column) -> Column:
    """:func:`cosine_sim_exprs` as a zero-copy Arrow-native UDF
    (``arrow_udf``, Spark 4.1): it receives the raw ``pa.ListArray``
    and reshapes its contiguous values buffer into the (rows × dim)
    matrix without a per-row object (``_list_matrix``), so the
    per-batch Python work is the dim loop alone.

    Bit-identical to the HOF form by construction: the dim loop
    applies the SAME IEEE-754 double operation sequence the
    ``aggregate`` fold does — per step one rounded multiply then one
    rounded add, left to right — vectorized ACROSS rows instead of
    along the vector, so no pairwise / BLAS re-association sneaks in.
    float32 → float64 widening is exact; ``Math.sqrt`` and ``np.sqrt``
    are both correctly rounded; denom and the final divide each round
    once in both forms. A zero/NaN denom fails ``denom > 0`` in both
    and is NULL here (``from_pandas=True`` maps NaN to null).
    Degenerate rows (null row, null element, ragged) drop to a per-row
    replay of the Catalyst sequence.

    PRECONDITION — finite inputs: ±inf elements give denom = inf > 0
    with a NaN ratio, which the HOF form returns as NaN (sorted ABOVE
    all doubles by a descending top-k) while this form returns NULL
    (dropped by threshold filters). Callers feeding unsanitized
    external vectors must filter non-finite rows first; the engine's
    similarity operators all consume the generated corpus tables,
    which are finite by construction.

    CALL-SITE CONSTRAINT: returned as a nondeterministic expression,
    so it is valid in Project/Filter positions only — Spark's analyzer
    rejects nondeterministic expressions inside join conditions,
    aggregate-function arguments and generator inputs, and it blocks
    pushdown of unrelated filters below the projection. The mark is
    what keeps the UDF single-eval: the threshold consumers filter on
    the cosine column above the projection, and a pushed-down filter
    referencing a UDF-computed column duplicates the ArrowEvalPython
    below itself (guide §4.4; pinned in tests/test_udf_single_eval.py).
    The function is deterministic, so blocking reorder/duplication
    changes no result."""

    @F.arrow_udf("double")
    def _cos(av: pa.Array, bv: pa.Array) -> pa.Array:
        A = _list_matrix(av)
        B = _list_matrix(bv)
        if A is None or B is None or A.shape[1] != B.shape[1]:
            def clean(x):
                # a NULL element poisons dot AND norm to NaN, which the
                # denom>0 gate maps to NULL — Catalyst's null algebra
                return [float("nan") if v is None else v for v in x]

            out = [None if (x is None or y is None)
                   else _cos_row(clean(x), clean(y))
                   for x, y in zip(av.to_pylist(), bv.to_pylist())]
            return pa.array([None if v is None or np.isnan(v) else v
                             for v in out], type=pa.float64())
        d = np.zeros(len(A))
        sa = np.zeros(len(A))
        sb = np.zeros(len(A))
        for i in range(A.shape[1]):
            ai = A[:, i]
            bi = B[:, i]
            d = d + ai * bi
            sa = sa + ai * ai
            sb = sb + bi * bi
        denom = np.sqrt(sa) * np.sqrt(sb)
        with np.errstate(divide="ignore", invalid="ignore"):
            c = np.where(denom > 0, d / denom, np.nan)
        return pa.array(c, type=pa.float64(), from_pandas=True)

    return _cos.asNondeterministic()(a, b)

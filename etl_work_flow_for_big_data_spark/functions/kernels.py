"""Vectorized similarity kernels (Arrow/numpy) — the fast path for
all-pairs and query-vs-corpus cosine at scale.

The pure-expression cosine in functions/vectors.py is the semantic
reference, but Catalyst evaluates higher-order functions interpreted
per pair — O(pairs × dim) with per-pair array allocation. These
kernels compute the same values through numpy over Arrow batches,
~100× faster, while staying BIT-IDENTICAL to the expression form (and
the DuckDB oracle): accumulation runs as an explicit per-dimension
loop, ``acc += a[i]*b[i]`` left-to-right in float64 — exactly the fold
order of ``aggregate(zip_with(...))`` — and rounding is left to the
caller's Spark-side ``F.round`` (numpy's round is banker's; Spark's is
HALF_UP — never round inside the kernel).

Scale model: one side (queries, or the pair-join's right block) is a
small broadcast matrix; the big side streams through mapInPandas in
Arrow batches. At 100 TB the broadcast side must be blocked or
LSH-bucketed first (operators/similarity.py); these kernels are the
per-block compute.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n×d) vs (m×d) → (n×m) dot products with left-to-right
    per-dimension accumulation (bit-identical to the SQL fold; do NOT
    replace with A @ B.T — BLAS reorders the sum)."""
    n, m = A.shape[0], B.shape[0]
    acc = np.zeros((n, m), dtype=np.float64)
    for i in range(A.shape[1]):
        acc += A[:, i : i + 1] * B[None, :, i]
    return acc


def _fold_norm_sq(A: np.ndarray) -> np.ndarray:
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        acc += A[:, i] * A[:, i]
    return acc


def _as_matrix(col: pd.Series, dim: int | None = None) -> np.ndarray:
    """Batch of array rows → (n, dim) float64 matrix, TOTAL on any
    input: a NULL or wrong-dimension row becomes an all-NaN row (its
    cosine is NaN, which every downstream prefilter rejects) instead
    of a task-killing ragged-array ValueError — at 100 TB one null
    embedding must not abort the job.

    ``dim`` is the expected width when the caller knows it (the
    broadcast corpus width, or the paired block's width) — always pass
    it when available. When absent it is inferred as the MODAL
    well-formed row length of the batch (ties → larger), never the
    first row's: a single corrupted row that happens to lead a batch
    must not blank every good row behind it (or truncate the fold).
    An all-degenerate batch yields an (n, 0) matrix whose scores are
    empty."""
    rows = [None if v is None else np.asarray(v, dtype=np.float64) for v in col]
    if dim is None:
        counts: dict[int, int] = {}
        for r in rows:
            if r is not None:
                counts[len(r)] = counts.get(len(r), 0) + 1
        dim = max(counts, key=lambda w: (counts[w], w)) if counts else 0
    out = np.full((len(rows), dim), np.nan, dtype=np.float64)
    for i, r in enumerate(rows):
        if r is not None and len(r) == dim:
            out[i] = r
    return out


_BLAS_PINNED = False


def _pin_blas_single_thread() -> None:
    """Best-effort: pin the worker's OpenBLAS pool to ONE thread.
    The two-phase kernel issues gemm calls from up to 32 concurrent
    Python workers on this box (one per core at 100-TB scale too —
    Spark owns the parallelism); a default multi-threaded BLAS would
    oversubscribe cores 32×32. numpy wheels bundle OpenBLAS under
    numpy.libs with a ctypes-reachable setter; if the lookup fails
    (different BLAS, renamed lib) we proceed unpinned — correctness
    is unaffected, only scheduling."""
    global _BLAS_PINNED
    if _BLAS_PINNED:
        return
    _BLAS_PINNED = True
    import ctypes
    import glob
    import os

    roots = (
        os.path.join(os.path.dirname(np.__file__), "..", "numpy.libs"),
        os.path.join(os.path.dirname(np.__file__), ".libs"),
    )
    for root in roots:
        for path in glob.glob(os.path.join(root, "lib*openblas*.so*")):
            try:
                lib = ctypes.CDLL(path)
                for sym in ("openblas_set_num_threads64_",
                            "openblas_set_num_threads"):
                    fn = getattr(lib, sym, None)
                    if fn is not None:
                        fn(1)
                        return
            except OSError:
                continue


#: BLAS-vs-fold-order cosine discrepancy bound used by the two-phase
#: kernel's candidate margin. For d=64 unit-scale embeddings the true
#: bound is ~d·2⁻⁵²·|cos| ≈ 1e-14; 1e-9 leaves five orders of safety
#: while admitting no extra candidate a human could name. Values this
#: close to the prefilter are rescored exactly anyway, so the margin
#: affects WORK, never RESULTS.
_BLAS_MARGIN = 1e-9

#: rescore gather slice: bounds the (pairs × dim) gathered copies to
#: ~270 MB even when a degenerate near-clique block passes everything
_RESCORE_SLICE = 1 << 18


def _score_block(
    ids_a: np.ndarray,
    A: np.ndarray,
    ids_b: np.ndarray,
    B: np.ndarray,
    norms_b: np.ndarray,
    mode: str,
    prefilter: float | None,
) -> pd.DataFrame:
    """Score one (A-rows × B-rows) block: fold-order cosine, mode mask
    (pairs: a<b / all: a≠b / full: everything), NaN exclusion,
    optional raw prefilter. The ONE home of these rules — both the
    broadcast-corpus kernel and the executor-side pair grid call it,
    so the bit-exactness and zero-norm contracts cannot drift apart.

    Two-phase when a prefilter exists (r9, the x64 probe finding):
    the bit-exact ``_fold_dot`` is d full passes over the n×m score
    matrix — ~16 TB of memory traffic for a 128k-vector block grid,
    >10 min where BLAS gemm needs seconds. Phase 1 computes ``A@B.T``
    (gemm, ~80× faster) and keeps candidates at ``prefilter −
    _BLAS_MARGIN`` (NaN/±Inf rows are always candidates: transient
    overflow can differ between summation orders, so nonfinite
    phase-1 scores must reach the exact pass rather than be judged).
    Phase 2 rescores ONLY survivors with the exact left-to-right
    fold — the emitted ``cos_raw`` is bit-identical to the pure fold
    path because every pair that could pass the exact prefilter is
    within the margin bound (|gemm − fold| ≤ ~1e-14 ≪ margin for the
    finite case; embeddings are unit-scale by contract, so no
    transient-overflow asymmetry arises below ~1e150 components).
    Without a prefilter every pair is emitted, so phase 1 could save
    nothing — the pure fold path is kept (its small-B shapes, the
    broadcast top-k path, are fast already)."""
    if mode == "pairs":
        keep = ids_a[:, None] < ids_b[None, :]
    elif mode == "all":
        keep = ids_a[:, None] != ids_b[None, :]
    else:  # full
        keep = np.ones((len(ids_a), len(ids_b)), dtype=bool)

    if prefilter is None:
        cos = _fold_dot(A, B) / np.sqrt(
            _fold_norm_sq(A)[:, None] * norms_b[None, :]
        )
        # zero-norm vectors have undefined cosine (0/0 → NaN);
        # they are EXCLUDED from pairing by contract, explicitly —
        # Arrow would otherwise coerce the NaN to NULL on transfer
        # (pandas NaN == missing), silently diverging from what the
        # expression path produces. One rule, every path.
        keep &= ~np.isnan(cos)
        r, c = np.nonzero(keep)
        return pd.DataFrame(
            {"d1": ids_a[r], "d2": ids_b[c], "cos_raw": cos[r, c]}
        )

    _pin_blas_single_thread()
    norms_a = _fold_norm_sq(A)
    denom = np.sqrt(norms_a[:, None] * norms_b[None, :])
    with np.errstate(invalid="ignore", over="ignore", divide="ignore"):
        cos1 = (A @ B.T) / denom
        keep &= ~np.isfinite(cos1) | (cos1 >= prefilter - _BLAS_MARGIN)
    r, c = np.nonzero(keep)

    d1_parts, d2_parts, cos_parts = [], [], []
    d = A.shape[1]
    for lo in range(0, len(r), _RESCORE_SLICE):
        rs, cs = r[lo: lo + _RESCORE_SLICE], c[lo: lo + _RESCORE_SLICE]
        Ar, Bc = A[rs], B[cs]
        acc = np.zeros(len(rs), dtype=np.float64)
        for k in range(d):  # exact fold order, vectorized over pairs
            acc += Ar[:, k] * Bc[:, k]
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = acc / np.sqrt(norms_a[rs] * norms_b[cs])
        ok = ~np.isnan(cos)  # the zero-norm/NaN exclusion contract
        ok &= cos >= prefilter
        d1_parts.append(ids_a[rs][ok])
        d2_parts.append(ids_b[cs][ok])
        cos_parts.append(cos[ok])
    if not d1_parts:
        return pd.DataFrame(
            {
                "d1": pd.Series(dtype="int64"),
                "d2": pd.Series(dtype="int64"),
                "cos_raw": pd.Series(dtype="float64"),
            }
        )
    return pd.DataFrame(
        {
            "d1": np.concatenate(d1_parts),
            "d2": np.concatenate(d2_parts),
            "cos_raw": np.concatenate(cos_parts),
        }
    )


def pairwise_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    corpus: list[tuple[int, list[float]]],
    mode: str = "pairs",
) -> DataFrame:
    """Cosine of every df row against every corpus vector.

    ``corpus`` is the (small, broadcastable) side as (id, vector)
    tuples — collect it from a DataFrame of dim-table size only.
    mode='pairs' keeps row_id < corpus_id (self-join dedup);
    mode='all' keeps row_id != corpus_id (query-vs-corpus);
    mode='full' keeps every pair (corpus ids in a separate id space —
    e.g. refined k-means centroids — where equality is meaningless).
    Returns (d1, d2, cos_raw) — caller rounds/filters/ranks Spark-side.
    """
    if mode not in ("pairs", "all", "full"):
        raise ValueError(f"mode must be pairs|all|full, got {mode!r}")
    if not corpus:
        # empty query/centroid set → empty result, not a numpy shape error
        spark = df.sparkSession
        return spark.createDataFrame([], "d1 long, d2 long, cos_raw double")
    corpus_ids = np.array([c[0] for c in corpus], dtype=np.int64)
    corpus_mat = np.array([c[1] for c in corpus], dtype=np.float64)
    corpus_norms = _fold_norm_sq(corpus_mat)
    src = df.select(F.col(id_col).alias("d1"), F.col(vec_col).alias("v"))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # force the corpus width: rows of any other dimension are
            # degenerate by contract (NaN'd), never dim-setting
            A = _as_matrix(pdf["v"], corpus_mat.shape[1])
            ids = pdf["d1"].to_numpy(dtype=np.int64)
            yield _score_block(
                ids, A, corpus_ids, corpus_mat, corpus_norms, mode, None
            )

    return src.mapInPandas(compute, schema="d1 long, d2 long, cos_raw double")

"""The two keystone optimizer rules that Catalyst does NOT cover.

Reference: ``workflow/Optimizer.scala`` is a Catalyst-style rule executor
over the ML dataflow graph. Of its rules (SURVEY.md §4.2), Catalyst/AQE
already provides branch pruning, CSE-within-a-plan, and all relational
rewrites. What survives here, in Python above Catalyst:

- R2 AutoCacheRule -> ``auto_cache_plan``: decide which intermediate
  DataFrames to persist given reuse counts and a memory budget
  (greedy by estimated bytes saved, like keystone's GreedyCache).
- R3 NodeOptimizationRule -> ``local_frame`` and ``choose_solver``:
  cost-model operator selection (reference:
  nodes/learning/LeastSquaresEstimator.scala picking BCD vs dense/sparse
  LBFGS vs local solve from (n, d, k, mem)). ``local_frame`` decides, from
  one bounded collect instead of a row count, whether an estimator with a
  driver-local kernel (k-means, least squares) fits its input on the
  driver; ``choose_solver`` picks the distributed least-squares solver for
  an input that does not fit.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row

# Most bytes of doubles an estimator collects to fit on the driver
# (KeystoneML's LocalLeastSquaresEstimator / KMeansPlusPlusEstimator regime).
# The rows arrive as Arrow buffers (plus a 4-byte offset per row, no
# per-row objects); while it fits, the driver holds the payload at most
# twice: the collected batches and the one buffer ``as_matrix`` combines
# them into and reads the matrix from.
LOCAL_BYTES = 256 << 20


@dataclass
class SolverChoice:
    strategy: str  # 'normal' | 'lbfgs'
    reason: str


def choose_solver(n_features: int, sparse: bool = False) -> SolverChoice:
    """Pick the distributed least-squares solver for an input that
    ``local_frame`` found too large for the driver.

    Mirrors the reference cost model's decision structure:
    - d small enough that the d x d gram matrix is cheap: normal equations
      (one distributed pass, exact; MLlib's normal solver stops at 4096)
    - otherwise: L-BFGS iterations (keystone's BCD/LBFGS regime; MLlib's
      l-bfgs covers the same communication/iteration trade-off)
    """
    if sparse:
        return SolverChoice("lbfgs", "sparse gradients -> iterative solver")
    if n_features <= 4096:
        gram_mb = n_features * n_features * 8 >> 20
        return SolverChoice("normal", f"gram {gram_mb}MB cheap, exact one-pass")
    return SolverChoice("lbfgs", f"d={n_features} too wide for normal equations")


def local_rows(n_features: int) -> int:
    """The most rows of ``n_features`` doubles an estimator fits on the
    driver."""
    return (LOCAL_BYTES - 1) // (8 * max(n_features, 1))


def local_frame(df: DataFrame, cols: Sequence[str]) -> tuple[Row, pa.Table | None]:
    """The first row of ``df[cols]``, and ``df[cols]`` as one Arrow table
    when it fits the driver budget, else ``None`` (the caller then takes
    its distributed path). ``cols[0]`` is the feature array whose length
    sets the row width. This is the one local-versus-distributed decision
    (KeystoneML's NodeOptimizationRule picking a local operator).

    Two jobs and no ``count()``: a ``first()`` for the width, then one
    Arrow collect of at most ``local_rows + 1`` rows, so the driver never
    receives more than the budget before the caller picks its operator.
    Over the budget that collect is a wasted pass: on more than one
    partition Spark's limit shuffles up to ``local_rows + 1`` rows of each
    partition to one. A plan-statistics pre-check cannot skip it: Catalyst
    sizes an input built from local rows near ``Long.MaxValue`` and a join
    by the product of its sides."""
    sel = df.select(*cols)
    first = sel.first()
    if first is None:
        raise ValueError("cannot fit on an empty input")
    budget = local_rows(len(first[0]))
    tbl = sel.limit(budget + 1).toArrow()
    return first, (tbl if tbl.num_rows <= budget else None)


def as_matrix(col: pa.ChunkedArray) -> np.ndarray:
    """An array column of a collected Arrow table as an n x d float64
    matrix (a scalar column as n x 1), read from the Arrow buffers with no
    per-row objects."""
    arr = col.combine_chunks()
    if not pa.types.is_list(arr.type):
        return arr.to_numpy(zero_copy_only=False).astype(np.float64)[:, None]
    widths = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
    if arr.null_count or (len(widths) and (widths != widths[0]).any()):
        raise ValueError("feature rows must be non-null arrays of one length")
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(len(arr), -1)


@dataclass
class CacheDecision:
    node: str
    persist: bool
    est_bytes: int
    reuse: int


def auto_cache_plan(
    nodes: list[tuple[str, int, int]],
    mem_budget_bytes: int,
) -> list[CacheDecision]:
    """Greedy cache placement (R2): given (name, est_bytes, reuse_count)
    per candidate intermediate, persist highest (reuse-1)*bytes saved first
    while the budget lasts. Pure function so it's unit-testable; Pipeline
    uses a degenerate form (persist every estimator input) and callers with
    profiles can use this directly.
    """
    ranked = sorted(
        (n for n in nodes if n[2] > 1),
        key=lambda n: (n[2] - 1) * n[1],
        reverse=True,
    )
    out: list[CacheDecision] = []
    left = mem_budget_bytes
    chosen = set()
    for name, est_bytes, reuse in ranked:
        if est_bytes <= left:
            out.append(CacheDecision(name, True, est_bytes, reuse))
            chosen.add(name)
            left -= est_bytes
    for name, est_bytes, reuse in nodes:
        if name not in chosen:
            out.append(CacheDecision(name, False, est_bytes, reuse))
    return out

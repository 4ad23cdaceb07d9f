"""The two keystone optimizer rules that Catalyst does NOT cover.

Reference: ``workflow/Optimizer.scala`` is a Catalyst-style rule executor
over the ML dataflow graph. Of its rules (SURVEY.md §4.2), Catalyst/AQE
already provides branch pruning, CSE-within-a-plan, and all relational
rewrites. What survives here, in Python above Catalyst:

- R2 AutoCacheRule -> ``auto_cache_plan``: decide which intermediate
  DataFrames to persist given reuse counts and a memory budget
  (greedy by estimated bytes saved, like keystone's GreedyCache).
- R3 NodeOptimizationRule -> ``choose_solver``: cost-model solver selection
  for least squares (reference: nodes/learning/LeastSquaresEstimator.scala
  picking BCD vs dense/sparse LBFGS vs local solve from (n, d, k, mem)).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class SolverChoice:
    strategy: str  # 'local' | 'normal' | 'lbfgs'
    reason: str


def choose_solver(
    n_rows: int,
    n_features: int,
    n_targets: int = 1,
    executor_mem_bytes: int = 8 << 30,
    driver_mem_bytes: int = 4 << 30,
    sparse: bool = False,
) -> SolverChoice:
    """Pick the least-squares solver from the problem shape.

    Mirrors the reference cost model's decision structure:
    - tiny problems: collect + exact local solve (LocalLeastSquaresEstimator)
    - d small enough that the d x d gram matrix is cheap: normal equations
      (one distributed pass, exact)
    - otherwise: L-BFGS iterations (keystone's BCD/LBFGS regime; MLlib's
      l-bfgs covers the same communication/iteration trade-off)
    """
    data_bytes = n_rows * n_features * 8
    gram_bytes = n_features * n_features * 8
    if sparse:
        return SolverChoice("lbfgs", "sparse gradients -> iterative solver")
    if data_bytes < min(driver_mem_bytes // 4, 256 << 20):
        return SolverChoice("local", f"data {data_bytes >> 20}MB fits driver")
    if n_features <= 4096 and gram_bytes < executor_mem_bytes // 8:
        return SolverChoice("normal", f"gram {gram_bytes >> 20}MB cheap, exact one-pass")
    return SolverChoice("lbfgs", f"d={n_features} too wide for normal equations")


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

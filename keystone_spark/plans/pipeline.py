"""Pipeline layer: typed dataflow composition over DataFrames.

KeystoneML composes ``Transformer[A,B]`` / ``Estimator[A,B]`` nodes into a
Graph IR executed by a memoizing GraphExecutor (reference:
``workflow/Transformer.scala``, ``workflow/Estimator.scala``,
``workflow/Pipeline.scala#andThen/#gather``,
``workflow/graph/GraphExecutor.scala``). Spark-first restatement:

- a Transformer is a ``DataFrame -> DataFrame`` function. Chaining builds
  ONE logical plan, so Catalyst does cross-node optimization (the analogue
  of keystone's EquivalentNodeMergeRule is structural: branches are columns
  of the same DataFrame, shared prefixes are shared subplans).
- an Estimator's ``fit`` runs eagerly (Spark actions) and returns a
  Transformer — keystone's eager-fit / lazy-transform split (E2 in
  SURVEY.md §3).
- ``Pipeline.fit`` walks stages once, fitting each estimator on the
  then-current DataFrame — fit-once semantics; inputs feeding an estimator
  AND later stages are persisted through ``caches.persist`` and freed
  through ``caches.release`` (AutoCacheRule, see plans/optimizer.py).
- ``gather`` merges branches by concatenating their output columns
  (keystone's Pipeline.gather + VectorCombiner).
"""

from __future__ import annotations

import json
import os
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from keystone_spark.caches import attach, persist, release


class Transformer:
    """A named DataFrame -> DataFrame function; composes with ``|``."""

    def __init__(self, fn: Callable[[DataFrame], DataFrame], name: str | None = None):
        self.fn = fn
        self.name = name or getattr(fn, "__name__", "transformer")

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.fn(df)

    def and_then(self, other: "Transformer | Estimator") -> "Pipeline":
        return Pipeline([self]).and_then(other)

    __or__ = and_then

    def __repr__(self) -> str:
        return f"Transformer({self.name})"


class Identity(Transformer):
    """Pass-through (reference: nodes/util/Identity.scala)."""

    def __init__(self):
        super().__init__(lambda df: df, "identity")


class Cacher(Transformer):
    """Explicit persist node (reference: workflow/Cacher.scala). The
    result owns the cache it made: free it with ``caches.release``."""

    def __init__(self, level: StorageLevel = StorageLevel.MEMORY_AND_DISK):
        def cache(df: DataFrame) -> DataFrame:
            owned: list = []
            return attach(persist(df, owned, level), owned)

        super().__init__(cache, "cacher")


class Checkpointer(Transformer):
    """Materialize to stable storage and cut lineage (reference:
    workflow/Checkpointer.scala): write parquet, read it back. Unlike
    ``df.checkpoint()`` the artifact survives the session and downstream
    stages get fresh scan statistics (and pruning) over it."""

    def __init__(self, path: str):
        def ck(df: DataFrame) -> DataFrame:
            df.write.mode("overwrite").parquet(path)
            return df.sparkSession.read.parquet(path)

        super().__init__(ck, f"checkpointer({path})")


class ColumnTransformer(Transformer):
    """Transformer that rewrites one column into another via a Column expr —
    the dominant keystone node shape (per-element map), kept declarative so
    it fuses into whole-stage codegen."""

    def __init__(
        self,
        in_col: str,
        out_col: str,
        expr_fn: Callable[[Column], Column],
        name: str | None = None,
    ):
        self.in_col, self.out_col, self.expr_fn = in_col, out_col, expr_fn
        super().__init__(
            lambda df: df.withColumn(out_col, expr_fn(F.col(in_col))),
            name or f"col:{in_col}->{out_col}",
        )


class Estimator:
    """fit(df) -> Transformer. Subclasses implement ``_fit``.

    Keystone's UDAF surface (SURVEY §2.10): any distributed aggregation
    producing model params belongs here.
    """

    name: str = "estimator"

    def fit(self, df: DataFrame) -> Transformer:
        return self._fit(df)

    def _fit(self, df: DataFrame) -> Transformer:
        raise NotImplementedError

    def __repr__(self) -> str:
        return f"Estimator({self.name})"


class LabelEstimator(Estimator):
    """fit(df) where ``label_col`` identifies labels in the SAME DataFrame.

    Keystone keeps data/labels as two zip-aligned RDDs
    (loaders/LabeledData.scala); one DataFrame with a label column removes
    the alignment invariant entirely (SURVEY §1).
    """

    def __init__(self, label_col: str = "label"):
        self.label_col = label_col


class Pipeline:
    """Ordered stages of Transformers and Estimators with fit-once fit()."""

    def __init__(self, stages: Sequence[Transformer | Estimator] | None = None):
        self.stages: list[Transformer | Estimator] = list(stages or [])

    def and_then(self, stage: "Transformer | Estimator | Pipeline") -> "Pipeline":
        if isinstance(stage, Pipeline):
            return Pipeline(self.stages + stage.stages)
        return Pipeline(self.stages + [stage])

    __or__ = and_then

    def fit(self, df: DataFrame) -> "FittedPipeline":
        """Fit every estimator once, in order, threading the DataFrame
        through the already-fitted prefix. Estimator inputs are persisted
        while in scope (AutoCacheRule R2) and unpersisted afterwards."""
        fitted: list[Transformer] = []
        cur = df
        owned: list = []
        try:
            for stage in self.stages:
                if isinstance(stage, Estimator):
                    # the estimator scans `cur` (often multiple times) and
                    # the fitted transformer re-reads it for downstream
                    # stages -> reuse count >= 2 -> persist.
                    if cur is not df:
                        cur = persist(cur, owned, StorageLevel.MEMORY_AND_DISK)
                    t = stage.fit(cur)
                    fitted.append(t)
                    cur = t(cur)
                else:
                    fitted.append(stage)
                    cur = stage(cur)
        finally:
            release(owned)
        return FittedPipeline(fitted)

    def __call__(self, df: DataFrame) -> DataFrame:
        """Apply transformers only; raises if an unfitted estimator remains."""
        for stage in self.stages:
            if isinstance(stage, Estimator):
                raise ValueError(
                    f"pipeline contains unfitted estimator {stage!r}; call fit()"
                )
            df = stage(df)
        return df

    def __repr__(self) -> str:
        return "Pipeline(" + " | ".join(repr(s) for s in self.stages) + ")"


class FittedPipeline(Transformer):
    """A chain of fitted transformers; lazy to apply, save/load-able
    (reference: workflow/FittedPipeline.scala save/load without refit)."""

    def __init__(self, transformers: Sequence[Transformer]):
        self.transformers = list(transformers)
        super().__init__(self._apply, "fitted_pipeline")

    def _apply(self, df: DataFrame) -> DataFrame:
        for t in self.transformers:
            df = t(df)
        return df

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        manifest = []
        for i, t in enumerate(self.transformers):
            saver = getattr(t, "save_params", None)
            entry = {"name": t.name, "cls": type(t).__name__}
            if saver is not None:
                entry["params"] = f"stage_{i}.json"
                t.save_params(os.path.join(path, f"stage_{i}.json"))
            manifest.append(entry)
        with open(os.path.join(path, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)

    @classmethod
    def load(cls, path: str) -> "FittedPipeline":
        """Reload without refitting (reference: FittedPipeline save/load,
        SavedStateLoadRule R5). Every stage must have saved params — a
        pipeline with closure-only transformers isn't reloadable and
        should be rebuilt in code instead."""
        with open(os.path.join(path, "manifest.json")) as f:
            manifest = json.load(f)
        registry = _loadable_registry()
        stages: list[Transformer] = []
        for entry in manifest:
            if "params" not in entry:
                raise ValueError(
                    f"stage {entry['name']} ({entry['cls']}) saved no params; "
                    "not reloadable"
                )
            loader = registry.get(entry["cls"])
            if loader is None:
                raise ValueError(f"no loader registered for {entry['cls']}")
            stages.append(loader(os.path.join(path, entry["params"])))
        return cls(stages)


def _loadable_registry() -> dict[str, Callable[[str], Transformer]]:
    from keystone_spark.operators.learning import LinearMapper
    from keystone_spark.operators.stats import StandardScalerModel

    return {
        "LinearMapper": LinearMapper.load_params,
        "StandardScalerModel": StandardScalerModel.load_params,
    }


def gather(branches: Sequence[Transformer], out_col: str = "features",
           in_cols: Sequence[str] | None = None) -> Transformer:
    """Run each branch on the same DataFrame and concat their output arrays
    into ``out_col`` (keystone Pipeline.gather + nodes/util/VectorCombiner).

    Branches MUST each be a ColumnTransformer (so we know their outputs).
    Because every branch extends the same DataFrame, the shared prefix is
    computed once — cross-branch CSE for free (optimizer rule R1).
    """
    outs = []
    for b in branches:
        if not isinstance(b, ColumnTransformer):
            raise TypeError("gather branches must be ColumnTransformers")
        outs.append(b.out_col)

    def apply(df: DataFrame) -> DataFrame:
        for b in branches:
            df = b(df)
        return df.withColumn(out_col, F.concat(*[F.col(c) for c in outs]))

    return Transformer(apply, f"gather({','.join(outs)})")

"""The three benchmark workloads.

Each workload has ``setup`` (work a user pays once, before serving: the
index builds of ``index_lifecycle``), ``run_pass`` (one unit of measured
work; the first pass in a process is the cold one), ``check`` (output
checks, never timed) and ``breakdown`` (traced run only: the public
sub-steps of the composite calls, timed one by one so their cost can be
attributed). Every call into the program goes through ``Run.op``, which
counts it, times it as a span and samples memory when it ends.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen

# ---------------------------------------------------------------------------
# ml_pipeline
# ---------------------------------------------------------------------------


def _timed_estimator(run, est, span_name):
    """Wrap ``est`` so its fit is a child span of the pipeline's fit."""
    from keystone_spark.plans.pipeline import Estimator

    class Timed(Estimator):
        name = est.name

        def fit(self, df):
            from perfbench.trace import storage_blocks

            with run.tracer.span(span_name, pass_no=run.pass_no):
                fitted = est.fit(df)
            peak = storage_blocks(df.sparkSession)[1]
            run.meta["fit_cached_peak"] = max(run.meta.get("fit_cached_peak", 0), peak)
            return fitted

    return Timed() if run.tracer.enabled else est


def _presence_map(in_col: str, out_col: str):
    """Sparse feature indices -> map<index, 1.0> (the input Densify
    expects): binary bag-of-words presence."""
    from keystone_spark.plans.pipeline import ColumnTransformer

    def expr(c):
        keys = F.array_distinct(c)
        return F.map_from_arrays(keys, F.array_repeat(F.lit(1.0), F.size(keys)))

    return ColumnTransformer(in_col, out_col, expr, "index_presence")


class MlPipeline:
    name = "ml_pipeline"
    VOCAB_K = 256
    RF_DIM = 128

    def __init__(self, run, in_dir: str):
        self.run, self.in_dir = run, in_dir
        self.outputs = None
        run.meta["inputs"].update(ml_inputs_meta(in_dir))

    def setup(self, spark) -> None:
        pass

    def _inputs(self, spark):
        from keystone_spark.sources import load_table

        docs = load_table(spark, "documents", self.in_dir)
        vecs = load_table(spark, "embeddings", self.in_dir)
        return docs, vecs

    def pipelines(self):
        from keystone_spark.operators.learning import (
            KMeansEstimator, LeastSquaresEstimator, LogisticRegressionEstimator)
        from keystone_spark.operators.nlp import CommonSparseFeatures, Tokenizer
        from keystone_spark.operators.stats import (
            ClassLabelIndicators, CosineRandomFeatures, Densify, MaxClassifier,
            StandardScaler)
        from keystone_spark.plans.pipeline import Pipeline

        r = self.run
        text = Pipeline([
            Tokenizer("text", "tokens"),
            _timed_estimator(r, CommonSparseFeatures(self.VOCAB_K, "tokens", "sparse"),
                             "nlp.sparse_features_fit"),
            _presence_map("sparse", "presence"),
            Densify(self.VOCAB_K, "presence", "features"),
            _timed_estimator(r, LogisticRegressionEstimator("features", "label", "pred",
                                                            max_iter=5),
                             "learning.logreg_fit"),
        ])
        vector = Pipeline([
            _timed_estimator(r, StandardScaler("embedding", "scaled"), "stats.scaler_fit"),
            CosineRandomFeatures(64, self.RF_DIM, gamma=1.0 / 64, seed=7,
                                 in_col="scaled", out_col="rf"),
            ClassLabelIndicators(4, "label", "y"),
            _timed_estimator(r, LeastSquaresEstimator("rf", "y", "scores"),
                             "learning.lstsq_fit"),
            MaxClassifier("scores", "pred"),
            _timed_estimator(r, KMeansEstimator(4, "scaled", "cluster_onehot", seed=7,
                                                max_iter=3),
                             "learning.kmeans_fit"),
        ])
        return text, vector

    def run_pass(self, spark) -> None:
        from keystone_spark.operators.evaluation import accuracy, confusion_matrix

        op = self.run.op
        docs, vecs = self._inputs(spark)
        held = F.col("doc_id") % 5 == 0
        train_t, test_t = docs.where(~held), docs.where(held)
        held_v = F.col("vec_id") % 5 == 0
        train_v, test_v = vecs.where(~held_v), vecs.where(held_v)
        text, vector = self.pipelines()
        with op("plans.fit", pipeline="text"):
            ft = text.fit(train_t)
        with op("plans.fit", pipeline="vector"):
            fv = vector.fit(train_v)
        scored = {}
        with op("plans.apply"):
            for key, fitted, test in (("text", ft, test_t), ("vector", fv, test_v)):
                scored[key] = fitted(test).select("label", "pred").persist()
                scored[key].count()
        with op("evaluation.eval"):
            out = {key: (accuracy(df, "label", "pred"),
                         [tuple(r) for r in confusion_matrix(df).collect()])
                   for key, df in scored.items()}
        for df in scored.values():
            df.unpersist()
        self.outputs = (ft, fv, train_v, out)

    def check(self, spark, chk) -> None:
        ft, fv, train_v, out = self.outputs
        for key, floor in (("text", 0.85), ("vector", 0.85)):
            acc, cm = out[key]
            n = sum(c for _, _, c in cm)
            chk(f"{key}_accuracy_floor", acc >= floor, acc=acc)
            chk(f"{key}_confusion_total", n == self.run.meta["inputs"][f"{key}_held_out"],
                total=n)
        # least-squares weights against numpy lstsq on the same features
        mapper = fv.transformers[3]
        prefix = fv.transformers[:3]
        df = train_v
        for t in prefix:
            df = t(df)
        rows = df.select("rf", "y").collect()
        X = np.array([r.rf for r in rows])
        Y = np.array([r.y for r in rows])
        W, *_ = np.linalg.lstsq(X, Y, rcond=None)
        err = float(np.max(np.abs(W - mapper.W)) / max(1e-12, float(np.max(np.abs(W)))))
        chk("lstsq_weights_match_numpy", err < 1e-6, rel_err=err)

    def breakdown(self, spark) -> None:
        from keystone_spark.functions import tokens

        docs, vecs = self._inputs(spark)
        for _ in range(3):
            with self.run.op("sources.scan"):
                docs.write.format("noop").mode("overwrite").save()
                vecs.write.format("noop").mode("overwrite").save()
            with self.run.op("functions.tokens"):
                docs.select("doc_id", tokens("text")).write.format("noop").mode(
                    "overwrite").save()


def ml_inputs_meta(in_dir: str) -> dict:
    ids = pq.read_table(f"{in_dir}/documents.parquet", columns=["doc_id"])["doc_id"]
    vids = pq.read_table(f"{in_dir}/embeddings.parquet", columns=["vec_id"])["vec_id"]
    t = int(sum(1 for i in ids.to_pylist() if i % 5 == 0))
    v = int(sum(1 for i in vids.to_pylist() if i % 5 == 0))
    return {"text_held_out": t, "vector_held_out": v, "held_out_rows": t + v}


# ---------------------------------------------------------------------------
# dedup_curation
# ---------------------------------------------------------------------------


class DedupCuration:
    name = "dedup_curation"

    def __init__(self, run, in_dir: str):
        self.run, self.in_dir = run, in_dir
        self.outputs = None

    def setup(self, spark) -> None:
        pass

    def _docs(self, spark):
        from keystone_spark.sources import load_table

        return load_table(spark, "documents", self.in_dir)

    def run_pass(self, spark) -> None:
        from keystone_spark.operators.curation import line_dedup
        from keystone_spark.operators.dedup import minhash_dedup, release

        op = self.run.op
        docs = self._docs(spark)
        with op("curation.line_dedup"):
            clean = line_dedup(docs, max_docs=4).persist()
            clean.count()
        text = clean.select("doc_id", F.col("clean_text").alias("text"))
        with op("dedup.minhash_dedup"):
            kept = minhash_dedup(text)
            kept_ids = sorted(r[0] for r in kept.select("doc_id").collect())
            release(kept)
        clean.unpersist()
        self.outputs = kept_ids

    def check(self, spark, chk) -> None:
        from keystone_spark.operators.curation import line_dedup

        kept_ids = self.outputs
        t = pq.read_table(f"{self.in_dir}/documents.parquet").to_pydict()
        fams = pq.read_table(f"{self.in_dir}/truth/families.parquet").to_pydict()
        ids, texts = t["doc_id"], t["text"]
        fam_of = dict(zip(fams["doc_id"], fams["fam"]))
        # line dedup: drop every line found in more than 4 documents
        docs_with = {}
        for i, txt in zip(ids, texts):
            for ln in set(txt.split("\n")):
                docs_with[ln] = docs_with.get(ln, 0) + 1
        want_clean = {i: "\n".join(ln for ln in txt.split("\n") if docs_with[ln] <= 4)
                      for i, txt in zip(ids, texts)}
        got = {r.doc_id: r.clean_text
               for r in line_dedup(self._docs(spark), max_docs=4).collect()}
        chk("line_dedup_equals_reference", got == want_clean,
            wrong=sum(got.get(i) != v for i, v in want_clean.items()))
        # planted truth: pairs inside a family at exact Jaccard >= 0.8
        members: dict[int, list[int]] = {}
        for i in ids:
            members.setdefault(fam_of[i], []).append(i)
        truth_pairs = set()
        for m in members.values():
            m.sort()
            for a in range(len(m)):
                for b in range(a + 1, len(m)):
                    i, j = m[a], m[b]
                    if gen.jaccard(want_clean[i], want_clean[j]) >= gen.JACCARD_FLOOR:
                        truth_pairs.add((i, j))
        truth_drop = {j for _, j in truth_pairs}
        exact_drop = {j for i, j in truth_pairs if want_clean[i] == want_clean[j]}
        dropped = set(ids) - set(kept_ids)
        chk("minhash_drops_only_true_duplicates", dropped <= truth_drop,
            false_drops=len(dropped - truth_drop))
        chk("minhash_drops_every_exact_copy", exact_drop <= dropped,
            missed=len(exact_drop - dropped))
        recall = len(dropped & truth_drop) / max(1, len(truth_drop))
        chk("minhash_recall", recall >= 0.97, recall=recall)
        self.run.meta["truth"] = {"pairs": len(truth_pairs), "drop": len(truth_drop),
                                  "exact_drop": len(exact_drop), "minhash_recall": recall}

    def breakdown(self, spark) -> None:
        """MinHash dedup's public stages one by one on the
        line-deduplicated text."""
        from keystone_spark.operators.curation import line_dedup
        from keystone_spark.operators.dedup import (
            jaccard_verify, minhash_estimate_filter, minhash_lsh_candidates,
            minhash_signatures)

        op = self.run.op
        docs = self._docs(spark)
        for _ in range(3):
            with op("sources.scan"):
                docs.write.format("noop").mode("overwrite").save()
        clean = line_dedup(docs, max_docs=4).select(
            "doc_id", F.col("clean_text").alias("text")).persist()
        clean.count()
        caches: list = []
        with op("dedup.signatures"):
            sigs = minhash_signatures(clean).persist()
            sigs.count()
        with op("dedup.candidates") as rec:
            cand = minhash_lsh_candidates(sigs, caches=caches).persist()
            rec["pairs"] = cand.count()
        with op("dedup.verify") as rec:
            likely = minhash_estimate_filter(cand, sigs)
            rec["pairs"] = jaccard_verify(likely, clean, caches=caches).count()
        for c in caches + [cand, sigs]:
            c.unpersist()
        clean.unpersist()


# ---------------------------------------------------------------------------
# index_lifecycle
# ---------------------------------------------------------------------------

CDC_SCHEMA = "k long, v double, op string, seq long"


class IndexLifecycle:
    """An IVF vector index and a CDC snapshot, served while they are
    written to. A pass is one round: an add to the index and one upsert
    micro-batch, each followed by a read. Seeded deletes and a compaction
    close the run."""

    name = "index_lifecycle"

    def __init__(self, run, in_dir: str):
        self.run, self.in_dir = run, in_dir
        self.meta = run.meta["inputs"]
        self.round = 0
        self.read_lat: list[float] = []
        self.write_lat: list[float] = []
        self.files_per_write: list[int] = []
        self.last: dict = {}

    def _t(self, spark):
        from keystone_spark.sources import load_table

        return {n: load_table(spark, n, self.in_dir)
                for n in ("embeddings", "changes", "kv_base")}

    @staticmethod
    def _ids(lo, hi):
        return (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)

    def setup(self, spark) -> None:
        """Build the index over the base vectors."""
        from keystone_spark.operators.similarity import IvfIndex

        t = self._t(spark)
        self.root = root = os.path.join(self.run.out_dir, "idx")
        os.makedirs(os.path.join(root, "changes"))
        os.makedirs(os.path.join(root, "snap"))
        with self.run.op("similarity.ivf_build"):
            IvfIndex.build(t["embeddings"].where(F.col("vec_id") < self.meta["base_vectors"]),
                           n_cells=16).save(f"{root}/ivf")

    def _write(self, name, fn, table_dir):
        from perfbench.trace import dir_stats

        before = dir_stats(table_dir)[0]
        with self.run.op(name) as rec:
            fn()
        self.write_lat.append(rec["latency"])
        self.files_per_write.append(dir_stats(table_dir)[0] - before)

    def _read(self, name, key, df_fn):
        with self.run.op(name) as rec:
            self.last[key] = df_fn().collect()
        self.read_lat.append(rec["latency"])

    def run_pass(self, spark) -> None:
        from keystone_spark.operators.similarity import IvfIndex
        from keystone_spark.streaming.windows import read_snapshot, streaming_upsert

        r = self.round
        if r >= self.meta["rounds"] - 1:
            raise RuntimeError("index_lifecycle ran out of generated add rounds")
        self.round += 1
        t, root = self._t(spark), self.root
        nb, b = self.meta["base_vectors"], self.meta["batch_vectors"]
        lo, hi = nb + r * b, nb + (r + 1) * b

        self._write("similarity.ivf_add", lambda: IvfIndex.add(
            spark, f"{root}/ivf", t["embeddings"].where(self._ids(lo, hi))), f"{root}/ivf")
        probes = t["embeddings"].where(self._ids(hi, hi + 10))
        self._read("similarity.ivf_search", "ivf", lambda: IvfIndex.load(
            spark, f"{root}/ivf").search(probes, k=10))

        def upsert():
            t["changes"].where(F.col("round") == r).drop("round").coalesce(1).write.parquet(
                f"{root}/changes/c{r:03d}")
            stream = spark.readStream.schema(CDC_SCHEMA).parquet(f"{root}/changes/*")
            q = (streaming_upsert(stream, f"{root}/snap", ["k"], seq_col="seq",
                                  base_df=t["kv_base"])
                 .option("checkpointLocation", f"{root}/ck")
                 .trigger(availableNow=True).start())
            q.awaitTermination()

        self._write("streaming.upsert_batch", upsert, f"{root}/snap")
        self._read("streaming.read_snapshot", "snap",
                   lambda: read_snapshot(spark, f"{root}/snap"))

    def finish(self, spark) -> None:
        """Delete a seeded sample of vectors, then compact the index."""
        from keystone_spark.operators.similarity import IvfIndex
        from perfbench.trace import dir_stats

        path, op = f"{self.root}/ivf", self.run.op
        self.hi = self.meta["base_vectors"] + self.round * self.meta["batch_vectors"]
        self.deleted = sorted(random.Random(self.run.seed).sample(range(self.hi), 25))
        self.files_before, self.bytes_before = dir_stats(path)
        with op("similarity.ivf_delete") as rec:
            IvfIndex.delete(spark, path, self.deleted)
        self.write_lat.append(rec["latency"])
        with op("similarity.ivf_compact") as rec:
            IvfIndex.compact(spark, path)
        self.compact_s = rec["latency"]
        self.files_after, self.bytes_after = dir_stats(path)

    def check(self, spark, chk) -> None:
        """IVF recall@10 against exact ``cosine_topk`` over the surviving
        vectors; the CDC snapshot against the changelog folded in Python."""
        from keystone_spark.operators.similarity import IvfIndex, cosine_topk

        emb = self._t(spark)["embeddings"]
        vecs = emb.where((F.col("vec_id") < self.hi) & ~F.col("vec_id").isin(self.deleted))
        probes = emb.where(self._ids(self.hi, self.hi + 20))
        approx = {(r.probe, r.vec_id) for r in IvfIndex.load(
            spark, f"{self.root}/ivf").search(probes, k=10).collect()}
        exact = {(r.probe, r.vec_id) for r in cosine_topk(vecs, probes, k=10).collect()}
        recall = len(approx & exact) / max(1, len(exact))
        chk("ivf_recall_at_10", recall >= 0.8, recall=recall)
        self.run.meta["ivf_recall_at_10"] = recall
        deleted = set(self.deleted)
        chk("ivf_no_deleted_hits", not any(i in deleted for _, i in approx))

        kv = pq.read_table(f"{self.in_dir}/kv_base.parquet").to_pydict()
        state = dict(zip(kv["k"], kv["v"]))
        ch = pq.read_table(f"{self.in_dir}/changes.parquet").to_pydict()
        for k, v, op_, r in zip(ch["k"], ch["v"], ch["op"], ch["round"]):
            if r < self.round:
                if op_ == "D":
                    state.pop(k, None)
                else:
                    state[k] = v
        snap = {row.k: row.v for row in self.last["snap"]}
        chk("snapshot_equals_changelog_fold", snap == state, rows=len(state))

    def breakdown(self, spark) -> None:
        emb = self._t(spark)["embeddings"]
        for _ in range(3):
            with self.run.op("sources.scan"):
                emb.write.format("noop").mode("overwrite").save()


WORKLOADS = {
    "ml_pipeline": MlPipeline,
    "dedup_curation": DedupCuration,
    "index_lifecycle": IndexLifecycle,
}

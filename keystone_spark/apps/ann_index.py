"""ANN index lifecycle over the embeddings fixture — build a persisted
IVF-PQ index once, search it repeatedly: the production retrieval shape
(corpus indexed offline; queries prune cells and scan 16x-compressed
codes, with exact re-rank against the base table).

Run:  python -m keystone_spark.apps.ann_index [--sf-dir DIR]
      [--index DIR] [--k N] [--n-probe-cells N] [--refine N]
Builds the index at --index if absent (else reuses it — the fit-once
contract), searches the first 10 vectors as probes, and prints one JSON
line: recall@k vs the exact kernel, per-probe result counts, and index
size accounting (codes bytes vs raw vector bytes).
"""

from __future__ import annotations

import argparse
import json
import os


def build_or_load(spark, sf_dir: str, index_dir: str, n_cells: int = 16,
                  m: int = 16, ks: int = 32):
    from keystone_spark.operators.similarity import IvfPqIndex
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", sf_dir)
    if os.path.exists(os.path.join(index_dir, IvfPqIndex.MANIFEST)):
        return IvfPqIndex.load(spark, index_dir), e, False
    idx = IvfPqIndex.build(e, n_cells=n_cells, m=m, ks=ks)
    idx.save(index_dir)
    return IvfPqIndex.load(spark, index_dir), e, True


def run(spark, sf_dir: str, index_dir: str, k: int = 10,
        n_probe_cells: int = 8, refine: int = 8) -> dict:
    import pyspark.sql.functions as F

    from keystone_spark.operators.similarity import cosine_topk

    idx, base, built = build_or_load(spark, sf_dir, index_dir)
    probes = base.where(F.col("vec_id") < 10)
    got = idx.search(base, probes, k=k, n_probe_cells=n_probe_cells,
                     refine=refine)
    exact = cosine_topk(base, probes, k=k)
    hits = (
        got.select("probe", "vec_id")
        .join(exact.select("probe", "vec_id"), ["probe", "vec_id"])
        .count()
    )
    n_probes = probes.count()
    dim = len(base.select("embedding").first()[0])
    m = idx.books.shape[0]
    return {
        "built": built,
        "n_indexed": idx.indexed.count(),
        "recall_at_k": round(hits / float(k * n_probes), 4),
        "rows_per_probe": got.count() // n_probes,
        "code_bytes_per_vec": m,
        "raw_bytes_per_vec": dim * 4,
        "compression_x": round(dim * 4 / m, 1),
    }


def main() -> None:
    import tempfile

    from keystone_spark import get_session

    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    p.add_argument("--index", default=None)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--n-probe-cells", type=int, default=8)
    p.add_argument("--refine", type=int, default=8)
    args = p.parse_args()
    index_dir = args.index or tempfile.mkdtemp(prefix="ann_index_")
    spark = get_session("ann_index")
    print(json.dumps(run(spark, args.sf_dir, index_dir, args.k,
                         args.n_probe_cells, args.refine)))


if __name__ == "__main__":
    main()

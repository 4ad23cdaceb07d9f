"""LLM training-data curation over the documents fixture — the north-star
pipeline: line-dedup + PII scrub -> exact dedup -> MinHash near-dedup ->
Gopher+quality filter ->
language ID -> token accounting -> budget-true shard packing (-> shard
write). Every stage is a DataFrame->DataFrame operator from the engine;
nothing collects to the driver except the final summary row.

Run:  python -m keystone_spark.apps.curate_corpus [--sf-dir DIR]
      [--out DIR] [--pack-budget N]
Prints one JSON line of corpus accounting (docs in/out per stage, tokens,
packs). With --out, writes the packed corpus as parquet partitioned by
predicted language — the training-shard layout.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F


def curate(spark, sf_dir: str, jaccard_threshold: float = 0.8,
           min_tokens: int = 5, max_digit_ratio: float = 0.3,
           pack_budget: int = 2048, out_dir: str | None = None) -> dict:
    from keystone_spark.caches import release
    from keystone_spark.functions.text import (
        bpe_ish_token_count,
        gopher_rules,
        language_scores,
        quality_features,
        redact_pii,
        token_count,
    )
    from keystone_spark.operators.curation import line_dedup, pack_sequences_greedy
    from keystone_spark.operators.dedup import exact_dedup, minhash_dedup
    from keystone_spark.sources import load_table
    from keystone_spark.sources.loaders import write_table

    docs = load_table(spark, "documents", sf_dir)
    n0 = docs.count()

    # 0. repeated-line boilerplate removal + PII scrub (text-rewriting
    # passes run FIRST so every later dedup/quality signal sees clean
    # text; both are map-only scans plus line_dedup's one frequency agg)
    cleaned = line_dedup(
        docs, max_docs=max(5, n0 // 20)
    ).join(docs.drop("text"), "doc_id").withColumnRenamed(
        "clean_text", "text"
    ).withColumn("text", redact_pii("text"))

    # 1. exact dedup on normalized text
    exact = exact_dedup(
        cleaned.withColumn("__norm", F.lower(F.trim("text"))), ["__norm"]
    ).drop("__norm")
    n1 = exact.count()

    # 2. MinHash near-dedup (keep-first policy)
    near = minhash_dedup(exact, threshold=jaccard_threshold)
    n2 = near.count()

    # 3. quality filter: enough tokens, not digit-soup, and the Gopher
    # repetition/symbol/alpha rules (word-count floor relaxed to the
    # fixture's scale via min_words=min_tokens)
    q = quality_features("text")
    g = gopher_rules("text", min_words=min_tokens, min_stop_hits=0)
    filtered = (
        near.withColumn("__q", q)
        .withColumn("__g", g)
        .where(
            (F.col("__q.n_tokens") >= min_tokens)
            & (F.col("__q.digit_ratio") <= max_digit_ratio)
            & F.col("__g.ok_symbol")
            & F.col("__g.ok_alpha")
            & F.col("__g.ok_mean_len")
        )
        .drop("__q", "__g")
    )
    n3 = filtered.count()

    # 4. language ID + token accounting, one aggregation pass
    s = language_scores("text")
    en, es, cjk = s.getField("en"), s.getField("es"), s.getField("cjk")
    pred = (
        F.when((en >= es) & (en >= cjk), "en").when(es >= cjk, "es").otherwise("cjk")
    )
    with_lang = filtered.select(
        "doc_id",
        "text",
        pred.alias("lang_pred"),
        token_count("text").cast("long").alias("ws_toks"),
        bpe_ish_token_count("text").alias("bpe_toks"),
    )
    summary = with_lang.agg(
        F.count("*").alias("docs"),
        F.sum("ws_toks").alias("ws_tokens"),
        F.sum("bpe_toks").alias("bpe_tokens"),
        F.count_distinct("lang_pred").alias("langs_seen"),
    ).first()

    # 5. budget-true shard packing per predicted language: a pack never
    # exceeds pack_budget tokens unless it is one oversized document
    packed = pack_sequences_greedy(
        with_lang, "ws_toks", budget=pack_budget,
        partition_cols=["lang_pred"], order_cols=["doc_id"],
    )
    pstats = (
        packed.groupBy("lang_pred", "pack_id")
        .agg(F.sum("ws_toks").alias("tot"), F.count("*").alias("n"))
        .agg(
            F.count("*").alias("n_packs"),
            F.max("tot").alias("max_pack_tokens"),
            F.sum(
                F.when((F.col("tot") > pack_budget) & (F.col("n") > 1), 1)
                .otherwise(0)
            ).alias("over_budget_packs"),
        )
        .first()
    )

    # 6. optional shard write: parquet partitioned by language (the
    # training-data lake layout; partition pruning per-language on read)
    if out_dir:
        write_table(packed, out_dir, fmt="parquet",
                    partition_by=["lang_pred"])
    release(near)

    return {
        "app": "curate_corpus",
        "docs_in": n0,
        "after_exact_dedup": n1,
        "after_near_dedup": n2,
        "after_quality_filter": n3,
        "ws_tokens": int(summary.ws_tokens),
        "bpe_tokens": int(summary.bpe_tokens),
        "langs_seen": int(summary.langs_seen),
        "n_packs": int(pstats.n_packs),
        "max_pack_tokens": int(pstats.max_pack_tokens),
        "over_budget_packs": int(pstats.over_budget_packs),
        "shards_written": bool(out_dir),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    ap.add_argument("--pack-budget", type=int, default=2048)
    args = ap.parse_args()

    from keystone_spark import get_session

    spark = get_session("curate_corpus_app")
    print(json.dumps(curate(spark, args.sf_dir, pack_budget=args.pack_budget,
                            out_dir=args.out)))


if __name__ == "__main__":
    main()

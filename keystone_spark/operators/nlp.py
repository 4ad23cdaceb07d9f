"""NLP nodes (reference: src/main/scala/nodes/nlp/, nodes/misc/).

Corpus-level estimators (vocab builders, n-gram LMs) are hash aggregations
producing small model tables that broadcast-join back onto documents at
apply time — the keystone "fit = distributed agg, apply = map" shape on
DataFrames. Everything stays JVM-side: explode + groupBy + window for
fits, broadcast joins or literal maps for applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from keystone_spark import fsutil
from keystone_spark.functions.text import tokens, word_ngrams
from keystone_spark.plans.pipeline import ColumnTransformer, Estimator, Transformer


class Trim(ColumnTransformer):
    """Whitespace trim (reference: nodes/nlp/Trim.scala)."""

    def __init__(self, in_col: str = "text", out_col: str | None = None):
        super().__init__(in_col, out_col or in_col, F.trim, "trim")


class LowerCase(ColumnTransformer):
    """Lowercase (reference: nodes/nlp/LowerCase.scala)."""

    def __init__(self, in_col: str = "text", out_col: str | None = None):
        super().__init__(in_col, out_col or in_col, F.lower, "lower_case")


class Tokenizer(ColumnTransformer):
    """Trim + LowerCase + regex-split (reference: nodes/nlp/Tokenizer.scala;
    standalone Trim/LowerCase nodes above compose the same way the reference
    chains them)."""

    def __init__(self, in_col: str = "text", out_col: str = "tokens",
                 lowercase: bool = True):
        super().__init__(in_col, out_col, lambda c: tokens(c, lowercase), "tokenizer")


class NGramsFeaturizer(ColumnTransformer):
    """tokens -> all n-grams for n in [min_n, max_n]
    (reference: nodes/nlp/NGramsFeaturizer.scala)."""

    def __init__(self, min_n: int, max_n: int, in_col: str = "tokens",
                 out_col: str = "ngrams"):
        def expr(c):
            parts = [word_ngrams(c, n) for n in range(min_n, max_n + 1)]
            out = parts[0]
            for p in parts[1:]:
                out = F.concat(out, p)
            return out

        super().__init__(in_col, out_col, expr, f"ngrams({min_n}..{max_n})")


class TermFrequency(Transformer):
    """doc tokens -> (token, weighted count) map per doc
    (reference: nodes/misc/TermFrequency.scala; weight fn e.g. sqrt).

    Output column is map<token, double> — the sparse-features shape."""

    def __init__(self, in_col: str = "tokens", out_col: str = "tf",
                 weight: str = "identity"):
        wfn = {
            "identity": lambda c: c.cast("double"),
            "sqrt": lambda c: F.sqrt(c.cast("double")),
            "log1p": lambda c: F.log1p(c.cast("double")),
        }[weight]

        def build(srt):
            # srt is a LAMBDA VARIABLE (bound to the already-evaluated
            # sorted array), so every element_at below is an O(1) array
            # access — referencing the array_sort EXPRESSION here instead
            # would re-sort the whole array once per element (higher-order
            # expressions re-evaluate per reference; measured 30x SLOWER
            # than even the quadratic fold this replaces).
            n = F.size(srt)
            idx = F.sequence(F.lit(1), n)  # 1-based for element_at
            starts = F.filter(
                idx,
                lambda i: (i == 1)
                | (F.element_at(srt, i) != F.element_at(srt, i - 1)),
            )
            keys = F.transform(starts, lambda i: F.element_at(srt, i))
            ends = F.concat(
                F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
                F.array(n + 1),
            )
            counts = F.zip_with(
                starts, ends, lambda s, e: wfn((e - s).cast("double"))
            )
            return F.map_from_arrays(keys, counts)

        def apply(df: DataFrame) -> DataFrame:
            # Linear run-length construction over the SORTED token array:
            # run starts -> keys, next-start deltas -> counts; the sort
            # is evaluated exactly once via the 1-element-array lambda
            # binding. The aggregate/map_concat fold this replaces
            # rebuilt the whole accumulator map once PER TOKEN —
            # O(n * distinct) interpreted map copies per document
            # (same quadratic family as the repetition_signals mode;
            # caught by tools/bench_registry.py).
            t = F.col(in_col)
            counted = F.element_at(
                F.transform(F.array(F.array_sort(t)), build), 1
            )
            weighted = (
                F.when(t.isNull(), F.lit(None).cast("map<string,double>"))
                .when(F.size(t) == 0,
                      F.create_map().cast("map<string,double>"))
                .otherwise(counted)
            )
            weighted = F.map_filter(weighted, lambda k, v: v > 0)
            return df.withColumn(out_col, weighted)

        super().__init__(apply, f"term_frequency({weight})")


class CommonSparseFeatures(Estimator):
    """Keep the corpus-wide top-k features; model maps each doc's tokens to
    (index, value) pairs over that vocab (reference:
    nodes/misc/CommonSparseFeatures.scala). Fit = count + ORDER BY LIMIT k;
    apply = broadcast join on token."""

    name = "common_sparse_features"

    def __init__(self, k: int, in_col: str = "tokens", out_col: str = "sparse"):
        self.k, self.in_col, self.out_col = k, in_col, out_col

    def _fit(self, df: DataFrame) -> Transformer:
        counts = (
            df.select(F.explode(self.in_col).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("cnt"))
        )
        # orderBy+limit -> TakeOrderedAndProject: every partition keeps only
        # its local top-k, so no global sort materializes (the unpartitioned
        # row_number window would funnel ALL distinct tokens through one
        # reducer — a scale bug). The window then ranks just k rows.
        topk = counts.orderBy(F.col("cnt").desc(), "tok").limit(self.k)
        w = Window.orderBy(F.col("cnt").desc(), "tok")
        vocab = topk.withColumn("idx", F.row_number().over(w) - 1).select("tok", "idx")
        vocab_rows = vocab.collect()  # k rows, tiny — becomes a literal map
        mapping = F.create_map(
            *[x for r in vocab_rows for x in (F.lit(r.tok), F.lit(r.idx))]
        )
        in_col, out_col = self.in_col, self.out_col

        def apply(d: DataFrame) -> DataFrame:
            idxs = F.filter(
                F.transform(F.col(in_col), lambda t: F.element_at(mapping, t)),
                lambda i: i.isNotNull(),
            )
            return d.withColumn(out_col, F.array_sort(idxs))

        t = Transformer(apply, f"common_sparse_features(k={self.k})")
        t.vocab = {r.tok: r.idx for r in vocab_rows}
        return t


class WordFrequencyEncoder(Estimator):
    """Vocab ranked by corpus frequency; word -> int id, OOV -> -1
    (reference: nodes/nlp/WordFrequencyEncoder.scala)."""

    name = "word_frequency_encoder"

    def __init__(self, max_vocab: int | None = None, in_col: str = "tokens",
                 out_col: str = "token_ids"):
        self.max_vocab, self.in_col, self.out_col = max_vocab, in_col, out_col

    def _fit(self, df: DataFrame) -> Transformer:
        counts = (
            df.select(F.explode(self.in_col).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("cnt"))
        )
        # cap first via TakeOrderedAndProject (map-side top-k), then rank the
        # capped set — same single-reducer-sort avoidance as
        # CommonSparseFeatures; an uncapped vocab is collected anyway, so
        # ranking it driver-side would also be fine.
        if self.max_vocab:
            counts = counts.orderBy(F.col("cnt").desc(), "tok").limit(self.max_vocab)
        w = Window.orderBy(F.col("cnt").desc(), "tok")
        vocab = counts.withColumn("idx", F.row_number().over(w) - 1)
        rows = vocab.select("tok", "idx").collect()
        mapping = F.create_map(*[x for r in rows for x in (F.lit(r.tok), F.lit(r.idx))])
        in_col, out_col = self.in_col, self.out_col

        def apply(d: DataFrame) -> DataFrame:
            return d.withColumn(
                out_col,
                F.transform(
                    F.col(in_col),
                    lambda t: F.coalesce(F.element_at(mapping, t), F.lit(-1)),
                ),
            )

        t = Transformer(apply, "word_frequency_encoder")
        t.vocab = {r.tok: r.idx for r in rows}
        return t


class NGramsCounts(Estimator):
    """Corpus n-gram counts (reference: nodes/nlp/NGramsCounts.scala) —
    fit returns a Transformer carrying the count table (a DataFrame),
    since the 'model' here IS the aggregate."""

    name = "ngrams_counts"

    def __init__(self, n: int, in_col: str = "tokens"):
        self.n, self.in_col = n, in_col

    def _fit(self, df: DataFrame) -> Transformer:
        counts = (
            df.select(F.explode(word_ngrams(F.col(self.in_col), self.n)).alias("ngram"))
            .groupBy("ngram")
            .agg(F.count("*").alias("cnt"))
        )
        t = Transformer(lambda d: d, f"ngram_counts(n={self.n})")
        t.counts = counts
        return t


class StupidBackoffEstimator(Estimator):
    """Stupid Backoff n-gram LM (reference:
    nodes/nlp/StupidBackoffEstimator.scala; Brants et al. 2007).

    S(w | ctx) = count(ctx w)/count(ctx) if count(ctx w) > 0
               else alpha * S(w | shorter ctx), down to unigram MLE.

    Fit builds count tables for orders 1..n (hash aggs). ``score_ngrams``
    returns S for every observed n-gram via LEFT JOINs of order-k against
    order-(k-1) tables and a COALESCE chain — pure SQL, no iteration.
    """

    name = "stupid_backoff"

    def __init__(self, n: int = 3, alpha: float = 0.4, in_col: str = "tokens"):
        self.n, self.alpha, self.in_col = n, alpha, in_col

    def _fit(self, df: DataFrame) -> "StupidBackoffModel":
        toks = F.col(self.in_col)
        counts: dict[int, DataFrame] = {}
        for k in range(1, self.n + 1):
            counts[k] = (
                df.select(F.explode(word_ngrams(toks, k)).alias("g"))
                .groupBy("g")
                .agg(F.count("*").alias("cnt"))
            )
        total_unigrams = df.select(
            F.sum(F.size(toks)).alias("t")
        ).first().t
        return StupidBackoffModel(self.n, self.alpha, counts, total_unigrams)


class StupidBackoffModel(Transformer):
    def __init__(self, n: int, alpha: float, counts: dict[int, DataFrame],
                 total_unigrams: int):
        self.n, self.alpha = n, alpha
        self.counts, self.total = counts, total_unigrams
        super().__init__(lambda df: df, "stupid_backoff_model")

    def score_grams(self, grams: DataFrame, gram_col: str = "g") -> DataFrame:
        """S(w|ctx) for arbitrary space-joined grams (seen or unseen).

        Backoff expansion: an order-k gram "a b c" has context "a b",
        backoff gram "b c", backoff context "b". Level ``l`` contributes
        alpha^(k-l) * cnt(gram_l)/cnt(ctx_l); the LEFT JOINs yield NULL
        where a level's gram is unseen, and COALESCE picks the highest
        level present — the stupid-backoff recursion flattened into one
        join chain (no iteration, count tables broadcast when small).
        """
        out = grams.withColumn("__toks", F.split(F.col(gram_col), " "))
        k = self.n
        score = None
        alpha_pow = 1.0
        for level in range(k, 0, -1):
            # level-l subgram = LAST l tokens (negative-start slice), so
            # grams of any order <= n score correctly.
            sub = F.concat_ws(" ", F.slice("__toks", -level, level))
            ctx = F.concat_ws(" ", F.slice("__toks", -level, level - 1))
            cnt_sub = self.counts[level].select(
                F.col("g").alias(f"__g{level}"), F.col("cnt").alias(f"__c{level}")
            )
            cond = (sub == F.col(f"__g{level}")) & (F.size("__toks") >= level)
            out = out.join(F.broadcast(cnt_sub), cond, "left")
            if level > 1:
                cnt_ctx = self.counts[level - 1].select(
                    F.col("g").alias(f"__x{level}"), F.col("cnt").alias(f"__d{level}")
                )
                out = out.join(
                    F.broadcast(cnt_ctx), ctx == F.col(f"__x{level}"), "left"
                )
                ratio = F.col(f"__c{level}") / F.col(f"__d{level}")
            else:
                ratio = F.col(f"__c{level}") / F.lit(float(self.total))
            term = F.lit(alpha_pow) * ratio
            score = term if score is None else F.coalesce(score, term)
            alpha_pow *= self.alpha
        keep = [c for c in grams.columns]
        return out.select(*keep, score.alias("score"))

    def score_ngrams(self, order: int | None = None) -> DataFrame:
        """Convenience: S for every observed n-gram of ``order`` (default
        max). Observed grams resolve at the top level by construction."""
        k = order or self.n
        assert 1 <= k <= self.n
        return self.score_grams(
            self.counts[k].select("g", "cnt"), gram_col="g"
        )


class AllSparseFeatures(Estimator):
    """Index map over ALL observed features (reference:
    nodes/misc/AllSparseFeatures.scala): distinct + rank. The full vocab is
    collected into a literal map for the apply side, so this is for
    bounded vocabularies; unbounded corpora should use CommonSparseFeatures
    (top-k) or feature hashing instead."""

    name = "all_sparse_features"

    def __init__(self, in_col: str = "tokens", out_col: str = "sparse"):
        self.in_col, self.out_col = in_col, out_col

    def _fit(self, df: DataFrame) -> Transformer:
        distinct = df.select(F.explode(self.in_col).alias("tok")).distinct()
        w = Window.orderBy("tok")
        vocab_rows = (
            distinct.withColumn("idx", F.row_number().over(w) - 1).collect()
        )
        mapping = F.create_map(
            *[x for r in vocab_rows for x in (F.lit(r.tok), F.lit(r.idx))]
        )
        in_col, out_col = self.in_col, self.out_col

        def apply(d: DataFrame) -> DataFrame:
            idxs = F.filter(
                F.transform(F.col(in_col), lambda t: F.element_at(mapping, t)),
                lambda i: i.isNotNull(),
            )
            return d.withColumn(out_col, F.array_sort(idxs))

        t = Transformer(apply, "all_sparse_features")
        t.vocab = {r.tok: r.idx for r in vocab_rows}
        return t


def bigram_logprob_score(
    docs: DataFrame,
    fit_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document mean bigram log-probability under a corpus LM — the
    CCNet/Gopher-style "perplexity filter" signal for corpus curation,
    built on the same counts the StupidBackoffEstimator fits (reference:
    nodes/nlp/StupidBackoff.scala): score(doc) = mean over positions i>=2
    of log P(w_i | w_{i-1}) with stupid-backoff smoothing

        P(w2|w1) = c(w1 w2) / c(w1)          if the bigram was seen
                 = alpha * c(w2) / N          else if w2 was seen
                 = alpha / N                  else (OOV floor)

    ``fit_docs`` (default: ``docs`` itself) is the corpus the counts come
    from; pass a held-out/reference slice to score against a clean LM.
    Returns (id_col, n_bigrams, lm_score) — low scores mark gibberish /
    boilerplate / wrong-language docs for filtering.

    Scale shape: both count fits are map-side-combinable hash aggs; the
    model tables are vocab-bounded (unigrams ~1e6 rows, bigrams the only
    potentially large one) and join back onto the exploded doc bigrams —
    broadcast by default, flip ``broadcast_model=False`` to sort-merge
    when the bigram table outgrows the driver. The doc side shuffles only
    on the final per-doc mean, which AQE coalesces.
    """
    fit = fit_docs if fit_docs is not None else docs
    toks = tokens(F.col(text_col))

    def doc_bigrams(d: DataFrame) -> DataFrame:
        t = d.select(id_col, toks.alias("__t"))
        return t.select(
            id_col,
            F.posexplode(
                F.when(F.size("__t") >= 2, F.slice("__t", 1, F.size("__t") - 1))
                .otherwise(F.array())
            ).alias("__pos", "w1"),
            F.col("__t").alias("__t"),
        ).select(
            id_col, "__pos", "w1",
            F.element_at("__t", F.col("__pos") + 2).alias("w2"),
        )

    fit_bi = doc_bigrams(fit)
    c2 = fit_bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    uni = fit.select(F.explode(toks).alias("w"))
    c1 = uni.groupBy("w").agg(F.count("*").alias("c1"))
    n_total = uni.count()

    if broadcast_model:
        c2, c1 = F.broadcast(c2), F.broadcast(c1)

    scored = (
        doc_bigrams(docs)
        .join(c2, ["w1", "w2"], "left")
        .join(c1.withColumnRenamed("w", "w1").withColumnRenamed("c1", "c1_w1"),
              "w1", "left")
        .join(c1.withColumnRenamed("w", "w2").withColumnRenamed("c1", "c1_w2"),
              "w2", "left")
        .select(
            id_col,
            F.log(
                F.when(
                    F.col("c2").isNotNull(),
                    F.col("c2") / F.col("c1_w1"),
                ).otherwise(
                    F.lit(alpha) * F.coalesce(F.col("c1_w2"), F.lit(1.0))
                    / F.lit(float(n_total))
                )
            ).alias("__lp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.avg("__lp").alias("lm_score"),
    )
    # every doc is scored: docs with <2 tokens produce no bigram rows, so
    # left-join the aggregate back onto the doc-id spine and emit
    # n_bigrams=0 / NULL lm_score instead of silently dropping them
    spine = docs.select(id_col)
    return spine.join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.col("lm_score"),
    )


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    query_id_col: str = "query_id",
    query_tokens_col: str = "q_toks",
) -> DataFrame:
    """BM25 top-k retrieval over an inverted index — the sparse-lexical
    complement to the dense ANN stack (similarity.py): Lucene-form idf
    ``ln(1 + (N - df + .5)/(df + .5))`` and the standard saturated-tf
    term weight, summed per (query, doc) over shared terms only.

    Scale shape: postings (term, doc, tf) and doc lengths are ONE
    tokenize+explode aggregation each (map-side combinable); idf folds
    into the (tiny) query-term table BEFORE the big join, so the
    corpus-sized postings join only broadcast sides. Postings and doc
    lengths are co-partitioned by document (explicit partition count —
    AQE must not coalesce it narrow), so the dl join AND the
    per-(query, doc) sum both run without an exchange
    (HashPartitioning(doc) satisfies the (query, doc) clustering): on
    stop-word-dense workloads the join fan-out (sf1 fixture: 89M rows
    for 500 queries x 50k docs) is generated and aggregated
    partition-locally instead of shuffled (r9; was the dominant cost).
    The per-query top-k prunes map-side (WindowGroupLimit)."""
    n_docs = docs.count()
    postings = (
        docs.select(id_col, F.explode(tokens_col).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = docs.select(id_col, F.size(tokens_col).alias("dl"))
    avgdl = dl.agg(F.avg("dl")).first()[0] or 1.0
    df_t = postings.groupBy("term").agg(
        F.countDistinct(id_col).alias("df")
    )
    idf = df_t.select(
        "term",
        F.log(
            1.0
            + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    q_terms = queries.select(
        query_id_col, F.explode(F.array_distinct(query_tokens_col)).alias("term")
    )
    # fold idf onto the query terms: the result stays query-sized, so
    # the corpus-sized postings never join a vocab-sized table. qt is
    # broadcast UNCONDITIONALLY (ADVICE r9): it is query-sized by
    # construction, and without the hint the postings join would
    # shuffle the just-co-partitioned corpus side by term — undoing
    # the doc co-partitioning this plan exists for.
    qt = F.broadcast(F.broadcast(q_terms).join(idf, "term"))
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    pr = postings.repartition(n_parts, F.col(id_col))
    dlr = dl.repartition(n_parts, F.col(id_col))
    matched = pr.join(qt, "term").join(dlr, id_col)
    w = (
        F.col("idf")
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(float(avgdl))))
    )
    scores = matched.groupBy(query_id_col, id_col).agg(
        F.sum(w).alias("score")
    )
    win = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scores.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= k)
    )


class Bm25Index:
    """Build-once / query-many BM25 index (VERDICT r7 #7 / r8 #5, r10
    append support) — the lexical twin of ``similarity.IvfIndex``.
    ``bm25_search`` recomputes postings, doc lengths, document
    frequencies, and idf from the raw corpus on EVERY call (pure
    function — right for one-shot jobs, ~13 s of rebuild per query at
    sf1); this class is the production shape: every stored quantity is
    an EXACT COUNT (tf, dl per posting; df per term; N and sum(dl)
    in the manifest), so a search never runs a corpus-wide aggregation
    — it derives the BM25 weight

        w = idf(term) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    as a codegen expression over the pruned sliver it scans.

    Storage format v4 (r12 = v3 + a per-doc membership table; r11 = v2
    + crash-safe generation commits). v1
    precomputed w into the postings (Lucene impact-style); that made
    weights depend on CORPUS-WIDE stats (N, avgdl, df) frozen at build
    time, so appending a batch either rewrote the whole index or
    silently served stale weights for every pre-existing document (the
    idf of EVERY term moves when N moves — "refresh touched terms
    only" cannot be exact). v2 (r10) stored raw counts instead, which
    makes ``add`` exact: counts are associative, so an append-only
    index serves scores hash-identical to a from-scratch rebuild, at
    the cost of a handful of arithmetic ops per matched posting at
    search time (whole-stage codegen on an already-pruned scan).
    Every table is APPEND-ONLY:

    - ``{path}/postings``: (term, id, tf, dl) partitioned by
      ``tbucket = pmod(xxhash64(term), n_term_buckets)`` then by the
      writing generation (``gen``);
    - ``{path}/df``: (term, df) deltas, same partitioning — a term's
      document frequency is the SUM of its delta rows (one per
      build/add generation that touched it);
    - ``{path}/docs``: (id, dl) — ONE row per document, partitioned by
      generation (v4, VERDICT r11 #2). This is the index's membership
      authority: the idempotent ``add`` skip set anti-joins it (cost
      grows with document count, not posting count — the postings id
      column is ~two orders denser), zero-token documents appear in it
      (they leave no postings, so the old skip set replayed them and
      the old compact could not subtract them from N), and compact
      derives exact purge accounting from it;
    - ``{path}/params``: the generation log (``PARAMS_SCHEMA``): the
      config columns ``CONFIG``, identical in every row, and each
      committed generation's (n_docs, sum_dl) deltas, summed at load.

    Crash safety: build, add, load and compact run the generation log
    of ``fsutil`` (see its module docstring), so an interrupted add is
    invisible, a blind retry cannot double-count and ``compact``
    purges the orphan rows.

    Scale shape: a query's terms map to a handful of tbuckets, and
    ``search`` pushes that bucket set as a partition filter on BOTH
    the postings and df scans, so a 100-TB index is touched only in
    the directories the query's vocabulary hashes into (same
    partition-pruning contract as IvfIndex cells, pinned by the
    declared query's plan assertion). ``add`` appends one parquet
    commit per table and touches nothing corpus-scale. Each add
    leaves small files per touched bucket and one df-delta row per
    touched term; ``compact`` periodically rewrites the index back to
    one term-sorted file per bucket and a single merged generation
    WITHOUT changing any count. (The generic
    ``sources.tables.compact_files`` must NOT be pointed at these
    tables — its plain rewrite drops the tbucket directory layout
    that search's partition pruning needs.)"""

    FORMAT_VERSION = 4
    TABLE = "postings"  # the partitioned data table
    PART_COL = "tbucket"
    MEMBERS = "docs"  # one row per document

    def __init__(self, postings: DataFrame, df_t: DataFrame, params: dict,
                 path: str | None = None, docs: DataFrame | None = None):
        self.postings = postings  # (term, tbucket, id, tf, dl)
        self.df_t = df_t  # (term, tbucket, df) deltas
        self.docs = docs  # (id, dl) — one row per document, v4
        self.params = params
        self.path = path  # set by save/load; required by add()

    @staticmethod
    def _tbucket(col, n_term_buckets: int):
        return F.pmod(F.xxhash64(col), F.lit(n_term_buckets)).cast("int")

    @classmethod
    def _stats(cls, docs: DataFrame, id_col: str, tokens_col: str,
               n_term_buckets: int
               ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """LAZY (postings, df deltas, per-doc membership rows) for one
        generation — shared by build and add so their counts are
        definitionally the same. Callers aggregate the membership
        frame for (n_docs, sum_dl); ``add`` persists it first so the
        aggregate materializes the cache the docs-table write then
        reads (persist-once, VERDICT r10 #4 extended to v4)."""
        postings = (
            docs.select(
                F.col(id_col),
                F.size(tokens_col).alias("dl"),
                F.explode(tokens_col).alias("term"),
            )
            .groupBy(id_col, "dl", "term")
            .agg(F.count("*").alias("tf"))
            .select(
                "term",
                cls._tbucket("term", n_term_buckets).alias("tbucket"),
                F.col(id_col), "tf", "dl",
            )
        )
        df_t = postings.groupBy("term", "tbucket").agg(
            F.count("*").alias("df")
        )
        # one row per document, ZERO-TOKEN docs included (explode drops
        # them from postings; this table is where they remain visible
        # to the idempotent skip set and to compact's exact N purge)
        docs_tbl = docs.select(
            F.col(id_col), F.size(tokens_col).alias("dl")
        )
        return postings, df_t, docs_tbl

    @staticmethod
    def _doc_totals(docs_tbl: DataFrame) -> tuple[int, int]:
        tot = docs_tbl.agg(
            F.count("*").alias("n"), F.sum("dl").alias("s")
        ).first()
        return int(tot["n"]), int(tot["s"] or 0)

    @classmethod
    def build(
        cls,
        docs: DataFrame,
        k1: float = 1.2,
        b: float = 0.75,
        id_col: str = "doc_id",
        tokens_col: str = "toks",
        n_term_buckets: int = 64,
    ) -> "Bm25Index":
        postings, df_t, docs_tbl = cls._stats(
            docs, id_col, tokens_col, n_term_buckets
        )
        n_docs, sum_dl = cls._doc_totals(docs_tbl)
        params = {
            "version": cls.FORMAT_VERSION,
            "k1": float(k1), "b": float(b), "n_docs": n_docs,
            "sum_dl": sum_dl, "n_term_buckets": int(n_term_buckets),
            "id_col": id_col,
        }
        return cls(postings, df_t, params, docs=docs_tbl)

    PARAMS_SCHEMA = (
        "version long, k1 double, b double, n_docs long, sum_dl long, "
        "n_term_buckets long, id_col string, generation long, "
        "committed boolean"
    )
    CONFIG = ("version", "k1", "b", "n_term_buckets", "id_col")

    def _write_data(self, path: str, mode: str, generation: int) -> None:
        # TERM-ORDERED postings within every file (the Lucene layout,
        # r10): a selective query's term IN (...) filter then prunes at
        # parquet row-group/page level via min/max stats instead of
        # decoding whole buckets — measured 2.9x on the sf1
        # selective-query gate. sortWithinPartitions adds no shuffle.
        # gen rides as the SECOND partition key (constant per write):
        # tbucket pruning at search is untouched, and load's
        # committed-generations filter prunes orphan directories
        # without reading a byte of their data.
        # repartition by tbucket before the partitioned write (guide §6
        # small-files): postings come out of a groupBy hash-partitioned
        # on (id, dl, term), so every write task holds rows of EVERY
        # bucket and each generation emits up to tasks x n_term_buckets
        # files (measured 198 postings files for one build+add at
        # sf0.1). Clustering by tbucket first bounds it at one file per
        # (tbucket, gen) dir — compact already normalizes to this
        # layout; build/add now write it directly. Search-side pruning
        # reads dirs, not file counts, so results are unchanged.
        write = fsutil.write_table if mode == "overwrite" \
            else fsutil.append_table
        gen = F.lit(int(generation))
        write(
            self.postings.withColumn("gen", gen)
            .repartition(F.col("tbucket"))
            .sortWithinPartitions("tbucket", "term"),
            f"{path}/{self.TABLE}", "tbucket", "gen",
        )
        write(
            self.df_t.select("term", "tbucket", "df")
            .withColumn("gen", gen)
            .repartition(F.col("tbucket"))
            .sortWithinPartitions("tbucket", "term"),
            f"{path}/df", "tbucket", "gen",
        )
        # v4 per-doc membership table (VERDICT r11 #2): one narrow row
        # per document — the idempotent skip set anti-joins THIS (cost
        # grows with doc count, not posting count), zero-token docs
        # stay visible to it, and compact's purge subtracts exact
        # (n_docs, sum_dl) from it. gen partitioning gives the same
        # committed-only pruning as the other tables.
        write(self.docs.withColumn("gen", gen), f"{path}/{self.MEMBERS}",
              "gen")

    def save(self, path: str) -> None:
        """Write generation 0 (overwrite): data tables first, the
        committed manifest row LAST — the same manifest-last ordering
        every mutation uses. All tables ride the same Hadoop
        filesystem as ``path`` — FS-agnostic. A save is a brand-new
        index: stale tombstones or a stale compact stage from a
        previous index at this path are cleared first (leftovers would
        hide freshly indexed ids / make readers refuse the rebuild).
        Corollary single-writer contract: a rebuild REPLACES the index
        and must not race a live compact of the old one — the clears
        cannot distinguish a crashed compact's leftovers from a running
        one's; coordinate rebuilds with the compaction schedule."""
        spark = self.postings.sparkSession
        fsutil.clear_index_control_state(spark, path)
        self._write_data(path, "overwrite", 0)
        fsutil.append_manifest(spark, path, self.PARAMS_SCHEMA, self.params,
                               0, True, mode="overwrite")
        # manifest-carried occupancy (r14): index-status reads this
        # instead of scanning postings; any later generation append
        # stales it via the file-count fence and status falls back to
        # the scan until the next compact re-syncs it
        fsutil.refresh_index_stats(spark, path, self.TABLE, self.PART_COL)
        self.path = path

    @classmethod
    def _refuse_format(cls, path: str, found: str) -> None:
        raise ValueError(
            f"Bm25Index at {path} is {found}; this code reads "
            f"v{cls.FORMAT_VERSION} (per-doc membership table, r12) — "
            "rebuild the index with Bm25Index.build().save()")

    @classmethod
    def load(cls, spark, path: str) -> "Bm25Index":
        """Serve the COMMITTED generations only (``fsutil``'s
        generation log). The orphan set is surfaced in
        ``params["incomplete_generations"]`` and physically purged at
        the next ``compact``. One Spark job: the collect of the log."""
        path = fsutil.resolve_index_path(spark, path)  # follow _LATEST
        fsutil.assert_no_interrupted_swap(spark, path)
        log = fsutil.read_generation_log(spark, path, cls.PARAMS_SCHEMA,
                                         cls.CONFIG)
        if log["version"] != cls.FORMAT_VERSION:
            cls._refuse_format(path, f"format v{log['version']}")
        rows = log.pop("committed_rows")
        params = {**log, "n_docs": sum(r["n_docs"] for r in rows),
                  "sum_dl": sum(r["sum_dl"] for r in rows)}

        def committed(table):
            return fsutil.read_committed(spark, path, table,
                                         log["committed"])

        return cls(committed(cls.TABLE), committed("df"), params, path=path,
                   docs=committed(cls.MEMBERS))

    @classmethod
    def add(
        cls,
        spark,
        path: str,
        batch_docs: DataFrame,
        tokens_col: str = "toks",
        skip_existing_ids: bool = False,
    ) -> dict:
        """Append a document batch to the stored index WITHOUT a rebuild
        (VERDICT r9 #1): sign the batch with the manifest's config,
        append its postings and df deltas to the bucket-partitioned
        tables, and append one generation row carrying the batch's
        (n_docs, sum_dl) deltas. Because every stored quantity is an
        exact count and counts are associative, ``search`` after ``add``
        is HASH-IDENTICAL to a from-scratch rebuild over the union
        corpus (pinned by test) — no staleness contract needed.

        Contract: batch ids must be FRESH among live documents (an id
        already served would double-count its postings — ids name
        documents; takedowns go through ``delete``); the batch must be
        tokenized by the same tokenizer as the build (the index stores
        terms, not text). Or pass ``skip_existing_ids=True`` for the
        IDEMPOTENT form (the streaming-replay contract, same shape as
        ``IvfIndex.add``): ids already present in the committed
        per-doc membership table (``{path}/docs``) OR tombstoned are
        anti-joined out before anything is counted, so a replayed
        batch appends nothing and stats stay exact. The skip set is
        one row per document, two narrow columns (v4, VERDICT r11 #2 —
        the v3 form scanned the postings id column, whose size grows
        with the INDEX at ~hundreds of rows per doc, paid per
        micro-batch by ``stream_bm25_ingest``), and it carries
        zero-token documents too, so an all-empty-docs replay is a
        no-op (the v3 caveat is closed). Committed generations only,
        so a retried CRASHED add still lands — its orphan rows are
        never in the committed set.

        Crash safety: the add commits one generation of ``fsutil``'s
        generation log (``commit_generation``; the commit row carries
        the batch's (n_docs, sum_dl)), so a crash leaves nothing
        ``load`` serves and a blind re-run counts the batch once.
        Both properties are pinned by crash-simulation tests.

        Each add commits one small parquet file set per touched bucket;
        compact periodically (class docstring). Returns an
        observability dict; reload via ``load`` to search the updated
        index (an already-loaded instance's file listing predates the
        append)."""
        with fsutil.locked_mutation(spark, path) as (path, fence):
            idx = cls.load(spark, path)  # validates format + manifest
            p = idx.params
            if skip_existing_ids:
                # anti-join against the per-doc membership table — one
                # row per COMMITTED document (2 narrow columns), not the
                # postings id column (VERDICT r11 #2: that scan grew
                # with the INDEX, ~hundreds of posting rows per doc,
                # paid per micro-batch by stream_bm25_ingest). The docs
                # table also carries zero-token documents, so an
                # all-empty-docs replay is skipped too (the old
                # postings-derived skip set could not see them).
                known = idx.docs.select(p["id_col"])
                tomb = fsutil.read_tombstones(spark, path, p["id_col"])
                if tomb is not None:
                    known = known.unionByName(tomb)
                batch_docs = batch_docs.join(
                    known, p["id_col"], "left_anti"
                )
            postings, df_t, docs_tbl = cls._stats(
                batch_docs, p["id_col"], tokens_col, p["n_term_buckets"]
            )
            # persist-once on BOTH batch lineages (VERDICT r10 #4,
            # extended to the v4 docs table): the (n_docs, sum_dl)
            # aggregate materializes the membership cache (the docs
            # write reads it back), and the data write materializes
            # the postings cache (the postings_added stat reads it
            # back) — the batch is evaluated exactly twice per append
            docs_tbl = docs_tbl.persist()
            n_docs, sum_dl = cls._doc_totals(docs_tbl)
            if n_docs == 0:
                docs_tbl.unpersist()
                return {"batch_docs": 0, "postings_added": 0,
                        "generation": None}
            postings = postings.persist()
            batch = cls(postings, df_t, p, docs=docs_tbl)
            written = {}

            def write_manifest(gen, committed):
                # the intent row carries zero deltas, the commit row
                # the batch's (n_docs, sum_dl)
                fsutil.append_manifest(
                    spark, path, cls.PARAMS_SCHEMA,
                    {**p, "n_docs": n_docs if committed else 0,
                     "sum_dl": sum_dl if committed else 0},
                    gen, committed)

            def write_data(gen):
                batch._write_data(path, "append", gen)
                written["postings"] = postings.count()

            try:
                gen = fsutil.commit_generation(
                    fence, p["max_generation"], write_manifest, write_data)
            finally:
                postings.unpersist()
                docs_tbl.unpersist()
        return {
            "batch_docs": n_docs,
            "postings_added": written["postings"],
            "sum_dl_added": sum_dl,
            "generation": gen,
        }

    @classmethod
    def delete(cls, spark, path: str, ids) -> dict:
        """Tombstone documents out of the stored index — the takedown
        path a long-lived corpus index needs. Appends one parquet
        commit to ``{path}/tombstones``; ``search`` anti-joins its
        pruned postings against the tombstone set, so deleted
        documents stop appearing in results IMMEDIATELY, while the
        corpus statistics (N, avgdl, df) stay at their pre-delete
        values until ``compact`` physically purges the rows and
        re-derives exact stats. That staleness window is deliberate
        Lucene parity: deleted docs keep counting toward df/idf until
        a segment merge there too — scores of surviving documents are
        unchanged by a delete and snap to the exact smaller-corpus
        values at compact (both pinned by test; exact even for
        zero-token documents since v4's membership table carries
        them).

        ``ids`` is a list of ids or a one-column DataFrame. Deleting
        an id not in the index is a harmless no-op row. Tombstones
        accumulate until compact; search pays one anti-join against
        the set per query (tiny between sensible compaction
        cadences). The tombstone column takes the index's stored id
        name and type from the recorded schema of the ``docs`` table
        (``fsutil.member_id``; no index load), so string-id indexes
        delete correctly too. An index killed mid-swap, or one of
        format v3 or older (no ``docs`` table), is refused as ``load``
        refuses it."""
        def stored_id(snap):
            fsutil.assert_no_interrupted_swap(spark, snap)
            members = f"{snap}/{cls.MEMBERS}"
            if not fsutil.fs_exists(spark, members):
                cls._refuse_format(snap, "format v3 or older")
            return fsutil.member_id(spark, members, "dl")

        return fsutil.delete_ids(spark, path, ids, stored_id)

    @classmethod
    def compact(cls, spark, path: str, dest: str | None = None) -> dict:
        """Rewrite an appended-to index back to its built shape — the
        OPTIMIZE pass of the ingest loop: postings become one
        term-sorted file per bucket (each add left a small file set
        per touched bucket; footer/open overhead grows with add count
        until a search's pruned scan is file-bound, not byte-bound),
        df deltas merge to one row per term, and the generation
        manifests collapse to a single generation 0 with the summed
        (n_docs, sum_dl). Without tombstones no count changes, so
        search results are hash-identical before and after (pinned by
        test). With tombstones (``delete``), compact is the PURGE
        point: tombstoned postings are dropped, df is re-derived from
        the surviving postings, and (n_docs, sum_dl) subtract the
        deleted documents' exact contributions — search thereafter
        equals a from-scratch build over the surviving corpus (pinned
        by test). The subtraction reads the v4 per-doc membership
        table, so it is exact even for zero-token documents (the v3
        postings-derived form could not see them and left them counted
        in N forever). Uncommitted orphan generations (from a crashed
        add) are dropped too: the rewrite reads through ``load``, which
        serves committed rows only.

        In place, or as a fresh snapshot at ``dest`` published by a
        pointer flip: both forms and their locking are
        ``fsutil.compact_index``. Returns ``postings_files_*`` and
        ``orphan_generations_purged``; the in-place form adds
        ``generations_merged``."""

        def rewrite(snap, out):
            idx = cls.load(spark, snap)  # validates format + manifest
            p = idx.params
            id_col = p["id_col"]
            postings, docs_tbl = idx.postings, idx.docs
            n_docs, sum_dl = p["n_docs"], p["sum_dl"]
            tomb = fsutil.read_tombstones(spark, snap, id_col)
            if tomb is not None:
                # exact purge accounting from the per-doc membership
                # table (v4): a deleted doc with ZERO tokens left no
                # postings, so the old postings-derived subtraction
                # kept it counted in N forever — the docs table has its
                # row, so N and sum_dl land exactly on the survivors.
                gone = (
                    docs_tbl.join(F.broadcast(tomb), id_col, "left_semi")
                    .agg(F.count("*").alias("n"), F.sum("dl").alias("s"))
                    .first()
                )
                n_docs -= int(gone["n"])
                sum_dl -= int(gone["s"] or 0)
                postings = postings.join(F.broadcast(tomb), id_col,
                                         "left_anti")
                docs_tbl = docs_tbl.join(F.broadcast(tomb), id_col,
                                         "left_anti")
            # one whole bucket per task -> one right-sized file per
            # bucket directory; _write_data re-sorts by (tbucket, term)
            # for row-group pruning. df is RE-DERIVED from the
            # (surviving) postings — exact by construction (one posting
            # row per (doc, term)), and the single code path that is
            # correct both with and without tombstones.
            merged = cls(
                postings.repartition(F.col(cls.PART_COL)),
                postings.groupBy("term", cls.PART_COL).agg(
                    F.count("*").alias("df")),
                p,
                docs=docs_tbl.repartition(
                    spark.sparkContext.defaultParallelism),
            )
            merged._write_data(out, "overwrite", 0)
            fsutil.append_manifest(
                spark, out, cls.PARAMS_SCHEMA,
                {**p, "n_docs": n_docs, "sum_dl": sum_dl}, 0, True,
                mode="overwrite")
            return ([cls.TABLE, "df", cls.MEMBERS, "params"],
                    {"orphan_generations_purged":
                     p["incomplete_generations"]})

        out = fsutil.compact_index(spark, path, dest, cls.TABLE,
                                   cls.PART_COL, rewrite)
        if dest is None:
            out["generations_merged"] = True
        return out

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        query_id_col: str = "query_id",
        query_tokens_col: str = "q_toks",
        k1: float | None = None,
        b: float | None = None,
    ) -> DataFrame:
        """Top-k BM25 per query against the stored counts. Identical
        scores to ``bm25_search`` over the same corpus/params (same
        weight formula, derived from the same exact counts). Passing
        ``k1``/``b`` validates them against the manifest — the v2
        layout could legally score with any constants (weights are
        derived, not stored), but an index is built FOR a scoring
        config and silently serving a different one is the failure
        mode the manifest contract exists to stop, so a mismatch
        raises (same contract as the MinHash index manifest).

        The query-term bucket set is collected (queries are the tiny
        side by contract) and pushed as a literal IN filter, so BOTH
        index scans (postings, df deltas) prune to the buckets the
        query's vocabulary hashes into. Scoring is shaped so that NO
        pair-scale shuffle exists in the plan: the pruned postings are
        co-partitioned by document (one bounded shuffle of
        matched-posting rows, explicit partition count so AQE cannot
        coalesce it narrow), the query terms — joined with their
        summed df deltas and idf, a query-sized table — broadcast onto
        them, and the per-(query, doc) sum then runs WITHOUT an
        exchange (HashPartitioning(doc) satisfies the (query, doc)
        clustering). The per-query top-k prunes map-side
        (WindowGroupLimit), so the only pair-scale data movement left
        is the ~32 x n_queries x k rows of partial top-k. On
        stop-word-dense workloads (the sf1 fixture: 89M joined rows
        for 500 queries x 50k docs) this is the difference between a
        15 s aggregation shuffle and partition-local hashing; on
        selective workloads the co-partition shuffle is a sliver of
        the corpus (sum of matched df), so the same plan is right at
        both extremes."""
        p = self.params
        for name, given in (("k1", k1), ("b", b)):
            if given is not None and float(given) != p[name]:
                raise ValueError(
                    f"Bm25Index.search {name}={given} disagrees with the "
                    f"index manifest ({name}={p[name]}) — the index was "
                    "built for that scoring config; rebuild to change it"
                )
        k1v, bv = p["k1"], p["b"]
        id_col = p["id_col"]
        nb = p["n_term_buckets"]
        n_docs = p["n_docs"]
        avgdl = (p["sum_dl"] / n_docs) if n_docs else 1.0
        q_terms = queries.select(
            query_id_col,
            F.explode(F.array_distinct(query_tokens_col)).alias("term"),
        ).withColumn("tbucket", self._tbucket("term", nb))
        # queries are the tiny side by contract: pull the term list down
        # once; terms prune rows inside the buckets, buckets prune the
        # directory scan
        qt_rows = q_terms.collect()
        terms = sorted({r["term"] for r in qt_rows})
        wanted = sorted({int(r["tbucket"]) for r in qt_rows})
        sub = self.postings.where(F.col("tbucket").isin(wanted)).where(
            F.col("term").isin(terms)
        )
        spark = queries.sparkSession
        if self.path is not None:
            # deleted docs vanish from results immediately; corpus
            # stats stay pre-delete until compact purges (see delete —
            # deliberate Lucene deleted-docs-until-merge parity)
            tomb = fsutil.read_tombstones(spark, self.path, id_col)
            if tomb is not None:
                sub = sub.join(F.broadcast(tomb), id_col, "left_anti")
        # per-term df = sum of its generation deltas over the pruned
        # bucket/term sliver — PULLED to the driver (query-term-sized
        # by contract): idf then folds into the broadcast query-term
        # table as a literal, and sum(df) is an EXACT upper bound on
        # matched-posting rows, which drives the physical choice below
        import math as _math

        df_by_term: dict = {}
        for r in (
            self.df_t.where(F.col("tbucket").isin(wanted))
            .where(F.col("term").isin(terms))
            .select("term", "df")
            .collect()  # raw generation deltas: summing driver-side
        ):  # skips an exchange (rows <= query terms x generations)
            df_by_term[r["term"]] = df_by_term.get(r["term"], 0) + int(r["df"])
        # rebuild the (tiny, already-collected) query-term table locally
        # with idf attached, so the broadcast re-runs neither the
        # queries lineage nor a df join
        q_pairs = [
            (r[query_id_col], r["term"],
             _math.log(1.0 + (n_docs - df_by_term[r["term"]] + 0.5)
                       / (df_by_term[r["term"]] + 0.5)))
            for r in qt_rows if r["term"] in df_by_term
        ]
        id_field = q_terms.schema[query_id_col]
        q_local = spark.createDataFrame(
            q_pairs,
            schema=f"{query_id_col} {id_field.dataType.simpleString()}, "
                   "term string, idf double",
        )
        qt = F.broadcast(q_local)
        # cost-based co-partition (r10): the doc co-partition exists so
        # the stop-word-dense regime's pair-scale fan-out (sf1 fixture:
        # 89M matched rows) aggregates partition-locally instead of
        # exchanging. For SELECTIVE queries the same exchange is pure
        # fixed overhead on a few hundred rows — and the index's own df
        # stats bound the fan-out EXACTLY (sum of matched df per query
        # pair), so the switch is driven by stored statistics, not a
        # guess. Below the threshold the tiny matched set flows
        # straight into the aggregation exchange.
        matched_bound = sum(df_by_term[t] for _, t, _ in q_pairs)
        if matched_bound > 200_000:
            n_parts = spark.sparkContext.defaultParallelism
            sub = sub.repartition(n_parts, F.col(id_col))
        matched = sub.join(qt, "term")
        w = (
            F.col("idf")
            * (F.col("tf") * (k1v + 1))
            / (
                F.col("tf")
                + k1v * (1 - bv + bv * F.col("dl") / F.lit(float(avgdl)))
            )
        )
        scores = matched.groupBy(query_id_col, id_col).agg(
            F.sum(w).alias("score")
        )
        win = Window.partitionBy(query_id_col).orderBy(
            F.col("score").desc(), F.col(id_col)
        )
        return (
            scores.withColumn("rk", F.row_number().over(win))
            .where(F.col("rk") <= k)
        )

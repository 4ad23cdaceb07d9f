"""Corpus-curation operators for training-data pipelines: token-budget
sequence packing, stratified sampling, weighted source mixing.

These extend the reference surface per the project north star (SURVEY §2.11
— LLM-data ops); none exist in amplab/keystone. All are declarative
window/sample compositions — no Python in the data path — so they scale as
ordinary Spark shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from keystone_spark.caches import attach, checkpoint


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    partition_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    out_col: str = "pack_id",
) -> DataFrame:
    """Assign documents to OFFSET-SHARDED packs: pack_id =
    floor((running_sum(tokens) - tokens) / budget) within each partition —
    i.e. a doc belongs to the shard its *start offset* falls in, as if the
    token stream were concatenated and cut every ``budget`` tokens. A pack
    may therefore OVERFLOW the budget by up to max_doc_len - 1 tokens (the
    doc straddling a cut stays in the earlier pack); use
    ``pack_sequences_greedy`` when packs must never exceed the budget
    (ADVICE r1 clarified this contract).

    Done as ONE window cumsum — no driver loop, no UDF; partition_cols
    (e.g. source/lang) bound window state so each group packs
    independently and in parallel. Deterministic given order_cols.
    """
    parts = partition_cols or []
    order = order_cols or []
    w = Window.partitionBy(*parts).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = F.sum(F.col(token_col)).over(w)
    return df.withColumn(
        out_col,
        F.floor((run - F.col(token_col)) / F.lit(budget)).cast("long"),
    )


def pack_sequences_greedy(
    df: DataFrame,
    token_col: str,
    budget: int,
    partition_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    out_col: str = "pack_id",
) -> DataFrame:
    """TRUE greedy in-order fill: close the current pack as soon as adding
    the next document would exceed ``budget``, so every pack's total stays
    <= budget — except a single oversized document, which gets a pack of
    its own. This is the contract LLM-pretraining shard packing needs
    (an over-budget shard silently truncates training sequences).

    The decision is inherently sequential (pack boundaries depend on every
    earlier doc), so it cannot be one window expression; it runs as one
    Arrow-batched pass per group (``applyInPandas``) with partition_cols
    bounding the sequential state — groups pack in parallel, rows within a
    group stream through a tight loop. With no partition_cols the whole
    input is a single group: fine for bounded inputs, pass partition_cols
    at scale (a shard family per source/lang is also what you want
    operationally)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    parts = partition_cols or []
    order = order_cols or []
    # fresh StructType: StructType.add mutates in place and would poison
    # the input DataFrame's cached schema
    schema = StructType(list(df.schema.fields) + [StructField(out_col, LongType())])
    sort_cols = order + [c for c in df.columns if c not in order]

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        ids = []
        pid, acc = 0, 0
        for tok in pdf[token_col].astype("int64"):
            if acc > 0 and acc + tok > budget:
                pid += 1
                acc = 0
            ids.append(pid)
            acc += tok
        pdf[out_col] = pd.Series(ids, dtype="int64")
        return pdf

    grouped = df.groupBy(*parts) if parts else df.groupBy(F.lit(1).alias("__g"))
    return grouped.applyInPandas(pack, schema)


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sampling (df.sampleBy): deterministic given
    seed, no shuffle (map-side filter)."""
    return df.sampleBy(strata_col, fractions, seed=seed)


def sample_mixture(
    sources: dict[str, DataFrame], weights: dict[str, float], seed: int = 42
) -> DataFrame:
    """Weighted mixture of corpora: per-source Bernoulli sample at the
    given rate, tagged with its source name, unioned. Rates > 1.0 mean
    oversampling via withReplacement (duplication is intentional for
    up-weighting small high-quality sources). Union is metadata-only;
    the samples are map-side filters — nothing shuffles."""
    out = None
    for name, df in sources.items():
        w = float(weights.get(name, 1.0))
        part = (
            df.sample(withReplacement=True, fraction=w, seed=seed)
            if w > 1.0
            else df.sample(fraction=w, seed=seed)
        )
        part = part.withColumn("mix_source", F.lit(name))
        out = part if out is None else out.unionByName(part)
    return out


def reservoir_per_key(
    df: DataFrame,
    key_cols: list[str],
    k: int,
    id_cols: list[str] | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic uniform sample WITHOUT replacement of k rows per key
    — hash-priority sampling: each row's priority is a hash of its
    identity, and the k smallest priorities per key win. Statistically
    identical to a per-key reservoir, but stateless and distributed: one
    shuffle on the keys and the rank prunes map-side (WindowGroupLimit),
    so it behaves like any top-k at 100 TB. Re-running (or re-sharding)
    the input yields the SAME sample — the property reservoirs lack and
    curation pipelines need for reproducibility; vary ``salt`` to draw a
    different sample.

    ``id_cols`` defaults to all non-key columns; md5 is the priority
    hash deliberately (available in every engine, so the exact sample is
    cross-checkable against a SQL oracle). NULL id values are encoded as
    an explicit sentinel before hashing — concat_ws silently DROPS null
    arguments, which would otherwise collide rows that differ only in
    which column is null (the SQL mirror is
    ``coalesce(CAST(c AS VARCHAR), chr(0) || 'NULL')``)."""
    ids = id_cols if id_cols is not None else [
        c for c in df.columns if c not in key_cols
    ]
    pri = F.md5(
        F.concat_ws(
            "\x1f",
            F.lit(salt),
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
                for c in ids
            ],
        )
    )
    w = Window.partitionBy(*key_cols).orderBy(pri, *ids)
    return (
        df.withColumn("__rs", F.row_number().over(w))
        .where(F.col("__rs") <= k)
        .drop("__rs")
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 4,
    sep: str = "\n",
    out_col: str = "clean_text",
    broadcast_common: bool = True,
) -> DataFrame:
    """Repeated-line removal (the RefinedWeb/Falcon line-dedup pass):
    drop every line that occurs in more than ``max_docs`` distinct
    documents — navbars, cookie banners, boilerplate footers — and
    reassemble each document from its surviving lines in original order.

    Shape at 100 TB: one map-side-combinable agg over line text to find
    the common set (web boilerplate is a tiny, heavy-hitter set next to
    the corpus — millions of lines, not trillions), broadcast LEFT ANTI
    to filter, then one groupBy per doc to reassemble. The line
    frequency agg keys on the full line string so the common set is
    exact (hash-only keys would conflate colliding lines and delete
    innocent content); set ``broadcast_common=False`` if the common set
    ever outgrows the broadcast threshold.
    """
    lines = docs.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias("__pos", "__line"),
    )
    common = (
        lines.groupBy("__line")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .where(F.col("__nd") > max_docs)
        .select("__line")
    )
    if broadcast_common:
        common = F.broadcast(common)
    kept = lines.join(common, "__line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            sep,
        ).alias(out_col)
    )
    # docs whose every line was boilerplate must survive as empty strings,
    # not vanish — left join back to the id spine
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    broadcast_changes: bool = True,
) -> DataFrame:
    """CDC MERGE: apply a changelog (insert/update/delete rows) to a base
    snapshot and return the new snapshot — the Delta/Iceberg ``MERGE
    INTO`` semantics expressed as plain DataFrame algebra so it works on
    raw parquet:

    - rows whose ``op_col`` is ``'D'`` delete the matching base key;
    - any other op upserts (replaces-or-inserts) the change row's values;
    - with ``seq_col``, only the LATEST change per key applies (equal
      seq ties break deterministically by op descending, i.e. 'U' > 'I'
      > 'D' — give deletes a higher seq when they must win a tie), so a
      full day's changelog folds in one pass.

    Scale shape: the changelog is small next to the snapshot (else you'd
    rewrite, not merge) — the per-key latest-change fold shuffles only
    the changelog, and the base-side LEFT ANTI is a broadcast hash join,
    i.e. one full scan of base with a map-side filter plus a
    metadata-only union. Set ``broadcast_changes=False`` to let it
    degrade to a sort-merge anti join for changelog-sized-like-base
    backfills.
    """
    if seq_col is not None:
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(seq_col).desc(), F.col(op_col).desc()
        )
        changes = (
            changes.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    touched = changes.select(*key_cols).distinct()
    if broadcast_changes:
        touched = F.broadcast(touched)
    survivors = base.join(touched, key_cols, "left_anti")
    upserts = changes.where(F.col(op_col) != F.lit("D")).select(*base.columns)
    return survivors.unionByName(upserts)


def contamination_check(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_expr=None,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark-contamination scan: which training docs share at least
    one word n-gram with an evaluation/benchmark set.

    The standard train/test leakage check for LLM corpora (n-gram overlap
    a la GPT-3/PaLM decontamination): docs explode to DISTINCT n-gram
    hashes (xxhash64 — 8 bytes through the shuffle instead of the gram
    string), the benchmark side reduces to a distinct hash set, and a
    LEFT SEMI join keeps contaminated doc ids. At 100 TB the benchmark
    side is tiny -> Spark broadcasts it and the check is a map-side
    filter over one scan of the corpus; no all-pairs anything.

    ``token_expr``: optional Column producing array<string> tokens from a
    row (defaults to functions.text.tokens on ``text_col``).
    """
    from pyspark.sql import functions as F

    from keystone_spark.functions.text import tokens, word_ngrams

    toks = token_expr if token_expr is not None else tokens(F.col(text_col))
    gram_hashes = F.transform(
        F.array_distinct(word_ngrams(toks, n)), lambda g: F.xxhash64(g)
    )

    def explode_grams(df: DataFrame) -> DataFrame:
        return df.select(
            id_col, F.explode(gram_hashes).alias("__gram")
        )

    bench_grams = explode_grams(bench).select("__gram").distinct()
    if broadcast_bench:
        # eval sets are tiny next to the corpus: pin the broadcast so the
        # scan-side semi filter never degrades to a sort-merge of 100 TB
        # of gram hashes (pass False for a genuinely huge bench side)
        bench_grams = F.broadcast(bench_grams)
    return (
        explode_grams(docs)
        .join(bench_grams, "__gram", "left_semi")
        .select(id_col)
        .distinct()
    )


def weighted_sample_per_key(
    df: DataFrame,
    key_cols: list[str],
    k: int,
    weight_col: str,
    id_cols: list[str] | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic WEIGHTED sample without replacement of k rows per
    key — Efraimidis-Spirakis priority sampling: each row draws a
    deterministic uniform u from its identity hash and competes with key
    ``u^(1/w)``; the k LARGEST win, which selects row i with probability
    proportional to its weight. The weighted sibling of
    ``reservoir_per_key`` (same md5-identity determinism, same one
    shuffle + WindowGroupLimit shape), for quality-weighted corpus
    subsampling where better documents must survive more often.

    u is the md5-derived 52-bit uniform shifted into (0,1); the whole
    priority replays in a SQL oracle (``CAST('0x'||substr(md5(..),1,13)
    AS BIGINT)``), so the EXACT sample is cross-checkable. Weights must
    be > 0; vary ``salt`` for an independent redraw.
    """
    ids = id_cols if id_cols is not None else [
        c for c in df.columns if c not in key_cols
    ]
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "\x1f",
                            F.lit(salt),
                            *[
                                F.coalesce(
                                    F.col(c).cast("string"),
                                    F.lit("\x00NULL"),
                                )
                                for c in ids
                            ],
                        )
                    ),
                    1, 13,
                ),
                16, 10,
            ).cast("double")
            + 0.5
        )
        / float(1 << 52)
    )
    pri = F.pow(u, 1.0 / F.col(weight_col))
    w = Window.partitionBy(*key_cols).orderBy(F.desc_nulls_last(pri), *ids)
    return (
        df.withColumn("__ws", F.row_number().over(w))
        .where(F.col("__ws") <= k)
        .drop("__ws")
    )


def diff_snapshots(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Snapshot diff — the INVERSE of ``apply_changes``: compare two
    versions of a table and emit the minimal changelog ('I' inserted,
    'D' deleted, 'U' value-changed keys with the new values) such that
    ``apply_changes(old, diff_snapshots(old, new), keys) == new``. The
    audit/backfill primitive: turns any pair of daily snapshots into the
    CDC stream you wish the source had emitted.

    One full-outer join on the keys; change detection compares the
    remaining columns null-safely (eqNullSafe), so NULL-vs-value edits
    are real updates and NULL==NULL is unchanged. Unchanged rows drop
    out — the changelog is proportional to the churn, not the table.
    """
    val_cols = [c for c in old.columns if c not in key_cols]
    # presence must come from a row-existence marker, not value nullness
    o2 = old.withColumn("__o", F.lit(1)).alias("o")
    n2 = new.withColumn("__n", F.lit(1)).alias("n")
    j = o2.join(n2, key_cols, "full_outer")
    changed = F.lit(False)
    for c in val_cols:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    status = (
        F.when(F.col("o.__o").isNull(), F.lit("I"))
        .when(F.col("n.__n").isNull(), F.lit("D"))
        .when(changed, F.lit("U"))
    )
    # pick values by ROW presence, not value nullness: an update that
    # sets a column to NULL must carry the new NULL, not the old value
    # (coalesce would resurrect it and break the apply∘diff == new law)
    out_vals = [
        F.when(F.col("n.__n").isNotNull(), F.col(f"n.{c}"))
        .otherwise(F.col(f"o.{c}"))
        .alias(c)
        for c in val_cols
    ]
    return (
        j.select(*key_cols, *out_vals, status.alias(op_col))
        .where(F.col(op_col).isNotNull())
    )


def duplicate_spans(
    docs: DataFrame,
    span_tokens: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_expr=None,
) -> DataFrame:
    """Exact duplicated-span profile per document — the distributed
    formulation of ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find fixed-length
    token spans that occur verbatim in >= ``min_docs`` DISTINCT
    documents and report, per document, how much of it is made of such
    cross-corpus boilerplate.

    Upstream keystone has no corpus-dedup surface; this extends the
    n-gram machinery (``nodes/nlp/NGramsFeaturizer.scala``) to the
    LLM-curation use case, replacing the paper's suffix array with a
    bucketed hash join — the construction that actually distributes:

    - spans are deduped WITHIN the doc in-array (``array_distinct``
      before ``explode``), so the per-doc distinct costs no shuffle;
    - spans shuffle as 52-bit md5-derived longs (fixed 8 bytes instead
      of multi-hundred-byte strings; the exact assignment replays in
      any engine: ``CAST('0x' || substr(md5(s),1,13) AS BIGINT)``).
      Collisions at 52 bits only ever OVERcount sharing and need ~1e7
      colliding spans to expect one; swap in ``xxhash64`` when
      cross-engine replay is not required;
    - the shared-span table is one map-side-combinable count agg; both
      per-doc counts come out of ONE groupBy(id) after a left join back
      onto the exploded spans (co-partitioned on the span key with that
      agg). Nothing is all-pairs and no stage holds a whole doc's text
      after the first projection.

    Returns one row PER INPUT DOC (spine preserved — a doc shorter than
    ``span_tokens`` reports ``n_spans = 0`` and NULL ``dup_frac``):
    ``(id_col, n_spans, n_dup_spans, dup_frac)`` where ``n_spans``
    counts distinct spans in the doc and ``dup_frac = n_dup_spans /
    n_spans``.
    """
    from keystone_spark.functions.text import tokens, word_ngrams

    toks = token_expr if token_expr is not None else tokens(F.col(text_col))
    span_keys = F.transform(
        F.array_distinct(word_ngrams(toks, span_tokens)),
        lambda s: F.conv(F.substring(F.md5(s), 1, 13), 16, 10).cast("long"),
    )
    # the tokenize+ngram+md5 kernel is the expensive part: evaluate it
    # exactly ONCE (this explode); the spine below is an id-only pruned
    # scan and both counts come out of one groupBy(id) after the span
    # join (whose build side reuses this explode's exchange under AQE)
    doc_spans = docs.select(id_col, F.explode(span_keys).alias("__span"))
    # each (doc, span) appears once after the in-array distinct, so a
    # plain count(*) IS the distinct-doc count — no count_distinct blowup
    dup_spans = (
        doc_spans.groupBy("__span")
        .agg(F.count("*").alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__span", F.lit(1).alias("__dup"))
    )
    per_doc = (
        doc_spans.join(dup_spans, "__span", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("__ns"),
            F.sum(F.coalesce("__dup", F.lit(0))).alias("__ndup"),
        )
    )
    n_spans = F.coalesce(F.col("__ns"), F.lit(0)).cast("long")
    n_dup = F.coalesce(F.col("__ndup"), F.lit(0)).cast("long")
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        n_spans.alias("n_spans"),
        n_dup.alias("n_dup_spans"),
        F.when(n_spans > 0, n_dup / n_spans).alias("dup_frac"),
    )


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame,
    dim: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_expr=None,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR; Xie et al. 2023):
    score every raw-corpus document by how much it resembles a target
    domain, as the log importance ratio under hashed-unigram bag models

        logw(x) = sum_{tok in x} [ log p_target(bucket(tok))
                                   - log p_raw(bucket(tok)) ]

    with add-1 smoothing over a fixed ``dim``-bucket feature-hash space
    (buckets via ``functions.text.hash_bucket`` — md5-derived so the
    exact assignment replays in the SQL oracle). Resampling is then
    top-k / Gumbel over ``logw`` — composed downstream (e.g. with
    ``weighted_sample_per_key``) rather than baked in here.

    Scale shape: both corpora reduce to <= ``dim`` bucket-count rows
    (map-side-combinable aggs), the smoothed log-ratio table is <= dim
    rows and BROADCAST onto the exploded raw tokens, and the per-doc
    score is one more map-side-combinable sum — the corpus is scanned
    twice, nothing else grows with corpus size. Docs with zero tokens
    stay on the spine with ``logw = 0.0`` (the empty product).

    Returns ``(id_col, logw)`` with one row per raw doc.
    """
    from keystone_spark.functions.text import hash_bucket, tokens

    toks = token_expr if token_expr is not None else tokens(F.col(text_col))

    def bucketed(df: DataFrame) -> DataFrame:
        return df.select(
            id_col, F.explode(toks).alias("__tok")
        ).select(id_col, hash_bucket("__tok", dim).alias("__b"))

    tgt = bucketed(target).groupBy("__b").agg(F.count("*").alias("__tc"))
    src = bucketed(raw).groupBy("__b").agg(F.count("*").alias("__sc"))
    counts = tgt.join(src, "__b", "full_outer").select(
        "__b",
        F.coalesce("__tc", F.lit(0)).alias("__tc"),
        F.coalesce("__sc", F.lit(0)).alias("__sc"),
    )
    totals = counts.agg(
        F.sum("__tc").alias("__tt"), F.sum("__sc").alias("__st")
    )
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "__b",
        (
            F.log((F.col("__tc") + 1) / (F.col("__tt") + F.lit(dim)))
            - F.log((F.col("__sc") + 1) / (F.col("__st") + F.lit(dim)))
        ).alias("__lr"),
    )
    per_doc = (
        bucketed(raw)
        .join(F.broadcast(ratio), "__b")
        .groupBy(id_col)
        .agg(F.sum("__lr").alias("__logw"))
    )
    return raw.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("__logw", F.lit(0.0)).alias("logw"),
    )


def strip_duplicate_spans(
    docs: DataFrame,
    span_tokens: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_expr=None,
) -> DataFrame:
    """ExactSubstr REMOVAL (the second half of Lee et al. 2022 —
    ``duplicate_spans`` detects, this strips): delete every token
    covered by a fixed-length span that occurs verbatim in >=
    ``min_docs`` distinct documents, and reassemble each document from
    its surviving tokens in order.

    Distributed shape, all positional:

    - tokens explode WITH position (posexplode) — one linear pass;
    - spans keep their start position and hash to the same 52-bit md5
      keys as ``duplicate_spans`` (oracle-replayable); the shared-key
      table is a distinct (doc, key) count agg;
    - covered positions = shared spans exploded to ``sequence(p,
      p+span_tokens-1)``, deduped per doc — proportional to the
      duplicated text, not the corpus;
    - surviving tokens anti-join covered positions on (doc, pos) and
      reassemble via array_sort(collect_list(struct(pos, tok))) — the
      per-doc list is bounded by doc length, never corpus-sized.

    Returns one row per input doc: ``(id_col, clean_text,
    n_tokens_removed)`` — a doc with no tokens (or shorter than the
    span) survives unchanged with 0 removed; a NULL text passes
    through as NULL with 0 removed (ADVICE r6: with ANSI off,
    ``size(NULL)`` is -1, so the token count must be guarded
    explicitly); a doc that is ENTIRELY boilerplate comes back as the
    empty string, which is the downstream length-filter's job to drop.
    """
    from keystone_spark.functions.text import tokens

    toks_arr = token_expr if token_expr is not None else tokens(F.col(text_col))
    base = docs.select(id_col, toks_arr.alias("__t"))
    pos_toks = base.select(
        id_col, F.posexplode("__t").alias("__p", "__tok")
    )
    # spans at start position p (0-based), hashed like duplicate_spans
    spans = base.where(F.size("__t") >= span_tokens).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - span_tokens + 1),
                lambda i: F.struct(
                    (i - 1).alias("p"),
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(" ", F.slice("__t", i, span_tokens))),
                            1,
                            13,
                        ),
                        16,
                        10,
                    ).cast("long").alias("k"),
                ),
            )
        ).alias("__s"),
    ).select(id_col, "__s.p", "__s.k")
    shared = (
        spans.select(id_col, "k").distinct()
        .groupBy("k")
        .agg(F.count("*").alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("k")
    )
    covered = (
        spans.join(shared, "k", "left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("p"), F.col("p") + span_tokens - 1)
            ).alias("__p"),
        )
        .distinct()
    )
    kept = pos_toks.join(covered, [id_col, "__p"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "__tok"))),
                lambda s: s["__tok"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("__nkept"),
    )
    spine = base.select(
        id_col,
        # size(NULL) = -1 with ANSI off, so coalesce alone never fires
        F.when(F.col("__t").isNull(), F.lit(0))
        .otherwise(F.size("__t")).alias("__ntok"),
        F.col("__t").isNull().alias("__null_text"),
    )
    return spine.join(rebuilt, id_col, "left").select(
        id_col,
        F.when(F.col("__null_text"), F.lit(None).cast("string"))
        .otherwise(F.coalesce("clean_text", F.lit("")))
        .alias("clean_text"),
        (
            F.col("__ntok") - F.coalesce("__nkept", F.lit(0))
        ).cast("long").alias("n_tokens_removed"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """RAG-style document chunking: fixed-size token windows with
    overlap (``stride`` < ``chunk_tokens`` overlaps consecutive chunks
    by ``chunk_tokens - stride`` tokens). Returns one row per chunk:
    ``(id_col, chunk_id, n_tokens, chunk_text)``.

    Entirely codegen — tokenize, build the start-offset sequence
    (0, stride, 2*stride, ...), drop redundant tails (a start whose
    PREVIOUS chunk already covered the end of the doc adds no new
    tokens: keep s iff s == 0 or s - stride + chunk_tokens < n), then
    one explode + a column-start ``slice``. No Python, no shuffle — a
    map-only scan whose output is ~n/stride rows per doc, which is the
    shape you want feeding a 100-TB corpus into an embedding stage.
    Docs with no tokens (or NULL text) produce no chunks."""
    from keystone_spark.functions.text import tokens

    if stride <= 0 or chunk_tokens <= 0 or stride > chunk_tokens:
        raise ValueError("need 0 < stride <= chunk_tokens")
    base = df.select(
        id_col, tokens(F.col(text_col)).alias("__t")
    ).withColumn(
        "__n",
        F.when(F.col("__t").isNull(), F.lit(0)).otherwise(F.size("__t")),
    ).where(F.col("__n") > 0)
    starts = F.filter(
        F.sequence(
            F.lit(0), F.greatest(F.col("__n") - 1, F.lit(0)), F.lit(stride)
        ),
        lambda s: (s == 0)
        | (s - F.lit(stride) + F.lit(chunk_tokens) < F.col("__n")),
    )
    return (
        base.select(id_col, "__t", "__n", F.explode(starts).alias("__s"))
        .select(
            id_col,
            (F.col("__s") / F.lit(stride)).cast("long").alias("chunk_id"),
            F.least(F.lit(chunk_tokens), F.col("__n") - F.col("__s"))
            .cast("long")
            .alias("n_tokens"),
            F.concat_ws(
                " ", F.slice("__t", F.col("__s") + 1, F.lit(chunk_tokens))
            ).alias("chunk_text"),
        )
    )


def source_mixture_weights(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.5,
    min_tokens: int = 10,
    max_tokens: int = 5000,
    min_distinct_ratio: float = 0.3,
) -> DataFrame:
    """Per-source sampling weights for corpus mixing (the DoReMi-lite
    heuristic): weight ∝ (token mass)^alpha x quality rate, normalized
    to sum 1. ``alpha < 1`` tempers the head (a web-scale source should
    not drown curated sources in proportion to raw size); the quality
    rate (share of docs inside the token band with a healthy
    distinct-token ratio) downweights boilerplate-heavy sources.

    Returns one row per source: ``(source_col, n_docs, n_tokens,
    quality_rate, weight)``. One map-side-combinable agg over the corpus
    to a |sources|-row table, then a single-row total broadcast back —
    nothing downstream of the scan scales with the corpus."""
    from keystone_spark.functions.text import tokens

    t = tokens(F.col(text_col))
    ntok = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(F.size(t))
    dratio = F.when(
        ntok > 0, F.size(F.array_distinct(t)) / ntok
    ).otherwise(F.lit(0.0))
    per = (
        df.select(
            F.col(source_col),
            ntok.alias("__n"),
            (
                ntok.between(min_tokens, max_tokens)
                & (dratio >= min_distinct_ratio)
            ).cast("int").alias("__ok"),
        )
        .groupBy(source_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__n").cast("long").alias("n_tokens"),
            F.avg("__ok").alias("__qr"),
        )
        .withColumn(
            "__raw", F.pow(F.col("n_tokens"), F.lit(alpha)) * F.col("__qr")
        )
    )
    total = per.agg(F.sum("__raw").alias("__tot"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            F.round("__qr", 6).alias("quality_rate"),
            F.round(F.col("__raw") / F.col("__tot"), 6).alias("weight"),
        )
    )


def oov_rate(
    ref: DataFrame,
    new: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    vocab_k: int = 500,
) -> DataFrame:
    """Tokenizer-fit health check: build the top-``vocab_k`` token
    vocabulary from the REFERENCE corpus (count desc, token asc
    tie-break), then measure each new-corpus source's out-of-vocabulary
    occurrence share. A tokenizer trained on ``ref`` will shatter
    exactly the OOV mass into bytes/unknowns — this is the signal that
    decides retraining before a mixture shift burns a training run.

    Returns one row per source: ``(source_col, n_tokens, n_oov,
    oov_rate)``. Shapes: token-count agg (map-side combinable) ->
    bounded top-k (TakeOrdered) -> broadcast vocab joined onto the
    exploded new corpus -> per-source conditional agg. Nothing but the
    two corpus scans touches data volume."""
    from keystone_spark.functions.text import tokens

    vocab = (
        ref.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("__n"))
        .orderBy(F.desc("__n"), F.asc("tok"))
        .limit(vocab_k)
        .select("tok", F.lit(1).alias("__in_vocab"))
    )
    exploded = new.select(
        F.col(source_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    return (
        exploded.join(F.broadcast(vocab), "tok", "left")
        .groupBy(source_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.col("__in_vocab").isNull().cast("long"))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_rate", F.round(F.col("n_oov") / F.col("n_tokens"), 6)
        )
    )


def dedup_savings(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-dup savings report per source: how many docs/tokens exact
    dedup (keep-lowest-id per content hash) would remove — the
    before/after accounting a curation run publishes next to its output.
    Returns ``(source_col, n_docs, n_dup_docs, n_tokens, n_dup_tokens,
    savings_rate)`` where savings_rate = dup tokens / all tokens.

    One content-hash keeper agg (map-side combinable) joined back onto
    the scan, then a per-source conditional agg — two shuffles total,
    both on bounded key spaces (content hashes shrink to distinct
    content; sources are few). NULL text counts as a doc with 0 tokens
    and is never a duplicate (mirrors the dedup family's NULL rule)."""
    from keystone_spark.functions.text import tokens

    base = df.select(
        F.col(source_col),
        F.col(id_col),
        F.xxhash64(F.col(text_col)).alias("__ck"),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(tokens(F.col(text_col))))
        .alias("__ntok"),
        F.col(text_col).isNull().alias("__is_null"),
    )
    keep = (
        base.where(~F.col("__is_null"))
        .groupBy("__ck")
        .agg(F.min(id_col).alias("__keeper"))
    )
    flagged = base.join(keep, "__ck", "left").withColumn(
        "__dup",
        (~F.col("__is_null")) & (F.col(id_col) != F.col("__keeper")),
    )
    return (
        flagged.groupBy(source_col)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("__dup").cast("long")).cast("long").alias("n_dup_docs"),
            F.sum("__ntok").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__dup"), F.col("__ntok")).otherwise(0))
            .cast("long")
            .alias("n_dup_tokens"),
            F.round(
                F.sum(F.when(F.col("__dup"), F.col("__ntok")).otherwise(0))
                / F.greatest(F.sum("__ntok"), F.lit(1)),
                6,
            ).alias("savings_rate"),
        )
    )


def source_unigram_similarity(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    vocab_k: int = 2000,
) -> DataFrame:
    """Pairwise corpus similarity between sources: cosine of their
    unigram probability vectors restricted to the global top-``vocab_k``
    tokens — the mixing diagnostic that says which sources are
    near-duplicates of each other at the DISTRIBUTION level (a pair at
    cosine ~1 adds diversity only in proportion to its tail). Returns
    ``(source_a, source_b, cosine)`` for a < b.

    A pair with NO shared vocab token (cosine exactly 0) emits no row —
    the token-keyed join never materializes all-pairs, which is the
    point; left-complete output would need a |sources|^2 spine.

    Shapes: one token-count agg -> bounded global top-k vocabulary
    (TakeOrdered) broadcast back -> per-(source, token) probabilities ->
    token-keyed pair join + sum agg. The pair join is keyed on the
    BOUNDED vocab, so its size is |vocab| x |sources|^2 at worst —
    independent of corpus volume."""
    from keystone_spark.functions.text import tokens

    tok = df.select(
        F.col(source_col).alias("src"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    counts = tok.groupBy("src", "tok").agg(F.count("*").alias("n"))
    vocab = (
        counts.groupBy("tok")
        .agg(F.sum("n").alias("__g"))
        .orderBy(F.desc("__g"), F.asc("tok"))
        .limit(vocab_k)
        .select("tok")
    )
    sub = counts.join(F.broadcast(vocab), "tok")
    totals = sub.groupBy("src").agg(F.sum("n").alias("__tot"))
    probs = sub.join(F.broadcast(totals), "src").select(
        "src", "tok", (F.col("n") / F.col("__tot")).alias("p")
    )
    norms = probs.groupBy("src").agg(
        F.sqrt(F.sum(F.col("p") * F.col("p"))).alias("__norm")
    )
    a, b = probs.alias("a"), probs.alias("b")
    dots = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("source_a"),
                 F.col("b.src").alias("source_b"))
        .agg(F.sum(F.col("a.p") * F.col("b.p")).alias("__dot"))
    )
    na = norms.select(F.col("src").alias("source_a"),
                      F.col("__norm").alias("__na"))
    nb = norms.select(F.col("src").alias("source_b"),
                      F.col("__norm").alias("__nb"))
    return (
        dots.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a", "source_b",
            F.round(F.col("__dot") / (F.col("__na") * F.col("__nb")), 6)
            .alias("cosine"),
        )
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    quality_col: str = "quality",
    tokens_col: str = "toks",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Quality-greedy corpus selection under a global token budget
    (r14): keep documents in (``quality`` DESC, id ASC) order while the
    running token total stays <= ``budget`` — the "best N tokens"
    pretraining-mix step ("fill 500B tokens with the highest-quality
    docs"). Prefix semantics, not knapsack: the first doc that would
    overflow the budget ends the selection (deterministic, replayable,
    and what mix recipes actually specify).

    The 100 TB shape is the whole point: a naive global
    ``SUM OVER (ORDER BY quality)`` is an UNPARTITIONED window — every
    row through one task (the driver-killer VERDICT r1 flagged on the
    vocabulary rank). Instead:

    1. uniform quality buckets (``width_bucket`` over the observed
       [min, max] — one narrow agg) and per-bucket token totals
       (second narrow agg, ``n_buckets`` rows to the driver);
    2. driver walks buckets best-first: buckets whose cumulative total
       fits are kept WHOLE (a map-side filter, no window at all), the
       single bucket straddling the budget becomes the boundary;
    3. only the boundary bucket — ~1/n_buckets of the data — runs the
       ordered cumulative sum, as a two-phase range-shuffle prefix sum
       (every partition sorts locally in parallel; one row per
       partition to the driver) — no single-task sort anywhere (r15).

    Equivalence to the global prefix rule is exact: buckets partition
    the quality axis into ranges, so every kept-whole row precedes
    every boundary row in (quality DESC, id) order, and integer token
    counts make the running sum exact in any engine. Returns the
    selected rows (original columns); quality ties across the budget
    line break by id ASC.

    The boundary bucket is checkpointed (``caches.checkpoint``) so the
    range boundaries and partition offsets stay fixed across its
    actions. The result owns the checkpoint; free its blocks with
    ``caches.release(out)`` once the result is materialized
    (``unpersist``/``clearCache`` leave checkpoint blocks in place).
    Two tradeoffs: construction is eager (the boundary bucket is
    computed here, not at the caller's first action), and losing the
    executor that holds a checkpoint block loses it, so the result
    can no longer be recomputed.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    q, t = F.col(quality_col), F.col(tokens_col).cast("long")
    # a doc with no quality or no token count cannot be ranked against
    # the budget — drop it up front (a NULL bucket key would otherwise
    # poison the driver-side bucket walk)
    df = df.where(q.isNotNull() & t.isNotNull())
    mn, mx = df.agg(F.min(q), F.max(q)).first()
    if mn is None:
        return df.limit(0)
    if mn == mx:
        bucket = F.lit(1)
    else:
        bucket = F.width_bucket(q, F.lit(mn), F.lit(mx), n_buckets)
    dfb = df.withColumn("__qb", bucket)
    totals = {
        int(r["__qb"]): int(r["tok"])
        for r in dfb.groupBy("__qb").agg(F.sum(t).alias("tok")).collect()
    }
    spent = 0
    keep_whole, boundary = [], None
    for b in sorted(totals, reverse=True):  # best-quality buckets first
        if spent + totals[b] <= budget:
            keep_whole.append(b)
            spent += totals[b]
        else:
            boundary = b
            break
    out = dfb.where(F.col("__qb").isin(keep_whole)) if keep_whole \
        else dfb.limit(0)
    if boundary is None:
        return out.drop("__qb")
    # r15 (VERDICT r14 #4/#5): the boundary bucket used to run an
    # UNPARTITIONED cumulative window — bounded to ~1/n_buckets of
    # the data, but at 100 TB still a multi-TB single-task sort.
    # Replace it with the exact two-phase range-shuffle prefix sum
    # (the ranked_series shape, in pure long arithmetic so the
    # running total stays integer-exact like the oracle's):
    # range-partition on the selection order, pin the partitioning
    # (repartitionByRange re-samples boundaries per action), collect
    # ONE ROW PER PARTITION of token totals, broadcast exclusive
    # offsets back, and finish with a partition-LOCAL window. Every
    # partition sorts in parallel; driver-side data is one row per
    # partition, never the bucket.
    rem = int(budget) - spent
    spark = dfb.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    pr = checkpoint(
        dfb.where(F.col("__qb") == boundary)
        .repartitionByRange(n_parts, q.desc(), F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
    )
    stats = sorted(
        pr.groupBy("__pid").agg(F.sum(t).alias("__s")).collect(),
        key=lambda r: r["__pid"],
    )
    offs, run = [], 0
    for r in stats:
        offs.append((int(r["__pid"]), run))
        run += int(r["__s"])
    off_df = spark.createDataFrame(
        offs or [(0, 0)], "__pid int, __off long"
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(q.desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    part = (
        pr.join(F.broadcast(off_df), "__pid")
        .withColumn("__cum", F.sum(t).over(w) + F.col("__off"))
        .where(F.col("__cum") <= rem)
        .drop("__cum", "__off", "__pid")
    )
    return attach(out.unionByName(part).drop("__qb"), pr)

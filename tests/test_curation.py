"""Curation operators: token-budget packing, stratified sampling, mixture."""

import pyspark.sql.functions as F
import pytest


def test_pack_sequences_offset_sharding(spark):
    """pack_sequences is offset sharding: a doc joins the shard its start
    offset falls in, so a shard can overflow by up to max_doc_len-1 (here
    pack 0 holds 40+40+40=120 > 100). The budget-respecting operator is
    pack_sequences_greedy (tested below)."""
    from keystone_spark.operators.curation import pack_sequences

    rows = [("a", i, t) for i, t in enumerate([40, 40, 40, 90, 10, 200, 5])]
    df = spark.createDataFrame(rows, "src string, doc_id long, toks long")
    out = pack_sequences(
        df, "toks", budget=100, partition_cols=["src"], order_cols=["doc_id"]
    )
    got = {r.doc_id: r.pack_id for r in out.collect()}
    # running starts: 0,40,80,120,210,220,420 -> floor(/100): 0,0,0,1,2,2,4
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 2, 5: 2, 6: 4}


def test_pack_sequences_greedy_never_exceeds_budget(spark):
    from keystone_spark.operators.curation import pack_sequences_greedy

    rows = [("a", i, t) for i, t in enumerate([40, 40, 40, 90, 10, 200, 5])]
    df = spark.createDataFrame(rows, "src string, doc_id long, toks long")
    out = pack_sequences_greedy(
        df, "toks", budget=100, partition_cols=["src"], order_cols=["doc_id"]
    )
    got = {r.doc_id: r.pack_id for r in out.collect()}
    # greedy fill: [40,40]=80 | [40,90->no... 40 alone? no: 40+40=80, +40>100
    # -> pack1: [40,90->130>100 -> pack1=[40], pack2=[90,10]=100, pack3=[200]
    # oversized alone, pack4=[5]
    assert got == {0: 0, 1: 0, 2: 1, 3: 2, 4: 2, 5: 3, 6: 4}
    # invariant: no pack total exceeds budget unless it is a single doc
    totals = {}
    counts = {}
    for r in out.collect():
        totals[r.pack_id] = totals.get(r.pack_id, 0) + r.toks
        counts[r.pack_id] = counts.get(r.pack_id, 0) + 1
    for pid, tot in totals.items():
        assert tot <= 100 or counts[pid] == 1


def test_pack_sequences_greedy_no_partition_cols(spark):
    from keystone_spark.operators.curation import pack_sequences_greedy

    df = spark.createDataFrame(
        [(0, 60), (1, 60), (2, 60)], "doc_id long, toks long"
    )
    out = pack_sequences_greedy(df, "toks", budget=100, order_cols=["doc_id"])
    got = {r.doc_id: r.pack_id for r in out.collect()}
    assert got == {0: 0, 1: 1, 2: 2}


def test_pack_sequences_partitions_independent(spark):
    from keystone_spark.operators.curation import pack_sequences

    rows = [("a", 0, 60), ("a", 1, 60), ("b", 0, 60), ("b", 1, 60)]
    df = spark.createDataFrame(rows, "src string, doc_id long, toks long")
    out = pack_sequences(
        df, "toks", budget=100, partition_cols=["src"], order_cols=["doc_id"]
    )
    got = {(r.src, r.doc_id): r.pack_id for r in out.collect()}
    assert got[("a", 0)] == 0 and got[("b", 0)] == 0
    assert got[("a", 1)] == got[("b", 1)] == 0  # starts at 60 < 100


def test_stratified_sample_deterministic(spark, sf_dir):
    from keystone_spark.operators.curation import stratified_sample
    from keystone_spark.sources import load_table

    d = load_table(spark, "documents", sf_dir)
    s1 = stratified_sample(d, "lang", {"en": 0.5, "es": 0.1}, seed=7)
    s2 = stratified_sample(d, "lang", {"en": 0.5, "es": 0.1}, seed=7)
    ids1 = sorted(r.doc_id for r in s1.select("doc_id").collect())
    assert ids1 == sorted(r.doc_id for r in s2.select("doc_id").collect())
    langs = {r.lang for r in s1.select("lang").distinct().collect()}
    assert langs <= {"en", "es"}


def test_sample_mixture_tags_and_upsamples(spark, sf_dir):
    from keystone_spark.operators.curation import sample_mixture
    from keystone_spark.sources import load_table

    d = load_table(spark, "documents", sf_dir)
    en = d.where(F.col("lang") == "en")
    es = d.where(F.col("lang") == "es")
    mix = sample_mixture({"en": en, "es": es}, {"en": 0.2, "es": 2.0}, seed=3)
    counts = {r.mix_source: r.c for r in
              mix.groupBy("mix_source").agg(F.count("*").alias("c")).collect()}
    n_es = es.count()
    assert counts["es"] > n_es  # oversampled with replacement
    assert 0 < counts["en"] < en.count()


def test_reservoir_per_key_deterministic_and_uniformish(spark):
    """Same input (however sharded) -> same sample; different salt ->
    different sample; per-key counts = min(k, n); plan prunes map-side
    (WindowGroupLimit)."""
    import pyspark.sql.functions as F

    from keystone_spark.operators.curation import reservoir_per_key

    rows = [(i, f"k{i % 3}") for i in range(300)] + [(900, "rare")]
    df = spark.createDataFrame(rows, "id long, key string")

    a = reservoir_per_key(df.repartition(8), ["key"], 10, id_cols=["id"])
    b = reservoir_per_key(df.coalesce(1), ["key"], 10, id_cols=["id"])
    sa = sorted(map(tuple, a.collect()))
    assert sa == sorted(map(tuple, b.collect()))  # sharding-invariant

    per = {r.key: r.n for r in a.groupBy("key").agg(
        F.count("*").alias("n")).collect()}
    assert per == {"k0": 10, "k1": 10, "k2": 10, "rare": 1}

    c = reservoir_per_key(df, ["key"], 10, id_cols=["id"], salt="other")
    assert sorted(map(tuple, c.collect())) != sa  # salt draws a new sample

    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_reservoir_null_ids_do_not_collide(spark):
    """ADVICE r3: concat_ws drops NULL args, so rows differing only in
    WHICH id column is null used to hash to the same priority. With the
    explicit NULL sentinel they rank as distinct rows: sampling k=2 from
    (a,NULL) and (NULL,a) must keep both."""
    from keystone_spark.operators.curation import reservoir_per_key

    df = spark.createDataFrame(
        [("k", "a", None), ("k", None, "a")],
        "key string, c1 string, c2 string",
    )
    out = reservoir_per_key(df, ["key"], 2, id_cols=["c1", "c2"])
    assert out.count() == 2

    # and the DuckDB-mirrorable encoding is stable: same rows, same sample
    import duckdb

    pdf = df.toPandas()
    got = duckdb.sql(
        """
        WITH ranked AS (
            SELECT key, c1, c2, ROW_NUMBER() OVER (
                PARTITION BY key
                ORDER BY md5(chr(31)
                    || coalesce(CAST(c1 AS VARCHAR), chr(0) || 'NULL') || chr(31)
                    || coalesce(CAST(c2 AS VARCHAR), chr(0) || 'NULL')),
                    c1 NULLS FIRST, c2 NULLS FIRST
            ) AS rs FROM pdf)
        SELECT key, c1, c2 FROM ranked WHERE rs <= 2
        """
    ).df()
    assert len(got) == 2


def test_contamination_check_synthetic(spark):
    """Exact overlap semantics: a doc is contaminated iff it shares a
    FULL word n-gram with the benchmark set (shorter overlaps don't
    count), and benchmark membership itself doesn't leak into results."""
    from keystone_spark.operators.curation import contamination_check

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over"),   # shares 4-gram with bench
            (2, "quick brown fox leaps over walls"), # only 3-gram overlap
            (3, "completely different words here now"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "see the quick brown fox jumps far away")],
        "doc_id long, text string",
    )
    got = [r.doc_id for r in contamination_check(docs, bench, n=4).collect()]
    assert got == [1]
    # n=3 also catches doc 2
    got3 = sorted(
        r.doc_id for r in contamination_check(docs, bench, n=3).collect()
    )
    assert got3 == [1, 2]


def test_line_dedup_removes_boilerplate_keeps_order(spark):
    from keystone_spark.operators.curation import line_dedup

    rows = []
    for i in range(10):
        rows.append((i, f"unique opener {i}\nBOILER\ncontent {i} line\nFOOTER"))
    # doc 10: entirely boilerplate -> must survive as empty, not vanish
    rows.append((10, "BOILER\nFOOTER"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.clean_text for r in line_dedup(df, max_docs=4).collect()}
    assert len(out) == 11
    assert out[3] == "unique opener 3\ncontent 3 line"
    assert out[10] == ""
    # below the threshold nothing is touched
    out2 = {r.doc_id: r.clean_text
            for r in line_dedup(df.where("doc_id < 4"), max_docs=4).collect()}
    assert out2[2] == "unique opener 2\nBOILER\ncontent 2 line\nFOOTER"


def test_apply_changes_merge_semantics(spark):
    from keystone_spark.operators.curation import apply_changes

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 99.0, "U", 1),   # update k=2
            (3, None, 0.0, "D", 1),    # delete k=3
            (4, "d", 40.0, "I", 1),    # insert k=4
            (1, None, 0.0, "D", 1),    # k=1: delete at seq 1 ...
            (1, "a2", 11.0, "U", 2),   # ... overridden by update at seq 2
        ],
        ["k", "s", "v", "op", "seq"],
    )
    out = {r.k: (r.s, r.v)
           for r in apply_changes(base, changes, ["k"], seq_col="seq").collect()}
    assert out == {1: ("a2", 11.0), 2: ("b2", 99.0), 4: ("d", 40.0)}


def test_apply_changes_latest_delete_wins(spark):
    from keystone_spark.operators.curation import apply_changes

    base = spark.createDataFrame([(1, 1.0)], ["k", "v"])
    changes = spark.createDataFrame(
        [(1, 5.0, "U", 1), (1, 0.0, "D", 2)], ["k", "v", "op", "seq"]
    )
    assert apply_changes(base, changes, ["k"], seq_col="seq").count() == 0


def test_weighted_sample_favors_heavy_rows(spark):
    """E-S weighted sampling: across many independent redraws (salts), a
    row with 10x the weight must be selected substantially more often;
    each draw is an exact k-subset and rerun-deterministic."""
    rows = [(0, i, 10.0 if i < 5 else 1.0) for i in range(50)]
    df = spark.createDataFrame(rows, ["g", "rid", "w"])
    from keystone_spark.operators.curation import weighted_sample_per_key

    heavy_hits, light_hits = 0, 0
    for s in range(12):
        got = {r.rid for r in weighted_sample_per_key(
            df, ["g"], 5, "w", id_cols=["rid"], salt=str(s)).collect()}
        assert len(got) == 5
        heavy_hits += len([r for r in got if r < 5])
        light_hits += len([r for r in got if r >= 5])
    # 5 heavy (w=10) vs 45 light (w=1): heavy should win most slots
    assert heavy_hits > light_hits, (heavy_hits, light_hits)
    # determinism: same salt -> same draw
    a = {r.rid for r in weighted_sample_per_key(
        df, ["g"], 5, "w", id_cols=["rid"], salt="7").collect()}
    b = {r.rid for r in weighted_sample_per_key(
        df, ["g"], 5, "w", id_cols=["rid"], salt="7").collect()}
    assert a == b


def test_diff_snapshots_roundtrip_law(spark):
    """apply_changes(old, diff_snapshots(old, new)) == new, including
    NULL-vs-value edits, inserts, deletes, and unchanged rows (which
    must NOT appear in the diff)."""
    from keystone_spark.operators.curation import apply_changes, diff_snapshots

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "c", 3.0), (4, "d", None)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0),        # unchanged
         (2, "b2", 2.0),       # NULL -> value update
         (4, "d", 4.0),        # value update (from NULL)
         (5, "e", 5.0)],       # insert; k=3 deleted
        "k int, s string, v double",
    )
    diff = diff_snapshots(old, new, ["k"])
    ops = {r.k: r.op for r in diff.collect()}
    assert ops == {2: "U", 3: "D", 4: "U", 5: "I"}  # k=1 absent
    applied = apply_changes(old, diff, ["k"])
    got = sorted((r.k, r.s, r.v) for r in applied.collect())
    want = sorted((r.k, r.s, r.v) for r in new.collect())
    assert got == want


def test_weighted_sample_k_exceeds_group(spark):
    from keystone_spark.operators.curation import weighted_sample_per_key

    df = spark.createDataFrame([(0, i, 1.0) for i in range(3)],
                               ["g", "rid", "w"])
    got = weighted_sample_per_key(df, ["g"], 10, "w", id_cols=["rid"])
    assert got.count() == 3  # whole group survives


def test_line_dedup_crlf_and_empty_lines(spark):
    from keystone_spark.operators.curation import line_dedup

    docs = spark.createDataFrame(
        [(i, f"unique {i}\r\nCOMMON\r\n\r\nalso {i}") for i in range(6)],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.clean_text
           for r in line_dedup(docs, max_docs=3, sep="\r\n").collect()}
    # COMMON (6 docs) and the empty line (6 docs) both removed
    assert out[2] == "unique 2\r\nalso 2"


def test_duplicate_spans_synthetic(spark):
    """Planted 8-token boilerplate shared by docs 0/1; doc 2 is unique;
    doc 3 is shorter than the span; doc 4 repeats a span INTERNALLY
    (must count once, so it is NOT cross-doc duplicated)."""
    from keystone_spark.operators.curation import duplicate_spans

    boiler = "the quick brown fox jumps over the lazy"
    rows = [
        (0, boiler + " dog one two three"),
        (1, "intro words here " + boiler + " tail"),
        (2, "completely unique text with eight tokens minimum for spans ok"),
        (3, "too short"),
        (4, "x1 x2 x3 x4 x5 x6 x7 x8 x1 x2 x3 x4 x5 x6 x7 x8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicate_spans(df, span_tokens=8).collect()}
    assert len(out) == 5  # spine preserved
    # doc 0: tokens=12 -> 5 distinct spans; shared boiler span is dup
    assert out[0].n_spans == 5 and out[0].n_dup_spans == 1
    assert out[1].n_dup_spans == 1
    assert out[2].n_dup_spans == 0
    assert out[3].n_spans == 0 and out[3].n_dup_spans == 0
    assert out[3].dup_frac is None
    # doc 4: 16 tokens -> 9 windows but only 8 DISTINCT spans (window 1
    # == window 9), none shared with another doc
    assert out[4].n_spans == 8 and out[4].n_dup_spans == 0
    assert abs(out[0].dup_frac - 1 / 5) < 1e-12


def test_dsir_logweights_matches_local_model(spark):
    """dsir_logweights == the pure-python add-1 smoothed bag-model log
    ratio, including the zero-token spine row."""
    import math

    from keystone_spark.functions.text import TOKEN_SPLIT_RE  # noqa: F401
    from keystone_spark.operators.curation import dsir_logweights

    raw_rows = [(0, "aa bb aa"), (1, "cc cc"), (2, "")]
    tgt_rows = [(10, "aa aa aa bb")]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id long, text string")
    dim = 16

    def bucket(tok):
        import hashlib

        return int(hashlib.md5(tok.encode()).hexdigest()[:13], 16) % dim

    tc, sc = {}, {}
    for _, t in tgt_rows:
        for tok in t.split():
            tc[bucket(tok)] = tc.get(bucket(tok), 0) + 1
    for _, t in raw_rows:
        for tok in t.split():
            sc[bucket(tok)] = sc.get(bucket(tok), 0) + 1
    tt, st = sum(tc.values()), sum(sc.values())

    def lr(b):
        return math.log((tc.get(b, 0) + 1) / (tt + dim)) - math.log(
            (sc.get(b, 0) + 1) / (st + dim)
        )

    expect = {
        i: sum(lr(bucket(tok)) for tok in t.split()) for i, t in raw_rows
    }
    got = {r.doc_id: r.logw for r in dsir_logweights(raw, tgt, dim=dim).collect()}
    assert set(got) == {0, 1, 2}
    for i in (0, 1, 2):
        assert abs(got[i] - expect[i]) < 1e-9, (i, got[i], expect[i])
    assert got[2] == 0.0  # empty doc stays on the spine
    # doc 0 shares its vocabulary with the target, doc 1 does not
    assert got[0] > got[1]


def test_strip_duplicate_spans_removal_semantics(spark):
    """Shared spans are deleted positionally; unique text survives
    in order; an all-boilerplate doc collapses to the empty string;
    short docs pass through untouched."""
    from keystone_spark.operators.curation import strip_duplicate_spans

    boiler = "the quick brown fox jumps over the lazy"
    rows = [
        (0, boiler + " dog one two three"),
        (1, "intro words here " + boiler + " tail"),
        (2, "unique text entirely different from anything else here today"),
        (3, "too short"),
        (4, boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in strip_duplicate_spans(df, span_tokens=8).collect()}
    assert len(out) == 5
    assert out[0].clean_text == "dog one two three" and out[0].n_tokens_removed == 8
    # doc 1's shared span sits mid-document: both flanks survive in order
    assert out[1].clean_text == "intro words here tail"
    assert out[2].n_tokens_removed == 0
    assert out[3].clean_text == "too short" and out[3].n_tokens_removed == 0
    assert out[4].clean_text == "" and out[4].n_tokens_removed == 8


def test_strip_duplicate_spans_null_text_passthrough(spark):
    """NULL text is in-domain for the dedup family (minhash_dedup guards
    it); it must pass through as NULL with 0 removed (ADVICE r6: with
    ANSI off, size(NULL) = -1, so the old coalesce(size, 0) reported
    n_tokens_removed = -1 and coerced clean_text to '')."""
    from keystone_spark.operators.curation import strip_duplicate_spans

    boiler = "the quick brown fox jumps over the lazy"
    rows = [
        (0, boiler + " dog one"),
        (1, boiler + " cat two"),
        (2, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in strip_duplicate_spans(df, span_tokens=8).collect()}
    assert len(out) == 3
    assert out[2].clean_text is None and out[2].n_tokens_removed == 0
    # the shared 8-token span still strips from the non-NULL docs
    assert out[0].clean_text == "dog one" and out[0].n_tokens_removed == 8


def test_dsir_rank_ties_break_on_doc_id(spark):
    """Exact-duplicate docs have float-identical DSIR weights (up to
    summation order); per-source ranking must order them by doc_id —
    the cross-engine tie contract q_dsir_resample's round(logw, 6)
    ordering exists for."""
    from pyspark.sql import Window

    from keystone_spark.operators.curation import dsir_logweights

    raw = spark.createDataFrame(
        [(1, "s", "aa bb cc dd"), (2, "s", "aa bb cc dd"),
         (3, "s", "zz yy xx ww"), (4, "s", "aa aa aa aa")],
        "doc_id long, source string, text string",
    )
    tgt = spark.createDataFrame([(9, "aa bb")], "doc_id long, text string")
    w = dsir_logweights(raw, tgt, dim=32)
    win = Window.partitionBy("source").orderBy(
        F.round("logw", 6).desc(), F.col("doc_id")
    )
    ranked = (
        raw.select("doc_id", "source").join(w, "doc_id")
        .withColumn("rk", F.row_number().over(win))
        .orderBy("rk")
        .collect()
    )
    by_doc = {r.doc_id: r for r in ranked}
    # docs 1 and 2 are identical -> identical weight -> doc_id breaks
    # the tie and the ranks are CONSECUTIVE (no other doc interleaves
    # two equal-weight rows)
    assert by_doc[1].logw == by_doc[2].logw
    assert by_doc[2].rk == by_doc[1].rk + 1
    # (note doc 3, disjoint from the target, can still outrank 1/2:
    # the importance RATIO penalizes tokens common in the raw corpus —
    # that is DSIR working as designed, not a defect)


def test_chunk_documents_overlap_and_tails(spark):
    """Chunk boundaries: stride overlap, redundant-tail suppression,
    short docs produce exactly one chunk, empty/NULL docs none."""
    from keystone_spark.operators.curation import chunk_documents

    words = " ".join(f"w{i}" for i in range(20))  # 20 tokens
    rows = [
        (0, words),          # chunk 8 / stride 6 -> starts 0,6,12 (18 dropped)
        (1, "one two"),      # short: single chunk of 2
        (2, ""),             # no tokens -> no rows
        (3, None),           # NULL -> no rows
        (4, " ".join(f"w{i}" for i in range(8))),  # exactly chunk-size
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=8, stride=6)
    got = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    assert sorted(k[0] for k in got) == [0, 0, 0, 1, 4]
    # doc 0: starts 0, 6, 12; start 18 is redundant (12 + 8 >= 20)
    assert got[(0, 0)].chunk_text.split() == [f"w{i}" for i in range(8)]
    assert got[(0, 1)].chunk_text.split() == [f"w{i}" for i in range(6, 14)]
    assert got[(0, 2)].chunk_text.split() == [f"w{i}" for i in range(12, 20)]
    assert got[(0, 2)].n_tokens == 8
    assert got[(1, 0)].n_tokens == 2 and got[(1, 0)].chunk_text == "one two"
    assert got[(4, 0)].n_tokens == 8
    # consecutive chunks overlap by chunk - stride tokens
    assert got[(0, 0)].chunk_text.split()[6:] == got[(0, 1)].chunk_text.split()[:2]


def test_source_mixture_weights_normalize_and_quality(spark):
    """Weights sum to 1; a boilerplate source (repeated token) is
    downweighted by its quality rate, not just its token mass."""
    from keystone_spark.operators.curation import source_mixture_weights

    good = " ".join(f"tok{i}" for i in range(100))
    boiler = " ".join(["spam"] * 100)  # distinct ratio 0.01 < 0.3
    rows = (
        [("a", good)] * 4
        + [("b", boiler)] * 4          # same token mass as a, quality 0
        + [("c", good)] * 2            # half a's mass
    )
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r.source: r for r in source_mixture_weights(df).collect()}
    assert abs(sum(r.weight for r in out.values()) - 1.0) < 1e-6
    assert out["b"].quality_rate == 0.0 and out["b"].weight == 0.0
    assert out["a"].n_tokens == 400 and out["c"].n_tokens == 200
    # same quality, sqrt tempering: a/c weight ratio = sqrt(400/200)
    assert abs(out["a"].weight / out["c"].weight - 2 ** 0.5) < 1e-5


def test_oov_rate_hand_case(spark):
    """Vocabulary = ref top-k; OOV share counts occurrences, not types."""
    from keystone_spark.operators.curation import oov_rate

    ref = spark.createDataFrame(
        [("r", "alpha beta gamma alpha beta alpha")],
        "source string, text string",
    )
    new = spark.createDataFrame(
        [
            ("a", "alpha beta alpha novel"),     # 1 OOV of 4
            ("b", "unseen tokens only here"),    # 4 OOV of 4
        ],
        "source string, text string",
    )
    out = {r.source: r for r in
           oov_rate(ref, new, vocab_k=2).collect()}  # vocab = alpha, beta
    assert out["a"].n_tokens == 4 and out["a"].n_oov == 1
    assert out["b"].oov_rate == 1.0
    # vocab_k=3 admits gamma -> still 1 OOV for a ("novel")
    out3 = {r.source: r for r in oov_rate(ref, new, vocab_k=3).collect()}
    assert out3["a"].n_oov == 1


def test_dedup_savings_hand_case(spark):
    """Dup = content hash shared with a LOWER doc_id anywhere (cross-
    source); NULL text is never a dup and counts 0 tokens."""
    from keystone_spark.operators.curation import dedup_savings

    rows = [
        ("s1", 1, "one two three"),
        ("s2", 2, "one two three"),     # dup of 1, other source
        ("s1", 3, "unique text here"),
        ("s1", 4, None),
        ("s2", 5, "one two three"),     # dup of 1
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    out = {r.source: r for r in dedup_savings(df).collect()}
    assert out["s1"].n_docs == 3 and out["s1"].n_dup_docs == 0
    assert out["s1"].n_tokens == 6 and out["s1"].n_dup_tokens == 0
    assert out["s2"].n_dup_docs == 2 and out["s2"].n_dup_tokens == 6
    assert out["s2"].savings_rate == 1.0


def test_source_unigram_similarity_orders_pairs(spark):
    """Identical-distribution sources hit cosine 1.0; disjoint vocab
    sources hit 0; mixed pairs land strictly between."""
    from keystone_spark.operators.curation import source_unigram_similarity

    rows = [
        ("a", "cat dog cat dog"),
        ("b", "cat dog dog cat"),        # same distribution as a
        ("c", "quark lepton boson"),     # disjoint from a/b
        ("d", "cat quark"),              # half-overlap
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {(r.source_a, r.source_b): r.cosine
           for r in source_unigram_similarity(df, vocab_k=100).collect()}
    assert out[("a", "b")] == 1.0
    # disjoint pair: no shared token survives the join -> pair absent
    assert ("a", "c") not in out
    assert 0.0 < out[("a", "d")] < 1.0


def test_token_budget_select_prefix_and_bucket_equivalence(spark):
    """The bucket-wise selection equals the naive global prefix rule
    (quality DESC, id ASC, keep while running tokens <= budget) on a
    corpus engineered so the budget line lands MID-bucket, and the
    boundary behavior is exact: first overflowing doc ends the
    selection even when later docs would fit."""
    from keystone_spark.operators.curation import token_budget_select

    rows = [
        # (id, toks, quality)
        (1, 100, 0.9), (2, 100, 0.8), (3, 100, 0.7),
        (4, 300, 0.6),            # overflows at budget 350
        (5, 10, 0.5), (6, 10, 0.4),  # would fit, but come after the line
    ]
    df = spark.createDataFrame(rows, "doc_id long, toks long, quality double")
    for nb in (1, 2, 4, 64):
        got = sorted(
            r["doc_id"] for r in token_budget_select(
                df, budget=350, n_buckets=nb).collect())
        assert got == [1, 2, 3], (nb, got)

    # exact-fit boundary is inclusive
    got = sorted(r["doc_id"] for r in token_budget_select(
        df, budget=300).collect())
    assert got == [1, 2, 3]
    # zero budget, empty frame
    assert token_budget_select(df, budget=0).count() == 0
    assert token_budget_select(df.limit(0), budget=10).count() == 0
    # quality ties break by id: 2 docs at the same quality, budget for 1
    tie = spark.createDataFrame(
        [(7, 100, 0.5), (8, 100, 0.5)],
        "doc_id long, toks long, quality double")
    assert [r["doc_id"] for r in token_budget_select(
        tie, budget=100).collect()] == [7]
    # constant quality (degenerate single bucket) still prefixes by id
    assert sorted(r["doc_id"] for r in token_budget_select(
        tie, budget=200).collect()) == [7, 8]


def test_token_budget_select_drops_null_quality_rows(spark):
    from keystone_spark.operators.curation import token_budget_select

    df = spark.createDataFrame(
        [(1, 10, 0.9), (2, None, 0.8), (3, 10, None), (4, 10, 0.5)],
        "doc_id long, toks long, quality double")
    got = sorted(r["doc_id"] for r in token_budget_select(
        df, budget=100).collect())
    assert got == [1, 4]


def _docs(spark):
    """Two near-duplicate families plus unrelated docs."""
    base = ["the quick brown fox jumps over the lazy dog again and again",
            "a stitch in time saves nine when the work is done early"]
    rows = [(i, base[i % 2] + (" extra" if i >= 2 else ""))
            for i in range(6)]
    rows += [(10 + i, t) for i, t in enumerate([
        "completely different words live here", "spark clusters process data",
        "numbers like 12345 and 67890", "zebra yak xylophone walrus"])]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _edges(spark):
    return spark.createDataFrame([(1, 2), (1, 3), (4, 5)], "i long, j long")


def _release_case(name):
    """(operator call, expected row count) for one owner of storage."""
    from keystone_spark.operators.curation import token_budget_select
    from keystone_spark.operators.dedup import (
        dedup_clusters,
        jaccard_verify,
        minhash_dedup,
    )
    from keystone_spark.operators.graph import connected_components, pagerank
    from keystone_spark.operators.stats import ranked_series

    def budget(spark):
        df = spark.createDataFrame(
            [(i, 10, 1.0 - i / 100) for i in range(40)],
            "doc_id long, toks long, quality double")
        return token_budget_select(df, budget=205, n_buckets=4)

    def verify(spark):
        pairs = spark.createDataFrame([(0, 2), (1, 3), (0, 10)],
                                      "i long, j long")
        return jaccard_verify(pairs, _docs(spark), threshold=0.5)

    cases = {
        "token_budget_select": (budget, 20),
        "minhash_dedup": (
            lambda spark: minhash_dedup(_docs(spark), n_hashes=32,
                                        n_bands=8, threshold=0.5), 6),
        "jaccard_verify": (verify, 2),
        "dedup_clusters": (
            lambda spark: dedup_clusters(_docs(spark), n_hashes=32,
                                         n_bands=8, threshold=0.5), 6),
        "connected_components": (
            lambda spark: connected_components(_edges(spark)), 5),
        # two checkpoints, so the first is freed when the second lands
        "pagerank": (lambda spark: pagerank(_edges(spark), max_iter=5), 5),
        "ranked_series": (
            lambda spark: ranked_series(
                spark.range(50).withColumn("v", F.col("id") % 7),
                [F.col("v"), F.col("id")], n_parts=4)[0], 50),
    }
    return cases[name]


@pytest.mark.parametrize("name", [
    "token_budget_select", "minhash_dedup", "jaccard_verify",
    "dedup_clusters", "connected_components", "pagerank", "ranked_series",
])
def test_release_frees_operator_storage(spark, name):
    """Every persist or checkpoint an operator creates has a release
    path: ``release(out)`` frees the blocks the result owns, so a call
    leaves the executors' storage where it started (``unpersist``/
    ``clearCache`` do not reach checkpoint blocks). One call per case:
    any block a call leaks survives its release, and the fast tier has
    no time for repeats."""
    from keystone_spark.caches import release

    def rdd_blocks():
        # {rdd id: cached partitions}; keyed by id because checkpoints
        # leaked by earlier tests may be cleaned up mid-test
        return {int(i.id()): int(i.numCachedPartitions())
                for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    def new_blocks():
        return sum(n for r, n in rdd_blocks().items() if r not in base)

    run, n_rows = _release_case(name)
    base = set(rdd_blocks())
    out = run(spark)
    assert len(out.collect()) == n_rows
    assert new_blocks() > 0  # the operator did materialize something
    release(out)
    assert new_blocks() == 0

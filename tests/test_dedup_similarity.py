"""Dedup + similarity operator tests (numpy/behavioral oracles)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from keystone_spark.operators.dedup import (
    exact_dedup,
    jaccard_verify,
    minhash_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash_candidates,
)
from keystone_spark.operators.similarity import cosine_topk, lsh_bucket_topk

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the garden outside the house"
)


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                   # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),          # near dup of 0
        (3, "completely different text about spark dataframes and parquet files"),
        (4, "another unrelated document mentioning neural networks and tensors"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs_df):
    out = exact_dedup(docs_df.select("text"))
    assert out.count() == 4


def test_minhash_similar_docs_collide(docs_df):
    sigs = minhash_signatures(docs_df, n_hashes=64)
    cand = minhash_lsh_candidates(sigs, n_bands=16, n_hashes=64)
    pairs = {(r.i, r.j) for r in cand.collect()}
    assert (0, 1) in pairs          # identical docs always candidates
    assert (0, 2) in pairs          # near-dup should share a band
    assert (3, 4) not in pairs      # unrelated docs don't collide


def _golden_corpus():
    """Fixed MinHash corpus: a null text, an empty one, one shorter than
    the shingle length, word-salad documents of 5-44 words and one
    3,000-letter document with more distinct shingles than a signature
    kernel block, so block boundaries fall between documents and one
    document spans a whole block."""
    words = ["spark", "arrow", "pipeline", "corpus", "shingle", "bucket",
             "band", "signature", "keystone", "optimizer", "cache", "join"]
    x = 2463534242

    def nxt():
        nonlocal x
        x = (x * 1103515245 + 12345) % (1 << 31)
        return x

    rows = [(0, None), (1, "abc"), (2, "")]
    for i in range(3, 60):
        rows.append((i, " ".join(words[nxt() % len(words)]
                                 for _ in range(5 + i % 40))))
    rows.insert(30, (100, "".join(chr(97 + nxt() % 26) for _ in range(3000))))
    return rows


def test_minhash_signatures_golden_digest(spark):
    """Stored MinHash indexes (build_minhash_index / match_minhash_index)
    compare signatures computed on different days, so the kernel's
    output must never change: sha256 of the sorted (id, signature) rows,
    computed with the whole-batch kernel and asserted on every later
    one."""
    import hashlib

    from keystone_spark.operators.dedup import SIG_BLOCK_ROWS

    rows = _golden_corpus()
    big = rows[30][1]
    assert len({big[k:k + 5] for k in range(len(big) - 4)}) > SIG_BLOCK_ROWS
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r.doc_id, list(r.sig))
                 for r in minhash_signatures(df).collect())
    assert len(got) == 61
    assert hashlib.sha256(repr(got).encode()).hexdigest() == (
        "60e70b8abed398faaef8fd87316699a3f60e7c3913eb124efde2e1269f68bd7d"
    )


def test_fingerprint_verify_equals_string_verify(spark):
    """``_minhash_near_pairs`` verifies on the shingle fingerprints its
    signature cache holds; on the same candidates its (i, j, jac) rows
    equal ``jaccard_verify``'s over the shingle strings. The corpus
    covers null and empty text, texts shorter than k (one equal to
    another after trim and lower-casing), a 3,000-letter doc with a
    copy and a near copy, and word-salad docs from a 12-word vocabulary
    whose Jaccards straddle the threshold. Two null texts meet at 1.0
    on both paths, which is why the callers keep null text out."""
    from keystone_spark.caches import release
    from keystone_spark.operators.dedup import (
        DEFAULT_BUCKET_CAP, _minhash_near_pairs, minhash_estimate_filter)

    rows = _golden_corpus()
    big = rows[30][1]
    rows += [(101, big), (102, big[:1500] + "zz" + big[1502:]), (103, None),
             (104, ""), (105, " ABC "), (106, "abd")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    owned: list = []
    _, fused = _minhash_near_pairs(df, "doc_id", "text", 64, 32, 5, 0.5, 42,
                                   DEFAULT_BUCKET_CAP, owned)
    got = {(r.i, r.j): r.jac for r in fused.collect()}
    release(owned)
    sigs = minhash_signatures(df, n_hashes=64)
    likely = minhash_estimate_filter(
        minhash_lsh_candidates(sigs, n_bands=32, n_hashes=64), sigs,
        n_hashes=64, threshold=0.5)
    want = {(r.i, r.j): r.jac for r in jaccard_verify(
        likely, df, threshold=0.5, n_hist=None).collect()}
    assert got == want
    for pair in [(100, 101), (0, 103), (2, 104), (1, 105)]:
        assert got[pair] == 1.0, pair
    assert 0.9 < got[(100, 102)] < 1.0
    assert (1, 106) not in got
    assert sum(0.5 <= v < 0.9 for v in got.values()) >= 10


def test_minhash_dedup_keeps_every_null_text_row(spark):
    """Null text never dedups, as in the DuckDB oracle: every null row
    is kept. Exact and near copies still drop, and so does a second
    empty text."""
    from keystone_spark.caches import release

    df = spark.createDataFrame(
        [(1, None), (2, None),
         (3, "the quick brown fox jumps over the lazy dog"),
         (4, "the quick brown fox jumps over the lazy dog!"),
         (5, "abc"), (6, "abc"), (7, ""), (8, "")],
        "doc_id long, text string")
    out = minhash_dedup(df)
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 3, 5, 7]
    release(out)


def test_jaccard_verify_threshold(docs_df):
    pairs = docs_df.sparkSession.createDataFrame(
        [(0, 1), (0, 3)], "i long, j long"
    )
    verified = jaccard_verify(pairs, docs_df, threshold=0.8)
    rows = {(r.i, r.j): r.jac for r in verified.collect()}
    assert rows[(0, 1)] == 1.0
    assert (0, 3) not in rows


def test_minhash_dedup_keep_first(docs_df):
    out = minhash_dedup(docs_df, n_hashes=64, n_bands=16, threshold=0.8)
    kept = sorted(r.doc_id for r in out.collect())
    assert 0 in kept and 1 not in kept
    assert 3 in kept and 4 in kept


def test_simhash_candidates(docs_df):
    pairs = {(r.i, r.j): r.hamming for r in
             simhash_candidates(docs_df, max_hamming=10).collect()}
    assert pairs.get((0, 1)) == 0
    assert (0, 2) in pairs
    assert (3, 4) not in pairs


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    X = rng.normal(size=(100, 16))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(100)], "vec_id long, embedding array<double>"
    )
    probes = df.where(F.col("vec_id") < 3)
    out = cosine_topk(df, probes, k=5)
    got = {(r.probe, r.rk): r.vec_id for r in out.collect()}
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = Xn @ Xn[:3].T
    for p in range(3):
        order = [i for i in np.argsort(-sims[:, p]) if i != p][:5]
        for rk, vid in enumerate(order, start=1):
            assert got[(p, rk)] == vid, (p, rk)


def test_lsh_topk_recall(spark):
    rng = np.random.default_rng(4)
    X = rng.normal(size=(300, 16))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(300)], "vec_id long, embedding array<double>"
    )
    probes = df.where(F.col("vec_id") < 5)
    exact = {(r.probe, r.vec_id) for r in cosine_topk(df, probes, k=5).collect()}
    approx = {(r.probe, r.vec_id)
              for r in lsh_bucket_topk(df, probes, k=5, n_bits=32, n_bands=16).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_ivf_topk_recall(spark):
    from keystone_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(5)
    # clustered data so IVF cells are meaningful (uniform noise would make
    # every cell equally likely and recall a coin flip)
    centers = rng.normal(size=(8, 16)) * 3
    X = np.vstack([c + rng.normal(size=(50, 16)) * 0.5 for c in centers])
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    probes = df.where(F.col("vec_id") < 5)
    exact = {(r.probe, r.vec_id) for r in cosine_topk(df, probes, k=5).collect()}
    approx = {
        (r.probe, r.vec_id)
        for r in ivf_topk(df, probes, k=5, n_cells=8, n_probe_cells=3,
                          seed=7).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_rolling_fingerprint_shift_invariant(spark):
    # the winnowing fingerprint survives a prefix insertion when the
    # minimal shingle is untouched (content-defined, not offset-defined)
    from keystone_spark.functions.text import rolling_fingerprint, tokens

    base = " ".join(f"w{i}" for i in range(40))
    shifted = "prefix " + base
    df = spark.createDataFrame([(0, base), (1, shifted)], "id int, text string")
    out = df.select("id", rolling_fingerprint(tokens("text"), 8).alias("fp"))
    fps = {r.id: r.fp for r in out.collect()}
    assert fps[0] == fps[1]


def test_simhash_arrow_matches_codegen(spark, sf_dir):
    """The Arrow-vectorized simhash must be bit-for-bit identical to the
    pure-codegen column expression."""
    from pyspark.sql import functions as F

    from keystone_spark.functions.text import simhash64, tokens
    from keystone_spark.operators.dedup import simhash_signatures_arrow
    from keystone_spark.sources import load_table

    d = load_table(spark, "documents", sf_dir).limit(100)
    codegen = {
        r.doc_id: r.sh
        for r in d.select("doc_id", simhash64(tokens(F.col("text"))).alias("sh")).collect()
    }
    arrow = {r.doc_id: r["__sh"] for r in simhash_signatures_arrow(d).collect()}
    assert arrow == codegen


def test_ivf_index_matches_ivf_topk_and_roundtrips(spark, sf_dir, tmp_path):
    """IvfIndex (fit-once, cell-partitioned) must return exactly what the
    pure-function ivf_topk returns for the same seed/params, survive a
    save/load round-trip, and prune the scan to probed cells."""
    import pyspark.sql.functions as F

    from keystone_spark.operators.similarity import IvfIndex, ivf_topk
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", sf_dir)
    probes = e.where(F.col("vec_id") < 5)

    def key(df):
        return sorted((r.probe, r.rk, r.vec_id) for r in df.collect())

    expect = key(ivf_topk(e, probes, k=5, n_cells=8, n_probe_cells=3))
    idx = IvfIndex.build(e, n_cells=8)
    assert key(idx.search(probes, k=5, n_probe_cells=3)) == expect

    path = str(tmp_path / "ivf")
    idx.save(path)
    loaded = IvfIndex.load(spark, path)
    assert key(loaded.search(probes, k=5, n_probe_cells=3)) == expect
    # partition pruning: the scan must carry a real cell PartitionFilter
    # listing exactly the probed cells (not read-all-then-filter)
    import re

    plan = loaded.indexed.where(F.col("cell").isin([0, 1]))._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*cell#\d+ (?:INSET|IN) \(?([^\])]*)", plan)
    assert m, plan[:2000]
    assert len(m.group(1).split(",")) == 2, m.group(0)


@pytest.mark.parametrize("case", ["ivf_all_cells", "one_group"])
def test_masked_and_unmasked_topk_are_one_kernel(spark, sf_dir, case):
    """IVF search with every cell probed, and grouped search over a
    single group, mask nothing: both must return exactly the exact
    kernel's rows."""
    from keystone_spark.operators.similarity import (
        grouped_cosine_topk,
        ivf_topk,
    )
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", sf_dir)
    probes = e.where(F.col("vec_id") < 5)

    def rows(df):
        return sorted(
            (r.probe, r.vec_id, r.rk, round(r.cos, 6)) for r in df.collect()
        )

    if case == "ivf_all_cells":
        got = ivf_topk(e, probes, k=5, n_cells=8, n_probe_cells=8)
    else:
        g = e.withColumn("g", F.lit("all"))
        got = grouped_cosine_topk(g, g.where(F.col("vec_id") < 5), "g", k=5)
    assert rows(got) == rows(cosine_topk(e, probes, k=5))


@pytest.mark.parametrize(
    "search",
    ["cosine_topk", "ivf_topk", "pq_topk", "grouped_cosine_topk",
     "IvfIndex.search", "IvfPqIndex.search", "Sq8Index.search"],
)
def test_every_search_rejects_empty_probes(spark, search):
    """An empty probe set fails every search with one error, raised
    where the probes are collected (not as a numpy AxisError from the
    normalization that follows)."""
    from keystone_spark.operators import similarity as S

    rows = [(i, [float(i + j) for j in range(8)], i % 2) for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, g int")
    empty = df.where("vec_id < 0")
    run = {
        "cosine_topk": lambda: S.cosine_topk(df, empty),
        "ivf_topk": lambda: S.ivf_topk(df, empty, n_cells=2),
        "pq_topk": lambda: S.pq_topk(df, empty, m=4, ks=4),
        "grouped_cosine_topk": lambda: S.grouped_cosine_topk(df, empty, "g"),
        "IvfIndex.search": lambda: S.IvfIndex.build(
            df, n_cells=2).search(empty),
        "IvfPqIndex.search": lambda: S.IvfPqIndex.build(
            df, n_cells=2, m=4, ks=4).search(df, empty),
        "Sq8Index.search": lambda: S.Sq8Index.build(df).search(df, empty),
    }[search]
    with pytest.raises(
            ValueError,
            match="probes must be a non-empty DataFrame of vectors"):
        run()


def test_near_dedup_survives_null_and_empty_text(spark):
    """Null/empty/short documents must pass through near-dedup unharmed
    (no shingles -> sentinel signature -> never a candidate); exact dedup
    is the operator for empty-content duplicates."""
    from keystone_spark.operators.dedup import minhash_dedup, simhash_candidates

    df = spark.createDataFrame(
        [(0, "normal document text here with enough tokens to shingle fine"),
         (1, None), (2, ""), (3, "   "), (4, "short")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in minhash_dedup(df, n_hashes=16, n_bands=4).collect())
    # "" and "   " normalize to identical content -> 3 dedups against 2
    # (keep-first); null and "short" are unique and survive.
    assert kept == [0, 1, 2, 4]
    # simhash of token-less docs is 0 -> the null/empty trio pairs with
    # itself (identical empty content), never with real documents.
    pairs = {(r.i, r.j) for r in simhash_candidates(df).collect()}
    assert pairs == {(1, 2), (1, 3), (2, 3)}


def test_similarity_ops_skip_null_vectors(spark):
    """Null embeddings are filtered at operator entry: they can't be
    neighbors, buckets, or index cells — and must never crash a kernel."""
    import pyspark.sql.functions as F

    from keystone_spark.operators.similarity import (
        IvfIndex,
        cosine_topk,
        ivf_topk,
        lsh_bucket_topk,
    )

    rows = [(i, [float(i + 1)] * 8) for i in range(20)] + [(20, None), (21, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = df.where("vec_id < 2")

    out = cosine_topk(df, probes, k=3)
    assert out.where(F.col("vec_id") >= 20).count() == 0
    assert out.count() == 6
    assert lsh_bucket_topk(df, probes, k=3, n_bits=16, n_bands=4).where(
        F.col("vec_id") >= 20
    ).count() == 0
    assert ivf_topk(df, probes, k=3, n_cells=4, n_probe_cells=2).where(
        F.col("vec_id") >= 20
    ).count() == 0
    idx = IvfIndex.build(df, n_cells=4)
    assert idx.search(probes, k=3).where(F.col("vec_id") >= 20).count() == 0


def test_mulmod61_exact_vs_bigint():
    """The vectorized Mersenne mulmod must equal exact big-int arithmetic
    (ADVICE r1: the previous form wrapped mod 2^64 before the mod-p)."""
    import numpy as np

    from keystone_spark.operators.dedup import _MERSENNE, _mulmod61

    rng = np.random.default_rng(7)
    a = rng.integers(1, _MERSENNE, size=64, dtype=np.int64).astype(np.uint64)
    h = rng.integers(0, np.iinfo(np.int64).max, size=257, dtype=np.int64).astype(
        np.uint64
    )
    h[0] = 0
    h[1] = np.uint64(_MERSENNE)          # h === 0 (mod p)
    h[2] = np.uint64(2**64 - 1)          # max uint64
    got = _mulmod61(a[None, :], h[:, None])
    want = np.array(
        [[(int(ai) * int(hi)) % _MERSENNE for ai in a] for hi in h], dtype=np.uint64
    )
    assert (got == want).all()


def test_lsh_bucket_cap_bounds_candidates(spark):
    """10k boilerplate copies in one bucket must not produce an O(n^2)
    candidate join (VERDICT r1 #3): oversized buckets are dropped, and
    exact-dedup-first keeps the end-to-end dedup answer unchanged."""
    import pyspark.sql.functions as F

    from keystone_spark.operators.dedup import (
        minhash_dedup,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    boiler = "license header boilerplate text repeated verbatim in every file"
    rows = [(i, boiler) for i in range(200)]
    rows += [(1000, "a genuinely unique document about spark physical plans"),
             (1001, "a genuinely unique document about spark physical plan")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = minhash_signatures(df, n_hashes=16)
    uncapped = minhash_lsh_candidates(sigs, n_bands=4, n_hashes=16, bucket_cap=None)
    capped = minhash_lsh_candidates(sigs, n_bands=4, n_hashes=16, bucket_cap=50)
    assert uncapped.count() >= 200 * 199 // 2  # the quadratic blowup
    assert capped.count() <= 1  # only the unique near-pair can remain

    kept = sorted(r.doc_id for r in minhash_dedup(df, n_hashes=16, n_bands=4,
                                                  bucket_cap=50).collect())
    assert kept == [0, 1000]  # boilerplate -> keep-first; near-pair -> keep 1000


def test_banded_pair_survives_capped_first_band(spark):
    """Bucket-cap TRUNCATION semantics (r9, VERDICT r8 #3): an oversized
    bucket keeps its ``bucket_cap`` lowest-id members instead of being
    dropped wholesale, so (a) a near-pair among the kept members is
    still emitted exactly once even when its first agreeing band is the
    capped one, (b) pairs are still found among the cap survivors of a
    boilerplate family (the r7/r8 anti-join lost the whole family), and
    (c) members beyond the cap contribute nothing through that bucket.
    With bucket_cap=None every pair is still emitted exactly once: the
    pair-dedup groupBy collapses pairs that share several buckets."""
    from keystone_spark.operators.dedup import hash64_candidates

    # 4 bands x 16 bits. X and Y agree in bands 0 AND 1 (band 0 is their
    # first agreeing band); 50 fillers share X's band-0 bucket (capping
    # it) but are unique everywhere else.
    def sig(b0, b1, b2, b3):
        return (b3 << 48) | (b2 << 32) | (b1 << 16) | b0

    x = sig(0x1111, 0x2222, 0x3333, 0x4444)
    y = sig(0x1111, 0x2222, 0x3335, 0x4446)  # hamming(x, y) = 3
    rows = [(0, x), (1, y)]
    rows += [
        (10 + i, sig(0x1111, 0x5000 + i, 0x6000 + i, 0x7000 + i))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "img_id long, h long")

    capped = hash64_candidates(
        df, "img_id", "h", n_bands=4, max_hamming=3, bucket_cap=10
    ).collect()
    emitted = {(r.i, r.j): r.hamming for r in capped}
    # the x-y pair survives (both are among the 10 lowest ids in the
    # capped bucket, and they also share band 1), exactly once
    assert emitted[(0, 1)] == 3
    assert len(capped) == len(emitted)
    # band-0 survivors are ids {0, 1, 10..17}; fillers i, j differ by
    # 3 * popcount(i^j) bits, so popcount-1 filler pairs are REAL
    # near-pairs among the survivors and must be kept (truncation, not
    # wholesale drop) ...
    assert (10, 11) in emitted and (10, 12) in emitted
    # ... while members beyond the cap (ids >= 18) collide nowhere else
    # and must contribute nothing
    assert all(i < 18 and j < 18 for (i, j) in emitted)

    # uncapped: every pair (including all filler-filler near-pairs) is
    # emitted EXACTLY once
    uncapped = hash64_candidates(
        df, "img_id", "h", n_bands=4, max_hamming=3, bucket_cap=None
    ).collect()
    pairs = [(r.i, r.j) for r in uncapped]
    assert (0, 1) in pairs
    assert len(pairs) == len(set(pairs))
    # truncated output is a SUBSET of the uncapped pair set
    assert set(emitted) <= set(pairs)


def test_minhash_dedup_cache_hygiene(spark):
    """After minhash_dedup returns, only the caches its lazy result still
    references may remain persisted — the small drop-id set and the
    survivors table (r9: persisted because the final anti-join and two
    earlier consumers read it) — and release() clears both
    (VERDICT r1 #6)."""
    from keystone_spark.operators.dedup import minhash_dedup, release

    base = spark._jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(
        [(i, f"document number {i} with some distinct words {i * 17}")
         for i in range(30)] + [(100, "document number 7 with some distinct words 119")],
        "doc_id long, text string",
    )
    out = minhash_dedup(df, n_hashes=16, n_bands=4)
    assert spark._jsc.getPersistentRDDs().size() <= base + 2
    out.count()
    release(out)
    assert spark._jsc.getPersistentRDDs().size() <= base


def test_edit_distance_pairs_complete_vs_bruteforce(spark):
    """FastSS deletion-neighborhood banding must recover EXACTLY the
    brute-force edit-distance<=1 pairs, including insert/delete pairs of
    different lengths and exact duplicates (dist 0)."""
    from keystone_spark.operators.dedup import edit_distance_pairs

    names = [
        "spark", "spork", "spark",      # substitution + exact dup
        "spar", "sparks",               # deletion / insertion
        "flink", "blink", "clink",      # substitution chain
        "x", "", "y",                   # tiny strings, empty
        "totally-different",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(names)], "doc_id long, text string"
    )
    got = {
        (r["i"], r["j"], r["dist"])
        for r in edit_distance_pairs(df, "doc_id", "text").collect()
    }

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (i, j, lev(names[i], names[j]))
        for i in range(len(names))
        for j in range(i + 1, len(names))
        if lev(names[i], names[j]) <= 1
    }
    assert got == want


def test_pq_topk_recall_and_determinism(spark, sf_dir):
    """PQ ANN: recall@10 vs exact must clear the declared threshold at
    the production config, candidates per probe stay bounded at
    refine*k, and seeded codebooks make the whole result deterministic."""
    import pyspark.sql.functions as F

    from keystone_spark.operators.similarity import cosine_topk, pq_topk
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", sf_dir)
    probes = e.where(F.col("vec_id") < 5)
    exact = {(r.probe, r.vec_id) for r in cosine_topk(e, probes, k=10).collect()}
    rows = pq_topk(e, probes, k=10, m=16, ks=32, refine=8).collect()
    per = {}
    for r in rows:
        per.setdefault(r.probe, []).append(r)
    for p, rs in per.items():
        assert len(rs) == 10
        assert sorted(r.rk for r in rs) == list(range(1, 11))
        hits = sum((p, r.vec_id) in exact for r in rs)
        assert hits >= 5, (p, hits)
    again = pq_topk(e, probes, k=10, m=16, ks=32, refine=8).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pq_topk_rejects_bad_dims_and_skips_nulls(spark):
    import pytest as _pytest

    import pyspark.sql.functions as F

    from keystone_spark.operators.similarity import pq_topk

    rows = [(i, [float(i + j) for j in range(8)]) for i in range(30)]
    rows += [(30, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = df.where("vec_id < 2")
    out = pq_topk(df, probes, k=3, m=4, ks=8, refine=2)
    assert out.where(F.col("vec_id") >= 30).count() == 0
    with _pytest.raises(Exception, match="divisible"):
        pq_topk(df, probes, k=3, m=3, ks=8).collect()


def test_ivfpq_index_recall_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    """IVF-PQ composition: save/load round-trips (codes partitioned by
    cell + model JSON), the pruned-scan plan carries a cell
    PartitionFilter, and recall@10 vs exact clears 0.5 per probe at the
    production config (cells prune AND codes quantize, so recall trails
    pure-PQ slightly — re-rank over raw vectors recovers most of it)."""
    import pyspark.sql.functions as F

    from keystone_spark.operators.similarity import IvfPqIndex, cosine_topk
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", sf_dir)
    probes = e.where(F.col("vec_id") < 5)
    exact = {(r.probe, r.vec_id) for r in cosine_topk(e, probes, k=10).collect()}

    idx = IvfPqIndex.build(e, n_cells=16, m=16, ks=32)
    path = str(tmp_path / "ivfpq")
    idx.save(path)
    loaded = IvfPqIndex.load(spark, path)

    out = loaded.search(e, probes, k=10, n_probe_cells=8, refine=8)
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r.probe, []).append(r)
    for p, rs in per.items():
        assert len(rs) == 10
        assert sorted(r.rk for r in rs) == list(range(1, 11))
        hits = sum((p, r.vec_id) in exact for r in rs)
        assert hits >= 5, (p, hits)

    # the code scan prunes to probed cells' partitions
    import re

    p_ids = sorted(r.vec_id for r in probes.select("vec_id").collect())
    assert p_ids == [0, 1, 2, 3, 4]
    plan = loaded.indexed.where(
        F.col("cell").isin([0, 1])
    )._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cell#\d+ (?:INSET|IN)", plan)

    # compression: codes are m small ints per vector, not d floats
    row = loaded.indexed.first()
    assert len(row.codes) == 16


def test_semantic_clusters_labeling(spark):
    from keystone_spark.operators.dedup import semantic_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 5), (7, 8)], ["i", "j"])
    ids = spark.createDataFrame([(x,) for x in [1, 2, 3, 5, 7, 8]], ["vec_id"])
    out = {r.vec_id: (r.cluster_id, r.is_rep)
           for r in semantic_clusters(pairs, ids).collect()}
    assert out == {
        1: (1, 1), 2: (1, 0), 5: (1, 0),   # chain 1-2-5 -> cluster 1
        3: (3, 1),                          # singleton
        7: (7, 1), 8: (7, 0),
    }


def test_prefix_jaccard_equals_brute_force_and_prunes(spark):
    """Prefix-filtered join must return exactly the brute-force pairs at
    the threshold, while indexing strictly fewer postings than the full
    inverted index."""
    import itertools

    from keystone_spark.operators.dedup import prefix_jaccard_pairs

    rows = [
        (0, "a b c d e f"),
        (1, "a b c d e g"),      # J(0,1) = 5/7
        (2, "a b c x y z"),      # J(0,2) = 3/9
        (3, "p q r s t u"),      # disjoint
        (4, "p q r s t v"),      # J(3,4) = 5/7
        (5, "a p x q"),          # low overlap with everyone
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    thr = 0.5
    got = {(r.i, r.j): r.jac
           for r in prefix_jaccard_pairs(df, threshold=thr).collect()}

    sets = {i: set(t.split()) for i, t in rows}
    want = {}
    for i, j in itertools.combinations(sorted(sets), 2):
        jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
        if jac >= thr:
            want[(i, j)] = round(jac, 6)
    assert got == want and (0, 1) in got and (3, 4) in got


def test_jaccard_verify_size_prefilter_is_lossless(spark):
    """The min/max size-ratio prefilter added in r6 must be invisible in
    results: J(A,B) <= min(|A|,|B|)/max(|A|,|B|) makes it a necessary
    condition, so verify output over ALL pairs must equal a naive
    no-filter twin at every threshold — including pairs exactly at the
    ratio boundary (sizes 4 vs 5 at t=0.8)."""
    import itertools

    from pyspark.sql import functions as F

    from keystone_spark.operators.dedup import jaccard_verify

    docs = [
        (1, "abcdefgh"),          # 4 5-shingles
        (2, "abcdefghi"),         # 5 — sizes 4v5, ratio 0.8 boundary
        (3, "abcdefgh"),          # exact dup of 1
        (4, "zyxwvuts"),          # disjoint
        (5, "abcdefgX"),          # near 1
        (6, "a"),                 # shorter than k -> single shingle
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(i, j) for i, j in itertools.combinations([x[0] for x in docs], 2)],
        "i long, j long",
    )
    from keystone_spark.functions.text import char_shingles

    sh = {
        r["doc_id"]: set(r["s"])
        for r in d.select(
            "doc_id", char_shingles(F.col("text"), 5).alias("s")
        ).collect()
    }

    def naive(t):
        out = set()
        for i, j in itertools.combinations(sorted(sh), 2):
            a, b = sh[i], sh[j]
            jac = len(a & b) / len(a | b)
            if jac >= t:
                out.add((i, j))
        return out

    for t in (0.5, 0.8, 1.0):
        got = {
            (r["i"], r["j"])
            for r in jaccard_verify(pairs, d, threshold=t).collect()
        }
        assert got == naive(t), t


def test_jaccard_verify_histogram_filter_lossless(spark):
    """The n_hist bucket-count prefilter is a counting bound, never a
    heuristic: across a corpus engineered with near-dups straddling the
    threshold, the filtered result equals the n_hist=1 path (where the
    bound degenerates to the size filter) pair for pair."""
    import itertools

    from keystone_spark.operators.dedup import jaccard_verify

    base = "abcdefghij klmnopqrst uvwxyz0123 4567890abc defghijklm "
    docs = [
        (0, base * 4),
        (1, base * 4),                           # identical to 0
        (2, base * 4 + "one extra tail bit"),    # near-dup of 0/1
        (3, base * 2 + "completely different middle section " + base),
        (4, "unrelated content entirely " * 8),
        (5, base[::-1] * 4),                     # same chars, diff shingles
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(i, j) for i, j in itertools.combinations(range(6), 2)], "i long, j long"
    )
    got = {(r.i, r.j): r.jac
           for r in jaccard_verify(pairs, df, threshold=0.5, n_hist=16).collect()}
    ref = {(r.i, r.j): r.jac
           for r in jaccard_verify(pairs, df, threshold=0.5, n_hist=1).collect()}
    assert got == ref
    assert (0, 1) in got and got[(0, 1)] == 1.0


def test_neardup_against_corpus_flags_batch_dups(spark):
    """Incremental near-dedup: a batch doc near-identical to a corpus doc
    is flagged with the right dup_of and jac; unrelated batch docs are
    not; ties resolve to the max-jac then lowest corpus id."""
    from keystone_spark.operators.dedup import neardup_against_corpus, release

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain falls mainly on the plain and the band plays on"
    )
    corpus = [
        (100, base),
        (101, base + " encore"),          # also near base
        (102, "completely different content about gardening and soil"),
        (103, None),
    ]
    batch = [
        (1, base + "!"),                  # near-dup of 100 AND 101
        (2, "unrelated text on deep sea creatures and their habitats"),
        (3, None),
    ]
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    bdf = spark.createDataFrame(batch, "doc_id long, text string")
    out = neardup_against_corpus(cdf, bdf, n_hashes=64, n_bands=16,
                                 threshold=0.8)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1}
    # best match: doc 100 (identical prefix beats the ' encore' variant)
    assert rows[1].dup_of == 100 and rows[1].jac > 0.95
    release(out)


def test_minhash_index_roundtrip_matches_inline(spark, tmp_path):
    """build_minhash_index -> match_minhash_index equals the in-memory
    neardup_against_corpus on the same split (the stored index is just a
    materialization of the same banding)."""
    from keystone_spark.operators.dedup import (
        build_minhash_index, match_minhash_index, neardup_against_corpus,
        release,
    )
    from keystone_spark.sources import load_table

    d = load_table(spark, "documents", "/root/testdata/sf0.001")
    corpus = d.where(F.col("doc_id") % 4 != 0)
    batch = d.where(F.col("doc_id") % 4 == 0)
    inline = neardup_against_corpus(corpus, batch, n_hashes=64, n_bands=16,
                                    threshold=0.8)
    want = sorted((r.doc_id, r.dup_of, r.jac) for r in inline.collect())
    release(inline)

    path = str(tmp_path / "mh_index")
    stats = build_minhash_index(corpus, path, n_hashes=64, n_bands=16)
    assert stats["corpus_docs"] > 0
    assert stats["band_rows"] == stats["corpus_docs"] * 16 - stats["band_rows_dropped"]
    via_index = match_minhash_index(spark, path, batch, corpus,
                                    n_hashes=64, n_bands=16, threshold=0.8)
    got = sorted((r.doc_id, r.dup_of, r.jac) for r in via_index.collect())
    release(via_index)
    assert got == want and len(got) > 0

    # params manifest (ADVICE r7): mismatched build/match parameters must
    # raise, not silently return empty/wrong matches (different bucket
    # keys; unequal signature lengths null out the estimate filter)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_hashes=128 vs stored 64"):
        match_minhash_index(spark, path, batch, corpus,
                            n_hashes=128, n_bands=16, threshold=0.8)
    with _pytest.raises(ValueError, match="shingle_k"):
        match_minhash_index(spark, path, batch, corpus, n_hashes=64,
                            n_bands=16, shingle_k=7, threshold=0.8)


def test_clique_band_segments_collision_guarantee():
    """Property pin of the clique-banding math (VERDICT r8 #5): for the
    declared (16 segments, 3 cliques) layout, ANY pair of 64-bit
    signatures within Hamming distance 12 must share at least one
    segment-PAIR band exactly — pigeonhole: <= 12 bit errors corrupt
    <= 12 of 16 segments, leaving >= 4 intact, two of which land in one
    of the 3 cliques. Seeded-random trials at EVERY distance 0..12, with
    adversarial spreading (each flipped bit in a distinct segment where
    possible) — the worst case for segment survival."""
    import random

    from keystone_spark.operators.dedup import clique_band_segments

    bands = clique_band_segments(16, 3)
    assert len(bands) == 35  # C(6,2) + C(5,2) + C(5,2)
    rng = random.Random(42)

    def seg(v, s):
        return (v >> (4 * s)) & 0xF

    for d in range(13):
        for _ in range(200):
            a = rng.getrandbits(64)
            # adversarial: spread flips over d distinct segments first
            segs = rng.sample(range(16), min(d, 16))
            b = a
            for i in range(d):
                s = segs[i % len(segs)] if segs else 0
                bit = 4 * s + rng.randrange(4)
                b ^= 1 << bit
            h = bin(a ^ b).count("1")
            assert h <= d
            collides = any(
                seg(a, s1) == seg(b, s1) and seg(a, s2) == seg(b, s2)
                for s1, s2 in bands
            )
            assert collides, f"hamming-{h} pair missed every clique band"


def test_clique_band_segments_rejects_bandless_layouts():
    """n_cliques > n_seg//2 leaves singleton groups (worst case: ZERO
    bands -> silent zero candidates / obscure AttributeError downstream,
    ADVICE r8) — must raise a clear ValueError instead."""
    import pytest as _pytest

    from keystone_spark.operators.dedup import clique_band_segments

    with _pytest.raises(ValueError, match="n_cliques"):
        clique_band_segments(4, 5)  # every group singleton: zero bands
    with _pytest.raises(ValueError, match="n_cliques"):
        clique_band_segments(16, 9)
    with _pytest.raises(ValueError, match="n_cliques"):
        clique_band_segments(16, 0)
    assert clique_band_segments(16, 8)  # boundary: all groups of 2


def test_clique_layout_matches_single_segment_layout(spark):
    """Output identity (VERDICT r8 #5): on a seeded 64-bit corpus the
    clique layout (35 pair-bands) and the single-segment layout (16
    bands) emit EXACTLY the same (i, j, hamming) rows when uncapped —
    both are recall-complete at hamming <= 12 and the hamming filter
    cuts everything above."""
    import random

    from keystone_spark.operators.dedup import hash64_candidates

    rng = random.Random(7)
    rows = []
    base = [rng.getrandbits(64) for _ in range(40)]
    i = 0
    for v in base:
        rows.append((i, v - (1 << 63))); i += 1
        # one near-dup at each of a few distances, one far variant
        for d in (1, 6, 12):
            w = v
            for bit in rng.sample(range(64), d):
                w ^= 1 << bit
            rows.append((i, w - (1 << 63))); i += 1
        w = v
        for bit in rng.sample(range(64), 20):
            w ^= 1 << bit
        rows.append((i, w - (1 << 63))); i += 1
    df = spark.createDataFrame(rows, "img_id long, h long")

    def run(**kw):
        out = hash64_candidates(
            df, "img_id", "h", n_bands=16, max_hamming=12,
            bucket_cap=None, **kw
        )
        return sorted((r.i, r.j, r.hamming) for r in out.collect())

    single = run()
    clique = run(band_cliques=3)
    assert clique == single and len(single) > 0


def test_bucket_cap_truncation_bounds_join_rows(spark):
    """The truncation guard's scale contract (VERDICT r8 #3): a
    boilerplate family of n >> cap identical-signature docs produces at
    most cap*(cap-1)/2 pairs — per-bucket join work is bounded by cap^2
    BY DESIGN, not by hoping occupancy stays low — and the pairs that
    do come out are among the cap LOWEST ids (deterministic keep rule,
    so reruns and the oracle see the same rows)."""
    from keystone_spark.operators.dedup import hash64_candidates

    n, cap = 500, 20
    rows = [(i, 0x1234_5678_9ABC_DEF0) for i in range(n)]
    df = spark.createDataFrame(rows, "img_id long, h long")
    out = hash64_candidates(
        df, "img_id", "h", n_bands=16, max_hamming=12,
        bucket_cap=cap, band_cliques=3
    ).collect()
    assert len(out) == cap * (cap - 1) // 2
    assert all(r.i < cap and r.j < cap and r.hamming == 0 for r in out)


def test_persist_once_ownership(spark):
    """Cache-ownership contract (ADVICE r8): when two invocations build
    the SAME deterministic plan, only the first persist OWNS the cache
    — the second ``caches.persist`` must not register it for release,
    so releasing the second invocation's caches cannot yank the cache
    out from under the first (CacheManager unpersists by plan
    equality)."""
    from keystone_spark.caches import persist

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    own1: list = []
    a = persist(df.where("v > 10"), own1)
    assert own1 == [a]  # first caller persisted -> owns
    own2: list = []
    b = persist(df.where("v > 10"), own2)  # same plan, new object
    assert own2 == []  # second caller skipped -> owns nothing
    lvl = b.storageLevel
    assert lvl.useMemory or lvl.useDisk  # still cached (owner's entry)
    for c in own2:
        c.unpersist()
    lvl = a.storageLevel
    assert lvl.useMemory or lvl.useDisk  # releasing non-owner: no-op
    for c in own1:
        c.unpersist()


def test_lsh_candidates_release_contract(spark):
    """minhash_lsh_candidates is one lazy plan that persists nothing:
    counting its result leaves no cached block behind (only the
    caller's own signature cache), and ``release(result)`` is a safe
    no-op for direct public-API callers."""
    from keystone_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        release,
    )

    def new_blocks():
        # keyed by RDD id: caches leaked by earlier tests may be cleaned
        # up mid-test
        return sum(int(i.numCachedPartitions())
                   for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
                   if int(i.id()) not in base)

    df = spark.createDataFrame(
        [(i, f"some text body number {i % 7} repeated here") for i in range(40)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df, n_hashes=16).persist()
    sigs.count()
    base = {int(i.id())
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    for cap in (50, None):
        caches: list = []
        cand = minhash_lsh_candidates(sigs, n_bands=4, n_hashes=16,
                                      bucket_cap=cap, caches=caches)
        assert cand.count() > 0
        assert caches == []
        assert new_blocks() == 0
        release(cand)
        assert new_blocks() == 0
    sigs.unpersist()


def test_match_minhash_index_corrupt_manifest_raises(spark, tmp_path):
    """A corrupt/truncated params manifest must PROPAGATE, not silently
    skip validation (ADVICE r8). Since r11 the manifest doubles as the
    index's generation COMMIT LOG, so a MISSING manifest raises too —
    data tables without their commit rows are an interrupted/corrupt
    index, and serving them would resurrect exactly the orphan rows
    the crash-safe layout exists to hide."""
    import pytest as _pytest

    from keystone_spark.operators.dedup import (
        build_minhash_index,
        match_minhash_index,
    )
    from keystone_spark.sources import load_table

    d = load_table(spark, "documents", "/root/testdata/sf0.001")
    corpus = d.where(F.col("doc_id") % 4 != 0)
    batch = d.where(F.col("doc_id") % 4 == 0)
    path = str(tmp_path / "mh_index")
    build_minhash_index(corpus, path, n_hashes=16, n_bands=4)

    # corrupt the manifest: replace its parquet files with garbage bytes
    import glob
    import os

    for f in glob.glob(os.path.join(path, "params", "*.parquet")):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file at all")
    with _pytest.raises(Exception) as ei:
        match_minhash_index(spark, path, batch, corpus,
                            n_hashes=16, n_bands=4)
    assert "PATH_NOT_FOUND" not in str(ei.value)

    # missing manifest -> typed refusal (the commit log is gone)
    import shutil

    shutil.rmtree(os.path.join(path, "params"))
    with _pytest.raises(ValueError, match="no index manifest"):
        match_minhash_index(spark, path, batch, corpus,
                            n_hashes=16, n_bands=4)


@pytest.mark.slow
def test_ann_recall_at_sf1(spark):
    """ANN recall pinned at a DATA-BOUND scale point (VERDICT r7 #8 /
    r8 #6): recall@10 of ivf_topk / pq_topk / ivfpq_topk vs the exact
    cosine kernel on .localdata/sf1 (50k vectors), where cell and
    codebook geometry reflect a real corpus rather than the 500-row
    sf0.01 fixture the per-query oracles run at. Declared-query
    configs; averaged over 10 probes; skips when sf1 data hasn't been
    generated on this machine."""
    import os

    import pyspark.sql.functions as F

    from keystone_spark.operators.similarity import (
        IvfPqIndex,
        cosine_topk,
        ivf_topk,
        pq_topk,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf1 = os.path.join(repo, ".localdata", "sf1")
    if not os.path.isdir(sf1):
        pytest.skip("no .localdata/sf1 — generate with "
                    "tools/make_scaled_data.py --k 10 --dst .localdata/sf1")
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", sf1).where(
        F.col("embedding").isNotNull()
    )
    probes = e.where(F.col("vec_id") < 10)
    exact = {
        (r.probe, r.vec_id)
        for r in cosine_topk(e, probes, k=10).collect()
    }

    def recall(df):
        got = {(r.probe, r.vec_id) for r in df.select("probe", "vec_id").collect()}
        return len(exact & got) / len(exact)

    r_ivf = recall(ivf_topk(e, probes, k=10, n_cells=16, n_probe_cells=8))
    r_pq = recall(pq_topk(e, probes, k=10, m=16, ks=32, refine=8))
    idx = IvfPqIndex.build(e, n_cells=16, m=16, ks=32)
    r_ivfpq = recall(idx.search(e, probes, k=10, n_probe_cells=8, refine=8))
    # pins recorded in BASELINE.md (r9); >= 0.8 = the "8/10" bar from
    # the verdict, at the declared configs
    assert r_ivf >= 0.8, f"ivf_topk recall@10 at sf1 = {r_ivf}"
    assert r_pq >= 0.8, f"pq_topk recall@10 at sf1 = {r_pq}"
    assert r_ivfpq >= 0.8, f"ivfpq recall@10 at sf1 = {r_ivfpq}"
    print(f"sf1 recall@10: ivf={r_ivf} pq={r_pq} ivfpq={r_ivfpq}")


@pytest.mark.slow
def test_minhash_index_add_equals_rebuild(spark, tmp_path):
    """Append-without-rebuild (VERDICT r9 #1): build the index on the
    low-id half of the corpus, add the high-id half in two batches
    (monotone-ingest contract), and matching a probe batch returns rows
    IDENTICAL to an index rebuilt from scratch over the union corpus."""
    from keystone_spark.operators.dedup import (
        add_to_minhash_index,
        build_minhash_index,
        match_minhash_index,
        release,
    )
    from keystone_spark.sources import load_table

    d = load_table(spark, "documents", "/root/testdata/sf0.001")
    corpus = d.where(F.col("doc_id") % 4 != 0)
    probe = d.where(F.col("doc_id") % 4 == 0)
    mid = corpus.agg(F.max("doc_id")).first()[0] // 2
    lo = corpus.where(F.col("doc_id") <= mid)
    hi1 = corpus.where((F.col("doc_id") > mid)
                       & (F.col("doc_id") % 2 == 1))
    hi2 = corpus.where((F.col("doc_id") > mid)
                       & (F.col("doc_id") % 2 == 0))

    inc = str(tmp_path / "mh_inc")
    build_minhash_index(lo, inc, n_hashes=64, n_bands=16)
    s1 = add_to_minhash_index(spark, inc, hi1)
    s2 = add_to_minhash_index(spark, inc, hi2)
    assert s1["new_content"] > 0 and s1["band_rows_added"] > 0
    assert s2["new_content"] > 0 and s2["band_rows_capped"] == 0

    full = str(tmp_path / "mh_full")
    build_minhash_index(corpus, full, n_hashes=64, n_bands=16)

    def run(path):
        out = match_minhash_index(spark, path, probe, corpus,
                                  n_hashes=64, n_bands=16, threshold=0.8)
        rows = sorted((r.doc_id, r.dup_of, round(r.jac, 9))
                      for r in out.collect())
        release(out)
        return rows

    got, want = run(inc), run(full)
    assert got == want and len(got) > 0

    # re-adding already-indexed content is a no-op (re-crawl batch)
    s3 = add_to_minhash_index(spark, inc, hi1)
    assert s3["new_content"] == 0 and s3["band_rows_added"] == 0
    assert run(inc) == want

    # empty batch is a no-op
    s4 = add_to_minhash_index(spark, inc, corpus.where("doc_id < 0"))
    assert s4 == {"batch_docs": 0, "new_content": 0,
                  "band_rows_added": 0, "band_rows_capped": 0,
                  "generation": None}


def test_minhash_index_add_enforces_combined_cap(spark, tmp_path):
    """The append-time skew guard counts stored + new occupancy: a batch
    that would push a bucket past the manifest's cap has its NEW rows
    dropped (stored rows are append-only and stay), and a pre-r10 index
    without a content table refuses the add instead of corrupting."""
    import pytest

    from keystone_spark.operators.dedup import (
        add_to_minhash_index,
        build_minhash_index,
    )

    # 6 identical-after-normalization long texts per id block would all
    # band into the same buckets; distinct texts here so each is its own
    # content, but sharing one dominant shingle profile to collide bands
    base = "the quick brown fox jumps over the lazy dog " * 20
    docs1 = spark.createDataFrame(
        [(i, base + f"tail {i}") for i in range(4)], ["doc_id", "text"]
    )
    docs2 = spark.createDataFrame(
        [(i, base + f"tail {i}") for i in range(4, 10)], ["doc_id", "text"]
    )
    path = str(tmp_path / "mh_cap")
    build_minhash_index(docs1, path, n_hashes=32, n_bands=8, bucket_cap=5)
    stats = add_to_minhash_index(spark, path, docs2)
    # every near-identical doc lands in mostly-shared buckets; combined
    # occupancy 4 stored + 6 new > 5 in at least one bucket
    assert stats["band_rows_capped"] > 0

    # missing content table (pre-r10 index) -> explicit refusal
    legacy = str(tmp_path / "mh_legacy")
    build_minhash_index(docs1, legacy, n_hashes=32, n_bands=8)
    import shutil

    shutil.rmtree(f"{legacy}/content")
    with pytest.raises(ValueError, match="content table"):
        add_to_minhash_index(spark, legacy, docs2)


def test_ivf_index_add_equals_one_pass_assignment(spark, tmp_path):
    """IvfIndex.add (VERDICT r9 #1, third index family): appended
    vectors are cell-assigned by the build's own kernel against FROZEN
    centroids (FAISS IndexIVF.add semantics), so search after add is
    row-identical to an index whose whole corpus was assigned in one
    pass with the same centroids."""
    from keystone_spark.operators.similarity import IvfIndex
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    lo = e.where(F.col("vec_id") % 3 != 0)
    hi = e.where(F.col("vec_id") % 3 == 0)
    probes = e.where(F.col("vec_id") % 50 == 0).limit(5)

    path = str(tmp_path / "ivf_inc")
    IvfIndex.build(lo, n_cells=8).save(path)
    stats = IvfIndex.add(spark, path, hi)
    assert stats["vectors_added"] == hi.where(
        F.col("embedding").isNotNull()).count()
    assert stats["cells_touched"] >= 1
    assert sum(stats["cell_histogram"].values()) == stats["vectors_added"]

    # one-pass twin: same centroids, union corpus assigned at once
    inc = IvfIndex.load(spark, path)
    union = IvfIndex(inc.C, IvfIndex._assign(
        lo.unionByName(hi), inc.C, "vec_id", "embedding"))

    def key(df):
        return sorted((r.probe, r.rk, r.vec_id, round(r.cos, 9))
                      for r in df.collect())

    got = key(inc.search(probes, k=5, n_probe_cells=4))
    assert got == key(union.search(probes, k=5, n_probe_cells=4))
    assert len(got) > 0
    # appended ids are actually reachable
    assert any(i % 3 == 0 for _, _, i, _ in got)


def test_ivfpq_index_add_equals_one_pass_encoding(spark, tmp_path):
    """IvfPqIndex.add: frozen centroids AND codebooks — appended codes
    equal a one-pass encoding of the union under the same model, so
    the ADC + exact-re-rank search results match row-for-row."""
    from keystone_spark.operators.similarity import IvfPqIndex
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    lo = e.where(F.col("vec_id") % 3 != 0)
    hi = e.where(F.col("vec_id") % 3 == 0)
    probes = e.where(F.col("vec_id") % 50 == 0).limit(5)

    path = str(tmp_path / "ivfpq_inc")
    IvfPqIndex.build(lo, n_cells=8, m=16, ks=16).save(path)
    stats = IvfPqIndex.add(spark, path, hi)
    assert stats["vectors_added"] > 0

    inc = IvfPqIndex.load(spark, path)
    union = IvfPqIndex(inc.C, inc.books, IvfPqIndex._encode(
        lo.unionByName(hi), inc.C, inc.books, "vec_id", "embedding"))

    def key(df):
        return sorted((r.probe, r.rk, r.vec_id, round(r.cos, 9))
                      for r in df.collect())

    base = lo.unionByName(hi)
    got = key(inc.search(base, probes, k=5, n_probe_cells=4, refine=4))
    assert got == key(union.search(base, probes, k=5, n_probe_cells=4,
                                   refine=4))
    assert len(got) > 0


@pytest.mark.slow
def test_compact_minhash_index_preserves_matches(spark, tmp_path):
    """compact_minhash_index rewrites appended band/sig/content files
    to one file per band dir with NO row changes — match results are
    identical before and after, and band partition dirs survive."""
    import os

    from keystone_spark.operators.dedup import (
        add_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        match_minhash_index,
        release,
    )
    from keystone_spark.sources import load_table

    d = load_table(spark, "documents", "/root/testdata/sf0.001")
    corpus = d.where(F.col("doc_id") % 4 != 0)
    probe = d.where(F.col("doc_id") % 4 == 0)
    mid = corpus.agg(F.max("doc_id")).first()[0] // 2
    path = str(tmp_path / "mh_cpt")
    build_minhash_index(corpus.where(F.col("doc_id") <= mid), path,
                        n_hashes=64, n_bands=16)
    add_to_minhash_index(spark, path, corpus.where(F.col("doc_id") > mid))

    def run():
        out = match_minhash_index(spark, path, probe, corpus,
                                  n_hashes=64, n_bands=16, threshold=0.8)
        rows = sorted((r.doc_id, r.dup_of, round(r.jac, 9))
                      for r in out.collect())
        release(out)
        return rows

    before = run()
    assert before
    stats = compact_minhash_index(spark, path)
    assert stats["band_files_after"] < stats["band_files_before"]
    assert any(x.startswith("band=") for x in
               os.listdir(os.path.join(path, "bands")))
    assert run() == before


@pytest.mark.slow
def test_minhash_index_delete_then_compact_purges(spark, tmp_path):
    """delete_from_minhash_index: a tombstoned corpus doc stops being
    reported as dup_of immediately; compact purges its band/sig/content
    rows and match equals an index built without it; adding the same
    content back after the purge indexes it fresh."""
    import os

    from keystone_spark.operators.dedup import (
        add_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        delete_from_minhash_index,
        match_minhash_index,
        release,
    )
    from keystone_spark.sources import load_table

    d = load_table(spark, "documents", "/root/testdata/sf0.001")
    corpus = d.where(F.col("doc_id") % 4 != 0)
    probe = d.where(F.col("doc_id") % 4 == 0)

    path = str(tmp_path / "mh_del")
    build_minhash_index(corpus, path, n_hashes=64, n_bands=16)

    def run(p, texts):
        out = match_minhash_index(spark, p, probe, texts,
                                  n_hashes=64, n_bands=16, threshold=0.8)
        rows = sorted((r.doc_id, r.dup_of, round(r.jac, 9))
                      for r in out.collect())
        release(out)
        return rows

    base = run(path, corpus)
    assert base
    victims = sorted({j for _, j, _ in base})[:2]
    out = delete_from_minhash_index(spark, path, victims)
    assert out["tombstones_added"] == 2

    after_del = run(path, corpus)
    assert not any(j in victims for _, j, _ in after_del)

    compact_minhash_index(spark, path)
    assert not os.path.exists(os.path.join(path, "tombstones"))
    # purge == index built without the victims
    twin = str(tmp_path / "mh_twin")
    survivors = corpus.where(~F.col("doc_id").isin(victims))
    build_minhash_index(survivors, twin, n_hashes=64, n_bands=16)
    assert run(path, corpus) == run(twin, corpus) == after_del

    # deleted content can be re-added (content row was purged)
    readd = corpus.where(F.col("doc_id").isin(victims))
    stats = add_to_minhash_index(
        spark, path, readd.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    assert stats["new_content"] > 0


@pytest.mark.slow
def test_minhash_delete_then_readd_before_compact(spark, tmp_path):
    """ADVICE r10 #1 / VERDICT r10 #1: after deleting a representative,
    adding a surviving copy of the SAME content must index it fresh
    BEFORE any compact — the tombstoned content row must not count as
    "already indexed". Compact afterwards stays hash-identical to a
    survivor-rebuild over (corpus - victim + re-added copy)."""
    from keystone_spark.operators.dedup import (
        add_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        delete_from_minhash_index,
        match_minhash_index,
        release,
    )
    from keystone_spark.sources import load_table

    d = load_table(spark, "documents", "/root/testdata/sf0.001")
    corpus = d.where(F.col("doc_id") % 4 != 0)
    probe = d.where(F.col("doc_id") % 4 == 0)

    path = str(tmp_path / "mh_readd")
    build_minhash_index(corpus, path, n_hashes=64, n_bands=16)

    def run(p, texts):
        out = match_minhash_index(spark, p, probe, texts,
                                  n_hashes=64, n_bands=16, threshold=0.8)
        rows = sorted((r.doc_id, r.dup_of, round(r.jac, 9))
                      for r in out.collect())
        release(out)
        return rows

    base = run(path, corpus)
    assert base
    victim = sorted({j for _, j, _ in base})[0]
    delete_from_minhash_index(spark, path, [victim])
    assert not any(j == victim for _, j, _ in run(path, corpus))

    # re-add the SAME content under a fresh id, pre-compact: the
    # tombstoned content row must not block it (new_content > 0) and
    # the content becomes findable again under the new id
    copy_id = 5_000_000 + int(victim)
    copy = (corpus.where(F.col("doc_id") == victim)
            .withColumn("doc_id", F.lit(copy_id).cast("long")))
    stats = add_to_minhash_index(spark, path, copy)
    assert stats["new_content"] == 1 and stats["band_rows_added"] > 0
    texts = corpus.unionByName(copy)
    after_readd = run(path, texts)
    assert any(j == copy_id for _, j, _ in after_readd)
    assert not any(j == victim for _, j, _ in after_readd)

    # compact purges the victim physically; results keep matching a
    # from-scratch build over the survivor corpus
    compact_minhash_index(spark, path)
    twin = str(tmp_path / "mh_readd_twin")
    build_minhash_index(
        corpus.where(F.col("doc_id") != victim).unionByName(copy),
        twin, n_hashes=64, n_bands=16,
    )
    assert run(path, texts) == run(twin, texts) == after_readd


def test_minhash_delete_string_id_index(spark, tmp_path):
    """ADVICE r10 #2: list-form deletes on a string-id index must build
    the tombstone column with the index's own stored id type — the old
    int(i) coercion into a hardcoded long schema raised on string ids."""
    from keystone_spark.operators.dedup import (
        build_minhash_index,
        delete_from_minhash_index,
        match_minhash_index,
        release,
    )

    docs = spark.createDataFrame(
        [("a", BASE), ("b", BASE.replace("lazy", "sleepy")),
         ("c", "totally different text about compilers and linkers here")],
        "doc_id string, text string",
    )
    path = str(tmp_path / "mh_strid")
    build_minhash_index(docs, path, n_hashes=32, n_bands=8)
    out = delete_from_minhash_index(spark, path, ["a"])
    assert out["tombstones_added"] == 1
    probe = spark.createDataFrame([("p1", BASE)], "doc_id string, text string")
    m = match_minhash_index(spark, path, probe, docs,
                            n_hashes=32, n_bands=8, threshold=0.8)
    rows = [(r.doc_id, r.dup_of) for r in m.collect()]
    release(m)
    assert ("p1", "a") not in rows


def test_tombstone_read_propagates_schema_mismatch(spark, tmp_path):
    """ADVICE r10 #5: only the missing-path case means "no tombstones";
    a tombstone table that lacks the requested id column (e.g. deletes
    issued under a different id_col) must raise, not silently disable
    tombstone filtering."""
    from pyspark.errors import AnalysisException

    from keystone_spark.fsutil import read_tombstones

    assert read_tombstones(spark, str(tmp_path / "nothing"), "doc_id") is None
    path = str(tmp_path / "mismatch")
    spark.createDataFrame([(1,)], "other_id long").write.parquet(
        f"{path}/tombstones"
    )
    with pytest.raises(AnalysisException):
        read_tombstones(spark, path, "doc_id").collect()


@pytest.mark.slow
def test_minhash_index_interrupted_add_is_invisible_and_retryable(
        spark, tmp_path, monkeypatch):
    """Crash-safe MinHash mutations (VERDICT r10 #1): an add killed
    after its data appends but before the COMMIT manifest row leaves an
    orphan generation that match never serves; a blind retry of the
    same batch indexes it exactly once under the next generation; and
    compact physically purges the orphan rows."""
    from keystone_spark import fsutil
    from keystone_spark.operators import dedup as dedup_mod
    from keystone_spark.operators.dedup import (
        add_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        match_minhash_index,
        release,
    )
    from keystone_spark.sources import load_table

    d = load_table(spark, "documents", "/root/testdata/sf0.001")
    corpus = d.where(F.col("doc_id") % 4 != 0)
    probe = d.where(F.col("doc_id") % 4 == 0)
    mid = corpus.agg(F.max("doc_id")).first()[0] // 2
    lo = corpus.where(F.col("doc_id") <= mid)
    hi = corpus.where(F.col("doc_id") > mid)

    path = str(tmp_path / "mh_crash")
    build_minhash_index(lo, path, n_hashes=64, n_bands=16)

    def run():
        out = match_minhash_index(spark, path, probe, corpus,
                                  n_hashes=64, n_bands=16, threshold=0.8)
        rows = sorted((r.doc_id, r.dup_of, round(r.jac, 9))
                      for r in out.collect())
        release(out)
        return rows

    before = run()

    real = fsutil.append_manifest

    def boom(spark_, path_, schema, cfg, generation, committed,
             mode="append"):
        if committed and generation > 0:
            raise RuntimeError("simulated crash before commit row")
        return real(spark_, path_, schema, cfg, generation, committed, mode)

    monkeypatch.setattr(fsutil, "append_manifest", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        add_to_minhash_index(spark, path, hi)
    monkeypatch.setattr(fsutil, "append_manifest", real)

    # orphan generation is invisible: match equals the pre-add index
    assert dedup_mod.minhash_log(spark, path)[
        "incomplete_generations"] == [1]
    assert run() == before

    # blind retry: next generation, batch indexed exactly once, and
    # match equals a from-scratch rebuild over the union corpus
    stats = add_to_minhash_index(spark, path, hi)
    assert stats["generation"] == 2 and stats["new_content"] > 0
    full = str(tmp_path / "mh_crash_full")
    build_minhash_index(corpus, full, n_hashes=64, n_bands=16)
    want = run()
    out = match_minhash_index(spark, full, probe, corpus,
                              n_hashes=64, n_bands=16, threshold=0.8)
    rows = sorted((r.doc_id, r.dup_of, round(r.jac, 9))
                  for r in out.collect())
    release(out)
    assert want == rows and len(want) > len(before)

    # compact purges the orphan rows; results unchanged
    stats = compact_minhash_index(spark, path)
    assert stats["orphan_generations_purged"] == [1]
    assert dedup_mod.minhash_log(spark, path)[
        "incomplete_generations"] == []
    assert run() == want


@pytest.mark.slow
def test_compact_minhash_index_on_file_uri(spark, tmp_path):
    """compact_minhash_index swaps through the Hadoop FileSystem API
    (VERDICT r10 #2): compacting an index addressed by a file:// URI
    works and preserves match results."""
    from keystone_spark.operators.dedup import (
        add_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        match_minhash_index,
        release,
    )
    from keystone_spark.sources import load_table

    d = load_table(spark, "documents", "/root/testdata/sf0.001")
    corpus = d.where(F.col("doc_id") % 4 != 0)
    probe = d.where(F.col("doc_id") % 4 == 0)
    mid = corpus.agg(F.max("doc_id")).first()[0] // 2
    path = "file://" + str(tmp_path / "mh_uri")
    build_minhash_index(corpus.where(F.col("doc_id") <= mid), path,
                        n_hashes=64, n_bands=16)
    add_to_minhash_index(spark, path, corpus.where(F.col("doc_id") > mid))

    def run():
        out = match_minhash_index(spark, path, probe, corpus,
                                  n_hashes=64, n_bands=16, threshold=0.8)
        rows = sorted((r.doc_id, r.dup_of, round(r.jac, 9))
                      for r in out.collect())
        release(out)
        return rows

    before = run()
    assert before
    stats = compact_minhash_index(spark, path)
    assert stats["band_files_after"] <= stats["band_files_before"]
    assert run() == before


def test_ivf_index_delete_then_compact_purges(spark, tmp_path):
    """Vector-index takedown parity (VERDICT r10 #4): a tombstoned
    vector vanishes from search immediately; compact physically purges
    its rows and search equals an index whose SURVIVING corpus was
    assigned in one pass with the same frozen centroids."""
    import os

    from keystone_spark.operators.similarity import IvfIndex
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    probes = e.where(F.col("vec_id") % 50 == 0).limit(5)
    path = str(tmp_path / "ivf_del")
    IvfIndex.build(e, n_cells=8).save(path)

    def key(df):
        return sorted((r.probe, r.rk, r.vec_id, round(r.cos, 9))
                      for r in df.collect())

    idx = IvfIndex.load(spark, path)
    base = key(idx.search(probes, k=5, n_probe_cells=4))
    victims = sorted({v for _, _, v, _ in base})[:3]
    out = IvfIndex.delete(spark, path, victims)
    assert out["tombstones_added"] == 3

    after = key(IvfIndex.load(spark, path).search(
        probes, k=5, n_probe_cells=4))
    assert not any(v in victims for _, _, v, _ in after)

    # survivor twin: same frozen centroids over the filtered corpus
    survivors = e.where(~F.col("vec_id").isin(victims))
    twin = IvfIndex(idx.C, IvfIndex._assign(
        survivors, idx.C, "vec_id", "embedding"))
    assert after == key(twin.search(probes, k=5, n_probe_cells=4))

    # compact: tombstones purged physically, results unchanged
    stats = IvfIndex.compact(spark, path)
    assert stats["corpus_files_after"] >= 1
    assert not os.path.exists(os.path.join(path, "tombstones"))
    purged = IvfIndex.load(spark, path)
    assert purged.indexed.where(
        F.col("vec_id").isin(victims)).count() == 0
    assert key(purged.search(probes, k=5, n_probe_cells=4)) == after


def test_ivfpq_index_delete_then_compact_purges(spark, tmp_path):
    """IvfPqIndex.delete/compact: same takedown contract on the codes
    table (deleted ids can never candidate; purge at compact)."""
    import os

    from keystone_spark.operators.similarity import IvfPqIndex
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    probes = e.where(F.col("vec_id") % 50 == 0).limit(5)
    path = str(tmp_path / "ivfpq_del")
    IvfPqIndex.build(e, n_cells=8, m=16, ks=16).save(path)

    def key(df):
        return sorted((r.probe, r.rk, r.vec_id, round(r.cos, 9))
                      for r in df.collect())

    idx = IvfPqIndex.load(spark, path)
    base = key(idx.search(e, probes, k=5, n_probe_cells=4, refine=4))
    victims = sorted({v for _, _, v, _ in base})[:3]
    IvfPqIndex.delete(spark, path, victims)

    after = key(IvfPqIndex.load(spark, path).search(
        e, probes, k=5, n_probe_cells=4, refine=4))
    assert not any(v in victims for _, _, v, _ in after)

    twin = IvfPqIndex(idx.C, idx.books, IvfPqIndex._encode(
        e.where(~F.col("vec_id").isin(victims)), idx.C, idx.books,
        "vec_id", "embedding"))
    assert after == key(twin.search(e, probes, k=5, n_probe_cells=4,
                                    refine=4))

    stats = IvfPqIndex.compact(spark, path)
    assert stats["codes_files_after"] >= 1
    assert not os.path.exists(os.path.join(path, "tombstones"))
    purged = IvfPqIndex.load(spark, path)
    assert purged.indexed.where(
        F.col("vec_id").isin(victims)).count() == 0
    assert key(purged.search(e, probes, k=5, n_probe_cells=4,
                             refine=4)) == after


def _counting_wrapper(spark, df, acc):
    """Pass-through mapInPandas that counts every row flowing out of
    the source — a scan counter for persist-once proofs."""
    schema = df.schema

    def count(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return df.mapInPandas(count, schema)


def test_vector_index_add_runs_kernel_once(spark, tmp_path):
    """persist-once (VERDICT r10 #3): IvfIndex.add / IvfPqIndex.add
    evaluate their batch exactly ONCE — the cell-histogram collect
    materializes the persisted assignment and the write reads the
    cache, instead of re-running the assign/encode kernel."""
    from keystone_spark.operators.similarity import IvfIndex, IvfPqIndex
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    lo = e.where(F.col("vec_id") % 3 != 0)
    hi = e.where(F.col("vec_id") % 3 == 0)
    n_hi = hi.count()

    path = str(tmp_path / "ivf_once")
    IvfIndex.build(lo, n_cells=8).save(path)
    acc = spark.sparkContext.accumulator(0)
    IvfIndex.add(spark, path, _counting_wrapper(spark, hi, acc))
    assert acc.value == n_hi, (acc.value, n_hi)

    path2 = str(tmp_path / "ivfpq_once")
    IvfPqIndex.build(lo, n_cells=8, m=16, ks=16).save(path2)
    acc2 = spark.sparkContext.accumulator(0)
    IvfPqIndex.add(spark, path2, _counting_wrapper(spark, hi, acc2))
    assert acc2.value == n_hi, (acc2.value, n_hi)


def test_vector_index_add_skip_existing_ids(spark, tmp_path):
    """Idempotent vector appends (streaming-replay contract): with
    skip_existing_ids=True, ids already stored are anti-joined out
    BEFORE the assignment kernel (vectors_added counts only new ids;
    a full re-send appends nothing), and TOMBSTONED ids are part of
    the skip set — a deleted id cannot sneak back in under the same id
    until compact purges its tombstone (search would hide it anyway).
    Both families."""
    from keystone_spark.operators.similarity import IvfIndex, IvfPqIndex
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    lo = e.where(F.col("vec_id") % 3 == 1)
    hi = e.where(F.col("vec_id") % 3 != 1)
    n_hi = hi.count()

    for fam in (IvfIndex, IvfPqIndex):
        tbl = fam.TABLE
        path = str(tmp_path / f"skip_{tbl}")
        fam.build(lo, n_cells=8).save(path)
        stats = fam.add(spark, path, hi, skip_existing_ids=True)
        assert stats["vectors_added"] == n_hi
        # replay: the same batch again is a no-op
        stats2 = fam.add(spark, path, hi, skip_existing_ids=True)
        assert stats2["vectors_added"] == 0
        n_rows = spark.read.parquet(f"{path}/{tbl}").count()
        assert n_rows == lo.count() + n_hi
        # tombstoned ids are skipped too: delete one, try to re-add it
        victim = hi.select("vec_id").limit(1)
        fam.delete(spark, path, victim)
        stats3 = fam.add(
            spark, path, e.join(victim, "vec_id", "left_semi"),
            skip_existing_ids=True,
        )
        assert stats3["vectors_added"] == 0
        # without the flag the legacy fresh-ids contract is unchanged:
        # the same batch WOULD duplicate (caller's responsibility)
        assert spark.read.parquet(f"{path}/{tbl}").count() == n_rows


# ------------------------------ filtered ANN (r14, VERDICT r13 #2)


def _filtered_fixture(spark):
    """40 vectors in 2 tight clusters on e0/e1 + a metadata flag that is
    FALSE for most of cluster 0 — built so an unfiltered top-k around a
    cluster-0 probe is dominated by flag=false neighbors and
    post-filtering visibly under-returns."""
    rng = np.random.default_rng(11)
    rows = []
    for i in range(40):
        c = i % 2
        v = np.zeros(8)
        v[c] = 1.0
        v[2] = 0.02 * rng.standard_normal()
        # cluster 0: only ids 0,2,4,6 allowed; cluster 1: all allowed
        allowed = bool(c == 1 or i <= 6)
        rows.append((i, v.tolist(), allowed))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, allowed boolean")


def test_filtered_search_pushdown_vs_postfilter(spark, tmp_path):
    """The reason the predicate is pushed INTO the scan: post-filtering
    the unconstrained top-k under-returns on this fixture (fewer than k
    of the nearest neighbors satisfy the predicate), while the pushed
    form returns a full k of predicate-satisfying neighbors that match
    the exact filtered kernel."""
    from keystone_spark.operators.similarity import IvfIndex

    data = _filtered_fixture(spark)
    path = str(tmp_path / "ivf")
    IvfIndex.build(data, n_cells=2, sample_size=40).save(path)
    idx = IvfIndex.load(spark, path)
    probe = data.where(F.col("vec_id") == 0)
    k = 6

    # post-filter baseline: unfiltered top-k, THEN the predicate — the
    # k nearest live in the probe's own tight cluster, where only 3
    # ids are allowed, so the user gets 3 results instead of 6
    unf = idx.search(probe, k=k, n_probe_cells=2)
    post = unf.join(data.where("allowed").select("vec_id"), "vec_id",
                    "left_semi")
    n_post = post.count()
    assert n_post < k, f"fixture too easy: post-filter returned {n_post}"

    # pushed predicate: full k, all allowed, and (with every cell
    # probed on this 2-cell fixture) EXACTLY the filtered kernel's set
    got = idx.search(probe, k=k, n_probe_cells=2,
                     predicate="allowed", metadata=data)
    rows = got.collect()
    assert len(rows) == k
    got_ids = {int(r["vec_id"]) for r in rows}
    allowed_ids = {int(r["vec_id"])
                   for r in data.where("allowed").collect()}
    assert got_ids <= allowed_ids
    exact = cosine_topk(data.where("allowed"), probe, k=k)
    exact_ids = {int(r["vec_id"]) for r in exact.collect()}
    assert got_ids == exact_ids, (got_ids, exact_ids)

    # allowed-id DataFrame form == predicate/metadata form
    got2 = idx.search(probe, k=k, n_probe_cells=2,
                      predicate=data.where("allowed").select("vec_id"))
    assert {int(r["vec_id"]) for r in got2.collect()} == got_ids

    # arg validation
    with pytest.raises(ValueError, match="metadata"):
        idx.search(probe, k=k, predicate="allowed")
    with pytest.raises(ValueError, match="not both"):
        idx.search(probe, k=k, predicate=data.select("vec_id"),
                   metadata=data)


def test_ivfpq_filtered_search(spark, tmp_path):
    """Same predicate surface on the PQ family: candidates are filtered
    BEFORE ADC selection, so the refine*k pool is already
    predicate-clean and the final k are all allowed."""
    from keystone_spark.operators.similarity import IvfPqIndex

    data = _filtered_fixture(spark)
    path = str(tmp_path / "pq")
    IvfPqIndex.build(data, n_cells=2, m=4, ks=8,
                     sample_size=40).save(path)
    idx = IvfPqIndex.load(spark, path)
    probe = data.where(F.col("vec_id") == 0)
    got = idx.search(data, probe, k=6, n_probe_cells=2,
                     predicate="allowed", metadata=data)
    rows = got.collect()
    allowed_ids = {int(r["vec_id"])
                   for r in data.where("allowed").collect()}
    assert rows and {int(r["vec_id"]) for r in rows} <= allowed_ids


def test_mmr_rerank_diversifies(spark):
    """On a corpus where the raw top-k around the probe is a pile of
    near-identical vectors plus a distinct-but-relevant cluster, MMR at
    lambda=0.7 must pull members of the second cluster into the
    selection that plain top-k relevance ranks below the duplicates."""
    from keystone_spark.operators.similarity import mmr_rerank

    # geometry note: duplicates exactly ON the probe direction can
    # never be displaced at lam=0.7 (their relevance edge 0.7*(1-c)
    # always beats the diversity penalty 0.3*(1-c)); what MMR fixes is
    # a duplicate CLUSTER sitting off to one side — here +15 deg off
    # the probe (mutual sim ~1), with the distinct cluster at -25 deg
    # (rel 0.91, but only cos40 ~ 0.77 to the duplicates), so after
    # one duplicate is chosen the distinct side scores higher
    rng = np.random.default_rng(5)
    a15, a25 = np.deg2rad(15), np.deg2rad(25)
    rows = [(0, [1.0, 0.0, 0.0, 0.0])]  # the probe
    for i in range(1, 6):  # 5 near-copies, +15 deg off-probe
        v = np.array([np.cos(a15), np.sin(a15), 0.0, 0.0])
        v = v + 0.001 * rng.standard_normal(4)
        rows.append((i, v.tolist()))
    for i in range(6, 9):  # relevant-but-distinct cluster, -25 deg
        v = np.array([np.cos(a25), -np.sin(a25), 0.0, 0.0])
        v = v + 0.001 * rng.standard_normal(4)
        rows.append((i, v.tolist()))
    data = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probe = data.where("vec_id = 0")

    out = mmr_rerank(data, probe, k=4, candidates=8, lam=0.7)
    sel = [int(r["vec_id"]) for r in out.orderBy("mmr_rank").collect()]
    assert len(sel) == 4 and len(set(sel)) == 4
    assert sel[0] in {1, 2, 3, 4, 5}  # rank 1 = pure relevance
    assert any(i in {6, 7, 8} for i in sel), sel  # diversity kicked in
    # plain top-4 relevance would be all near-copies
    from keystone_spark.operators.similarity import cosine_topk

    top4 = {int(r["vec_id"])
            for r in cosine_topk(data, probe, k=4).collect()}
    assert top4 <= {1, 2, 3, 4, 5}


def test_embedding_decontamination_flags(spark):
    from keystone_spark.operators.similarity import embedding_decontamination

    rng = np.random.default_rng(3)
    train = [(i, rng.standard_normal(8).tolist()) for i in range(50)]
    train_df = spark.createDataFrame(
        train, "vec_id long, embedding array<double>")
    # bench 100: near-copy of train 7 (leaked); bench 101: orthogonal-ish
    leaked = (np.asarray(train[7][1]) * 2.0).tolist()
    bench_df = spark.createDataFrame(
        [(100, leaked), (101, (rng.standard_normal(8) * 0.1).tolist())],
        "vec_id long, embedding array<double>")
    out = {int(r["vec_id"]): r for r in embedding_decontamination(
        train_df, bench_df, threshold=0.95).collect()}
    assert out[100]["contaminated"] is True
    assert out[100]["max_cos"] > 0.999
    assert out[101]["contaminated"] is False


def test_sq8_index_roundtrip_compression_and_exactness(spark, sf_dir,
                                                       tmp_path):
    """Sq8Index: saved codes are 1 byte/dim (8x smaller than the
    float64 arrays in the raw table), load round-trips the model, and
    search-with-refine returns EXACTLY the full-precision top-k on the
    fixture (the quantization error is far below the neighbor
    margins)."""
    from keystone_spark.operators.similarity import Sq8Index, cosine_topk
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", sf_dir)
    dim = len(e.select("embedding").first()[0])
    path = str(tmp_path / "sq8")
    Sq8Index.build(e).save(path)
    idx = Sq8Index.load(spark, path)
    assert idx.mins.shape == (dim,) and idx.spans.shape == (dim,)
    row = idx.indexed.first()
    assert len(bytes(row["codes"])) == dim  # 1 byte per dimension

    probes = e.where(F.col("vec_id") < 5)
    got = idx.search(e, probes, k=8, refine=4)
    exact = cosine_topk(e, probes, k=8)
    key = lambda df: sorted(
        (int(r["probe"]), int(r["rk"]), int(r["vec_id"]))
        for r in df.collect())
    assert key(got) == key(exact)

    # codes parquet is materially smaller than the raw vector column
    import os as _os

    def _du(p):
        return sum(_os.path.getsize(_os.path.join(dp, f))
                   for dp, _, fs in _os.walk(p) for f in fs)

    raw = e.select("vec_id", "embedding")
    rawp = str(tmp_path / "raw")
    raw.write.parquet(rawp)
    assert _du(f"{path}/codes") < 0.55 * _du(rawp)


def test_grouped_cosine_topk_respects_group_boundary(spark, sf_dir):
    """Every neighbor shares the probe's label; within the group the
    ranking equals exact cosine over that group only."""
    from keystone_spark.operators.similarity import (
        cosine_topk,
        grouped_cosine_topk,
    )
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", sf_dir)
    probes = e.where(F.col("vec_id") < 4)
    out = grouped_cosine_topk(e, probes, "label", k=5)
    lab = {int(r["vec_id"]): int(r["label"])
           for r in e.select("vec_id", "label").collect()}
    rows = out.collect()
    assert rows
    for r in rows:
        assert lab[int(r["vec_id"])] == lab[int(r["probe"])]
    # per-probe parity with cosine_topk over the probe's own group
    p0 = probes.first()
    g = lab[int(p0["vec_id"])]
    same = {(int(r["vec_id"]), int(r["rk"]))
            for r in rows if int(r["probe"]) == int(p0["vec_id"])}
    exact = cosine_topk(
        e.where(F.col("label") == g),
        probes.where(F.col("vec_id") == p0["vec_id"]), k=5)
    assert same == {(int(r["vec_id"]), int(r["rk"]))
                    for r in exact.collect()}

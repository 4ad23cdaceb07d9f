"""Seeded input generator for the three benchmark workloads.

Inputs are written once per (workload, seed, scale) as parquet under the
data directory, outside any timed span; the program under test only ever
reads those files. Text is built from the 31-word vocabulary of the
repository's ``documents`` fixture (and two-word compounds of it), so
nothing is downloaded. Unlike a copy-scaled corpus, every document's
content is drawn fresh, and duplication is planted explicitly:

- exact copies of a share of the documents;
- near-duplicate families whose members are edited copies of a root
  document, kept only when their exact 5-char-shingle Jaccard to the
  root is >= 0.8;
- boilerplate lines shared by many documents.

The planted families are written to ``truth/`` beside the inputs, so the
output checks never ask the program under test what is right. Vectors
are a seeded Gaussian mixture; the CDC changelog is seeded upserts and
deletes over a keyed table.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# vocabulary of the documents fixture (all 31 distinct words)
FIXTURE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
VOCAB = FIXTURE_WORDS + [a + b for a in FIXTURE_WORDS for b in FIXTURE_WORDS]

SHINGLE_K = 5
JACCARD_FLOOR = 0.8


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    """The dedup operators' shingle set: distinct k-char substrings of
    the trimmed, lower-cased text (the whole text when shorter)."""
    t = text.strip(" ").lower()
    if len(t) < k:
        return {t}
    return {t[i:i + k] for i in range(len(t) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _zipf_probs(n: int, s: float = 1.05) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class _Words:
    """Seeded word sampler over the compound vocabulary."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = np.array(VOCAB)
        self.p = _zipf_probs(len(VOCAB), 0.6)[rng.permutation(len(VOCAB))]

    def line(self, lo: int, hi: int) -> str:
        n = int(self.rng.integers(lo, hi + 1))
        return " ".join(self.rng.choice(self.vocab, size=n, p=self.p))


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _edit(words: _Words, text: str, n_edits: int) -> str:
    """Replace ``n_edits`` random words of ``text`` (line breaks kept)."""
    rng = words.rng
    lines = [ln.split(" ") for ln in text.split("\n")]
    slots = [(i, j) for i, ln in enumerate(lines) for j in range(len(ln))]
    for k in rng.choice(len(slots), size=min(n_edits, len(slots)), replace=False):
        i, j = slots[int(k)]
        lines[i][j] = str(rng.choice(words.vocab))
    return "\n".join(" ".join(ln) for ln in lines)


def dedup_corpus(rng: np.random.Generator, n_docs: int
                 ) -> tuple[list[str], list[int], dict]:
    """Multi-line documents with planted exact copies, near-duplicate
    families and boilerplate lines. Returns (texts, family of each text,
    planted counts); doc ids are list positions, shuffled so planted
    members are spread over the id range. A family is a root document
    with its edited members and exact copies."""
    words = _Words(rng)
    boiler = [words.line(6, 10) for _ in range(24)]
    n_roots = int(n_docs * 0.70)
    texts: list[str] = []
    fams: list[int] = []
    roots: list[int] = []
    for _ in range(n_roots):
        body = [words.line(8, 14) for _ in range(int(rng.integers(3, 6)))]
        if rng.random() < 0.5:  # boilerplate header/footer lines
            for b in rng.choice(len(boiler), size=int(rng.integers(1, 3)), replace=False):
                body.insert(int(rng.integers(0, len(body) + 1)), boiler[int(b)])
        texts.append("\n".join(body))
        roots.append(len(texts) - 1)
        fams.append(len(texts) - 1)
    # near-duplicate families: 1-2 edited members per root; the family
    # (root + members + copies) stays <= 4 docs so only boilerplate
    # lines exceed line_dedup's max_docs=4 and get removed
    near_target = int(n_docs * 0.20)
    fam_roots = rng.permutation(roots)
    r = 0
    near_pairs = 0
    while near_pairs < near_target and r < len(fam_roots):
        root = int(fam_roots[r])
        r += 1
        for _ in range(int(rng.integers(1, 3))):
            cand = _edit(words, texts[root], int(rng.integers(1, 3)))
            if cand != texts[root] and jaccard(cand, texts[root]) >= 0.85:
                texts.append(cand)
                fams.append(root)
                near_pairs += 1
    # exact copies of roots that have no family
    fam = set(int(x) for x in fam_roots[:r])
    plain = [x for x in roots if x not in fam]
    n_copy = n_docs - len(texts)
    for x in rng.choice(plain, size=n_copy, replace=False):
        texts.append(texts[int(x)])
        fams.append(int(x))
    order = rng.permutation(len(texts))
    texts = [texts[int(i)] for i in order]
    fams = [fams[int(i)] for i in order]
    n_lines = sum(t.count("\n") + 1 for t in texts)
    n_boiler = sum(ln in set(boiler) for t in texts for ln in t.split("\n"))
    stats = {
        "docs": len(texts),
        "exact_copy_share": n_copy / len(texts),
        "near_dup_pairs_planted": near_pairs,
        "boilerplate_line_share": n_boiler / n_lines,
        "input_bytes": sum(len(t.encode()) for t in texts),
    }
    return texts, fams, stats


def labelled_docs(rng: np.random.Generator, n_docs: int, n_classes: int
                  ) -> tuple[list[str], np.ndarray]:
    """Documents whose classes draw 60% of their words from a
    class-specific set of 48 words and 40% from the whole vocabulary."""
    words = _Words(rng)
    vocab = words.vocab
    own = np.array_split(rng.permutation(len(vocab))[:48 * n_classes], n_classes)
    labels = rng.integers(0, n_classes, size=n_docs)
    texts = []
    for y in labels:
        n = int(rng.integers(20, 41))
        n_own = int(round(n * 0.6))
        w = list(vocab[rng.choice(own[int(y)], size=n_own)])
        w += list(rng.choice(vocab, size=n - n_own, p=words.p))
        rng.shuffle(w)
        texts.append(" ".join(w))
    return texts, labels


def mixture_vectors(rng: np.random.Generator, n: int, dim: int, n_comp: int,
                    spread: float = 1.0) -> tuple[np.ndarray, np.ndarray]:
    centers = rng.normal(scale=4.0 / np.sqrt(dim) * 3, size=(n_comp, dim))
    labels = rng.integers(0, n_comp, size=n)
    X = centers[labels] + rng.normal(scale=spread, size=(n, dim))
    return X.astype(np.float32), labels


def _vec_table(ids, X: np.ndarray, labels=None) -> pa.Table:
    cols = {
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.array(list(X), type=pa.list_(pa.float32())),
    }
    if labels is not None:
        cols["label"] = pa.array(np.asarray(labels, dtype=np.int32))
    return pa.table(cols)


def _doc_table(ids, texts, labels=None) -> pa.Table:
    cols = {"doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string())}
    if labels is not None:
        cols["label"] = pa.array(np.asarray(labels, dtype=np.int64))
    return pa.table(cols)


# ---------------------------------------------------------------------------
# per-workload input sets
# ---------------------------------------------------------------------------

SIZES = {
    # scale 1.0 sizes; --scale multiplies row counts (the smoke test
    # runs a tiny scale)
    "ml_pipeline": {"text_docs": 2000, "vectors": 4000},
    "dedup_curation": {"docs": 1000},
    "index_lifecycle": {"base_vectors": 4000, "batch_vectors": 200, "rounds": 12},
}


def gen_ml_pipeline(rng, root: str, scale: float) -> dict:
    z = SIZES["ml_pipeline"]
    n_t, n_v = max(200, int(z["text_docs"] * scale)), max(400, int(z["vectors"] * scale))
    texts, ty = labelled_docs(rng, n_t, 4)
    X, vy = mixture_vectors(rng, n_v, 64, 4)
    ids_t, ids_v = np.arange(n_t), np.arange(n_v)
    _write(f"{root}/documents.parquet", _doc_table(ids_t, texts, ty))
    _write(f"{root}/embeddings.parquet", _vec_table(ids_v, X, vy))
    return {"text_docs": n_t, "vectors": n_v, "classes": 4, "dim": 64,
            "input_bytes": sum(len(t.encode()) for t in texts) + X.nbytes}


def gen_dedup_curation(rng, root: str, scale: float) -> dict:
    n = max(200, int(SIZES["dedup_curation"]["docs"] * scale))
    texts, fams, stats = dedup_corpus(rng, n)
    ids = np.arange(len(texts))
    _write(f"{root}/documents.parquet", _doc_table(ids, texts))
    # planted families, for the output checks only
    _write(f"{root}/truth/families.parquet",
           pa.table({"doc_id": pa.array(ids), "fam": pa.array(fams, type=pa.int64())}))
    return stats


def gen_index_lifecycle(rng, root: str, scale: float) -> dict:
    z = SIZES["index_lifecycle"]
    n_base = max(300, int(z["base_vectors"] * scale))
    b, rounds = max(10, int(z["batch_vectors"] * min(1.0, scale))), z["rounds"]
    n_all = n_base + b * rounds
    X, _ = mixture_vectors(rng, n_all, 64, 16)
    _write(f"{root}/embeddings.parquet", _vec_table(np.arange(n_all), X))
    # CDC changelog on a keyed table: one micro-batch per round of
    # upserts and deletes over keys 0..2*n_keys-1
    n_keys = max(200, n_base // 4)
    rows = {"k": [], "v": [], "op": [], "seq": [], "round": []}
    for r in range(rounds):
        for key in rng.choice(n_keys * 2, size=max(20, b // 2), replace=False):
            rows["k"].append(int(key))
            rows["v"].append(float(rng.normal()))
            rows["op"].append("D" if rng.random() < 0.2 else "U")
            rows["seq"].append(r)
            rows["round"].append(r)
    _write(f"{root}/changes.parquet", pa.table({
        "k": pa.array(rows["k"], type=pa.int64()), "v": pa.array(rows["v"]),
        "op": pa.array(rows["op"]), "seq": pa.array(rows["seq"], type=pa.int64()),
        "round": pa.array(rows["round"], type=pa.int64())}))
    _write(f"{root}/kv_base.parquet", pa.table({
        "k": pa.array(np.arange(n_keys), type=pa.int64()),
        "v": pa.array(rng.normal(size=n_keys))}))
    return {"base_vectors": n_base, "batch_vectors": b, "rounds": rounds, "cdc_keys": n_keys,
            "input_bytes": int(X[:n_base].nbytes)}


GENERATORS = {
    "ml_pipeline": gen_ml_pipeline,
    "dedup_curation": gen_dedup_curation,
    "index_lifecycle": gen_index_lifecycle,
}


def ensure_inputs(data_dir: str, workload: str, seed: int, scale: float) -> tuple[str, dict]:
    """Generate (once) the inputs of ``workload`` for ``seed``; returns
    the input directory and its recorded stats."""
    root = os.path.join(data_dir, f"{workload}-s{seed}-x{scale:g}")
    meta = os.path.join(root, "inputs.json")
    if not os.path.exists(meta):
        rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
        stats = GENERATORS[workload](rng, root, scale)
        with open(meta + ".tmp", "w") as f:
            json.dump(stats, f)
        os.replace(meta + ".tmp", meta)
    with open(meta) as f:
        return root, json.load(f)

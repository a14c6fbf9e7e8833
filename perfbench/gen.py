"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical parquet files. Nothing is read from outside the checkout;
shapes follow the repository's fixture families (the covtype table of the
reference pipeline, the `documents` and `embeddings` tables).
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- sizes (fixed across seeds so that seeds change content, not work) ---
TRAIN_ROWS = 1200
TRAIN_DOUBLES = [
    "elevation", "aspect", "slope", "horizontal_distance_to_hydrology",
    "vertical_distance_to_hydrology", "horizontal_distance_to_roadways",
    "hillshade_9am", "hillshade_noon", "hillshade_3pm",
    "horizontal_distance_to_fire_points",
]
WILDERNESS = 4
SOIL = 40
CLASSES = 7

CORPUS_FAMILIES = 200        # near-duplicate families (base + variants)
CORPUS_SINGLES = 500         # documents with no planted duplicate
CORPUS_EXACT_DUPS = 60       # case/punctuation copies of earlier docs
CORPUS_LOW_QUALITY = 50      # too short or repetitive: the filter drops them
CORPUS_CONTAMINATED = 30     # docs that quote a benchmark passage
BENCH_DOCS = 60
SOURCES = 8

SEARCH_VECTORS = 1000
SEARCH_DIM = 64
SEARCH_CLUSTERS = 48
SEARCH_DOCS = 600
SEARCH_OPS = 400             # more than a run can use
# one append in every block of 4 ops: an assumed write share, between
# YCSB's read-mostly (5% updates) and update-heavy (50%) mixes
APPEND_EVERY = 4
IVF_APPEND_ROWS = 64
BM25_APPEND_DOCS = 32

STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "it", "was",
             "for", "with", "as", "on", "be", "at", "by", "not", "a",
             "this", "which", "are", "from", "or", "can", "will", "have"]
_SYLLABLES = ["ka", "lo", "mi", "ter", "san", "vel", "dor", "pra", "ni",
              "quo", "ru", "sel", "tam", "bri", "ost", "gen", "fal", "mur",
              "ze", "wit", "hal", "cor", "pen", "dru"]


def _rng(workload, seed):
    salt = {"train": 1, "corpus": 2, "search": 3}[workload]
    return np.random.default_rng([int(seed), salt])


def _vocabulary(rng, size):
    words = set()
    while len(words) < size:
        n = rng.integers(2, 5)
        words.add("".join(rng.choice(_SYLLABLES, n)))
    words = sorted(words)
    rng.shuffle(words)
    return words


def _zipf_weights(n, s=1.05):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class _Writer:
    """Draws English-shaped text: ~40% stopwords, Zipf content words."""

    def __init__(self, rng, vocab_size=4000):
        self.rng = rng
        self.vocab = _vocabulary(rng, vocab_size)
        self.weights = _zipf_weights(vocab_size)

    def tokens(self, n):
        content = self.rng.choice(len(self.vocab), n, p=self.weights)
        stop = self.rng.choice(len(STOPWORDS), n)
        is_stop = self.rng.random(n) < 0.4
        return [STOPWORDS[s] if f else self.vocab[c]
                for c, s, f in zip(content, stop, is_stop)]

    def sentence_text(self, toks):
        # sentences of 8-14 words: a capital first letter and a period,
        # so normalization has work to do and punctuation stays < 25%
        out, i = [], 0
        while i < len(toks):
            n = int(self.rng.integers(8, 15))
            sent = toks[i:i + n]
            sent = [sent[0].capitalize()] + sent[1:]
            out.append(" ".join(sent) + ".")
            i += n
        return " ".join(out)


SHARDS = 4


def _write(table, path, shards=1):
    """One parquet file, or a directory of `shards` files: a table stored
    as one small file reads as one partition, so the scan side of every
    query would run on a single core."""
    if shards == 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path)
    step = -(-table.num_rows // shards)
    for i in range(shards):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"), compression="snappy")


# ------------------------------------------------------------------ train

def gen_train(rng, out):
    n = TRAIN_ROWS
    cols = {}
    z = rng.standard_normal((n, len(TRAIN_DOUBLES)))
    scale = rng.uniform(10.0, 800.0, len(TRAIN_DOUBLES))
    offset = rng.uniform(0.0, 3000.0, len(TRAIN_DOUBLES))
    for j, name in enumerate(TRAIN_DOUBLES):
        cols[name] = pa.array(offset[j] + scale[j] * z[:, j], pa.float64())
    wild = rng.integers(0, WILDERNESS, n)
    soil = rng.integers(0, SOIL, n)
    for w in range(WILDERNESS):
        cols[f"wilderness_area_{w}"] = pa.array((wild == w).astype(np.int32))
    for s in range(SOIL):
        cols[f"soil_type_{s}"] = pa.array((soil == s).astype(np.int32))
    # learnable rule: the class is set by the soil type, the 40 types
    # falling into 7 seeded groups of 5-6. The majority-class share is
    # then ~0.15, so held-out accuracy above it shows the rule learned,
    # not the class prior
    soil_class = rng.permutation(SOIL) % CLASSES
    cols["cover_type"] = pa.array((1 + soil_class[soil]).astype(np.int32))
    _write(pa.table(cols), os.path.join(out, "covtype.parquet"))
    return {"rows": n}


# ----------------------------------------------------------------- corpus

def _mutate(rng, writer, toks, rate):
    toks = list(toks)
    for i in np.flatnonzero(rng.random(len(toks)) < rate):
        toks[i] = writer.tokens(1)[0]
    return toks


def _corpus_docs(rng, writer):
    docs = []  # (tokens, source)

    def new_doc(lo=40, hi=160):
        return writer.tokens(int(rng.integers(lo, hi)))

    for _ in range(CORPUS_FAMILIES):
        base = new_doc()
        src = int(rng.integers(SOURCES))
        docs.append((base, src))
        for _ in range(int(rng.integers(1, 5))):
            docs.append((_mutate(rng, writer, base, 0.03), int(rng.integers(SOURCES))))
    for _ in range(CORPUS_SINGLES):
        docs.append((new_doc(), int(rng.integers(SOURCES))))
    texts = [(writer.sentence_text(t), s) for t, s in docs]
    # exact duplicates: same words, different case and punctuation
    for i in rng.choice(len(texts), CORPUS_EXACT_DUPS, replace=False):
        t, _ = texts[i]
        texts.append((t.upper().replace(".", " !"), int(rng.integers(SOURCES))))
    for k in range(CORPUS_LOW_QUALITY):
        if k % 2 == 0:
            toks = writer.tokens(int(rng.integers(4, 15)))
        else:
            toks = writer.tokens(4) * int(rng.integers(10, 30))
        texts.append((writer.sentence_text(toks), int(rng.integers(SOURCES))))
    return texts


def gen_corpus(rng, out):
    writer = _Writer(rng)
    bench = [writer.sentence_text(writer.tokens(int(rng.integers(40, 80))))
             for _ in range(BENCH_DOCS)]
    texts = _corpus_docs(rng, writer)
    # contamination: quote a 12-word benchmark passage inside a fresh doc
    for _ in range(CORPUS_CONTAMINATED):
        passage = bench[int(rng.integers(BENCH_DOCS))].split(" ")
        start = int(rng.integers(0, max(1, len(passage) - 12)))
        host = writer.sentence_text(writer.tokens(int(rng.integers(40, 120))))
        texts.append((host + " " + " ".join(passage[start:start + 12]),
                      int(rng.integers(SOURCES))))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    _write(pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": pa.array([t for t, _ in texts], pa.string()),
        "source": pa.array([f"src{s}" for _, s in texts], pa.string()),
    }), os.path.join(out, "corpus.parquet"), SHARDS)
    _write(pa.table({
        "doc_id": pa.array(np.arange(BENCH_DOCS) + 10_000_000, pa.int64()),
        "text": pa.array(bench, pa.string()),
    }), os.path.join(out, "bench.parquet"))
    return {"docs": len(texts), "bench_docs": BENCH_DOCS}


# ----------------------------------------------------------------- search

def _clustered_vectors(rng, centers, n):
    which = rng.integers(0, len(centers), n)
    v = centers[which] + 0.35 * rng.standard_normal((n, centers.shape[1]))
    return v.astype(np.float32)


def _vec_table(ids, vecs, batch=None):
    cols = {"vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}
    if batch is not None:
        cols["batch"] = pa.array(batch, pa.int32())
    return pa.table(cols)


def gen_search(rng, out):
    centers = rng.standard_normal((SEARCH_CLUSTERS, SEARCH_DIM))
    base = _clustered_vectors(rng, centers, SEARCH_VECTORS)
    _write(_vec_table(np.arange(SEARCH_VECTORS), base),
           os.path.join(out, "embeddings.parquet"), SHARDS)
    writer = _Writer(rng)
    doc_text = [writer.sentence_text(writer.tokens(int(rng.integers(30, 150))))
                for _ in range(SEARCH_DOCS)]
    _write(pa.table({"doc_id": pa.array(np.arange(SEARCH_DOCS), pa.int64()),
                     "text": pa.array(doc_text, pa.string())}),
           os.path.join(out, "documents.parquet"), SHARDS)

    n_appends = SEARCH_OPS // APPEND_EVERY
    ivf_batches = (n_appends + 1) // 2
    bm25_batches = n_appends // 2 + 1
    av = _clustered_vectors(rng, centers, ivf_batches * IVF_APPEND_ROWS)
    _write(_vec_table(SEARCH_VECTORS + np.arange(len(av)), av,
                      np.repeat(np.arange(ivf_batches), IVF_APPEND_ROWS)),
           os.path.join(out, "ivf_appends.parquet"))
    at = [writer.sentence_text(writer.tokens(int(rng.integers(30, 150))))
          for _ in range(bm25_batches * BM25_APPEND_DOCS)]
    _write(pa.table({
        "doc_id": pa.array(SEARCH_DOCS + np.arange(len(at)), pa.int64()),
        "text": pa.array(at, pa.string()),
        "batch": pa.array(np.repeat(np.arange(bm25_batches), BM25_APPEND_DOCS),
                          pa.int32())}),
        os.path.join(out, "bm25_appends.parquet"))

    # op stream: blocks of APPEND_EVERY ops, the last one an append,
    # alternating IVF and BM25 appends; the rest are queries
    kinds, batch = [], []
    for blk in range(SEARCH_OPS // APPEND_EVERY):
        kinds += ["query"] * (APPEND_EVERY - 1) + ["ivf_append" if blk % 2 == 0 else "bm25_append"]
        batch += [-1] * (APPEND_EVERY - 1) + [blk // 2]
    qv = base[rng.integers(0, SEARCH_VECTORS, len(kinds))]
    qv = (qv + 0.2 * rng.standard_normal(qv.shape)).astype(np.float32)
    # query terms: two mid-frequency content words (rank 30..150), so
    # every query reads posting lists of similar length
    terms = [[writer.vocab[int(r)] for r in rng.integers(30, 150, 2)] for _ in kinds]
    # a text file, not parquet: the driver reads it without a Spark job,
    # so the run's first (cold) job falls in the first set-up. One line
    # per op: op, kind, batch, vector, terms (tab-separated; the vector's
    # float32 values written exactly)
    with open(os.path.join(out, "ops.tsv"), "w") as f:
        for i, (kind, b, v, t) in enumerate(zip(kinds, batch, qv, terms)):
            vec = ",".join(repr(float(x)) for x in v)
            f.write(f"{i}\t{kind}\t{b}\t{vec}\t{' '.join(t)}\n")
    return {"vectors": SEARCH_VECTORS, "docs": SEARCH_DOCS, "ops": len(kinds)}


GENERATORS = {"train": gen_train, "corpus": gen_corpus, "search": gen_search}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` under `out`; returns a summary."""
    os.makedirs(out, exist_ok=True)
    info = GENERATORS[workload](_rng(workload, seed), out)
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(info, f)
    return info

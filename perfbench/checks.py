"""Output checks. They run after the JVM has exited, so no check is ever
inside a timed region. Each returns {op index: [failure, ...]} for
per-op failures plus a list of run-level failures.
"""

import math
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

_NON_WORD = re.compile(r"[^\w]+|_+", re.UNICODE)


def _normalized_tokens(text):
    # TextAnalysis.tokens: lower, non-(letter|digit) runs -> " ", trim, split
    return _NON_WORD.sub(" ", text.lower()).strip().split(" ")


def _fail(per_op, i, msg):
    per_op.setdefault(i, []).append(msg)


# ------------------------------------------------------------------ train

def check_train(res, inputs):
    per_op, run = {}, []
    ops = [o for o in res["ops"] if o["error"] is None]
    reference = res["facts"]["reference_loss_history"]
    for o in ops:
        h = o["loss_history"]
        if not h or not all(math.isfinite(x) for x in h):
            _fail(per_op, o["index"], "non-finite loss")
        elif not h[-1] < h[0]:
            _fail(per_op, o["index"], f"loss did not fall: {h[0]} -> {h[-1]}")
        if h != reference:
            _fail(per_op, o["index"], "loss trajectory differs from the warm-up op's")
        if o["stages_seen"] != res["facts"]["schedule_stages"]:
            # examples/s counts each gradient job's rows by its stage
            _fail(per_op, o["index"], "gradient jobs not attributable to schedule stages")
        n = max(o["score_rows"], 1)
        acc = o["score_correct"] / n
        # above chance: beat always guessing the held-out split's majority
        # class by three standard errors of that guess's accuracy on n rows
        chance = o["score_majority"] / n
        floor = chance + 3 * math.sqrt(chance * (1 - chance) / n)
        if not acc > floor:
            _fail(per_op, o["index"], f"held-out accuracy {acc:.3f} <= {floor:.3f} "
                                      f"(majority share {chance:.3f})")
    return per_op, run


# ----------------------------------------------------------------- corpus

_NORM_SQL = r"trim(regexp_replace(lower(text), '[^\p{L}\p{Nd}]+', ' ', 'g'))"


def check_corpus(res, inputs):
    per_op, run = {}, []
    facts = res["facts"]
    corpus = os.path.join(inputs, "corpus.parquet", "*.parquet")
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    survivors = con.execute(
        f"SELECT count(DISTINCT {_NORM_SQL}) FROM read_parquet(?)", [corpus]).fetchone()[0]

    # replay the token-budget sample and the packing over the ids that
    # reached the sampler (md5 rank per source, take while the running
    # cost before the row is under budget; chunks a doc spans, in id order)
    con.execute("CREATE TABLE clean_ids(doc_id BIGINT)")
    con.executemany("INSERT INTO clean_ids VALUES (?)", [[i] for i in facts["clean_ids"]])
    budgets = res["facts"]["budgets"]
    con.execute("CREATE TABLE budgets(source VARCHAR, budget BIGINT)")
    con.executemany("INSERT INTO budgets VALUES (?, ?)", list(budgets.items()))
    sampled, chunks, tokens = con.execute(f"""
        WITH docs AS (
          SELECT c.doc_id, c.source,
                 len(string_split({_NORM_SQL}, ' '))::BIGINT AS n
          FROM read_parquet(?) c JOIN clean_ids USING (doc_id)),
        ranked AS (
          SELECT d.*, coalesce(sum(n) OVER (PARTITION BY d.source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
                 b.budget
          FROM docs d JOIN budgets b USING (source)),
        kept AS (SELECT doc_id, n FROM ranked WHERE before < budget AND n > 0),
        offs AS (SELECT doc_id, n, coalesce(sum(n) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
                 FROM kept),
        ch AS (SELECT DISTINCT unnest(generate_series(start // {facts['chunk_len']},
                 (start + n - 1) // {facts['chunk_len']})) AS chunk FROM offs)
        SELECT (SELECT count(*) FROM ranked WHERE before < budget),
               (SELECT count(*) FROM ch), (SELECT sum(n) FROM kept)
    """, [corpus]).fetchone()
    con.close()

    texts = pq.read_table(os.path.dirname(corpus), columns=["doc_id", "text"]).to_pydict()
    text_of = dict(zip(texts["doc_id"], texts["text"]))

    def shingles(doc_id):
        t = _normalized_tokens(text_of[doc_id])
        if len(t) < 3:
            return {" ".join(t)}
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    bad_pairs = 0
    for a, b, _ in facts["pairs"]:
        sa, sb = shingles(int(a)), shingles(int(b))
        if len(sa & sb) / len(sa | sb) < facts["threshold"] - 1e-12:
            bad_pairs += 1
    if bad_pairs:
        run.append(f"{bad_pairs} near-dup pairs below Jaccard {facts['threshold']}")
    if not facts["pairs"]:
        run.append("no near-dup pairs found in a corpus with planted families")

    for o in res["ops"]:
        if o["error"] is not None:
            continue
        i = o["index"]
        if o["exact_survivors"] != survivors:
            _fail(per_op, i, f"exact-dedup survivors {o['exact_survivors']} != duckdb {survivors}")
        if o["clean"] != len(facts["clean_ids"]):
            _fail(per_op, i, "decontaminated count differs from the first pass")
        if o["neardup_pairs"] != len(facts["pairs"]):
            _fail(per_op, i, "near-dup pair count differs from the first pass")
        if o["sampled"] != sampled:
            _fail(per_op, i, f"sampled {o['sampled']} != duckdb {sampled}")
        if o["chunks"] != chunks or o["packed_tokens"] != tokens:
            _fail(per_op, i, f"chunks/tokens {o['chunks']}/{o['packed_tokens']} "
                             f"!= duckdb {chunks}/{tokens}")
    return per_op, run


# ----------------------------------------------------------------- search

def _same_topk(got, want, tol):
    """Equal top-k up to ties: scores agree position by position within
    `tol`, and ids agree wherever the score is clear of the k-th score."""
    if len(got) != len(want):
        return False
    for (_, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > tol:
            return False
    if not want:
        return True
    kth = want[-1][1]
    clear = lambda xs: {int(i) for i, s in xs if s > kth + tol}
    return clear(got) == clear(want)


def check_search(res, inputs):
    per_op, run = {}, []
    base = pq.read_table(os.path.join(inputs, "embeddings.parquet")).to_pydict()
    app = pq.read_table(os.path.join(inputs, "ivf_appends.parquet")).to_pydict()
    with open(os.path.join(inputs, "ops.tsv")) as f:
        op_vecs = [[float(x) for x in line.split("\t")[3].split(",")] for line in f]
    ids = np.array(base["vec_id"] + app["vec_id"], dtype=np.int64)
    vecs = np.array(base["embedding"] + app["embedding"], dtype=np.float32).astype(np.float64)
    batch = np.array([-1] * len(base["vec_id"]) + app["batch"])
    norms = np.linalg.norm(vecs, axis=1)
    k = res["facts"]["k"]

    sampled = set()
    for c in res["checks"]:
        sampled.add(c["op"])
        o = res["ops"][c["op"]]
        want = [(int(i), s) for i, s in c["want"]]
        if not _same_topk([(int(i), s) for i, s in o["bm25"]], want, 2e-4):
            _fail(per_op, o["index"], "bm25 answer differs from in-memory Vocabulary.bm25")
    for i in sorted(sampled):
        o = res["ops"][i]
        q = np.array(op_vecs[o["op"]], dtype=np.float64)
        vis = batch < o["ivf_appends"]
        scores = (vecs[vis] @ q) / (norms[vis] * np.linalg.norm(q))
        order = np.lexsort((ids[vis], -scores))[:k]
        want = [(int(ids[vis][j]), float(scores[j])) for j in order]
        if not _same_topk([(int(a), s) for a, s in o["knn"]], want, 1e-9):
            _fail(per_op, o["index"], "ivf answer differs from brute-force top-k")
    if not sampled:
        run.append("no query was sampled for verification")
    return per_op, run


CHECKS = {"train": check_train, "corpus": check_corpus, "search": check_search}

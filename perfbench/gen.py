"""Seeded input generator for the graft benchmark.

Everything graft receives in a benchmark run comes from here:

  * the corpus (``documents``, ``embeddings`` and the two tiny dimension
    tables GenData passes through), shaped like the repository's sf0.1
    synthetic test tables (TESTDATA.md): 5 000 docs over a 31-token
    vocabulary, 2 000 unit-norm 64-dim float vectors with doc_id =
    vec_id, 5 % of docs
    carrying the ``dup`` token and a few verbatim copies. The corpus is
    fixed (its own seed, like the seed-42 test tables) so every
    workload seed serves the same data;
  * per workload seed: the serve request stream, and for
    ``curate_batch`` the near-duplicate injection with its exact
    5-shingle Jaccard truth plus the index maintenance cycles (vectors
    to append, the one to read back, an existing id to tombstone).
    ``curate_batch``'s runner tiles this corpus ``TILE_COPIES``× with
    graft's GenData (uniform mode) in its set-up, so the truth is
    written for every tile.

The same seed gives byte-identical files (pure-Python ``random`` streams,
fixed row order, one pyarrow writer). ``inputs.json`` records the count
of operations of each type generated; the runner records how many it
attempted.

Usage: python3 gen.py <out_dir> <workload> <seed> [scale]
"""

import json
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
DIM = 64
N_LABELS = 10
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
# query terms must survive graft's sklearn tokenizer (len >= 2)
QUERY_VOCAB = [w for w in VOCAB if len(w) >= 2]
LANGS = [("en", 41), ("de", 14), ("es", 15), ("fr", 15), ("zh", 15)]
N_SOURCES = 20
# one serve block: exact type counts per 20 requests (the mix of the
# app's search tabs), shuffled per block so every run sees the same mix
SERVE_BLOCK = (["text"] * 4 + ["hybrid"] * 4 + ["vec"] * 3 + ["filtered"] * 3
               + ["item"] * 3 + ["ivf"] * 2 + ["compare"] * 1)
NPROBES = [1, 2, 4, 8]
IVF_CELLS = 16
K = 10
HYBRID_ALPHA = 0.7
SERVE_REQUESTS = 1200
RECALL_PROBES = 16
PROBE_IDS = 1000000
MAINTAIN_CYCLES = 3
APPEND_BATCH = 8
NEW_IDS = 10 ** 6
SHINGLE_N = 5
DUP_THRESHOLD = 0.8
# GenData uniform tiling factor of the curate_batch corpus
TILE_COPIES = 2

# corpus sizes per scale name: (vectors, docs, exact-copy pairs)
SCALES = {"sf0.1": (2000, 5000, 8), "sf0.01": (200, 500, 1), "sf0.001": (500, 500, 1)}


def unit(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def f32(v):
    """Round through float32 so the recorded value is the stored one."""
    return pa.array(v, type=pa.float32()).to_pylist()


def write_table(path, columns):
    pq.write_table(pa.table(columns), path, compression="snappy")


def make_corpus(scale):
    n_vec, n_doc, n_copies = SCALES[scale]
    rng = random.Random(f"corpus-{CORPUS_SEED}-{scale}")
    vecs = [f32(unit([rng.gauss(0.0, 1.0) for _ in range(DIM)])) for _ in range(n_vec)]
    labels = [rng.randrange(N_LABELS) for _ in range(n_vec)]
    lang_pool = [lang for lang, w in LANGS for _ in range(w)]
    texts, langs = [], []
    for _ in range(n_doc):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
        langs.append(rng.choice(lang_pool))
    for _ in range(n_copies):
        a, b = rng.sample(range(n_doc), 2)
        texts[b] = texts[a]
    return {"vecs": vecs, "labels": labels, "texts": texts, "langs": langs}


def write_corpus(d, corpus, extra_docs=(), extra_vecs=()):
    """documents/embeddings parquet plus the dims GenData passes through."""
    os.makedirs(d, exist_ok=True)
    texts = corpus["texts"] + [t for _, t, _ in extra_docs]
    langs = corpus["langs"] + [l for _, _, l in extra_docs]
    doc_ids = list(range(len(corpus["texts"]))) + [i for i, _, _ in extra_docs]
    write_table(os.path.join(d, "documents.parquet"), {
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in doc_ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = corpus["vecs"] + [v for _, v, _ in extra_vecs]
    write_table(os.path.join(d, "embeddings.parquet"), {
        "vec_id": pa.array(list(range(len(corpus["vecs"]))) + [i for i, _, _ in extra_vecs],
                           pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(corpus["labels"] + [l for _, _, l in extra_vecs], pa.int32()),
    })
    write_table(os.path.join(d, "region.parquet"), {
        "r_regionkey": pa.array([0, 1], pa.int64()),
        "r_name": pa.array(["AMERICA", "EUROPE"], pa.string())})
    write_table(os.path.join(d, "nation.parquet"), {
        "n_nationkey": pa.array([0, 1], pa.int64()),
        "n_name": pa.array(["CANADA", "FRANCE"], pa.string()),
        "n_regionkey": pa.array([0, 1], pa.int64())})


def noisy(rng, v, sigma):
    return f32(unit([x + rng.gauss(0.0, sigma) for x in v]))


def serve_requests(rng, corpus):
    n_vec = len(corpus["vecs"])

    def any_id():
        return rng.randrange(n_vec)

    reqs, ivf_seen = [], 0
    while len(reqs) < SERVE_REQUESTS:
        block = list(SERVE_BLOCK)
        rng.shuffle(block)
        for t in block:
            r = {"id": len(reqs), "type": t}
            if t in ("text", "hybrid"):
                r["text"] = " ".join(rng.sample(QUERY_VOCAB, rng.randint(1, 3)))
            elif t in ("vec", "ivf"):
                r["qv"] = noisy(rng, corpus["vecs"][any_id()], 0.05)
                if t == "ivf":
                    r["nprobe"] = NPROBES[ivf_seen % len(NPROBES)]
                    ivf_seen += 1
            elif t == "filtered":
                r["qid"] = any_id()
                if rng.random() < 0.5:
                    r["lang"] = rng.choice([l for l, _ in LANGS])
                    r["min_chars"] = rng.choice([50, 100, 200, 300])
                else:
                    r["labels"] = sorted(rng.sample(range(N_LABELS), rng.randint(1, 4)))
            elif t == "item":
                r["qid"] = any_id()
            else:  # compare
                ids = set()
                want = rng.randint(2, 4)
                while len(ids) < want:
                    ids.add(any_id())
                r["ids"] = sorted(ids)
            reqs.append(r)
    return reqs


def recall_probes(corpus):
    """A fixed IVF query set (independent of the workload seed): the
    recall metric is measured on the same queries every run, so it moves
    only when graft's IVF answers do."""
    rng = random.Random("recall-probes")
    n_vec = len(corpus["vecs"])
    return [{"id": PROBE_IDS + i, "type": "ivf", "nprobe": NPROBES[i % len(NPROBES)],
             "qv": noisy(rng, corpus["vecs"][rng.randrange(n_vec)], 0.05)}
            for i in range(RECALL_PROBES)]


def maintenance_plan(rng, corpus, n_cycles=MAINTAIN_CYCLES, first_id=NEW_IDS):
    """Index maintenance cycles: a batch of new vectors to append, which
    of them to read back, and an existing vector to tombstone."""
    next_id = first_id
    victims = rng.sample(range(len(corpus["vecs"])), n_cycles)
    cycles = []
    for c in range(n_cycles):
        batch = []
        for _ in range(APPEND_BATCH):
            batch.append({"vec_id": next_id, "label": rng.randrange(N_LABELS),
                          "embedding": f32(unit([rng.gauss(0.0, 1.0) for _ in range(DIM)]))})
            next_id += 1
        cycles.append({"batch": batch, "probe": rng.randrange(APPEND_BATCH),
                       "victim": victims[c]})
    return cycles


def shingles(text, n=SHINGLE_N):
    """graft's Dedup.shingles: distinct n-token windows of split(' ')."""
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def perturb(rng, text):
    toks = text.split(" ")
    kind = rng.randrange(3)
    if kind == 0:  # append one or two tokens
        toks += [rng.choice(VOCAB) for _ in range(rng.randint(1, 2))]
    elif kind == 1:  # replace one token in the last fifth
        i = rng.randrange(len(toks) - max(1, len(toks) // 5), len(toks))
        toks[i] = rng.choice([w for w in VOCAB if w != toks[i]])
    else:  # drop the first token
        toks = toks[1:]
    return " ".join(toks)


def curate_injection(rng, corpus):
    """Injected exact copies and near-duplicates with exact Jaccard truth.

    Near pairs below the threshold are dropped, so every recorded pair
    is one graft's minhashLsh (threshold 0.8) must return.
    """
    n_vec, n_doc = len(corpus["vecs"]), len(corpus["texts"])
    n_exact, n_near = n_doc // 100, n_doc // 25
    next_id = max(n_vec, n_doc)
    docs, vecs, exact, near = [], [], [], []
    sources = rng.sample(range(n_doc), n_exact + 2 * n_near)
    for src in sources[:n_exact]:
        docs.append((next_id, corpus["texts"][src], corpus["langs"][src]))
        exact.append([src, next_id])
        next_id += 1
    for src in sources[n_exact:]:
        if len(near) == n_near:
            break
        text = perturb(rng, corpus["texts"][src])
        j = jaccard(corpus["texts"][src], text)
        if j < DUP_THRESHOLD or text == corpus["texts"][src]:
            continue
        docs.append((next_id, text, corpus["langs"][src]))
        near.append({"a_id": src, "b_id": next_id, "jaccard": round(j, 5)})
        next_id += 1
    for doc_id, _, _ in docs:
        vecs.append((doc_id, noisy(rng, corpus["vecs"][rng.randrange(n_vec)], 0.2),
                     rng.randrange(N_LABELS)))
    return docs, vecs, tile_truth(exact, near, next_id)


def tile_truth(exact, near, span):
    """The injected pairs as they stand after GenData's uniform tiling:
    tile c shifts every doc id by c × span (span = max doc/vec id + 1)
    and suffixes every token alike, so each pair recurs in every tile
    with the same Jaccard and no pair crosses tiles."""
    shift = [c * span for c in range(TILE_COPIES)]
    return {"exact": [[a + s, b + s] for s in shift for a, b in exact],
            "near": [dict(p, a_id=p["a_id"] + s, b_id=p["b_id"] + s)
                     for s in shift for p in near]}


def generate(out, workload, seed, scale="sf0.1"):
    corpus = make_corpus(scale)
    rng = random.Random(f"{workload}-{seed}")
    os.makedirs(out, exist_ok=True)
    info = {"workload": workload, "seed": seed, "scale": scale,
            "corpus_dir": "corpus", "k": K, "ivf_cells": IVF_CELLS,
            "hybrid_alpha": HYBRID_ALPHA, "generated": {}}
    if workload == "curate_batch":
        docs, vecs, truth = curate_injection(rng, corpus)
        write_corpus(os.path.join(out, "corpus"), corpus, docs, vecs)
        info["truth"] = truth
        info["tile_copies"] = TILE_COPIES
        info["cycles"] = maintenance_plan(rng, corpus)
        info["generated"] = {"exact_copies": len(truth["exact"]),
                             "near_pairs": len(truth["near"]),
                             "maintenance_cycles": len(info["cycles"])}
    else:
        write_corpus(os.path.join(out, "corpus"), corpus)
        info["requests"] = serve_requests(rng, corpus)
        info["recall_probes"] = recall_probes(corpus)
        counts = {}
        for r in info["requests"]:
            counts[r["type"]] = counts.get(r["type"], 0) + 1
        info["generated"] = dict(sorted(counts.items()))
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(info, f, sort_keys=True, separators=(",", ":"))
    return info


if __name__ == "__main__":
    a = sys.argv[1:]
    generate(a[0], a[1], int(a[2]), a[3] if len(a) > 3 else "sf0.1")

"""Seeded input generator for the perfbench workloads.

Everything a run feeds the library is made here from `--seed`, so the same
seed gives byte-identical inputs. The library never sees the seed.

    python3 perfbench/gen.py --workload rag_serve --seed 7 --out /tmp/in7

writes the inputs plus `truth.json` (the exact answers the checker scores
against) for that seed.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check

# The repository's own sizes: its sf0.1 test fixture holds 500 embeddings
# of dimension 64 (BASELINE.md, FIXTURES.md), the dimension the library's
# HashingEmbedder(64) gives documents; the reference serves a corpus of 153
# documents (its knowledge_data.csv). Both workloads are small collections,
# so per-request fixed costs dominate.
DIM = 64
K = 10
SIZES = {
    "rag_serve": dict(n_vec=500, n_comp=16, n_docs=153, n_queries=24),
    "mixed_rw": dict(n_vec=500, n_comp=16, n_docs=0, n_queries=24),
}
# mixed_rw write batches and cycle count: each cycle upserts one batch,
# deletes another and compacts both. The id pools are disjoint, so the
# cycles use 2 * RW_BATCH * RW_CYCLES of the 500 ids.
RW_BATCH = 8
RW_CYCLES = 24
VOCAB = 3000
ZIPF_S = 1.07


def mixture(rng, n_comp):
    centers = rng.normal(0.0, 1.0, size=(n_comp, DIM))
    return centers, 0.9


def draw(rng, centers, sigma, n):
    comp = rng.integers(0, len(centers), size=n)
    return (centers[comp] + rng.normal(0.0, sigma, size=(n, DIM))).astype(np.float32)


def vocabulary(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < VOCAB:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    return words, p / p.sum()


def documents(rng, words, p, n, planted_share):
    """Zipf-vocabulary documents; a share of them are planted near-copies
    of an earlier document (one or two tokens changed) or exact copies."""
    docs, planted = [], []
    for i in range(n):
        if i > 20 and rng.random() < planted_share:
            src = int(rng.integers(0, i))
            toks = docs[src].split(" ")
            if rng.random() < 0.7:
                for _ in range(int(rng.integers(1, 3))):
                    toks[int(rng.integers(0, len(toks)))] = words[int(rng.choice(VOCAB, p=p))]
            docs.append(" ".join(toks))
            planted.append([src, i])
        else:
            ln = int(rng.integers(15, 46))
            docs.append(" ".join(words[j] for j in rng.choice(VOCAB, size=ln, p=p)))
    return docs, planted


def questions(rng, words, p, n):
    """Half at most 20 characters (no chunk strategy), half longer with
    punctuation so the chunk strategy runs."""
    out = []
    for i in range(n):
        if i % 2 == 0:
            while True:
                q = " ".join(words[j] for j in rng.choice(VOCAB, size=2, p=p))
                if len(q) <= 20:
                    break
        else:
            parts = [" ".join(words[j] for j in rng.choice(VOCAB, size=int(rng.integers(2, 4)), p=p))
                     for _ in range(3)]
            q = parts[0] + ", " + parts[1] + "? " + parts[2]
        out.append(q)
    return out


def term_queries(rng, words, n):
    """Each query mixes one or two high-df terms with rare ones, so max-score
    pruning has posting lists worth skipping."""
    out = []
    for _ in range(n):
        hi = [words[int(j)] for j in rng.choice(12, size=int(rng.integers(1, 3)), replace=False)]
        mid = [words[int(rng.integers(12, 200))]]
        rare = [words[int(j)] for j in rng.choice(np.arange(500, VOCAB), size=int(rng.integers(1, 3)), replace=False)]
        out.append(hi + mid + rare)
    return out


def make(workload, seed, out):
    sz = SIZES[workload]
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    os.makedirs(out, exist_ok=True)
    centers, sigma = mixture(rng, sz["n_comp"])
    vecs = draw(rng, centers, sigma, sz["n_vec"])
    ids = np.arange(sz["n_vec"], dtype=np.int64)
    queries = draw(rng, centers, sigma, sz["n_queries"])
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                             "vec": pa.array(vecs.tolist(), pa.list_(pa.float32()))}),
                   os.path.join(out, "vectors.parquet"))
    spec = {"workload": workload, "seed": seed, "dim": DIM, "k": K,
            "n_vectors": sz["n_vec"], "queries": queries.tolist()}
    if sz["n_docs"]:
        words, p = vocabulary(rng)
        docs, planted = documents(rng, words, p, sz["n_docs"], 0.06)
        # ingest input: some rows carry characters preprocessing strips, and
        # a few are too short to survive it
        for i in range(0, len(docs), 17):
            docs[i] = docs[i] + " #@%"
        for i in range(5, len(docs), 97):
            docs[i] = "tiny"
        pq.write_table(pa.table({"doc_id": pa.array(np.arange(len(docs)), pa.int64()),
                                 "text": pa.array(docs, pa.string())}),
                       os.path.join(out, "docs.parquet"))
        spec["questions"] = questions(rng, words, p, sz["n_queries"])
        spec["term_queries"] = term_queries(rng, words, sz["n_queries"])
        spec["planted_pairs"] = planted
    if workload == "mixed_rw":
        # disjoint id pools: a deleted id is never upserted
        perm = rng.permutation(sz["n_vec"])
        ups, dels = [], []
        moved = draw(rng, centers, sigma, RW_CYCLES * RW_BATCH)
        for c in range(RW_CYCLES):
            ups.append(perm[c * RW_BATCH:(c + 1) * RW_BATCH].tolist())
            base = RW_CYCLES * RW_BATCH
            dels.append(perm[base + c * RW_BATCH: base + (c + 1) * RW_BATCH].tolist())
        spec["upsert_ids"] = ups
        spec["delete_ids"] = dels
        spec["moved"] = moved.tolist()
    with open(os.path.join(out, "spec.json"), "w") as f:
        json.dump(spec, f)
    return spec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    make(a.workload, a.seed, a.out)
    with open(os.path.join(a.out, "truth.json"), "w") as f:
        json.dump(check.ground_truth(a.out), f)


if __name__ == "__main__":
    main()

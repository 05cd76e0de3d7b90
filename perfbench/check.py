"""Independent checks of the library's outputs.

Nothing here calls the library: exact neighbours come from numpy, BM25 and
the MinHash signatures and band keys are recomputed in Python, and the question
path's multi-strategy ranking is evaluated in DuckDB. Distances follow the
library's published contract (squared L2 over float32 values accumulated in
double, rounded to 4 decimals, ties broken by id); comparisons allow one
rounding quantum, so a value sitting on a rounding boundary cannot fail a
correct result.

    python3 perfbench/check.py --self-test

feeds every check a deliberately wrong result and exits non-zero unless
each one is rejected.
"""
import hashlib
import json
import math
import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.parquet as pq

TOL = 1.2e-4  # one rounding quantum of a 4-decimal value, plus slack

# Lowest recall@10 one ivf or graph read may score against the exact
# top-10 (on mixed_rw, the exact top-10 of the live state it read). Set
# below the lowest per-read recall seen over the seeds of the reference
# runs (perfbench/README.md), so a read that drops neighbours fails the run.
READ_RECALL_FLOOR = {"ivf": 0.8, "graph": 0.0}


def round4(x):
    """Spark's round(x, 4) on a double: HALF_UP on the shortest decimal."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.0001"), ROUND_HALF_UP))


class Inputs:
    def __init__(self, d):
        self.dir = d
        with open(os.path.join(d, "spec.json")) as f:
            self.spec = json.load(f)
        self.k = self.spec["k"]
        t = pq.read_table(os.path.join(d, "vectors.parquet")).to_pydict()
        self.ids = np.array(t["id"], dtype=np.int64)
        self.vecs = np.array(t["vec"], dtype=np.float32)
        self.queries = np.array(self.spec["queries"], dtype=np.float32)
        p = os.path.join(d, "docs.parquet")
        self.docs = None
        if os.path.exists(p):
            t = pq.read_table(p).to_pydict()
            self.doc_ids = np.array(t["doc_id"], dtype=np.int64)
            self.docs = t["text"]
        if "moved" in self.spec:
            self.moved = np.array(self.spec["moved"], dtype=np.float32)


def l2sq(vecs, q):
    """Squared L2 accumulated dimension by dimension in double, the order
    the library's kernel uses."""
    acc = np.zeros(len(vecs), dtype=np.float64)
    for j in range(vecs.shape[1]):
        d = vecs[:, j].astype(np.float64) - np.float64(q[j])
        acc += d * d
    return acc


def exact_topk(ids, vecs, q, k):
    """Top-k by (rounded distance, id)."""
    raw = l2sq(vecs, q)
    cand = np.argsort(raw, kind="stable")[: k + 20]
    rows = sorted((round4(raw[i]), int(ids[i])) for i in cand)[:k]
    return [i for _, i in rows], [d for d, _ in rows], dict(zip(ids.tolist(), raw.tolist()))


def check_ranked(res, truth_of, expected, k, higher_better=False, live=None):
    """Common shape check for a ranked (id, value) result: k rows (fewer
    only when the exhaustive `expected` list is shorter), every value
    matches the benchmark's own computation for that id, rows are ordered
    with id tie-breaks, no id repeats, and (when `expected` is given) the
    values equal the exhaustive top-k position by position."""
    ids, vals = res["ids"], res["d"]
    errs = []
    want = k if expected is None else min(k, len(expected))
    if len(ids) != want:
        errs.append(f"{len(ids)} rows, expected {want}")
    if len(set(ids)) != len(ids):
        errs.append("repeated id")
    for i, v in zip(ids, vals):
        if live is not None and i not in live:
            errs.append(f"id {i} is deleted")
            continue
        t = truth_of(i)
        if t is None or abs(t - v) > TOL:
            errs.append(f"id {i} value {v} != recomputed {t}")
    sign = -1.0 if higher_better else 1.0
    for a in range(len(ids) - 1):
        ka, kb = (sign * vals[a], ids[a]), (sign * vals[a + 1], ids[a + 1])
        if ka > kb:
            errs.append(f"rows {a},{a + 1} out of order")
    if expected is not None:
        for pos, (v, e) in enumerate(zip(vals, expected)):
            if abs(v - e) > TOL:
                errs.append(f"rank {pos}: {v} but exhaustive top-k has {e}")
                break
    return errs


# ---------------------------------------------------------------- vectors

def check_knn(inp, q, res):
    ids, dists, raw = exact_topk(inp.ids, inp.vecs, inp.queries[q], inp.k)
    return check_ranked(res, raw.get, dists, inp.k)


def check_ann(res, exact, k, floor, live=None):
    """ivf/graph: k rows of true distances, ordered, no repeats, and a
    recall against the exact top-k (`exact_topk`'s result) no lower than
    `floor`. Returns the errors and the recall."""
    ids, _, raw = exact
    errs = check_ranked(res, raw.get, None, k, live=live)
    recall = len(set(res["ids"]) & set(ids)) / k
    if recall < floor:
        errs.append(f"recall@{k} {recall} below the floor {floor}")
    return errs, recall


# -------------------------------------------------------------- full text

class Bm25:
    def __init__(self, docs, doc_ids, k1=1.2, b=0.75):
        toks = [t.split() for t in docs]
        self.n = float(len(docs))
        self.avgdl = sum(len(t) for t in toks) / self.n
        self.df = {}
        self.postings = {}
        for did, tk in zip(doc_ids.tolist(), toks):
            tf = {}
            for t in tk:
                tf[t] = tf.get(t, 0) + 1
            dl = float(len(tk))
            for t, c in tf.items():
                self.df[t] = self.df.get(t, 0) + 1
                w = round4(c * (k1 + 1.0) / (c + k1 * (1.0 - b + b * dl / self.avgdl)))
                self.postings.setdefault(t, []).append((did, w))

    def scores(self, terms):
        out = {}
        for t in set(terms):
            if t not in self.df:
                continue
            df = self.df[t]
            qw = round4(math.log((self.n - df + 0.5) / (df + 0.5) + 1.0))
            for did, w in self.postings[t]:
                out[did] = out.get(did, 0.0) + w * qw
        return {d: round4(s) for d, s in out.items()}


def check_fulltext(bm25, terms, k, res):
    sc = bm25.scores(terms)
    top = sorted(sc.items(), key=lambda x: (-x[1], x[0]))[:k]
    return check_ranked(res, sc.get, [s for _, s in top], k, higher_better=True)


# --------------------------------------------------------------- question

STOP = set("的 是 在 和 有 这个 那个 什么 怎么 如何 为什么 吗 呢 了 啊 呀 吧 嗯 哦 哈 哎 呃 那么 "
           "这些 那些 一种 一个 一些 一点 一下 可以 应该".split())
TOKEN_RE = re.compile("[一-龥]{2,}|[a-zA-Z]{3,}")
CHUNK_RE = re.compile("[，。！？；:,.!?;]")


def hash_embed(text, dim=64):
    v = np.zeros(dim, dtype=np.float32)
    for tok in text.lower().split():
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:4], "big")
        v[h % dim] += np.float32(1.0)
    norm = np.float32(math.sqrt(float(np.sum(v.astype(np.float64) ** 2))))
    return v / norm if norm > 0 else v


def sub_queries(question, top_k):
    toks = [t for t in TOKEN_RE.findall(question) if t not in STOP]
    kws = [t for _, t in sorted(enumerate(toks), key=lambda x: (-len(x[1]), x[0]))][:3]
    chunks = []
    if len(question) > 20:
        chunks = [c.strip(" ") for c in CHUNK_RE.split(question)]
        chunks = [c for c in chunks if len(c) > 5][:2]
    return ([(1, top_k * 2, question)] + [(2, 2, t) for t in kws]
            + [(3, 1, c) for c in chunks])


class QuestionOracle:
    """The multi-strategy ranking as SQL over distances made in numpy."""

    def __init__(self, docs, doc_ids):
        import duckdb
        self.con = duckdb.connect()
        self.doc_emb = np.stack([hash_embed(t) for t in docs])
        self.doc_ids = doc_ids
        self.con.execute("CREATE TABLE docs(doc_id BIGINT, dkey VARCHAR)")
        self.con.executemany("INSERT INTO docs VALUES (?, ?)",
                             [(int(i), t[:50]) for i, t in zip(doc_ids, docs)])

    def rank(self, question, top_k):
        subs = sub_queries(question, top_k)
        rows = []
        for idx, (rank, k, text) in enumerate(subs):
            raw = l2sq(self.doc_emb, hash_embed(text))
            rows += [(rank, idx, k, int(i), round4(d)) for i, d in zip(self.doc_ids, raw)]
        self.con.execute("CREATE OR REPLACE TEMP TABLE d(strategy_rank INT, sub_idx INT,"
                         " k INT, doc_id BIGINT, distance DOUBLE)")
        self.con.executemany("INSERT INTO d VALUES (?, ?, ?, ?, ?)", rows)
        return self.con.execute(f"""
            WITH j AS (SELECT d.*, docs.dkey FROM d JOIN docs USING (doc_id)),
            f AS (SELECT *, row_number() OVER (PARTITION BY strategy_rank, sub_idx
                    ORDER BY distance, doc_id) AS fetch_rn FROM j),
            t AS (SELECT *, 1.0 - distance AS score FROM f
                  WHERE fetch_rn <= k * 3 AND 1.0 - distance >= -1.0),
            p AS (SELECT *, row_number() OVER (PARTITION BY strategy_rank, sub_idx
                    ORDER BY score DESC, doc_id) AS q_rn FROM t),
            kept AS (SELECT * FROM p WHERE q_rn <= k),
            ir AS (SELECT *, row_number() OVER (PARTITION BY strategy_rank
                     ORDER BY sub_idx, distance, doc_id) AS intra_rank FROM kept),
            dd AS (SELECT *, row_number() OVER (PARTITION BY dkey
                     ORDER BY strategy_rank, intra_rank) AS dup_rn FROM ir)
            SELECT doc_id, strategy_rank, distance FROM dd WHERE dup_rn = 1
            ORDER BY score DESC, doc_id LIMIT {top_k}""").fetchall()


def check_question(oracle, question, top_k, res):
    want = oracle.rank(question, top_k)
    got = list(zip(res["ids"], res["rank"], res["d"]))
    if len(got) != len(want):
        return [f"{len(got)} rows, DuckDB has {len(want)}"]
    errs = []
    for pos, (g, w) in enumerate(zip(got, want)):
        if abs(g[2] - w[2]) > TOL:
            errs.append(f"rank {pos}: distance {g[2]} but DuckDB has {w[2]}")
        elif (g[0], g[1]) != (w[0], w[1]) and g[2] == w[2]:
            errs.append(f"rank {pos}: doc {g[0]}/strategy {g[1]} but DuckDB has {w[0]}/{w[1]}")
    return errs


# ------------------------------------------------------------------ dedup

def shingles(text, n=3):
    toks = re.split(r"[ \t\n\x0b\f\r]+", text)
    if len(toks) < n:
        return []
    seen = {}
    for i in range(len(toks) - n + 1):
        seen.setdefault(" ".join(toks[i:i + n]), None)
    return list(seen)


def minhash_pairs(docs, doc_ids, num_hashes=16, band_size=2):
    """MinHash LSH candidates recomputed from scratch: signature slices of
    salted md5 digests, band keys, every pair sharing a key."""
    n_dig = (num_hashes + 3) // 4
    sigs = {}
    for did, text in zip(doc_ids.tolist(), docs):
        sh = shingles(text)
        if not sh:
            continue
        ds = ["".join(hashlib.md5((s if i == 0 else f"{i}:{s}").encode()).hexdigest()
                      for i in range(n_dig)) for s in sh]
        sigs[did] = [min(d[h * 8:(h + 1) * 8] for d in ds) for h in range(num_hashes)]
    buckets = {}
    for did, sig in sigs.items():
        for b in range(num_hashes // band_size):
            key = (b, "|".join(sig[b * band_size:(b + 1) * band_size]))
            buckets.setdefault(key, []).append(did)
    pairs = {}
    for members in buckets.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = sorted((members[i], members[j]))
                if (a, b) not in pairs:
                    same = sum(x == y for x, y in zip(sigs[a], sigs[b]))
                    pairs[(a, b)] = round4(same / num_hashes)
    return pairs


def check_minhash(expected, planted, res):
    got = {(a, b): e for a, b, e in zip(res["a"], res["b"], res["est"])}
    errs = []
    for p in set(expected) - set(got):
        errs.append(f"candidate pair {p} missing")
    for p in set(got) - set(expected):
        errs.append(f"pair {p} shares no band key")
    for p in set(got) & set(expected):
        if abs(got[p] - expected[p]) > TOL:
            errs.append(f"pair {p} estimate {got[p]} != recomputed {expected[p]}")
    for a, b in planted:
        if (min(a, b), max(a, b)) in expected and (min(a, b), max(a, b)) not in got:
            errs.append(f"planted duplicate {(a, b)} dropped")
    return errs[:20]


# ----------------------------------------------------------------- ingest

CLEAN_RE = re.compile(r"[^a-zA-Z0-9_一-鿿 \t\n\x0b\f\r.,!?;:，。！？；：]")


def clean(text):
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", CLEAN_RE.sub("", text)).strip(" ")


def check_ingest(inp, res):
    cleaned = {int(i): clean(t) for i, t in zip(inp.doc_ids, inp.docs)}
    kept = {i: c for i, c in cleaned.items() if len(c) >= 10}
    errs = []
    if res["rows"] != len(kept):
        errs.append(f"{res['rows']} rows ingested, preprocessing keeps {len(kept)}")
    want_ids = sorted(i for i in kept if i < 40)
    if res["ids"] != want_ids:
        errs.append("ingested ids differ from the preprocessed input")
    for i, c, sq in zip(res["ids"], res["clean"], res["sq_norm"]):
        if kept.get(i) != c:
            errs.append(f"doc {i} cleaned to {c!r}, expected {kept.get(i)!r}")
        v = hash_embed(c)
        if abs(round4(float(np.sum(v.astype(np.float64) ** 2))) - sq) > TOL:
            errs.append(f"doc {i} embedding norm {sq}")
    return errs


# ------------------------------------------------------------ whole runs

def ground_truth(d):
    """Exact answers for a generated input directory (written by gen.py)."""
    inp = Inputs(d)
    ck = Checker(inp)
    out = {"knn": [ck.exact(q)[:2] for q in range(len(inp.queries))]}
    if inp.docs is not None:
        bm = Bm25(ck.docs, ck.doc_ids)
        out["fulltext"] = [sorted(bm.scores(t).items(), key=lambda x: (-x[1], x[0]))[:inp.k]
                           for t in inp.spec["term_queries"]]
        orc = QuestionOracle(ck.docs, ck.doc_ids)
        out["question"] = [orc.rank(q, inp.k) for q in inp.spec["questions"]]
        out["minhash_pairs"] = sorted(minhash_pairs(ck.docs, ck.doc_ids).items())
    return out


class Checker:
    """Checks every op record of one run. For the read/write workload it
    replays the writes, so each read is judged against the state it saw."""

    def __init__(self, inp):
        self.inp = inp
        self.cache = {}
        self.bulk_recall = None
        self.read_recall = {}
        self.bm25 = self.oracle = self.mh = None
        self.vec_of = {int(i): v for i, v in zip(inp.ids, inp.vecs)}
        self.deleted = set()
        if inp.docs is not None:
            # the served corpus is what ingest kept
            keep = [len(clean(t)) >= 10 for t in inp.docs]
            self.doc_ids = inp.doc_ids[np.array(keep)]
            self.docs = [t for t, k in zip(inp.docs, keep) if k]

    def exact(self, q):
        if q not in self.cache:
            self.cache[q] = exact_topk(self.inp.ids, self.inp.vecs, self.inp.queries[q], self.inp.k)
        return self.cache[q]

    def live_exact(self, qv):
        ids = np.array([i for i in self.vec_of if i not in self.deleted], dtype=np.int64)
        vecs = np.stack([self.vec_of[i] for i in ids.tolist()])
        return exact_topk(ids, vecs, qv, self.inp.k)

    def bulk(self, rec, exact_of):
        res, errs, recs, by_q = rec["res"], [], [], {}
        for qid, i, d in zip(res["qid"], res["ids"], res["d"]):
            by_q.setdefault(qid, {"ids": [], "d": []})
            by_q[qid]["ids"].append(i)
            by_q[qid]["d"].append(d)
        if len(by_q) != len(self.inp.queries):
            errs.append(f"{len(by_q)} of {len(self.inp.queries)} queries answered")
        for qid, r in by_q.items():
            e, recall = check_ann(r, exact_of(qid), self.inp.k, READ_RECALL_FLOOR["ivf"])
            errs += e
            recs.append(recall)
        self.bulk_recall = recs
        return errs[:20]

    def op(self, rec):
        """Returns a list of error strings for one op record."""
        inp, op, q, res = self.inp, rec["op"], rec["q"], rec["res"]
        spec = inp.spec
        if spec["workload"] == "mixed_rw":
            return self.rw_op(rec)
        if op == "knn":
            return check_knn(inp, q, res)
        if op in ("ivf", "graph"):
            errs, r = check_ann(res, self.exact(q), inp.k, READ_RECALL_FLOOR[op])
            self.read_recall.setdefault(op, []).append(r)
            return errs
        if op == "fulltext":
            self.bm25 = self.bm25 or Bm25(self.docs, self.doc_ids)
            return check_fulltext(self.bm25, spec["term_queries"][q], inp.k, res)
        if op == "question":
            self.oracle = self.oracle or QuestionOracle(self.docs, self.doc_ids)
            return check_question(self.oracle, spec["questions"][q], inp.k, res)
        if op == "ingest":
            return check_ingest(inp, res)
        if op == "dedup_minhash":
            self.mh = self.mh or minhash_pairs(self.docs, self.doc_ids)
            return check_minhash(self.mh, spec["planted_pairs"], res)
        if op == "ivf_build":
            return [] if res["nlist"] == 32 else [f"nlist {res['nlist']}"]
        if op == "graph_build":
            errs = []
            if res["nodes"] != len(inp.ids):
                errs.append(f"{res['nodes']} nodes with edges, corpus has {len(inp.ids)}")
            if res["max_degree"] > 8:
                errs.append(f"out-degree {res['max_degree']} over the cap of 8")
            return errs
        if op == "fulltext_build":
            vocab = len({t for d in self.docs for t in d.split()})
            return [] if res["terms"] == vocab else [f"{res['terms']} terms, corpus has {vocab}"]
        if op == "bulk_search":
            return self.bulk(rec, self.exact)
        return [f"no check for op {op}"]

    def rw_op(self, rec):
        inp, op, q, res = self.inp, rec["op"], rec["q"], rec["res"]
        spec = inp.spec
        b = len(spec["upsert_ids"][0])
        if op == "upsert":
            for j, i in enumerate(spec["upsert_ids"][q]):
                self.vec_of[i] = inp.moved[q * b + j]
            return []
        if op == "delete":
            self.deleted |= set(spec["delete_ids"][q])
            return []
        if op.startswith("compact"):
            return []
        if op == "bulk_search":
            return self.bulk(rec, lambda qid: self.live_exact(inp.queries[qid]))
        qv = inp.moved[q * b] if op == "probe" else inp.queries[q]
        live = {i for i in self.vec_of if i not in self.deleted}
        errs, r = check_ann(res, self.live_exact(qv), inp.k, READ_RECALL_FLOOR["ivf"], live=live)
        self.read_recall.setdefault(op, []).append(r)
        if op == "probe" and (not res["ids"] or res["ids"][0] != spec["upsert_ids"][q][0]
                              or res["d"][0] != 0.0):
            errs.append("upserted vector not returned first at distance 0")
        return errs


# -------------------------------------------------------------- self-test

def self_test():
    """Each check must reject a deliberately wrong result."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import tempfile
    import gen
    failures = []

    def expect_reject(name, errs):
        print(f"{'ok  ' if errs else 'FAIL'} {name}: {errs[:1]}")
        if not errs:
            failures.append(name)

    def expect_accept(name, errs):
        print(f"{'ok  ' if not errs else 'FAIL'} {name} (correct result accepted): {errs[:1]}")
        if errs:
            failures.append(name)

    with tempfile.TemporaryDirectory() as tmp:
        for w in ("rag_serve", "mixed_rw"):
            gen.make(w, 1, os.path.join(tmp, w))
        rag = Inputs(os.path.join(tmp, "rag_serve"))
        ids, dists, raw = exact_topk(rag.ids, rag.vecs, rag.queries[0], rag.k)
        good = {"ids": ids, "d": dists}
        expect_accept("knn", check_knn(rag, 0, good))
        swapped = {"ids": ids[:3] + [ids[4], ids[3]] + ids[5:], "d": dists}
        expect_reject("knn swapped id", check_knn(rag, 0, swapped))
        far = int(np.argmax(l2sq(rag.vecs, rag.queries[0])))
        skipped = {"ids": ids[:9] + [far], "d": dists[:9] + [round4(raw[far])]}
        expect_reject("knn skipped neighbour", check_knn(rag, 0, skipped))

        exact = exact_topk(rag.ids, rag.vecs, rag.queries[0], rag.k)
        expect_accept("ivf", check_ann(good, exact, rag.k, READ_RECALL_FLOOR["ivf"])[0])
        short = {"ids": ids[:3], "d": dists[:3]}
        expect_reject("ivf too few rows", check_ann(short, exact, rag.k, READ_RECALL_FLOOR["ivf"])[0])
        order = np.argsort(l2sq(rag.vecs, rag.queries[0]), kind="stable")
        far = sorted((round4(raw[int(rag.ids[i])]), int(rag.ids[i])) for i in order[:3].tolist()
                     + order[100:107].tolist())
        poor = {"ids": [i for _, i in far], "d": [d for d, _ in far]}
        expect_reject("ivf true distances but not the top 10",
                      check_ann(poor, exact, rag.k, READ_RECALL_FLOOR["ivf"])[0])

        bm = Bm25(rag.docs, rag.doc_ids)
        terms = rag.spec["term_queries"][0]
        sc = sorted(bm.scores(terms).items(), key=lambda x: (-x[1], x[0]))[:rag.k]
        good = {"ids": [i for i, _ in sc], "d": [s for _, s in sc]}
        expect_accept("fulltext", check_fulltext(bm, terms, rag.k, good))
        pruned = {"ids": good["ids"][1:] + [good["ids"][0]], "d": good["d"][1:] + [good["d"][0]]}
        expect_reject("fulltext lost top hit", check_fulltext(bm, terms, rag.k, pruned))

        orc = QuestionOracle(rag.docs, rag.doc_ids)
        for qi in (0, 1):  # a short question and a chunked one
            qn = rag.spec["questions"][qi]
            want = orc.rank(qn, rag.k)
            good = {"ids": [w[0] for w in want], "rank": [w[1] for w in want], "d": [w[2] for w in want]}
            expect_accept(f"question {qi}", check_question(orc, qn, rag.k, good))
        bad = dict(good, rank=[3 - r if r < 3 else 1 for r in good["rank"]])
        expect_reject("question wrong strategy", check_question(orc, qn, rag.k, bad))

        rw = Inputs(os.path.join(tmp, "mixed_rw"))
        ck = Checker(rw)
        up = rw.spec["upsert_ids"][0]

        def live_top(qv):
            ids, dists, _ = ck.live_exact(qv)
            return {"ids": ids, "d": dists}
        ck.op({"phase": "timed", "op": "upsert", "q": 0, "res": None})
        probe = live_top(rw.moved[0])
        expect_accept("mixed_rw probe", ck.op(
            {"phase": "timed", "op": "probe", "q": 0, "res": probe}))
        stale = dict(probe, d=[round4(l2sq(rw.vecs[up[0]][None, :], rw.moved[0])[0])] + probe["d"][1:])
        expect_reject("mixed_rw stale upserted vector", ck.op(
            {"phase": "timed", "op": "probe", "q": 0, "res": stale}))
        # a query whose exact top-10 holds an id the next delete removes
        dels = set(rw.spec["delete_ids"][0])
        qi = next(i for i in range(len(rw.queries)) if dels & set(live_top(rw.queries[i])["ids"]))
        before = live_top(rw.queries[qi])
        ck.op({"phase": "timed", "op": "delete", "q": 0, "res": None})
        expect_accept("mixed_rw read after delete", ck.op(
            {"phase": "timed", "op": "ivf", "q": qi, "res": live_top(rw.queries[qi])}))
        expect_reject("mixed_rw tombstoned id returned", ck.op(
            {"phase": "timed", "op": "ivf", "q": qi, "res": before}))

        mh = minhash_pairs(rag.docs, rag.doc_ids)
        planted = [p for p in rag.spec["planted_pairs"] if tuple(sorted(p)) in mh]
        good = {"a": [a for a, _ in sorted(mh)], "b": [b for _, b in sorted(mh)],
                "est": [mh[p] for p in sorted(mh)]}
        expect_accept("dedup minhash", check_minhash(mh, planted, good))
        drop = tuple(sorted(planted[0]))
        keep = [p for p in sorted(mh) if p != drop]
        dropped = {"a": [a for a, _ in keep], "b": [b for _, b in keep], "est": [mh[p] for p in keep]}
        expect_reject("dedup dropped planted duplicate", check_minhash(mh, planted, dropped))
        fake = {"a": good["a"] + [1], "b": good["b"] + [2], "est": good["est"] + [1.0]}
        if (1, 2) not in mh:
            expect_reject("dedup pair sharing no band", check_minhash(mh, planted, fake))
    print("self-test", "FAILED: " + ", ".join(failures) if failures else "passed")
    return not failures


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        sys.exit(0 if self_test() else 1)
    print(__doc__)
    sys.exit(2)

"""Seeded input generator for the benchmark.

Everything the engine reads is produced here from `--seed`; the engine
never sees the generator's parameters, only the files. The same seed
gives byte-identical inputs, a different seed different ones
(`tests/test_gen.py` pins both).

Layout written under `<out>`:

  corpus/documents.parquet     the documents table (doc_id, text, lang,
                               source, n_chars) with a Zipf vocabulary;
                               ingest plants exact and near duplicates
  stream/batch_<k>.parquet     ingest: new documents, one file per
                               micro-batch
  warehouse/<table>.parquet    serve: the TPC-H-like star schema, for the
                               traced run's deck probe
  queries.json                 serve: the seeded query sequence
  expected.json                counts and answers computed here, from
                               the generator's own token lists, for the
                               output checks

Text is lowercase `[a-z]+` words separated by single spaces, so the
engine's tokenizer (lowercase, strip non-letters, split on whitespace)
yields exactly the generator's token list. Every vocabulary word holds
one of `q`, `x`, `z`, which no stopword does, so a vocabulary word is
never dropped as a stopword; stopwords enter only through FILLER.
"""
import argparse
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Stopwords of the engine's list (NLTK) mixed into the text as filler.
FILLER = ["the", "and", "of", "a", "to", "in", "is", "for", "with", "on"]
FILLER_SET = set(FILLER)
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.85, 0.05, 0.04, 0.03, 0.03]

# Input sizes per workload. They are fixed here, not on the command line,
# so a seed alone names the inputs.
SIZES = {
    "ingest": dict(docs=400, vocab=20000, batches=2, batch_docs=60),
    "serve": dict(docs=600, vocab=20000, queries=600, lineitems=6000),
}
EXACT_DUP_RATE = 0.02
NEAR_DUP_RATE = 0.04
ZIPF_S = 1.0
ZIPF_Q = 20.0


def make_vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    marks = np.array(list("qxz"))
    seen, out = set(), []
    while len(out) < n:
        k = int(rng.integers(4, 10))
        w = list(letters[rng.integers(0, 26, k)])
        w[int(rng.integers(0, k))] = marks[int(rng.integers(0, 3))]
        s = "".join(w)
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def zipf_p(n):
    p = 1.0 / np.power(np.arange(n) + ZIPF_Q, ZIPF_S)
    return p / p.sum()


def draw(rng, cdf, k):
    """`k` indices drawn from the distribution with cumulative `cdf`."""
    return np.minimum(np.searchsorted(cdf, rng.random(k), side="right"), len(cdf) - 1)


class Corpus:
    """Documents as token lists, with planted exact and near duplicates."""

    def __init__(self, rng, vocab, n_docs, first_id=0, plant_dups=True):
        self.vocab = vocab
        cdf = np.cumsum(zipf_p(len(vocab)))
        self.tokens, self.exact_pairs, self.near_pairs = [], [], []
        originals = []
        for i in range(n_docs):
            doc_id = first_id + i
            u = rng.random()
            if plant_dups and originals and u < EXACT_DUP_RATE:
                src = originals[int(rng.integers(0, len(originals)))]
                toks = list(self.tokens[src - first_id])
                self.exact_pairs.append((src, doc_id))
            elif plant_dups and originals and u < EXACT_DUP_RATE + NEAR_DUP_RATE:
                src = originals[int(rng.integers(0, len(originals)))]
                toks = list(self.tokens[src - first_id])
                # replace one token in ~25: a 3-shingle Jaccard far above
                # the engine's 0.5 LSH threshold
                for _ in range(max(1, len(toks) // 25)):
                    toks[int(rng.integers(0, len(toks)))] = vocab[int(draw(rng, cdf, 1)[0])]
                self.near_pairs.append((src, doc_id))
            else:
                n = int(rng.integers(30, 120))
                words = draw(rng, cdf, n)
                fill = rng.random(n) < 0.25
                fw = rng.integers(0, len(FILLER), n)
                toks = [FILLER[f] if m else vocab[w] for w, m, f in zip(words, fill, fw)]
                originals.append(doc_id)
            self.tokens.append(toks)
        self.ids = list(range(first_id, first_id + n_docs))
        self.langs = list(rng.choice(LANGS, size=n_docs, p=LANG_P))
        self.sources = [f"src{int(s)}" for s in rng.integers(0, 20, n_docs)]

    def table(self):
        texts = [" ".join(t) for t in self.tokens]
        return pa.table({
            "doc_id": pa.array(self.ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(self.langs, pa.string()),
            "source": pa.array(self.sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })

    def terms(self, i):
        return set(self.tokens[i]) - FILLER_SET

    def posting_pairs(self):
        return sum(len(self.terms(i)) for i in range(len(self.ids)))


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- serve

def gen_queries(rng, corpus, n):
    """A seeded closed-loop query sequence: each cycle runs the six kinds
    once in a seeded order; terms are drawn by Zipf from the vocabulary."""
    vocab, p = corpus.vocab, zipf_p(len(corpus.vocab))
    # only terms that occur: a Zipf draw from the vocabulary restricted
    # to the corpus's own terms, keeping the rank order
    present = set()
    for i in range(len(corpus.ids)):
        present |= corpus.terms(i)
    ranks = [r for r, w in enumerate(vocab) if w in present]
    cdf = np.cumsum(p[ranks] / p[ranks].sum())

    def terms(k):
        out = []
        while len(out) < k:
            w = vocab[ranks[int(draw(rng, cdf, 1)[0])]]
            if w not in out:
                out.append(w)
        return out

    kinds = ["lookup", "and", "or", "andnot", "phrase", "bm25"]
    qs = []
    while len(qs) < n:
        for k in rng.permutation(kinds):
            if k == "lookup":
                qs.append({"kind": k, "terms": terms(1)})
            elif k == "and":
                qs.append({"kind": k, "terms": terms(2)})
            elif k == "or":
                qs.append({"kind": k, "terms": terms(int(rng.integers(2, 4)))})
            elif k == "andnot":
                qs.append({"kind": k, "terms": terms(int(rng.integers(2, 4)))})
            elif k == "bm25":
                qs.append({"kind": k, "terms": terms(int(rng.integers(2, 4)))})
            else:
                # a phrase that occurs: two consecutive non-stop tokens of
                # a random document
                while True:
                    d = int(rng.integers(0, len(corpus.ids)))
                    ns = [t for t in corpus.tokens[d] if t not in FILLER_SET]
                    if len(ns) >= 2:
                        j = int(rng.integers(0, len(ns) - 1))
                        if ns[j] != ns[j + 1]:
                            qs.append({"kind": k, "terms": [ns[j], ns[j + 1]]})
                            break
    return qs[:n]


def serve_answers(corpus, queries):
    """Answers computed from the generator's token lists, independent of
    the engine: doc-id sets for the boolean kinds and phrases, the
    (doc_id, score) top 10 for BM25."""
    docs_of = {}
    nonstop = [[t for t in toks if t not in FILLER_SET] for toks in corpus.tokens]
    for i, did in enumerate(corpus.ids):
        for t in set(nonstop[i]):
            docs_of.setdefault(t, set()).add(did)
    n_docs = len(corpus.ids)
    dl = [len(ns) for ns in nonstop]
    avgdl = sum(dl) / n_docs
    bigrams = {}
    for i, did in enumerate(corpus.ids):
        ns = nonstop[i]
        for a, b in zip(ns, ns[1:]):
            bigrams.setdefault((a, b), {}).setdefault(did, 0)
            bigrams[(a, b)][did] += 1
    out = {}
    for q in queries:
        key = q["kind"] + ":" + " ".join(q["terms"])
        if key in out:
            continue
        t, k = q["terms"], q["kind"]
        if k == "lookup":
            ans = sorted(docs_of.get(t[0], set()))
        elif k == "and":
            ans = sorted(set.intersection(*[docs_of.get(x, set()) for x in t]))
        elif k == "or":
            ans = sorted(set.union(*[docs_of.get(x, set()) for x in t]))
        elif k == "andnot":
            ans = sorted(docs_of.get(t[0], set()) - set.union(*[docs_of.get(x, set()) for x in t[1:]]))
        elif k == "phrase":
            ans = sorted(bigrams.get((t[0], t[1]), {}).items())
        else:
            k1, b = 1.2, 0.75
            scores = {}
            for term in t:
                ds = docs_of.get(term, set())
                df = len(ds)
                idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1)
                for did in ds:
                    i = did - corpus.ids[0]
                    tf = nonstop[i].count(term)
                    norm = tf + k1 * (1 - b + b * dl[i] / avgdl)
                    scores[did] = scores.get(did, 0.0) + round(idf * (tf * (k1 + 1)) / norm, 6)
            ranked = sorted(((round(s, 6), d) for d, s in scores.items()), key=lambda x: (-x[0], x[1]))
            ans = [[d, s] for s, d in ranked[:10]]
        out[key] = ans
    return out


# ------------------------------------------------------------ warehouse

def gen_warehouse(rng, n_lines):
    """TPC-H-like tables with the value domains of the engine's test
    tables, so the deck's constants (dates, segments, brands, regions)
    select rows."""
    n_orders = n_lines // 4
    n_cust = max(50, n_orders // 10)
    n_part = max(100, n_lines // 30)
    n_supp = max(20, n_lines // 600)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_orders).astype("timedelta64[D]")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": money(1000.0, 500000.0, n_orders),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    lok = np.sort(rng.integers(0, n_orders, n_lines))
    lnum = np.ones(n_lines, dtype=np.int32)
    for i in range(1, n_lines):
        if lok[i] == lok[i - 1]:
            lnum[i] = lnum[i - 1] + 1
    lpart = rng.integers(0, n_part, n_lines)
    qty = rng.integers(1, 51, n_lines).astype(float)
    ship = odate[lok] + rng.integers(1, 122, n_lines).astype("timedelta64[D]")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lpart], 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})
    return t


# ----------------------------------------------------------------- main

def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out`; return the
    expected-values dict (also written to `out/expected.json`)."""
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    size = SIZES[workload]
    vocab = make_vocab(rng, size["vocab"])
    exp = {"workload": workload, "seed": seed}
    corpus = Corpus(rng, vocab, size["docs"], plant_dups=workload == "ingest")
    write(corpus.table(), f"{out}/corpus/documents.parquet")
    exp["n_docs"] = size["docs"]
    exp["text_bytes"] = sum(len(" ".join(t)) for t in corpus.tokens)
    exp["posting_pairs"] = corpus.posting_pairs()
    exp["exact_pairs"] = corpus.exact_pairs
    exp["near_pairs"] = corpus.near_pairs
    if workload == "ingest":
        batches = []
        rank = {w: r for r, w in enumerate(vocab)}
        first = size["docs"]
        for k in range(size["batches"]):
            b = Corpus(rng, vocab, size["batch_docs"], first_id=first, plant_dups=False)
            write(b.table(), f"{out}/stream/batch_{k}.parquet")
            # the read-after-write probe: the batch's rarest term
            counts = {}
            for i in range(len(b.ids)):
                for t in b.terms(i):
                    counts[t] = counts.get(t, 0) + 1
            probe = max(counts, key=lambda t: (rank[t], t))
            batches.append({
                "docs": len(b.ids),
                "posting_pairs": b.posting_pairs(),
                "probe": probe,
                "probe_docs": sorted(d for i, d in enumerate(b.ids) if probe in b.terms(i))})
            first += size["batch_docs"]
        exp["batches"] = batches
    if workload == "serve":
        qs = gen_queries(rng, corpus, size["queries"])
        with open(f"{out}/queries.json", "w") as f:
            json.dump(qs, f)
        exp["answers"] = serve_answers(corpus, qs)
        for name, tbl in gen_warehouse(rng, size["lineitems"]).items():
            write(tbl, f"{out}/warehouse/{name}.parquet")
    with open(f"{out}/expected.json", "w") as f:
        json.dump(exp, f)
    return exp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()

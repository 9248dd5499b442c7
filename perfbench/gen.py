"""Seeded input generator for the benchmark workloads.

Everything the program under test receives is produced here from the
workload seed: document corpora in the `documents.parquet` schema, the
streamed probe wave and its marker token, the planted needle tokens, the
per-client operation scripts, the curate query order, and the relational
tables the batch queries read. The same seed gives byte-identical files;
`digests()` fingerprints them.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. The serve corpus keeps the per-document shape of a PDF-extracted
# corpus (lognormal lengths around 1.3 kB, two to three chunks a document)
# at a document count that lets one run set the workload up three times;
# see README.md for the measured scale rationale.
SERVE_DOCS = 1000
SERVE_NEEDLES = 40
PROBE_WAVE_DOCS = 30
PROBE_FIRST_ID = 10_000_000
PROBE_DELETES = 3
CURATE_SCALE = 0.005       # relational tables at 0.5 % of TPC-H sf1
CHECK_SCALE = 0.002        # the tables a traced serve run probes the batch queries on
OPS_PER_CLIENT = 1000
SERVE_CLIENTS = 2

VOCAB_SIZE = 6000
ZIPF_A = 1.15
# lognormal document length in words: median ~190 words (~1.3 kB)
LEN_MU, LEN_SIGMA, LEN_MIN, LEN_MAX = 5.25, 0.55, 20, 1200

INTENT_TEMPLATES = [
    ("General", "{a} {b}"),
    ("Definition", "what is {a} {b}"),
    ("Procedure", "how to {a} {b}"),
    ("Summary", "summary of {a} {b}"),
    ("Example", "example of {a} {b}"),
]

CURATE_QUERIES = ["graph_pagerank_converged", "text_bigram_lift"]

_CONS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiou")


def vocabulary(rng, n):
    """Letters-only pseudo-words, most frequent first; never contain a
    digit, so digit-bearing needle and marker tokens cannot collide."""
    words, seen = [], set()
    while len(words) < n:
        syl = int(rng.integers(1, 4))
        w = "".join(_CONS[int(rng.integers(len(_CONS)))] +
                    _VOWELS[int(rng.integers(len(_VOWELS)))] for _ in range(syl))
        if rng.random() < 0.5:
            w += _CONS[int(rng.integers(len(_CONS)))]
        if len(w) >= 3 and w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_ids(rng, n, size):
    """Zipf-distributed vocabulary ranks truncated to [0, size)."""
    out = rng.zipf(ZIPF_A, n) - 1
    bad = out >= size
    while bad.any():
        out[bad] = rng.zipf(ZIPF_A, int(bad.sum())) - 1
        bad = out >= size
    return out


def unique_tokens(rng, prefix, n):
    """`n` distinct tokens `<prefix><digit><6 base36 chars>`."""
    alphabet = list("abcdefghijklmnopqrstuvwxyz0123456789")
    toks, seen = [], set()
    while len(toks) < n:
        t = prefix + str(int(rng.integers(10))) + "".join(
            alphabet[int(rng.integers(36))] for _ in range(6))
        if t not in seen:
            seen.add(t)
            toks.append(t)
    return toks


def corpus(rng, vocab, n_docs, first_id):
    """Sentences of Zipf words with a period every 8-20 words, so the
    chunker sees sentence boundaries."""
    vocab = np.array(vocab)
    lens = np.clip(rng.lognormal(LEN_MU, LEN_SIGMA, n_docs).astype(int), LEN_MIN, LEN_MAX)
    ids = zipf_ids(rng, int(lens.sum()), len(vocab))
    words = vocab[ids]
    docs, pos = [], 0
    for i, n in enumerate(lens):
        ws = list(words[pos:pos + n])
        pos += n
        out, j = [], 0
        while j < len(ws):
            k = int(rng.integers(8, 21))
            sent = ws[j:j + k]
            sent[0] = sent[0].capitalize()
            out.append(" ".join(sent) + ".")
            j += k
        docs.append([first_id + i, " ".join(out)])
    return docs


def plant(rng, docs, tokens):
    """Insert each token into its own document; returns token -> doc_id."""
    where = rng.choice(len(docs), size=len(tokens), replace=False)
    owner = {}
    for tok, d in zip(tokens, where):
        words = docs[d][1].split(" ")
        at = int(rng.integers(len(words) + 1))
        words.insert(at, tok)
        docs[d][1] = " ".join(words)
        owner[tok] = int(docs[d][0])
    return owner


def documents_table(docs, rng):
    langs = np.array(["en", "de", "fr", "es", "zh"])
    return pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "lang": pa.array(langs[rng.integers(0, 5, len(docs))].tolist(), pa.string()),
        "source": pa.array([f"src{int(d[0]) % 20}" for d in docs], pa.string()),
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
    })


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def queries(rng, vocab, n, match_share=0.10):
    """Search strings spread over the five intents; `match_share` of them
    use a MATCH operator (a quoted phrase or a `prefix*` term)."""
    head = vocab[:400]
    out = []
    for _ in range(n):
        r = rng.random()
        a = head[int(zipf_ids(rng, 1, len(head))[0])]
        b = head[int(rng.integers(len(head)))]
        if r < match_share / 2:
            out.append(f'"{a} {b}"')
        elif r < match_share:
            out.append(a[:3] + "*")
        else:
            _, tpl = INTENT_TEMPLATES[int(rng.integers(len(INTENT_TEMPLATES)))]
            out.append(tpl.format(a=a, b=b))
    return out


def op_schedule(n, offset):
    """Operation kinds by position: in every 100 operations exactly 92
    searches (8 of them needle searches), 5 deep dives and 3 clicks, at
    fixed positions. Seeds vary what is asked, never the mix, so even a
    short window sees the same share of each operation whatever the seed.
    `offset` staggers clients so they do not deep-dive in step."""
    kinds = []
    for i in range(offset, offset + n):
        p = i % 100
        if p % 20 == 10:
            kinds.append("deep_dive")
        elif p in (3, 37, 71):
            kinds.append("click")
        elif p % 11 == 5:
            kinds.append("needle")
        else:
            kinds.append("search")
    return kinds


def serve_inputs(rng, out):
    vocab = vocabulary(rng, VOCAB_SIZE)
    docs = corpus(rng, vocab, SERVE_DOCS, 0)
    needles = plant(rng, docs, unique_tokens(rng, "nd", SERVE_NEEDLES))
    write(documents_table(docs, rng), f"{out}/corpus/documents.parquet")
    needle_list = sorted(needles)
    clients = []
    for c in range(SERVE_CLIENTS):
        qs = queries(rng, vocab, OPS_PER_CLIENT)
        ops = []
        for kind, q in zip(op_schedule(OPS_PER_CLIENT, 50 * c), qs):
            if kind == "click":
                ops.append({"op": "click", "rank": int(rng.integers(5))})
            elif kind == "deep_dive":
                ops.append({"op": "deep_dive", "query": q})
            elif kind == "needle":
                tok = needle_list[int(rng.integers(len(needle_list)))]
                ops.append({"op": "search", "query": tok, "needle": tok})
            else:
                ops.append({"op": "search", "query": q})
        clients.append(ops)
    dump(out, "serve.json", {"needles": needles, "clients": clients})


def probe_inputs(rng, out):
    """The traced run's write-path probe: one wave of new documents with a
    marker token planted in exactly one of them, and the probe slice's
    documents to delete (ids below 200 are in every workload's slice)."""
    vocab = vocabulary(rng, VOCAB_SIZE)
    docs = corpus(rng, vocab, PROBE_WAVE_DOCS, PROBE_FIRST_ID)
    marker = unique_tokens(rng, "mk", 1)[0]
    owner = plant(rng, docs, [marker])
    write(documents_table(docs, rng), f"{out}/probe/wave.parquet")
    deletes = sorted(int(x) for x in rng.choice(200, PROBE_DELETES, replace=False))
    dump(f"{out}/probe", "probe.json", {"marker": marker, "marker_doc": owner[marker],
                                        "deletes": deletes})


# --- relational + corpus tables in the shape of the shared testdata ----------

_DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
              "filter", "group", "hash", "join", "key", "line", "merge", "order",
              "part", "query", "row", "scan", "slow", "small", "sort", "spark",
              "stream", "table", "the", "value", "vector", "window"]


def sf_tables(rng, sf, out):
    """The ten tables the batch queries read, in the testdata schema
    (naive microsecond timestamps, one row group each)."""
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_ev = int(1500000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(200, int(50000 * sf)), max(200, int(50000 * sf))
    us = lambda y, m, d: int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))
    ts = pa.timestamp("us")

    write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
          f"{out}/region.parquet")
    write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
          f"{out}/nation.parquet")
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist()}),
        f"{out}/customer.parquet")
    write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    adj = np.array(["blue", "hot", "small", "old", "red", "new", "cold", "big"])
    noun = np.array(["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                               noun[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    lo, hi = us(1995, 1, 1), us(2001, 8, 1)
    day = 86400 * 1000000
    odate = lo + rng.integers(0, (hi - lo) // day, n_ord) * day
    write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)].tolist()}),
        f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    perm = rng.permutation(n_li)
    flags = np.array([("A", "O"), ("N", "F"), ("A", "F"), ("N", "O"), ("R", "O"), ("R", "F")])
    fl = flags[rng.integers(0, 6, n_li)]
    write(pa.table({
        "l_orderkey": pa.array(okey[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum[perm], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": fl[:, 0].tolist(), "l_linestatus": fl[:, 1].tolist(),
        "l_shipdate": pa.array(odate[okey[perm]] + rng.integers(1, 120, n_li) * day, ts)}),
        f"{out}/lineitem.parquet")
    ev0 = us(2024, 1, 1)
    ev_ts = np.sort(ev0 + rng.integers(0, 30 * day, n_ev))
    write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, max(50, int(15000 * sf)), n_ev), pa.int64()),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)].tolist(),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    words = np.array(_DOC_WORDS)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:          # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]))
    write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "de", "fr", "es"])[
            rng.integers(0, 7, n_doc)].tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")


def curate_inputs(rng, out):
    sf_tables(rng, CURATE_SCALE, f"{out}/sf")


def dump(out, name, obj):
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/{name}", "w") as f:
        json.dump(obj, f, sort_keys=True)


GENERATORS = {"serve": serve_inputs, "curate": curate_inputs}


def generate(workload, seed, out):
    # one stream per workload: a seed means the same inputs for a workload,
    # and different workloads never share a stream
    salt = {"serve": 1, "curate": 3}[workload]
    rng = np.random.default_rng([seed, salt])
    GENERATORS[workload](rng, out)
    # every workload gets the seed-permuted order of the batch queries
    # (curate times them; a traced run of serve probes them once, on small
    # tables of its own) and the write-path probe's inputs
    if workload != "curate":
        sf_tables(rng, CHECK_SCALE, f"{out}/check")
    probe_inputs(rng, out)
    dump(out, "queries.json", [CURATE_QUERIES[i] for i in rng.permutation(len(CURATE_QUERIES))])
    return digests(out)


def digests(root):
    """sha256 of every generated file, keyed by its path under `root`."""
    out = {}
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


if __name__ == "__main__":
    wl, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    for k, v in generate(wl, seed, out).items():
        print(v, k)

"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (workload, seed): numpy's PCG64 stream
drives all draws, so the same seed writes the same parquet bytes' worth
of values on any machine. The generators also return the ground truth the
checks need (planted duplicates, contaminated documents), so nothing has
to be re-derived from the program's own outputs.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes ---------------------------------------------------------------
# Chosen so one run (set-up, cold pass, timed phase, checks) fits the
# benchmark's per-run budget on a 4-core host; see README.md for bytes.
REGISTRY = dict(customer=1500, supplier=100, part=2000, orders=15000,
                events=10000, documents=500, embeddings=500)
CURATE = dict(base=4_000, batches=2, batch=500, bench=40,
              contaminated=40, vectors=4_000, planted_vec_pairs=60,
              queries=30)

WORDS = ("the fast key order sort table scan merge part window small hash "
         "join batch stream spark data group query row filter slow big "
         "value line customer column vector agg a dup").split()
STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _write(out, name, cols, schema):
    os.makedirs(out, exist_ok=True)
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return table.num_rows


def _ts(base, us):
    return (np.datetime64(base, "us") + us.astype("timedelta64[us]"))


# ---- registry: the registered queries' ten-table schema ----------------
def gen_registry(seed, out):
    r = np.random.default_rng(seed)
    n = REGISTRY
    rows = {}
    rows["region"] = _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    rows["nation"] = _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    c = n["customer"]
    rows["customer"] = _write(out, "customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": r.integers(0, 25, c).astype(np.int32),
        "c_acctbal": r.integers(-99999, 1000000, c) / 100.0,
        "c_mktsegment": segs[r.integers(0, 5, c)]},
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))
    s = n["supplier"]
    rows["supplier"] = _write(out, "supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": r.integers(0, 25, s).astype(np.int32),
        "s_acctbal": r.integers(-99999, 1000000, s) / 100.0},
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    adj = np.array(["red", "small", "hot", "old", "large", "blue", "cold",
                    "green", "dark", "tiny"])
    noun = np.array(["widget", "plate", "ring", "rod", "bolt", "anvil",
                     "gear"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                      "PROMO"])
    p = n["part"]
    rows["part"] = _write(out, "part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 10, p)], " "),
                              noun[r.integers(0, 7, p)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, p).astype(str)),
        "p_type": types[r.integers(0, 6, p)],
        "p_size": r.integers(1, 51, p).astype(np.int32),
        "p_retailprice": (9000 + r.integers(0, 1000, p)) / 10.0},
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    o = n["orders"]
    odays = r.integers(0, 2404, o)
    rows["orders"] = _write(out, "orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": r.integers(0, c, o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, o)],
        "o_totalprice": r.integers(100000, 50000000, o) / 100.0,
        "o_orderdate": _ts("1995-01-01", odays * 86_400_000_000),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, o)]},
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()),
                   ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")),
                   ("o_orderpriority", pa.string())]))
    lines = r.integers(1, 8, o)
    okey = np.repeat(np.arange(o, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines)
            + 1).astype(np.int32)
    m = len(okey)
    qty = r.integers(1, 51, m).astype(np.float64)
    rows["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": r.integers(0, p, m).astype(np.int64),
        "l_suppkey": r.integers(0, s, m).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (9000 + r.integers(0, 1000, m))
                                    / 10.0 + r.integers(0, 100, m) / 100.0, 2),
        "l_discount": r.integers(0, 11, m) / 100.0,
        "l_tax": r.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, m)],
        "l_shipdate": _ts("1995-01-01", (np.repeat(odays, lines)
                                          + r.integers(1, 122, m))
                          * 86_400_000_000)},
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()),
                   ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()),
                   ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]))
    e = n["events"]
    # distinct microsecond stamps: ordered ops tie-break on them
    ts_us = np.sort(r.choice(30 * 86_400_000_000, e, replace=False))
    rows["events"] = _write(out, "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts("2024-01-01", ts_us),
        "user_id": r.integers(0, 150, e).astype(np.int64),
        "event_type": np.array(["click", "signup", "error", "view",
                                "purchase"])[r.integers(0, 5, e)],
        "value": r.integers(1, 49003, e) / 100.0,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)]},
        pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]))
    d = n["documents"]
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(words), int(k))])
             for k in r.integers(8, 100, d)]
    for i in range(0, d, 50):        # a few planted near duplicates
        if i + 1 < d:
            texts[i + 1] = texts[i] + " dup"
    rows["documents"] = _write(out, "documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh"])[
            r.integers(0, 6, d)],
        "source": np.char.add("src", (np.arange(d) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]))
    v = n["embeddings"]
    vecs = _unit(r.standard_normal((v, 64)))
    rows["embeddings"] = _write(out, "embeddings", {
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": r.integers(0, 10, v).astype(np.int32)},
        pa.schema([("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))
    return {"rows": rows}


def _unit(x):
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


# ---- curate_corpus: corpus with planted duplicates, embeddings ---------
# Seed-independent stream for the vocabulary and for the planted
# near-duplicate pairs: a near duplicate the index probe misses because
# of a fault in the minhash family (see CHANGES.md) is then missed on
# every seed, so failures are the same share of operations in every run.
FIXED_SEED = 20240601


def _vocab(r, size=4000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < size:
        ln = int(r.integers(3, 9))
        out.add("".join(letters[r.integers(0, 26, ln)]))
    return np.array(sorted(out))


def _doc(r, vocab, ntok):
    toks = list(vocab[r.integers(0, len(vocab), ntok)])
    # four distinct stopwords: the quality gate wants at least two
    for pos, w in zip(r.choice(ntok, 4, replace=False),
                      r.choice(len(STOPS), 4, replace=False)):
        toks[pos] = STOPS[int(w)]
    return toks


def gen_curate(seed, out):
    r = np.random.default_rng(seed)
    fixed = np.random.default_rng(FIXED_SEED)
    n = CURATE
    vocab = _vocab(fixed)
    # base ids [0, anchors) are the fixed sources of the near duplicates,
    # one for every fifth batch document
    anchors = n["batches"] * (n["batch"] // 5)
    base = [_doc(fixed, vocab, int(fixed.integers(60, 120)))
            for _ in range(anchors)]
    base += [_doc(r, vocab, int(r.integers(60, 120)))
             for _ in range(n["base"] - anchors)]
    bench = [_doc(r, vocab, int(r.integers(30, 60))) for _ in range(n["bench"])]
    # contaminated base docs carry one 13-gram copied from a bench doc
    contaminated = sorted(int(i) for i in r.choice(
        np.arange(anchors, n["base"]), n["contaminated"], replace=False))
    for i in contaminated:
        b = bench[int(r.integers(0, len(bench)))]
        at = int(r.integers(0, len(b) - 13))
        pos = int(r.integers(0, len(base[i]) - 13))
        base[i][pos:pos + 13] = b[at:at + 13]
    docs = {"id": [], "text": [], "batch": []}
    for i, t in enumerate(base):
        docs["id"].append(i); docs["text"].append(" ".join(t))
        docs["batch"].append(-1)
    truth = {"near": [], "exact_groups": [], "short": [],
             "contaminated": contaminated}
    nid = 1_000_000
    for b in range(n["batches"]):
        batch = []
        for j in range(n["batch"]):
            if j % 5 == 0:
                # near duplicate of an anchor: last token swapped
                src = len(truth["near"])
                toks = list(base[src])
                toks[-1] = vocab[int(fixed.integers(0, len(vocab)))] + "x"
                truth["near"].append([nid, src])
            elif j % 10 == 1:
                toks = _doc(r, vocab, int(r.integers(10, 40)))   # too short
                truth["short"].append(nid)
            else:
                toks = _doc(r, vocab, int(r.integers(60, 120)))
            batch.append((nid, toks)); nid += 1
        # planted exact groups inside the batch: copies of fresh docs
        for g in range(n["batch"] // 50):
            src_id, src_toks = batch[2 + 10 * g]
            size = 2 + g % 3
            ids = [src_id]
            for _ in range(size - 1):
                batch.append((nid, list(src_toks))); ids.append(nid); nid += 1
            truth["exact_groups"].append(ids)
        for i, toks in batch:
            docs["id"].append(i); docs["text"].append(" ".join(toks))
            docs["batch"].append(b)
    rows = {}
    rows["docs"] = _write(out, "docs", {
        "id": np.array(docs["id"], dtype=np.int64), "text": docs["text"],
        "batch": np.array(docs["batch"], dtype=np.int32)},
        pa.schema([("id", pa.int64()), ("text", pa.string()),
                   ("batch", pa.int32())]))
    rows["bench"] = _write(out, "bench", {
        "id": np.arange(len(bench), dtype=np.int64),
        "text": [" ".join(t) for t in bench]},
        pa.schema([("id", pa.int64()), ("text", pa.string())]))
    v, q = n["vectors"], n["queries"]
    vecs = r.standard_normal((v, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    # planted near-duplicate pairs in the first half of the ids
    pairs = []
    half = v // 2
    srcs = r.choice(half, n["planted_vec_pairs"], replace=False)
    dsts = r.choice(np.setdiff1d(np.arange(half), srcs), n["planted_vec_pairs"],
                    replace=False)
    for a, b in zip(srcs, dsts):
        vecs[b] = vecs[a] + 1e-3 * r.standard_normal(64)
        pairs.append([int(min(a, b)), int(max(a, b))])
    # each top-k query has five planted neighbours in the second half
    qv = r.standard_normal((q, 64))
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    for i in range(q):
        for j in range(5):
            vecs[half + 5 * i + j] = qv[i] + 0.015 * r.standard_normal(64)
    vecs = _unit(vecs)
    rows["vecs"] = _write(out, "vecs", {
        "id": np.arange(v, dtype=np.int64),
        "v": pa.array(list(vecs), type=pa.list_(pa.float32()))},
        pa.schema([("id", pa.int64()), ("v", pa.list_(pa.float32()))]))
    rows["queries"] = _write(out, "queries", {
        "id": np.arange(q, dtype=np.int64),
        "v": pa.array(list(_unit(qv)), type=pa.list_(pa.float32()))},
        pa.schema([("id", pa.int64()), ("v", pa.list_(pa.float32()))]))
    truth["vec_pairs"] = sorted(pairs)
    rows.update(base=n["base"], batch=docs["batch"].count(0),
                batches=n["batches"])
    return {"rows": rows, "truth": truth}


GENERATORS = {"registry": gen_registry, "curate_corpus": gen_curate}


def generate(workload, seed, out):
    meta = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


if __name__ == "__main__":
    m = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps(m["rows"]))

"""Correctness checks for a finished harness run.

Every check is named after the operation it judges and returns None when
the operation's output is right, or a one-line reason. The registry
queries and the CSV round trip are compared with DuckDB under the strict
rules of the repo's oracle comparator, tools/compare_oracle.py, whose
normalisation and stringification are imported: the same column names
after sorting, the same dtype kind (int is not float), and exactly equal
stringified values, the sign of zero included. The corpus checks compare
with the generator's planted ground truth and recompute every reported
similarity exactly; what they measure on the way (LSH recall, planted
pairs found) is returned as statistics.
"""
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from compare_oracle import col_strings, kind, norm  # noqa: E402

# LSH top-k must find at least this share of the exact top-k neighbours.
# Measured recall@5 on seeds 7 and 301-310: 0.61-0.83 (median 0.74); a
# kernel that loses half of the true neighbours falls below the floor.
LSH_RECALL_FLOOR = 0.5
# planted pairs at or above these similarities must be found
NEAR_JACCARD_FOUND = 0.9
NEAR_COSINE_FOUND = 0.99
JACCARD_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.9


# ---- strict result comparison ------------------------------------------
def strict_diff(oracle, got):
    """None when equal under the strict rules, else the first difference."""
    o, s = norm(oracle), norm(got)
    if list(o.columns) != list(s.columns):
        return f"columns oracle={list(o.columns)} got={list(s.columns)}"
    if o.shape != s.shape:
        return f"shape oracle={o.shape} got={s.shape}"
    for c in o.columns:
        if kind(o[c].dtype) != kind(s[c].dtype):
            return f"column {c}: dtype kind oracle={o[c].dtype} got={s[c].dtype}"
        a, b = col_strings(o[c]), col_strings(s[c])
        if not a.equals(b):
            i = int(np.argmax((a != b).values))
            return f"column {c} row {i}: oracle={a.iloc[i]!r} got={b.iloc[i]!r}"
    return None


def read_dump(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no output dumped at {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def duck(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    return con


def check_sql(run_dir, data_dir):
    oracles = json.load(open(os.path.join(run_dir, "oracles.json")))
    con = duck(data_dir)
    out = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = read_dump(os.path.join(run_dir, "check", name))
            out[name] = strict_diff(con.execute(sql).df(), got)
        except Exception as e:  # a missing dump or an oracle error fails
            out[name] = f"{type(e).__name__}: {e}"
    return out


def check_roundtrip(run_dir, data_dir):
    """fread(fwrite(x)) read back and cast to x's types must equal x."""
    try:
        got = read_dump(os.path.join(run_dir, "check", "fwrite"))
        want = pd.read_parquet(os.path.join(data_dir, "lineitem.parquet"),
                               columns=list(got.columns))
        return strict_diff(want, got)
    except Exception as e:
        return f"{type(e).__name__}: {e}"


# ---- corpus checks -------------------------------------------------------
def shingles(text, k=3):
    toks = text.strip().lower().split()
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def _ids(run_dir, name, col="id"):
    return set(read_dump(os.path.join(run_dir, "check", name))[col].tolist())


def check_curate(run_dir, data_dir):
    meta = json.load(open(os.path.join(data_dir, "meta.json")))
    truth, batches = meta["truth"], meta["rows"]["batches"]
    docs = pd.read_parquet(os.path.join(data_dir, "docs.parquet"))
    text = dict(zip(docs["id"].tolist(), docs["text"].tolist()))
    base_ids = set(docs.loc[docs["batch"] == -1, "id"].tolist())
    short = set(truth["short"])
    out, stats = {}, {}

    def judge(name, fn):
        try:
            out[name] = fn()
        except Exception as e:
            out[name] = f"{type(e).__name__}: {e}"

    indexed = set(base_ids)
    for b in range(batches):
        in_batch = set(docs.loc[docs["batch"] == b, "id"].tolist())

        def quality(b=b, in_batch=in_batch):
            got, want = _ids(run_dir, f"quality_b{b}"), in_batch - short
            return None if got == want else \
                f"{len(got ^ want)} ids differ from the quality ground truth"

        def exact(b=b, in_batch=in_batch):
            got = read_dump(os.path.join(run_dir, "check", f"exact_b{b}"))
            groups = [g for g in truth["exact_groups"] if g[0] in in_batch]
            want = {i: 1 for i in in_batch - short}
            for g in groups:
                for i in g:
                    want.pop(i, None)
                want[min(g)] = len(g)
            have = dict(zip(got["id"].tolist(), got["dup_count"].tolist()))
            return None if have == want else \
                f"{len(set(have.items()) ^ set(want.items()))} groups differ"

        def probe(b=b, in_batch=in_batch):
            pairs = read_dump(os.path.join(run_dir, "check", f"pairs_b{b}"))
            found = set(zip(pairs["new_id"].tolist(), pairs["dup_of"].tolist()))
            planted = [(n, src) for n, src in truth["near"] if n in in_batch]
            must = [p for p in planted if jaccard(shingles(text[p[0]]), shingles(
                text[p[1]])) >= NEAR_JACCARD_FOUND]
            missed = [p for p in must if p not in found]
            stats[f"probe_b{b}"] = {"planted": len(planted), "must_find": len(must),
                                    "found": len(must) - len(missed),
                                    "pairs_reported": len(found)}
            if missed:
                return f"planted near duplicate {missed[0]} not found"
            for n, src in found:
                j = jaccard(shingles(text[n]), shingles(text[src]))
                if j < JACCARD_THRESHOLD:
                    return f"pair ({n}, {src}) has Jaccard {j:.4f} below threshold"
            return None

        def append(b=b):
            unique = _ids(run_dir, f"exact_b{b}")
            matched = _ids(run_dir, f"pairs_b{b}", "new_id")
            novel = _ids(run_dir, f"novel_b{b}")
            if novel != unique - matched:
                return "appended ids are not the unmatched unique ids"
            indexed.update(novel)
            got = _ids(run_dir, f"index_b{b}")
            return None if got == indexed else \
                f"index holds {len(got)} ids, expected {len(indexed)}"

        judge(f"quality_b{b}", quality)
        judge(f"exact_b{b}", exact)
        judge(f"probe_b{b}", probe)
        judge(f"append_b{b}", append)
    judge("index_save", lambda: None if base_ids <= _ids(run_dir, "index_b0")
          else "base ids missing from the index")
    judge("index_compact", lambda: None if _ids(run_dir, "index_compacted") == indexed
          else "compacted index differs from base plus appended ids")
    judge("contamination", lambda: None if _ids(run_dir, "contamination") ==
          set(truth["contaminated"]) else "contaminated ids differ from planted")

    vec = pd.read_parquet(os.path.join(data_dir, "vecs.parquet"))
    V = np.stack(vec["v"].to_numpy()).astype(np.float64)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    row = {int(i): n for n, i in enumerate(vec["id"].tolist())}

    def cosine_pairs():
        got = read_dump(os.path.join(run_dir, "check", "cosine_pairs"))
        found = set(zip(got["idA"].tolist(), got["idB"].tolist()))
        must = [(a, b) for a, b in truth["vec_pairs"]
                if V[row[a]] @ V[row[b]] >= NEAR_COSINE_FOUND]
        missed = [p for p in must if p not in found]
        stats["cosine_pairs"] = {"planted": len(truth["vec_pairs"]), "must_find": len(must),
                                 "found": len(must) - len(missed),
                                 "pairs_reported": len(found)}
        if missed:
            return f"planted pair {missed[0]} not found"
        for a, b in found:
            c = V[row[a]] @ V[row[b]]
            if c < COSINE_THRESHOLD - 1e-9:
                return f"pair ({a}, {b}) has cosine {c:.6f} below threshold"
        return None

    def lsh_topk():
        q = pd.read_parquet(os.path.join(data_dir, "queries.parquet"))
        Q = np.stack(q["v"].to_numpy()).astype(np.float64)
        Q /= np.linalg.norm(Q, axis=1, keepdims=True)
        got = read_dump(os.path.join(run_dir, "check", "lsh_topk"))
        exact = np.argsort(-(Q @ V.T), axis=1)[:, :5]
        hit, bad_sim = 0, None
        for qi, qid in enumerate(q["id"].tolist()):
            want = {int(vec["id"].iloc[j]) for j in exact[qi]}
            mine = got[got["query_id"] == qid]
            for nb, sim in zip(mine["neighbor_id"].tolist(), mine["sim"].tolist()):
                if bad_sim is None and abs(Q[qi] @ V[row[nb]] - sim) > 1e-6:
                    bad_sim = f"query {qid}: reported sim {sim} is not the cosine"
            hit += len(want & set(mine["neighbor_id"].tolist()))
        recall = hit / (5 * len(q))
        stats["lsh_topk"] = {"recall_at_5": recall, "floor": LSH_RECALL_FLOOR}
        if bad_sim:
            return bad_sim
        return None if recall >= LSH_RECALL_FLOOR else \
            f"recall@5 {recall:.3f} below floor {LSH_RECALL_FLOOR}"

    judge("cosine_pairs", cosine_pairs)
    judge("lsh_topk", lsh_topk)
    return out, stats


def run_checks(workload, run_dir, data_dir):
    """(op name -> None when its output is right or the reason it is not,
    statistics the checks measured)."""
    if workload == "curate_corpus":
        return check_curate(run_dir, data_dir)
    verdicts = check_sql(run_dir, data_dir)
    verdicts["fwrite"] = check_roundtrip(run_dir, data_dir)
    return verdicts, {}

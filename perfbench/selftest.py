#!/usr/bin/env python3
"""Self-tests for the benchmark's own checkers.

    python3 perfbench/selftest.py [RUN_DIR]

1. The strict comparator rejects altered results: one value changed,
   -0.0 against 0.0, and int against float.
2. The curate_corpus ground truth agrees with exact all-pairs Jaccard and
   cosine on a small generated corpus: the planted near duplicates are
   exactly the batch/base pairs at or above the "must be found" Jaccard,
   the planted exact groups are exactly the identical texts, and the
   planted vector pairs are exactly the pairs at or above the "must be
   found" cosine outside the top-k query clusters.
3. With RUN_DIR (a registry run kept with --keep), the DuckDB
   expectations are made anew from the run's inputs and oracle SQL twice,
   and both makings are identical.
"""
import hashlib
import itertools
import json
import os
import sys
import tempfile

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen     # noqa: E402


def test_strict_comparator():
    base = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 0.0, 2.25]})
    assert checks.strict_diff(base, base.copy()) is None
    changed = base.copy()
    changed.loc[2, "v"] = 2.2500001
    neg_zero = base.copy()
    neg_zero.loc[1, "v"] = -0.0
    as_float = base.copy()
    as_float["k"] = as_float["k"].astype(float)
    for name, alt in (("value changed", changed), ("-0.0 vs 0.0", neg_zero),
                      ("int vs float", as_float)):
        assert checks.strict_diff(base, alt) is not None, name
        assert checks.strict_diff(alt, base) is not None, name
    print("ok strict comparator rejects a changed value, -0.0 and int/float")


def test_ground_truth():
    sizes = dict(gen.CURATE)
    gen.CURATE.update(base=300, batches=2, batch=100, bench=10, contaminated=5,
                      vectors=400, planted_vec_pairs=10, queries=8)
    try:
        with tempfile.TemporaryDirectory() as d:
            meta = gen.generate("curate_corpus", 11, d)
            docs = pd.read_parquet(os.path.join(d, "docs.parquet"))
            vecs = pd.read_parquet(os.path.join(d, "vecs.parquet"))
    finally:
        gen.CURATE.clear()
        gen.CURATE.update(sizes)
    truth = meta["truth"]
    sh = {i: checks.shingles(t) for i, t in zip(docs["id"], docs["text"])}
    base = docs.loc[docs["batch"] == -1, "id"].tolist()
    batch = docs.loc[docs["batch"] >= 0, "id"].tolist()
    near = {(n, b) for n in batch for b in base
            if checks.jaccard(sh[n], sh[b]) >= checks.NEAR_JACCARD_FOUND}
    assert near == {tuple(p) for p in truth["near"]}, "near duplicates"
    text = dict(zip(docs["id"], docs["text"]))
    same = {(a, b) for a, b in itertools.combinations(sorted(batch), 2)
            if text[a] == text[b]}
    planted = {p for g in truth["exact_groups"]
               for p in itertools.combinations(sorted(g), 2)}
    assert same == planted, "exact groups"
    V = np.stack(vecs["v"].to_numpy()).astype(np.float64)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    half = len(V) // 2
    cos = V @ V.T
    found = {(a, b) for a, b in zip(*np.nonzero(np.triu(cos, 1) >= checks.NEAR_COSINE_FOUND))
             if not (a >= half and b >= half and (a - half) // 5 == (b - half) // 5)}
    assert found == {tuple(p) for p in truth["vec_pairs"]}, "vector pairs"
    print(f"ok ground truth: {len(near)} near pairs, {len(planted)} exact pairs, "
          f"{len(found)} vector pairs match exact all-pairs similarity")


def expectation_digest(run_dir):
    con = checks.duck(os.path.join(run_dir, "data"))
    oracles = json.load(open(os.path.join(run_dir, "oracles.json")))
    h = hashlib.sha256()
    for name, sql in sorted(oracles.items()):
        df = checks.norm(con.execute(sql).df())
        h.update(name.encode())
        for c in df.columns:
            h.update(c.encode())
            h.update("\x1f".join(checks.col_strings(df[c])).encode())
    return h.hexdigest()


def test_expectations(run_dir):
    a, b = expectation_digest(run_dir), expectation_digest(run_dir)
    assert a == b, "remade expectations differ"
    print(f"ok expectations remade identically ({a[:16]})")


if __name__ == "__main__":
    test_strict_comparator()
    test_ground_truth()
    if len(sys.argv) > 1:
        test_expectations(sys.argv[1])

#!/usr/bin/env python3
"""Compare the query_suite tables `gen_tables.py` writes for a seed with
a reference set of the same ten tables (the project's sf0.01 test
tables, see TESTDATA.md), column by column, and print a markdown table.

    python3 perfbench/compare_tables.py <reference dir> [--seed 1]

Per column: numbers and timestamps by their 5th, 50th and 95th
percentile; strings by distinct count and mean length. Per table: row
count. The text and vector columns also by the shapes the queries
depend on: words per document, vocabulary, exact and near-duplicate
share, and how tightly the embeddings cluster around their label.
"""
import argparse
import collections
import os
import sys
import tempfile

import numpy as np
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_tables  # noqa: E402
from check_oracle import TABLES  # noqa: E402


def _q(x):
    return " / ".join(f"{v:.4g}" for v in np.percentile(x, [5, 50, 95]))


def column_stats(df):
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype.kind in "iuf":
            out[c] = "p5/p50/p95 " + _q(s.to_numpy(dtype=float))
        elif s.dtype.kind == "M":
            days = (s - s.min()).dt.total_seconds().to_numpy() / 86400
            out[c] = f"{s.min():%Y-%m-%d} + days p5/p50/p95 " + _q(days)
        elif isinstance(s.iloc[0], str):
            out[c] = f"distinct {s.nunique()}, mean length {s.str.len().mean():.1f}"
    return out


def shingles(words):
    return set(zip(words, words[1:], words[2:]))


def shape_stats(tables_dir):
    docs = pq.read_table(os.path.join(tables_dir, "documents.parquet")).to_pandas()
    words = [t.split() for t in docs.text]
    sh = [shingles(w) for w in words]
    near = sum(any(i != j and a and b and len(a & b) / len(a | b) >= 0.5
                   for j, b in enumerate(sh)) for i, a in enumerate(sh))
    prefix = collections.Counter(" ".join(w[:6]) for w in words)
    emb = pq.read_table(os.path.join(tables_dir, "embeddings.parquet")).to_pandas()
    x = np.stack(emb.embedding.to_numpy()).astype(float)
    lab = emb.label.to_numpy()
    cents = {k: x[lab == k].mean(0) for k in set(lab)}
    cents = {k: c / np.linalg.norm(c) for k, c in cents.items()}
    own = np.mean([x[i] @ cents[lab[i]] for i in range(len(x))])
    sims = x @ x.T
    np.fill_diagonal(sims, -1.0)
    return {
        "documents: words per doc p5/p50/p95": _q([len(w) for w in words]),
        "documents: vocabulary": str(len({w for ws in words for w in ws})),
        "documents: exact-duplicate share": f"{1 - docs.text.nunique() / len(docs):.3f}",
        "documents: near-duplicate share (3-shingle Jaccard >= 0.5)":
            f"{near / len(docs):.3f}",
        "documents: share with a shared 6-word prefix":
            f"{sum(n for n in prefix.values() if n > 1) / len(docs):.3f}",
        "embeddings: dimension, labels": f"{x.shape[1]}, {len(cents)}",
        "embeddings: mean cosine to own label centroid": f"{own:.3f}",
        "embeddings: nearest-neighbour cosine p50": f"{np.median(sims.max(1)):.3f}",
    }


def main():
    p = argparse.ArgumentParser()
    p.add_argument("reference")
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    with tempfile.TemporaryDirectory() as gen:
        gen_tables.write(args.seed, gen)
        print(f"| statistic | reference | generated (seed {args.seed}) |")
        print("| --- | --- | --- |")
        for t in TABLES:
            ref = pq.read_table(os.path.join(args.reference, f"{t}.parquet")).to_pandas()
            got = pq.read_table(os.path.join(gen, f"{t}.parquet")).to_pandas()
            print(f"| {t}: rows | {len(ref)} | {len(got)} |")
            rs, gs = column_stats(ref), column_stats(got)
            for c in rs:
                print(f"| {t}.{c} | {rs[c]} | {gs.get(c, 'missing')} |")
        rs, gs = shape_stats(args.reference), shape_stats(gen)
        for k in rs:
            print(f"| {k} | {rs[k]} | {gs[k]} |")


if __name__ == "__main__":
    main()

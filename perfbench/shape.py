#!/usr/bin/env python3
"""Compare the shape of the generated inputs with the test tables.

    python3 perfbench/shape.py <testdata sf dir> --sf 0.01

Measures the repository's test tables (TESTDATA.md) in the given
directory and the inputs `gen.py` makes at the same sf, and prints one
line per measure: the test tables' value, then the generator's. The
figures in README.md ("Input shape") come from this script.
"""
import argparse
import collections
import sys
import tempfile
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402


def measure(tables: dict) -> dict:
    docs = tables["documents"].to_pandas()
    words = [t.split() for t in docs.text]
    lengths = np.array([len(w) for w in words])
    vocab = collections.Counter(x for w in words for x in w)
    emb = tables["embeddings"].to_pandas()
    vec = np.stack(emb.embedding.values)
    labels = emb.label.values
    # norm of a label's mean vector over the norm pure noise would give:
    # about 1 when labels carry no signal
    signal = np.mean([np.linalg.norm(vec[labels == k].mean(0)) *
                      np.sqrt((labels == k).sum()) for k in np.unique(labels)])
    out = {
        "documents.rows": len(docs),
        "documents.words_min": int(lengths.min()),
        "documents.words_median": float(np.median(lengths)),
        "documents.words_max": int(lengths.max()),
        "documents.vocabulary": len(vocab),
        "documents.near_dup_share": round(float(np.mean(["dup" in w for w in words])), 4),
        "documents.exact_dup_share": round(float(docs.text.duplicated().mean()), 4),
        "documents.lang_en_share": round(float((docs.lang == "en").mean()), 3),
        "embeddings.rows": len(emb),
        "embeddings.dim": int(vec.shape[1]),
        "embeddings.labels": len(np.unique(labels)),
        "embeddings.label_signal": round(float(signal), 2),
        "customer.rows": tables["customer"].num_rows,
        "supplier.rows": tables["supplier"].num_rows,
    }
    if "orders" in tables:
        out["orders.rows"] = tables["orders"].num_rows
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("testdata", help="one sf directory of the test tables")
    ap.add_argument("--sf", type=float, required=True)
    args = ap.parse_args()
    names = ("documents", "embeddings", "customer", "supplier")
    real = measure({t: pq.read_table(f"{args.testdata}/{t}.parquet")
                    for t in names + ("orders",)})
    work = HERE / ".work"
    work.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        gen.make_curation(tmp, args.sf)
        made = measure({t: pq.read_table(f"{tmp}/{t}.parquet") for t in names})
    made["orders.rows"] = gen.table_rows(args.sf)["orders"]  # the ticket key space
    print(f"{'measure':32} {'test tables':>12} {'generator':>12}")
    for k, v in real.items():
        print(f"{k:32} {v:>12} {made[k]:>12}")


if __name__ == "__main__":
    main()

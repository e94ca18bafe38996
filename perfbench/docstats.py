"""Compare the text distribution of the generated documents with a
documents parquet file (for example the sf0.1 fixture's):

    python3 perfbench/docstats.py [--seed N] [--docs N] [documents.parquet ...]

For the generator (curation_ingest's sizes and shares) and for every file
given, prints one line: word and character length quantiles, vocabulary
size, distinct 3-shingles per document, documents per shingle, exact
duplicates, and how many documents have a near duplicate (best 3-shingle
Jaccard against any other, non-identical document >= 0.8). These are the
properties that drive MinHash band collisions, Bloom hit rates and the
embeddings. Compare at equal document counts (``--docs``): shingle postings
grow with the corpus.
"""

from __future__ import annotations

import argparse
import collections
import re

import numpy as np
import pyarrow.parquet as pq

import curation
import gen


def stats(texts: list[str]) -> dict:
    norm = [re.sub(r"\s+", " ", t.strip().lower()) for t in texts]
    words = [n.split(" ") for n in norm]
    shingles = [set(zip(w, w[1:], w[2:])) for w in words]
    postings = collections.defaultdict(list)
    for i, s in enumerate(shingles):
        for g in s:
            postings[g].append(i)
    best = np.zeros(len(texts))
    for i, s in enumerate(shingles):
        shared = collections.Counter(j for g in s for j in postings[g] if j != i)
        for j, n in shared.items():
            if norm[j] != norm[i]:
                best[i] = max(best[i], n / len(s | shingles[j]))
    q = [10, 50, 90]
    return {
        "docs": len(texts),
        "words_q10_50_90": np.percentile([len(w) for w in words], q).tolist(),
        "chars_q10_50_90": np.percentile([len(t) for t in texts], q).tolist(),
        "vocab": len({x for w in words for x in w}),
        "shingles_per_doc_q50": float(np.median([len(s) for s in shingles])),
        "docs_per_shingle_q50_90": np.percentile([len(v) for v in postings.values()], [50, 90]).tolist(),
        "exact_dup_share": round(1 - len(set(norm)) / len(norm), 4),
        "near_dup_share": round(float((best >= 0.8).mean()), 4),
    }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--docs", type=int, default=curation.WARM_DOCS + curation.N_FILES * curation.DOCS_PER_FILE)
    p.add_argument("files", nargs="*")
    args = p.parse_args()
    n = args.docs
    rng = np.random.default_rng([args.seed, 11])
    table, _ = gen.documents(rng, n, curation.EXACT_SHARE, curation.NEAR_SHARE)
    print("generator", stats(table.column("text").to_pylist()))
    for path in args.files:
        print(path, stats(pq.read_table(path, columns=["text"]).column("text").to_pylist()))


if __name__ == "__main__":
    main()

"""Exact reference for the near-duplicate op's expected output.

The registered DuckDB oracle (``c02_neardup_components``) takes 0.7 s
on a 500-document batch and over 6 s on 2,500 documents -- longer than
the op it checks. A pair's 2-gram Jaccard does not depend on which
other documents share its batch, so the corpus-wide pair set is
computed once, as a 0/1 gram matrix product per language block, and a
batch's components are the connected components of the pairs inside
it. ``test_perfbench.py`` pins this reference to the DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import numpy as np
import pyarrow.parquet as pq


def _bigrams(text: str | None) -> set[str]:
    """The distinct word 2-grams of ``functions.dedup.token_ngrams``:
    a one-token text yields that token as its only gram."""
    if text is None:
        return set()
    t = text.split(" ")
    return {" ".join(t[i : i + 2]) for i in range(max(len(t) - 1, 1))}


def jaccard_pairs(fixture_dir: str, threshold: float) -> list[tuple[int, int]]:
    """All (doc_a < doc_b) pairs in one ``lang`` block whose 2-gram
    Jaccard, rounded to 4 places, reaches ``threshold``."""
    docs = pq.read_table(
        os.path.join(fixture_dir, "documents.parquet"), columns=["doc_id", "text", "lang"]
    ).to_pydict()
    grams = [_bigrams(t) for t in docs["text"]]
    vocab = {g: i for i, g in enumerate(sorted(set().union(*grams)))}
    pairs: list[tuple[int, int]] = []
    for lang in sorted(set(docs["lang"])):
        idx = [i for i, lg in enumerate(docs["lang"]) if lg == lang]
        x = np.zeros((len(idx), len(vocab)), dtype=np.float32)
        for row, i in enumerate(idx):
            x[row, [vocab[g] for g in grams[i]]] = 1.0
        inter = (x @ x.T).round().astype(np.int64)  # exact: counts < 2**24
        size = x.sum(axis=1).round().astype(np.int64)
        union = size[:, None] + size[None, :] - inter
        jac = np.round(inter / np.maximum(union, 1), 4)
        a, b = np.nonzero(np.triu(jac >= threshold, k=1))
        ids = np.asarray(docs["doc_id"])[idx]
        pairs += [(int(min(ids[i], ids[j])), int(max(ids[i], ids[j]))) for i, j in zip(a, b)]
    return sorted(pairs)


def components(doc_ids: Iterable[int], pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """(doc_id, component) for every doc in ``doc_ids``: the component
    is the least doc id reachable over pairs whose ends are both in the
    batch -- ``neardup_components``' contract."""
    ids = sorted(doc_ids)
    parent = {d: d for d in ids}

    def root(d: int) -> int:
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d

    for a, b in pairs:
        if a in parent and b in parent:
            ra, rb = root(a), root(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return [(d, root(d)) for d in ids]

"""Seeded synthetic corpus for the ``corpus_curation`` workload.

The corpus is a pure function of (seed, sizes). Documents are sentences of
words drawn from a seeded vocabulary, with these planted properties:

- ``EXACT_DUP_RATE`` of the documents are exact duplicates of an original:
  the same text up to case and whitespace, which the fingerprint gate
  canonicalizes away.
- ``NEAR_DUP_RATE`` of the documents are near duplicates of an original:
  the same text with ``NEAR_DUP_EDITS`` of its words replaced, so their
  3-word shingle sets overlap heavily and MinHash-LSH should pair them.
- ``LOW_QUALITY_RATE`` of the documents are symbol-laden originals that
  fail the Gopher-style quality gate.
- Every document has a unit-norm embedding. The first ``N_QUERIES``
  originals are the query set; each has ``NEIGHBOURS`` planted neighbours
  (other originals whose embedding is the query's plus a little noise),
  so an exact top-k returns exactly the planted set.

Duplicates never copy a low-quality document, a query or a planted
neighbour, so every planted relation survives the upstream gates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_DOCS = 4000
N_QUERIES = 16
NEIGHBOURS = 5
EMBED_DIM = 32
WORDS_PER_DOC = (60, 120)
VOCAB_SIZE = 3000
EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.05
NEAR_DUP_EDITS = 0.03
LOW_QUALITY_RATE = 0.04

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")


def describe() -> dict:
    """The corpus parameters, for the benchmark's report."""
    return {
        "n_docs": N_DOCS,
        "n_queries": N_QUERIES,
        "neighbours_per_query": NEIGHBOURS,
        "embed_dim": EMBED_DIM,
        "words_per_doc": list(WORDS_PER_DOC),
        "vocab_size": VOCAB_SIZE,
        "exact_dup_rate": EXACT_DUP_RATE,
        "near_dup_rate": NEAR_DUP_RATE,
        "near_dup_edit_rate": NEAR_DUP_EDITS,
        "low_quality_rate": LOW_QUALITY_RATE,
    }


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def build(seed: int) -> tuple[pd.DataFrame, dict]:
    """Return (docs, truth).

    ``docs`` has columns doc_id (long), text (string) and embedding
    (list of float). ``truth`` holds the planted relations:
    exact_dup_ids, near_dup_of (dup id -> original id), low_quality_ids,
    query_ids and neighbours (query id -> sorted neighbour ids).
    """
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0xC0]))
    vocab = _vocab(rng)
    # Zipf-like word frequencies, plus stopwords so the quality gate's
    # English-text bands are met.
    freq = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 0.8
    freq /= freq.sum()

    n_exact = int(N_DOCS * EXACT_DUP_RATE)
    n_near = int(N_DOCS * NEAR_DUP_RATE)
    n_low = int(N_DOCS * LOW_QUALITY_RATE)
    n_orig = N_DOCS - n_exact - n_near

    def sentence() -> list[str]:
        n = int(rng.integers(WORDS_PER_DOC[0], WORDS_PER_DOC[1] + 1))
        words = list(rng.choice(vocab, n, p=freq))
        for pos in rng.choice(n, n // 8, replace=False):
            words[pos] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
        return words

    texts: list[str] = []
    for _ in range(n_orig):
        texts.append(" ".join(sentence()))
    # Low-quality originals: every word wrapped in symbols.
    low_ids = rng.choice(np.arange(n_orig), n_low, replace=False)
    for i in low_ids:
        texts[i] = " ".join(f"#{w}$%" for w in texts[i].split(" "))

    emb = rng.standard_normal((N_DOCS, EMBED_DIM))
    protected = set(int(i) for i in low_ids)
    pool = [i for i in range(n_orig) if i not in protected]
    queries = [int(i) for i in rng.choice(pool, N_QUERIES, replace=False)]
    protected.update(queries)
    neighbours: dict[int, list[int]] = {}
    pool = [i for i in range(n_orig) if i not in protected]
    picked = rng.choice(pool, N_QUERIES * NEIGHBOURS, replace=False)
    for qi, q in enumerate(queries):
        nb = [int(i) for i in picked[qi * NEIGHBOURS : (qi + 1) * NEIGHBOURS]]
        for i in nb:
            emb[i] = emb[q] + 0.05 * rng.standard_normal(EMBED_DIM)
        neighbours[q] = nb
        protected.update(nb)
    sources = np.array([i for i in range(n_orig) if i not in protected])

    exact_ids: list[int] = []
    near_of: dict[int, int] = {}
    for k in range(n_exact):
        src = int(rng.choice(sources))
        words = texts[src].split(" ")
        # Same canonical text: upper-cased first word, doubled spaces.
        words[0] = words[0].upper()
        texts.append("  ".join(words) + " ")
        exact_ids.append(n_orig + k)
    for k in range(n_near):
        src = int(rng.choice(sources))
        words = texts[src].split(" ")
        n_edit = max(1, int(len(words) * NEAR_DUP_EDITS))
        for pos in rng.choice(len(words), n_edit, replace=False):
            words[pos] = str(rng.choice(vocab))
        texts.append(" ".join(words))
        near_of[n_orig + n_exact + k] = src

    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    # doc ids are 1-based and shuffled so planted copies are not simply
    # the highest ids.
    perm = rng.permutation(N_DOCS)
    new_id = {int(old): int(pos) + 1 for pos, old in enumerate(perm)}
    docs = pd.DataFrame(
        {
            "doc_id": np.array([new_id[i] for i in range(N_DOCS)], dtype=np.int64),
            "text": texts,
            "embedding": [row.astype(np.float64).tolist() for row in emb],
        }
    ).sort_values("doc_id", ignore_index=True)
    truth = {
        "exact_dup_ids": sorted(new_id[i] for i in exact_ids),
        "near_dup_of": {new_id[d]: new_id[s] for d, s in near_of.items()},
        "low_quality_ids": sorted(new_id[int(i)] for i in low_ids),
        "query_ids": sorted(new_id[q] for q in queries),
        "neighbours": {
            new_id[q]: sorted(new_id[i] for i in nb) for q, nb in neighbours.items()
        },
    }
    return docs, truth

"""Seeded corpus generator for the benchmark workloads.

A corpus is a function of (generator version, workload, seed, size).
It is written as ONE parquet file, `documents.parquet` (doc_id int64,
text string), because the engine picks its join strategy from the
source-file bytes (`MinHashLsh.corpusIsBounded`, 2 MB cut): an
in-memory frame would always take the unbounded path.

Two vocabularies, both with ~5 % planted near-duplicates (doc ids with
id % 20 == 19 copy doc id-1 with 5 % of word positions resampled, so
their char-3-gram Jaccard is ~0.9):

  realistic    10,000 random 3-10-letter words drawn Zipf(1.07): the
               background Jaccard is near 0, so the band self-join
               admits little beyond the planted pairs.
  adversarial  the 30 common words of the sf0.1 documents table, drawn
               uniformly: background Jaccard ~0.46, so ~10 % of all
               pairs collide in some band (candidate-heavy).

Doc lengths are uniform over 10..99 words, the shape of the sf0.1
documents table. Generation is vectorised; only the final string join
loops over documents.
"""
import os
import string
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1

ADVERSARIAL_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()


def _realistic_vocab(size=10000):
    rng = np.random.default_rng(611)
    letters = np.array(list(string.ascii_lowercase))
    words, seen = [], set()
    while len(words) < size:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 11))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** 1.07
    cdf = np.cumsum(p / p.sum())
    cdf[-1] = 1.0  # a draw in [cdf[-1], 1.0) must not index past the end
    return np.array(words), cdf


def _draw_words(vocab, rng, kind, n):
    if kind == "realistic":
        words, cdf = vocab
        return np.searchsorted(cdf, rng.random(n))
    return rng.integers(0, len(vocab), n)


def generate_texts(kind, seed, n_docs):
    """The texts of doc ids 0..n_docs-1, in id order."""
    if kind == "realistic":
        vocab = _realistic_vocab()
        words = vocab[0]
    elif kind == "adversarial":
        vocab = np.array(ADVERSARIAL_WORDS)
        words = vocab
    else:
        raise ValueError(f"unknown corpus kind {kind!r}")
    rng = np.random.default_rng([VERSION, seed, n_docs, 0 if kind == "realistic" else 1])
    lengths = rng.integers(10, 100, n_docs)
    planted = (np.arange(n_docs) % 20 == 19)
    planted[0] = False
    lengths[planted] = lengths[np.flatnonzero(planted) - 1]
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    idx = _draw_words(vocab, rng, kind, int(lengths.sum()))
    # a planted doc copies its predecessor's words, then resamples 5 %
    for d in np.flatnonzero(planted):
        s, p, n = starts[d], starts[d - 1], lengths[d]
        base = idx[p:p + n].copy()
        repl = rng.random(n) < 0.05
        base[repl] = _draw_words(vocab, rng, kind, int(repl.sum()))
        idx[s:s + n] = base
    toks = words[idx]
    return [" ".join(toks[s:s + n]) for s, n in zip(starts, lengths)]


def write_corpus(kind, seed, n_docs, out_dir):
    """Generate and write `out_dir/documents.parquet`; returns
    (generation seconds, parquet bytes)."""
    t0 = time.perf_counter()
    texts = generate_texts(kind, seed, n_docs)
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, "documents.parquet.tmp")
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
    }), tmp)
    os.replace(tmp, os.path.join(out_dir, "documents.parquet"))
    return time.perf_counter() - t0, os.path.getsize(os.path.join(out_dir, "documents.parquet"))

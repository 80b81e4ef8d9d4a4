"""Seeded WordCount corpus: a Zipf token stream over the sf0.1 `documents`
words, each with an integer suffix.

The `documents` text alone has 31 distinct words, which would leave the
shuffle with nothing to carry, so word j of the vocabulary is
`base[j % B] + str(j // B)`. The seed permutes which word gets which Zipf
rank and draws the tokens, so the same seed gives the same bytes and a
different seed gives different ones, at the same size and distinct ratio.
"""
import hashlib

import numpy as np
import pyarrow.parquet as pq

TOKENS = 2_000_000
VOCAB = 110_000
EXPONENT = 1.0
LINE_TOKENS = 12


def base_words(sf_dir):
    text = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"]).column(0)
    words = set()
    for t in text.to_pylist():
        if t:
            words.update(t.split())
    return sorted(words)


def digest(lines):
    """sha256 of `word count` lines, newline-terminated, in the given order."""
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def generate(seed, base, tokens=TOKENS, vocab=VOCAB, exponent=EXPONENT):
    """Returns (text, expected, stats): the corpus text, its expected
    `word count` lines in ascending word order, and its measured
    properties."""
    rng = np.random.default_rng(seed)
    b = len(base)
    words = np.array([base[j % b] + str(j // b) for j in range(vocab)], dtype=object)
    rank_word = rng.permutation(vocab)
    weights = 1.0 / np.arange(1, vocab + 1) ** exponent
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    ranks = np.minimum(np.searchsorted(cdf, rng.random(tokens)), vocab - 1)
    ids = rank_word[ranks]
    toks = words[ids]
    lines = [" ".join(toks[i:i + LINE_TOKENS]) for i in range(0, tokens, LINE_TOKENS)]
    text = "\n".join(lines) + "\n"
    counts = np.bincount(ids, minlength=vocab)
    present = np.nonzero(counts)[0]
    order = sorted(present.tolist(), key=lambda j: words[j])
    expected = [f"{words[j]} {counts[j]}" for j in order]
    stats = {
        "bytes": len(text.encode()),
        "tokens": tokens,
        "distinct": len(expected),
        "distinct_ratio": len(expected) / tokens,
        "digest": digest(expected),
    }
    return text, expected, stats

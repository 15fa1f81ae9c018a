"""Seeded document replicator for the curation_ingest workload.

Writes ``docs.tsv`` (batch, doc_id, text per line) in fixed-size
micro-batches shaped like the repository's ``documents`` table: prose of
12-119 words, about one word in ten an English stopword. A fixed share
of each batch is junk that the quality gate drops, exact duplicates of
earlier documents, and near-duplicate variants of earlier documents
that differ in letter case and spacing only. The variants hash
differently as bytes but tokenize identically, so every correct
near-duplicate admission rejects them, while distinct documents (drawn
from a 4,000-word vocabulary) share no shingles. ``expected.json``
records the admitted-document count after each batch. Values are drawn
from numpy's PCG64 seeded with ``seed``: the same seed gives
byte-identical files.

Usage: python3 perfbench/gen_docs.py <out_dir> <seed> <batches> <batch_size>
"""
import json
import os
import sys

import numpy as np

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
             "was", "for", "on", "with", "as", "at", "by", "it", "this",
             "that"]
JUNK = ["@@@@", "####", "!!!!", "%%%%", "&&&&", "$$$$"]
SHARES = {"junk": 0.05, "exact": 0.05, "variant": 0.05}


def vocabulary(size=4000):
    """Fixed pseudo-words of two to four consonant-vowel syllables."""
    rng = np.random.Generator(np.random.PCG64(20240501))
    cons, vows = "bdfgklmnprstvz", "aeiou"
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        words.add("".join(cons[int(rng.integers(len(cons)))] +
                          vows[int(rng.integers(len(vows)))] for _ in range(k)))
    return sorted(words)


def _variant(rng, text):
    """Same tokens after lower-casing and whitespace splitting."""
    words = text.split(" ")
    caps = rng.random(len(words)) < 0.3
    gaps = rng.random(len(words)) < 0.2
    out = []
    for w, c, g in zip(words, caps.tolist(), gaps.tolist()):
        out.append((w.upper() if c else w) + (" " if g else ""))
    return " ".join(out) + " "


def main(out_dir, seed, batches, batch_size):
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = vocabulary()
    os.makedirs(out_dir, exist_ok=True)
    prose = []          # earlier prose texts, duplicate sources
    seen = set()        # token sequences admitted so far
    admitted_cum, offered = [], 0
    kinds = list(SHARES) + ["prose"]
    probs = list(SHARES.values()) + [1.0 - sum(SHARES.values())]
    doc_id = 0
    with open(os.path.join(out_dir, "docs.tsv"), "w", encoding="utf-8") as f:
        for b in range(batches):
            for kind in rng.choice(kinds, batch_size, p=probs).tolist():
                if kind != "prose" and kind != "junk" and not prose:
                    kind = "prose"
                if kind == "junk":
                    text = " ".join(rng.choice(JUNK, int(rng.integers(12, 40))))
                elif kind == "exact":
                    text = prose[int(rng.integers(len(prose)))]
                elif kind == "variant":
                    text = _variant(rng, prose[int(rng.integers(len(prose)))])
                else:
                    n = int(rng.integers(12, 120))
                    stop = rng.random(n) < 0.1
                    words = rng.integers(0, len(vocab), n).tolist()
                    stops = rng.integers(0, len(STOPWORDS), n).tolist()
                    text = " ".join(STOPWORDS[s] if st else vocab[w]
                                    for w, s, st in zip(words, stops,
                                                        stop.tolist()))
                    prose.append(text)
                if kind != "junk":
                    seen.add(tuple(text.lower().split()))
                f.write(f"{b}\t{doc_id}\t{text}\n")
                doc_id += 1
                offered += 1
            admitted_cum.append(len(seen))
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump({"batch_size": batch_size, "admitted_cum": admitted_cum,
                   "doc_bytes": os.path.getsize(os.path.join(out_dir,
                                                             "docs.tsv"))},
                  f, indent=1)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))

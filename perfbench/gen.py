"""Seeded input generator for the benchmark.

Kept apart from the package so that an edit to ``searchengine_spark`` can
never change what the benchmark feeds it. Everything is a pure function of
``(seed, sizes)``: the same arguments give byte-identical inputs, and
:func:`input_hash` records which inputs a result was measured on.

Text shape:

- a letters-only vocabulary (the index tokenizer strips digits and drops
  1-char tokens, so ``t01234``-style terms would vanish from the index);
- Zipf-distributed word ranks (``s`` = 1.05), 80-160 words per document;
- two ``import pkgN.modM`` lines per document, targets inside the corpus,
  so the link-graph (edges) stage has work;
- about 2% exact duplicate contents under other paths (the dedup path).

One set of texts is emitted in two shapes: a ``corpus`` frame
``(repo, path, commit, lang, content)`` for the index build, and a
``documents`` frame ``(doc_id, source, text)`` for the serving index.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
ZIPF_S = 1.05
MIN_WORDS, MAX_WORDS = 80, 160
N_PKGS = 11
HEAD_RANKS = 50  # query terms skip the most frequent ranks
PHRASE_EVERY = 10  # queries 0, 10, 20, ... are quoted 2-word phrases


@dataclass(frozen=True)
class Corpus:
    vocab: np.ndarray  # rank-ordered terms (rank 0 = most frequent)
    texts: list[str]  # one per document, duplicates included
    word_ids: list[np.ndarray]  # vocabulary ranks of each text's body words
    paths: list[str]
    repos: list[str]

    @property
    def n_docs(self) -> int:
        return len(self.texts)


def make_vocab(rng: np.random.Generator, n_terms: int) -> np.ndarray:
    """``n_terms`` distinct lowercase words of 3-10 letters, in a seeded
    order (position in the array = Zipf rank)."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n_terms:
        need = n_terms - len(out)
        lens = rng.integers(3, 11, size=need * 2)
        letters = rng.integers(0, 26, size=int(lens.sum()))
        pos = 0
        for n in lens:
            w = "".join(LETTERS[letters[pos : pos + n]])
            pos += n
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n_terms:
                    break
    return np.array(out, dtype=object)


def zipf_probs(n_terms: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n_terms + 1, dtype=np.float64) ** s
    return p / p.sum()


def generate(seed: int, n_docs: int, n_terms: int) -> Corpus:
    """``n_docs`` unique texts plus ``n_docs // 50`` exact duplicates."""
    rng = np.random.default_rng(seed)
    vocab = make_vocab(rng, n_terms)
    cum = np.cumsum(zipf_probs(n_terms))
    lens = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_docs)
    ranks = np.searchsorted(cum, rng.random(int(lens.sum())), side="right")
    ranks = np.minimum(ranks, n_terms - 1)
    targets = rng.integers(0, n_docs, size=(n_docs, 2))
    starts = np.concatenate([[0], np.cumsum(lens)])
    texts, word_ids, paths, repos = [], [], [], []
    for i in range(n_docs):
        ids = ranks[starts[i] : starts[i + 1]]
        imports = "\n".join(f"import pkg{t % N_PKGS}.mod{t}" for t in targets[i])
        texts.append(imports + "\n" + " ".join(vocab[ids]))
        word_ids.append(ids)
        paths.append(f"src/pkg{i % N_PKGS}/mod{i}.py")
        repos.append(f"org{i % 7}/repo{i % 23}")
    for d, src in enumerate(rng.choice(n_docs, size=n_docs // 50, replace=False)):
        texts.append(texts[src])
        word_ids.append(word_ids[src])
        paths.append(f"src/dup/copy{d}.py")
        repos.append(f"org{d % 7}/mirror{d % 5}")
    return Corpus(vocab, texts, word_ids, paths, repos)


def corpus_frame(c: Corpus) -> pd.DataFrame:
    """The build input: ``(repo, path, commit, lang, content)``."""
    commits = [
        hashlib.sha1(f"{r}/{p}".encode()).hexdigest() for r, p in zip(c.repos, c.paths)
    ]
    return pd.DataFrame(
        {
            "repo": c.repos,
            "path": c.paths,
            "commit": commits,
            "lang": ["py"] * c.n_docs,
            "content": c.texts,
        }
    )


def documents_frame(c: Corpus) -> pd.DataFrame:
    """The serving input: ``(doc_id, source, text)``."""
    return pd.DataFrame(
        {
            "doc_id": np.arange(c.n_docs, dtype=np.int64),
            "source": [r.split("/")[0] for r in c.repos],
            "text": c.texts,
        }
    )


def input_hash(*frames: pd.DataFrame) -> str:
    """sha256 over every cell of the given frames, in row order."""
    h = hashlib.sha256()
    for df in frames:
        h.update(",".join(df.columns).encode())
        for col in df.columns:
            h.update(pd.util.hash_pandas_object(df[col], index=False).values.tobytes())
    return h.hexdigest()


def search_queries(c: Corpus, rng: np.random.Generator, n: int) -> list[str]:
    """REST query strings in a fixed mix, so every seed loads the same
    paths: query ``i`` is a quoted 2-word phrase copied from adjacent,
    distinct body words of a random document when ``i % PHRASE_EVERY ==
    0``, so even a short run sends one; the others cycle through 1, 2 and 3 mid/tail
    vocabulary terms that occur in the corpus."""
    seen = np.zeros(len(c.vocab), dtype=bool)
    for ids in c.word_ids:
        seen[ids] = True
    pool = np.flatnonzero(seen)
    pool = pool[pool >= HEAD_RANKS]
    out = []
    for i in range(n):
        if i % PHRASE_EVERY == 0:
            while True:
                ids = c.word_ids[int(rng.integers(0, c.n_docs))]
                j = int(rng.integers(0, len(ids) - 1))
                if ids[j] != ids[j + 1]:
                    break
            out.append('"' + " ".join(c.vocab[ids[j : j + 2]]) + '"')
        else:
            k = i % 3 + 1
            out.append(" ".join(c.vocab[rng.choice(pool, size=k, replace=False)]))
    return out

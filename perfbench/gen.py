"""Seeded input generators for the benchmark.

Every input the benchmark feeds the engine comes from here and depends only
on a seed and the sizes below: the Zipf and uniform corpora, and the query,
phrase and seek streams. The engine only ever sees the generated rows.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Zipf corpus shape: a 20k-term vocabulary, rank-frequency exponent s, and
# lognormal document lengths with mean ZIPF_MEAN_DL tokens.
ZIPF_VOCAB = 20_000
ZIPF_S = 1.07
ZIPF_MEAN_DL = 53.0
ZIPF_DL_SIGMA = 0.6

# Uniform corpus shape: the 30 common words of the engine's reference corpus
# drawn uniformly, lengths uniform in [10, 99], and the rare word "dup" in
# about 5% of documents.
UNIFORM_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
UNIFORM_RARE = "dup"
UNIFORM_RARE_FRAC = 0.05

# The engine's metadata prune ships payloads for terms at or below this df
# (query/search.py SPARSE_DF_MAX); "head" query terms must sit above it.
HEAD_DF_MIN = 65_537
SELECTIVE_DF = (100, 1000)

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass
class Corpus:
    doc_ids: np.ndarray  # int64, ascending
    texts: list[str]
    vocab: np.ndarray  # term strings (object array)
    doc_terms: list[np.ndarray]  # token ids per doc, in order

    def __len__(self) -> int:
        return len(self.texts)

    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts)

    def postings(self) -> int:
        return sum(int(np.unique(t).size) for t in self.doc_terms)

    def df(self) -> np.ndarray:
        """Document frequency per vocabulary id."""
        out = np.zeros(len(self.vocab), dtype=np.int64)
        for t in self.doc_terms:
            out[np.unique(t)] += 1
        return out

    def write_parquet(self, path: str) -> None:
        table = pa.table(
            {"doc_id": pa.array(self.doc_ids, pa.int64()), "text": pa.array(self.texts, pa.string())}
        )
        pq.write_table(table, path)


def _zipf_vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct lowercase pseudo-words, in random rank order."""
    words: set[str] = set()
    while len(words) < n:
        lens = rng.integers(3, 10, size=n)
        for ln in lens:
            words.add("".join(rng.choice(_LETTERS, size=int(ln))))
            if len(words) == n:
                break
    out = np.array(sorted(words), dtype=object)
    rng.shuffle(out)
    return out


def _render(vocab: np.ndarray, doc_terms: list[np.ndarray]) -> list[str]:
    return [" ".join(vocab[t].tolist()) for t in doc_terms]


def _split(tokens: np.ndarray, lengths: np.ndarray) -> list[np.ndarray]:
    return np.split(tokens, np.cumsum(lengths)[:-1])


def zipf_corpus(rng: np.random.Generator, n_docs: int) -> Corpus:
    vocab = _zipf_vocab(rng, ZIPF_VOCAB)
    p = np.arange(1, ZIPF_VOCAB + 1, dtype=np.float64) ** -ZIPF_S
    mu = np.log(ZIPF_MEAN_DL) - ZIPF_DL_SIGMA**2 / 2
    lengths = np.maximum(1, np.rint(rng.lognormal(mu, ZIPF_DL_SIGMA, size=n_docs))).astype(np.int64)
    tokens = rng.choice(ZIPF_VOCAB, size=int(lengths.sum()), p=p / p.sum())
    doc_terms = _split(tokens, lengths)
    return Corpus(np.arange(n_docs, dtype=np.int64), _render(vocab, doc_terms), vocab, doc_terms)


def uniform_corpus(rng: np.random.Generator, n_docs: int) -> Corpus:
    vocab = np.array(UNIFORM_WORDS + [UNIFORM_RARE], dtype=object)
    lengths = rng.integers(10, 100, size=n_docs)
    tokens = rng.integers(0, len(UNIFORM_WORDS), size=int(lengths.sum()))
    doc_terms = _split(tokens, lengths)
    rare = np.flatnonzero(rng.random(n_docs) < UNIFORM_RARE_FRAC)
    rare_id = len(UNIFORM_WORDS)
    for d in rare:
        t = doc_terms[d].copy()
        t[rng.integers(0, t.size)] = rare_id
        doc_terms[d] = t
    return Corpus(
        np.arange(n_docs, dtype=np.int64), _render(vocab, doc_terms), vocab, doc_terms
    )


def zipf_queries(rng: np.random.Generator, vocab: np.ndarray, df: np.ndarray, n: int) -> list[str]:
    """Two head terms (df above the prune's sparse limit) + one selective
    term (df in SELECTIVE_DF) per query."""
    head = np.flatnonzero(df >= HEAD_DF_MIN)
    sel = np.flatnonzero((df >= SELECTIVE_DF[0]) & (df <= SELECTIVE_DF[1]))
    if head.size < 2 or sel.size == 0:
        raise ValueError(
            f"corpus too small for the zipf query mix: {head.size} head terms, "
            f"{sel.size} selective terms"
        )
    out = []
    for _ in range(n):
        h = rng.choice(head, size=2, replace=False)
        s = rng.choice(sel)
        out.append(" ".join(vocab[[h[0], h[1], s]].tolist()))
    return out


def uniform_queries(rng: np.random.Generator, vocab: np.ndarray, reference: list[str], n: int) -> list[str]:
    """Half drawn from the engine's reference queries, half 1-4 words drawn
    from the corpus vocabulary."""
    out = []
    for _ in range(n):
        if rng.random() < 0.5:
            out.append(reference[int(rng.integers(len(reference)))])
        else:
            k = int(rng.integers(1, 5))
            out.append(" ".join(rng.choice(vocab, size=k, replace=False).tolist()))
    return out


def phrases_from_texts(rng: np.random.Generator, texts: list[str], n: int) -> list[str]:
    """2-3 adjacent tokens cut from random documents."""
    out = []
    while len(out) < n:
        t = texts[int(rng.integers(len(texts)))].split()
        ln = int(rng.integers(2, 4))
        if len(t) < ln:
            continue
        i = int(rng.integers(0, len(t) - ln + 1))
        out.append(" ".join(t[i : i + ln]))
    return out


def seek_keys(
    rng: np.random.Generator, vocab: np.ndarray, df: np.ndarray, n_docs: int, n: int
) -> list[tuple[str, int]]:
    """(term, target doc) pairs: terms drawn in proportion to their df, so
    seeks land on the long posting lists the block index exists for."""
    p = df.astype(np.float64)
    terms = rng.choice(len(vocab), size=n, p=p / p.sum())
    targets = rng.integers(0, n_docs, size=n)
    return [(str(vocab[t]), int(x)) for t, x in zip(terms, targets)]

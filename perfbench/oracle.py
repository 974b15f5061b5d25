"""Reference answers, and the comparison that counts mismatches.

`Oracle` runs the engine's own oracle SQL (`bm25_oracle_sql`,
`bm25_phrase_oracle_sql`) and a first-posting-at-or-after-target query in
DuckDB over the generated documents the engine indexed. `Reference`
computes the same answers in NumPy, fast enough to check every result of a
serve run.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np

from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE, sql_term_doc_tf
from grenad_spark.query.bm25 import B, K1, SCORE_DECIMALS, bm25_oracle_sql, bm25_phrase_oracle_sql

# Both engines round scores to 4 decimals; allow one unit in the last place.
SCORE_TOL = 1.5e-4


class Oracle:
    """DuckDB over one generated corpus (a parquet file of doc_id, text)."""

    def __init__(self, docs_parquet: str, threads: int, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {int(threads)}")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.con.execute(
            f"CREATE TABLE documents AS SELECT doc_id, text FROM read_parquet('{docs_parquet}')"
        )

    def close(self) -> None:
        self.con.close()

    def topk(self, queries: list[str], k: int) -> dict[str, list[tuple[int, float]]]:
        """query text -> [(doc_id, score)] in rank order."""
        texts = sorted(set(queries))
        return self._ranked(bm25_oracle_sql(list(enumerate(texts)), k=k), texts)

    def phrase_topk(self, phrases: list[str], k: int) -> dict[str, list[tuple[int, float]]]:
        texts = sorted(set(phrases))
        return self._ranked(bm25_phrase_oracle_sql(list(enumerate(texts)), k=k), texts)

    def _ranked(self, sql: str, texts: list[str]) -> dict[str, list[tuple[int, float]]]:
        out: dict[str, list[tuple[int, float]]] = {t: [] for t in texts}
        rows = self.con.execute(
            f"SELECT query_id, doc_id, score FROM ({sql}) ORDER BY query_id, score DESC, doc_id"
        ).fetchall()
        for qid, doc, score in rows:
            out[texts[qid]].append((int(doc), float(score)))
        return out

    def seeks(self, keys: list[tuple[str, int]]) -> dict[tuple[str, int], tuple[int, int]]:
        """(term, target) -> (doc_id, tf) of the term's first posting at or
        after target; absent when the term has none."""
        self.con.execute("CREATE OR REPLACE TEMP TABLE seek_keys (term VARCHAR, target BIGINT)")
        self.con.executemany("INSERT INTO seek_keys VALUES (?, ?)", sorted(set(keys)))
        rows = self.con.execute(
            f"""
            WITH tdt AS ({sql_term_doc_tf('documents')})
            SELECT k.term, k.target, min(p.doc_id) AS doc_id,
                   arg_min(p.tf, p.doc_id) AS tf
            FROM seek_keys k JOIN tdt p ON p.term = k.term AND p.doc_id >= k.target
            GROUP BY k.term, k.target
            """
        ).fetchall()
        return {(t, int(x)): (int(d), int(tf)) for t, x, d, tf in rows}


def ranked_rows(rows, n: int) -> list[list[tuple[int, float]]] | None:
    """Engine output rows (query_id, doc_id, score) -> one ranking per query
    id in [0, n); None when a row names a query id outside that range."""
    out: list[list[tuple[int, float]]] = [[] for _ in range(n)]
    for r in rows:
        q = int(r[0])
        if not 0 <= q < n:
            return None
        out[q].append((int(r[1]), float(r[2])))
    return [sorted(hits, key=lambda h: (-h[1], h[0])) for hits in out]


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    if len(got) != len(want):
        return False
    return all(
        gd == wd and abs(gs - ws) <= SCORE_TOL for (gd, gs), (wd, ws) in zip(got, want)
    )


class Reference:
    """The same three answers computed in NumPy from the token streams.

    The DuckDB oracle needs tens of seconds per run for the serve mixes (the
    head terms of every query join ~80k postings); this answers in about a
    second. perfbench/selftest.py requires it to agree with the DuckDB
    oracle above on generated corpora of both shapes.
    """

    def __init__(self, doc_ids, ptr, tok, vocab: list[str], postings=None):
        self.doc_ids = doc_ids
        self.ptr = ptr  # token offsets per doc
        self.tok = tok  # term id per token, docs concatenated
        self.vocab = vocab
        self.term_id = {t: i for i, t in enumerate(vocab)}
        n = doc_ids.size
        self.dl = np.diff(ptr).astype(np.float64)
        self.avgdl = float(self.dl.mean())
        self.n_docs = float(n)
        self.doc_of_tok = np.repeat(np.arange(n), np.diff(ptr))
        if postings is None:
            key = tok.astype(np.int64) * n + self.doc_of_tok
            uniq, tf = np.unique(key, return_counts=True)
            postings = (uniq % n, tf, np.searchsorted(uniq // n, np.arange(len(vocab) + 1)))
        # per term, in term-id order: doc indexes ascending, and their tf
        self.post_doc, self.post_tf, self.term_ptr = postings

    @classmethod
    def from_texts(cls, doc_ids, texts: list[str]) -> "Reference":
        vocab: dict[str, int] = {}
        ids, lens = [], []
        for text in texts:
            toks = [t for t in re.split(TOKEN_SPLIT_RE, text.lower()) if t]
            ids.extend(vocab.setdefault(t, len(vocab)) for t in toks)
            lens.append(len(toks))
        ptr = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
        return cls(np.asarray(doc_ids, dtype=np.int64), ptr, np.array(ids, dtype=np.int32), list(vocab))

    def save(self, path: str) -> None:
        np.savez(
            path, doc_ids=self.doc_ids, ptr=self.ptr, tok=self.tok, vocab=np.array(self.vocab),
            post_doc=self.post_doc, post_tf=self.post_tf, term_ptr=self.term_ptr,
        )

    @classmethod
    def load(cls, path: str) -> "Reference":
        z = np.load(path)
        return cls(
            z["doc_ids"], z["ptr"], z["tok"], z["vocab"].tolist(),
            (z["post_doc"], z["post_tf"], z["term_ptr"]),
        )

    def _terms(self, text: str) -> list[int]:
        seen: dict[int, None] = {}
        for t in re.split(TOKEN_SPLIT_RE, text.lower()):
            if t in self.term_id:
                seen[self.term_id[t]] = None
        return list(seen)

    def _contrib(self) -> np.ndarray:
        """BM25 contribution of every posting, computed once."""
        if not hasattr(self, "_post_score"):
            df = np.diff(self.term_ptr).astype(np.float64)
            idf = np.log(1 + (self.n_docs - df + 0.5) / (df + 0.5))
            tf = self.post_tf.astype(np.float64)
            norm = K1 * (1 - B + B * self.dl[self.post_doc] / self.avgdl)
            self._post_score = np.repeat(idf, np.diff(self.term_ptr)) * tf * (K1 + 1) / (tf + norm)
        return self._post_score

    def _scores(self, terms: list[int], docs: np.ndarray | None = None):
        """(doc index, BM25 score) over the docs holding any of `terms`,
        restricted to `docs` when given."""
        contrib = self._contrib()
        sl = [slice(self.term_ptr[t], self.term_ptr[t + 1]) for t in terms]
        if not sl:
            return np.empty(0, dtype=np.int64), np.empty(0)
        d = np.concatenate([self.post_doc[s] for s in sl])
        w = np.concatenate([contrib[s] for s in sl])
        if docs is not None:
            keep = np.isin(d, docs)
            d, w = d[keep], w[keep]
        n = self.doc_ids.size
        hit = np.flatnonzero(np.bincount(d, minlength=n))
        scores = np.bincount(d, weights=w, minlength=n)[hit]
        return hit, np.round(scores, SCORE_DECIMALS)

    def _top(self, docs: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
        if scores.size > k:  # keep the k best scores and every doc tied with them
            keep = scores >= np.partition(scores, -k)[-k]
            docs, scores = docs[keep], scores[keep]
        ids = self.doc_ids[docs]
        order = np.lexsort((ids, -scores))[:k]
        return [(int(ids[i]), float(scores[i])) for i in order]

    def topk(self, queries: list[str], k: int) -> dict[str, list[tuple[int, float]]]:
        return {q: self._top(*self._scores(self._terms(q)), k) for q in set(queries)}

    def phrase_topk(self, phrases: list[str], k: int) -> dict[str, list[tuple[int, float]]]:
        out = {}
        for p in set(phrases):
            toks = [t for t in re.split(TOKEN_SPLIT_RE, p.lower()) if t]
            if not toks or any(t not in self.term_id for t in toks):
                out[p] = []
                continue
            ids = [self.term_id[t] for t in toks]
            n = len(ids)
            starts = np.flatnonzero(self.tok[: self.tok.size - n + 1] == ids[0])
            for j, t in enumerate(ids[1:], 1):
                starts = starts[self.tok[starts + j] == t]
            # an occurrence must not run across a document boundary
            starts = starts[self.doc_of_tok[starts] == self.doc_of_tok[starts + n - 1]]
            docs = np.unique(self.doc_of_tok[starts])
            out[p] = self._top(*self._scores(list(dict.fromkeys(ids)), docs), k)
        return out

    def seeks(self, keys: list[tuple[str, int]]) -> dict[tuple[str, int], tuple[int, int]]:
        out = {}
        for term, target in set(keys):
            t = self.term_id.get(term)
            if t is None:
                continue
            lo, hi = self.term_ptr[t], self.term_ptr[t + 1]
            ids = self.doc_ids[self.post_doc[lo:hi]]
            i = int(np.searchsorted(ids, target))
            if i < ids.size:
                out[(term, target)] = (int(ids[i]), int(self.post_tf[lo + i]))
        return out

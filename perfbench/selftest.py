"""Self-test of the benchmark's output checks (no Spark needed).

    python3 perfbench/selftest.py

1. On small generated corpora of both shapes, the NumPy `Reference` that
   serve runs check against must give the same answers as the engine's
   DuckDB oracle SQL.
2. `workloads.check` fed the reference answers themselves must count no
   failure; with one row corrupted (or an exception) in one operation it
   must count exactly that operation as failed.
Exits non-zero if either fails.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import gen, workloads
    from perfbench.oracle import Oracle, Reference

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    failures: list[str] = []
    try:
        rng = np.random.default_rng(7)
        zipf = gen.zipf_corpus(rng, 1500)
        uniform = gen.uniform_corpus(rng, 1500)
        for name, corpus in (("zipf", zipf), ("uniform", uniform)):
            path = os.path.join(work, f"{name}.parquet")
            corpus.write_parquet(path)
            oracle = Oracle(path, threads=2, temp_dir=work)
            try:
                ref = Reference.from_texts(corpus.doc_ids, corpus.texts)
                _agree(name, rng, corpus, oracle, ref, gen, workloads, failures)
                if name == "uniform":
                    _corruptions(rng, corpus, ref, gen, workloads, failures)
            finally:
                oracle.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failures")
    return 1 if failures else 0


def _inputs(rng, corpus, gen):
    df = corpus.df()
    common = corpus.vocab[np.argsort(-df)[:50]]
    queries = [
        " ".join(rng.choice(common, size=int(rng.integers(1, 4)), replace=False).tolist())
        for _ in range(12)
    ] + ["spark window", "dup", "notaword"]
    phrases = gen.phrases_from_texts(rng, corpus.texts, 8) + ["notaword spark"]
    keys = gen.seek_keys(rng, corpus.vocab, df, len(corpus), 40)
    return queries, phrases, keys


def _agree(name, rng, corpus, oracle, ref, gen, workloads, failures) -> None:
    queries, phrases, keys = _inputs(rng, corpus, gen)
    for what, a, b in (
        ("topk", oracle.topk(queries, workloads.K), ref.topk(queries, workloads.K)),
        ("phrase", oracle.phrase_topk(phrases, workloads.K), ref.phrase_topk(phrases, workloads.K)),
    ):
        for text in a:
            if not workloads.same_ranking(b[text], a[text]):
                failures.append(f"{name} {what} {text!r}: reference {b[text][:3]} != oracle {a[text][:3]}")
    if oracle.seeks(keys) != ref.seeks(keys):
        failures.append(f"{name} seeks: reference != oracle")


def _corruptions(rng, corpus, oracle, gen, workloads, failures) -> None:
    queries, phrases, keys = _inputs(rng, corpus, gen)
    queries = queries[:-1]  # keep only queries with results
    want_q = oracle.topk(queries, workloads.K)
    want_p = oracle.phrase_topk(phrases[:-1], workloads.K)
    phrases = phrases[:-1]
    want_s = oracle.seeks(keys)

    def ranked(kind, texts, want):
        rows = [(i, d, s) for i, t in enumerate(texts) for d, s in want[t]]
        return workloads.Op(kind, texts, rows=rows)

    def seek_op():
        rows = [(i, k[0], *want_s[k]) for i, k in enumerate(keys) if k in want_s]
        return workloads.Op("seek", keys, rows=rows)

    def clean():
        return [
            ranked("single", queries[:1], want_q),
            ranked("batch", queries, want_q),
            ranked("auto", queries, want_q),
            ranked("phrase", phrases, want_p),
            seek_op(),
        ]

    got = workloads.check(clean(), oracle)
    if got != 0:
        failures.append(f"reference results counted {got} failures")

    def corrupt(name, mutate):
        ops = clean()
        mutate(ops)
        got = workloads.check(ops, oracle)
        if got != 1:
            failures.append(f"{name}: {got} failed operations counted, want 1")

    def swap_doc(op):
        r = op.rows[0]
        op.rows[0] = (r[0], r[1] + 1, r[2])

    def bump_score(op):
        r = op.rows[-1]
        op.rows[-1] = (r[0], r[1], r[2] + 0.01)

    def bump_tf(op):
        r = op.rows[0]
        op.rows[0] = (*r[:3], r[3] + 1)

    def fail(op):
        op.rows, op.error = None, "RuntimeError: injected"

    corrupt("single: wrong doc", lambda ops: swap_doc(ops[0]))
    corrupt("batch: wrong score", lambda ops: bump_score(ops[1]))
    corrupt("auto: dropped row", lambda ops: ops[2].rows.pop())
    corrupt("auto: extra row", lambda ops: ops[2].rows.append((0, 10**9, 1.0)))
    corrupt("phrase: wrong doc", lambda ops: swap_doc(ops[3]))
    corrupt("seek: wrong tf", lambda ops: bump_tf(ops[4]))
    corrupt("seek: dropped row", lambda ops: ops[4].rows.pop())
    corrupt("batch: exception", lambda ops: fail(ops[1]))

    # the same query twice in one batch: each copy is checked on its own
    dup = ranked("batch", [queries[0], queries[0]], want_q)
    if workloads.check([dup], oracle) != 0:
        failures.append("batch with a repeated query: reference results counted as failed")
    i = next(j for j, r in enumerate(dup.rows) if r[0] == 0)
    r = dup.rows[i]
    dup.rows[i] = (r[0], r[1] + 1, r[2])
    if workloads.check([dup], oracle) != 1:
        failures.append("batch with a repeated query: a wrong copy passed")


if __name__ == "__main__":
    sys.exit(main())

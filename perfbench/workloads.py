"""The serve workloads: a seeded closed-loop operation mix over a workload's
base index (perfbench/bases.py), and the output checks.

`--seed` draws everything a run sends to the engine: the query, phrase and
seek streams, and their order.
"""

from __future__ import annotations

import re
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.bases import Base
from perfbench.oracle import ranked_rows, same_ranking
from perfbench.trace import Tracer

K = 10
BATCH = 64
PHRASE_BATCH = 32
SEEK_BATCH = 639
# one round of the closed loop, shuffled per round by the run's seed; the
# singles are most of the calls because query_p50_s rests on them alone
ROUND = ["single"] * 12 + ["batch", "auto"]
KINDS = tuple(dict.fromkeys(ROUND))
# A round's time on a 4-core host. `--seconds` sets the round count through
# it, so every host runs the same calls: calls get faster for minutes as the
# JVM compiles the serving code, and a fast host must not measure a warmer JVM.
ROUND_NOMINAL_S = 10.0
# untimed calls before the loop, largest first: the first starts the Python
# workers the others reuse, and the singles take the JVM past its first
# compilations of the single-query path
WARM_UP = ("auto", "batch") + ("single",) * 4
# measured in the traced run only (see perfbench/METRICS.md, "Scope")
SIDE_KINDS = ("phrase", "seek")


@dataclass
class Streams:
    """Seeded operation inputs, drawn lazily so a run can take as many as
    its time allows."""

    workload: str
    base: Base
    rng: np.random.Generator
    _texts: list[str] | None = None

    def _docs_text(self) -> list[str]:
        if self._texts is None:
            self._texts = pq.read_table(self.base.docs_parquet, columns=["text"]).column(0).to_pylist()
        return self._texts

    def queries(self, n: int) -> list[str]:
        b = self.base
        if self.workload == "serve-zipf":
            return gen.zipf_queries(self.rng, b.vocab, b.df, n)
        from grenad_spark.query.bm25 import REFERENCE_QUERIES

        return gen.uniform_queries(self.rng, b.vocab, [q for _, q in REFERENCE_QUERIES], n)

    def phrases(self, n: int) -> list[str]:
        return gen.phrases_from_texts(self.rng, self._docs_text(), n)

    def seeks(self, n: int) -> list[tuple[str, int]]:
        return gen.seek_keys(self.rng, self.base.vocab, self.base.df, len(self._docs_text()), n)


@dataclass
class Op:
    kind: str
    inputs: list
    seconds: float = 0.0
    rows: list | None = None
    error: str | None = None


@dataclass
class Loop:
    ops: list[Op] = field(default_factory=list)
    wall_s: float = 0.0


def run_op(spark, idx, op: Op, tracer) -> None:
    """One engine call, its result collected inside the timed region."""
    layer = {
        "single": "query.search.single",
        "batch": "query.search.batch",
        "auto": "query.search.auto",
        "phrase": "query.phrase",
        "seek": "operators.seek",
    }[op.kind]
    t0 = time.perf_counter()
    try:
        with tracer.span(layer):
            if op.kind == "single":
                df = idx.search(spark, [(0, op.inputs[0])], k=K, mode="wand")
            elif op.kind == "batch":
                df = idx.search_batch(spark, list(enumerate(op.inputs)), k=K)
            elif op.kind == "auto":
                df = idx.search_auto(spark, list(enumerate(op.inputs)), k=K)
            elif op.kind == "phrase":
                df = idx.search_phrase_batch(spark, list(enumerate(op.inputs)), k=K)
            else:
                df = idx.seek_gte(spark, [(i, t, x) for i, (t, x) in enumerate(op.inputs)])
            op.rows = [tuple(r) for r in df.collect()]
    except Exception as e:  # an engine failure is counted, not fatal
        op.error = f"{type(e).__name__}: {e}"[:300]
    op.seconds = time.perf_counter() - t0


def make_op(kind: str, streams: Streams) -> Op:
    if kind == "single":
        return Op(kind, streams.queries(1))
    if kind in ("batch", "auto"):
        return Op(kind, streams.queries(BATCH))
    if kind == "phrase":
        return Op(kind, streams.phrases(PHRASE_BATCH))
    return Op(kind, streams.seeks(SEEK_BATCH))


def warm_up(spark, idx, streams: Streams, kinds=WARM_UP) -> list[Op]:
    """Full-size, untraced calls before timing."""
    ops = []
    for kind in kinds:
        op = make_op(kind, streams)
        run_op(spark, idx, op, Tracer())
        ops.append(op)
    return ops


def rounds(seconds: float) -> int:
    return max(1, round(seconds / ROUND_NOMINAL_S))


def timed_loop(spark, idx, streams: Streams, seconds: float, tracer) -> Loop:
    """Closed loop, one client, no think time: `rounds(seconds)` whole rounds
    of the operation mix, each in a seeded order."""
    loop = Loop()
    t0 = time.perf_counter()
    for _ in range(rounds(seconds)):
        order = list(ROUND)
        streams.rng.shuffle(order)
        for kind in order:
            op = make_op(kind, streams)
            run_op(spark, idx, op, tracer)
            loop.ops.append(op)
    loop.wall_s = time.perf_counter() - t0
    return loop


def check(ops: list[Op], oracle) -> int:
    """Compare every collected result with the reference answers of
    `oracle` (an Oracle or a Reference); returns the number of failed
    operations (exception or any mismatching row)."""
    ok = [op for op in ops if op.error is None]
    texts = sorted({q for op in ok if op.kind in ("single", "batch", "auto") for q in op.inputs})
    phrases = sorted({p for op in ok if op.kind == "phrase" for p in op.inputs})
    keys = sorted({k for op in ok if op.kind == "seek" for k in op.inputs})
    want_q = oracle.topk(texts, K) if texts else {}
    want_p = oracle.phrase_topk(phrases, K) if phrases else {}
    want_s = oracle.seeks(keys) if keys else {}
    failed = 0
    for op in ops:
        if op.error is not None or not result_matches(op, want_q, want_p, want_s):
            failed += 1
    return failed


def result_matches(op: Op, want_q, want_p, want_s) -> bool:
    if op.kind == "seek":
        got = {int(r[0]): (str(r[1]), int(r[2]), int(r[3])) for r in op.rows}
        want = {
            i: (k[0], *want_s[k]) for i, k in enumerate(op.inputs) if k in want_s
        }
        return len(got) == len(op.rows) and got == want
    want = want_p if op.kind == "phrase" else want_q
    got = ranked_rows(op.rows, len(op.inputs))
    return got is not None and all(
        same_ranking(g, want[t]) for g, t in zip(got, op.inputs)
    )


def tokens(q: str) -> list[str]:
    from grenad_spark.functions.tokenize import TOKEN_SPLIT_RE

    seen: dict[str, None] = {}
    for t in re.split(TOKEN_SPLIT_RE, q.lower()):
        if t:
            seen[t] = None
    return list(seen)


def end_to_end(loop: Loop) -> dict[str, float]:
    """query_p50_s: median single-query latency. mix_qps: queries answered
    per second of call time over the whole mix (a 64-query batch counts 64)."""
    return {
        "query_p50_s": statistics.median(op.seconds for op in loop.ops if op.kind == "single"),
        "mix_qps": sum(len(op.inputs) for op in loop.ops) / sum(op.seconds for op in loop.ops),
    }

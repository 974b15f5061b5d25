"""Per-layer metrics of the traced run.

Every figure comes from a span the benchmark put around a public engine
call (perfbench/trace.py) or from a probe of one layer run outside the
timed loop. Layers are named after the engine's modules. "driver" time is a
call's wall time minus the time its Spark jobs cover; "executor" figures
are the stages' executorRunTime / executorCpuTime; "shuffle" figures are
the stages' shuffle-write bytes.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import gen, workloads
from perfbench.oracle import Oracle
from perfbench.trace import Tracer

# The write path is measured on a small seeded Zipf corpus; the build is
# mostly fixed per-job overhead at this size.
INGEST_DOCS = 2_000
SESSION_PROBES = 5
# traced calls of each operation type the serve loop leaves out
SIDE_CALLS = 2
# Queries the freshly built index must answer like DuckDB over its documents.
INGEST_CHECK_QUERIES = 16


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Probes:
    """Layer probes for one traced run; `collect` returns the metrics."""

    def __init__(self, spark, tracer, idx, streams, reference, run_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.idx = idx
        self.streams = streams
        self.reference = reference
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0

    def collect(self, loop, *, session_start_s, native_loaded, native_compile_s, df_map_s, peak_rss_mb):
        m: dict[str, float] = {
            "session.start_s": session_start_s,
            "session.peak_rss_mb": peak_rss_mb,
            "native.loaded": float(native_loaded),
            "native.compile_s": native_compile_s,
            "search.df_map_s": df_map_s,
        }
        m.update(self.session())
        m.update(self.varbyte())
        m.update(self.prune(loop))
        self.side_ops()
        m.update(self.write_path())
        self.tracer.resolve()
        m.update(self.serving_spans())
        m.update(self.write_spans())
        traced = sum(s.wall_s for s in self.tracer.spans)
        m["trace.overhead_frac"] = self.tracer.overhead_s / traced if traced else 0.0
        m["trace.evicted_jobs"] = float(self.tracer.evicted_jobs)
        return m, self.attempted, self.failed

    # -- session: the JVM-only job vs the Python-worker round trip ---------
    def session(self) -> dict[str, float]:
        def p50(fn) -> float:
            times = []
            for _ in range(SESSION_PROBES):
                t = time.perf_counter()
                fn()
                times.append(time.perf_counter() - t)
            return statistics.median(times)

        one = self.spark.range(1)
        return {
            "session.jvm_job_s": p50(lambda: one.collect()),
            "session.python_roundtrip_s": p50(
                lambda: one.mapInPandas(lambda it: it, "id long").collect()
            ),
        }

    # -- functions.varbyte / functions.native: the codec on the driver -----
    def varbyte(self) -> dict[str, float]:
        from grenad_spark.functions.varbyte import decode_block_rows, encode_posting_blocks

        rng = np.random.default_rng(0)
        n = 1_000_000
        doc_ids = np.cumsum(rng.integers(1, 20, size=n))
        tfs = rng.integers(1, 8, size=n)
        dls = rng.integers(5, 200, size=n)
        enc, dec = [], []
        for _ in range(3):
            t = time.perf_counter()
            blocks = encode_posting_blocks(doc_ids, tfs, dls)
            enc.append(time.perf_counter() - t)
            payloads = [b[-1] for b in blocks]
            ns = np.array([b[0] for b in blocks])
            t = time.perf_counter()
            d, _, _ = decode_block_rows(payloads, ns)
            dec.append(time.perf_counter() - t)
            self.attempted += 1
            self.failed += int(not np.array_equal(d, doc_ids))
        man = self.idx.manifest
        return {
            "varbyte.encode_mpostings_per_s": n / statistics.median(enc) / 1e6,
            "varbyte.decode_mpostings_per_s": n / statistics.median(dec) / 1e6,
            "varbyte.payload_bytes_per_posting": man["encoded_payload_bytes"] / man["encoded_postings"],
        }

    # -- query.search prune: the pass-1 survivor set of each auto batch ----
    def prune(self, loop) -> dict[str, float]:
        from grenad_spark.query.search import survivor_blocks

        survivors = total = 0
        times = []
        for op in loop.ops:
            if op.kind != "auto":
                continue
            pairs = [(q, t) for q, text in enumerate(op.inputs) for t in workloads.tokens(text)]
            t0 = time.perf_counter()
            with self.tracer.span("query.search.prune"):
                survivors += survivor_blocks(self.spark, self.idx, pairs, workloads.K).count()
            times.append(time.perf_counter() - t0)
            terms = sorted({t for _, t in pairs})
            nb = {
                r["term"]: int(r["n_blocks"])
                for r in self.idx.term_dict(self.spark)
                .filter(F.col("term").isin(terms))
                .select("term", "n_blocks")
                .collect()
            }
            total += sum(nb.get(t, 0) for _, t in pairs)
        return {"search.survivor_ratio": survivors / total, "search.prune_s": _med(times)}

    # -- query.phrase / operators.seek: not in the serve loop ----------------
    def side_ops(self) -> None:
        ops = workloads.warm_up(self.spark, self.idx, self.streams, workloads.SIDE_KINDS)
        for kind in workloads.SIDE_KINDS:
            for _ in range(SIDE_CALLS):
                op = workloads.make_op(kind, self.streams)
                workloads.run_op(self.spark, self.idx, op, self.tracer)
                ops.append(op)
        self.attempted += len(ops)
        self.failed += workloads.check(ops, self.reference)

    # -- index.build / index.positions --------------------------------------
    def write_path(self) -> dict[str, float]:
        from grenad_spark.index.build import build_index
        from grenad_spark.index.positions import build_positions

        spark, tr = self.spark, self.tracer
        rng = np.random.default_rng(self.streams.rng.integers(1 << 62))
        g0 = gen.zipf_corpus(rng, INGEST_DOCS)
        w = os.path.join(self.run_dir, "ingest")
        os.makedirs(w)
        docs_path = os.path.join(w, "g0.parquet")
        g0.write_parquet(docs_path)
        docs = spark.read.parquet(docs_path)
        with tr.span("index.build"):
            h0 = build_index(spark, docs, os.path.join(w, "i0"))
        with tr.span("index.positions"):
            build_positions(spark, docs, os.path.join(w, "i0"))
        self._check_ingest(rng, h0, g0, docs_path)
        man = h0.manifest
        stages = man["stage_seconds"]
        return {
            "build.docs_stats_s": stages.get("docs_stats", 0.0),
            "build.segments_encode_s": stages.get("segments_encode", 0.0),
            "build.segments_finalize_s": stages.get("segments_finalize", 0.0),
            "build.postings": float(man["encoded_postings"]),
            "build.payload_mb": man["encoded_payload_bytes"] / 1e6,
            "build.index_bytes_per_input_byte": dir_bytes(h0.path) / g0.text_bytes(),
        }

    def _check_ingest(self, rng, h0, g0, docs_path: str) -> None:
        """Counts against the generator, and a query sample on the new index
        against DuckDB's `bm25_oracle_sql` over the same documents."""
        checks = [
            h0.manifest["n_docs"] == len(g0),
            h0.manifest["encoded_postings"] == g0.postings(),
        ]
        self.attempted += len(checks)
        self.failed += checks.count(False)
        common = g0.vocab[np.argsort(-g0.df())[:200]]
        queries = [
            " ".join(rng.choice(common, size=2, replace=False).tolist())
            for _ in range(INGEST_CHECK_QUERIES)
        ]
        op = workloads.Op("batch", queries)
        workloads.run_op(self.spark, h0, op, Tracer())
        oracle = Oracle(
            docs_path, threads=len(os.sched_getaffinity(0)),
            temp_dir=os.path.join(self.run_dir, "tmp"),
        )
        try:
            self.attempted += 1
            self.failed += workloads.check([op], oracle)
        finally:
            oracle.close()

    # -- span aggregates ------------------------------------------------------
    def serving_spans(self) -> dict[str, float]:
        tr = self.tracer
        single = tr.by_layer("query.search.single")
        batch = tr.by_layer("query.search.batch")
        auto = tr.by_layer("query.search.auto")
        phrase = tr.by_layer("query.phrase")
        seek = tr.by_layer("operators.seek")
        return {
            "search.single_s": _med(s.wall_s for s in single),
            "search.batch_s": _med(s.wall_s for s in batch),
            "search.auto_s": _med(s.wall_s for s in auto),
            "search.single_driver_s": _med(s.driver_s for s in single),
            "search.single_jobs": _med(len(s.jobs) for s in single),
            "search.single_executor_s": _med(s.executor_run_s for s in single),
            "search.single_shuffle_mb": _med(s.shuffle_write_mb for s in single),
            "search.batch_driver_s": _med(s.driver_s for s in batch),
            "search.batch_jobs": _med(len(s.jobs) for s in batch),
            "search.batch_executor_cpu_s": _med(s.executor_cpu_s for s in batch),
            "search.batch_shuffle_mb": _med(s.shuffle_write_mb for s in batch),
            "search.auto_jobs": _med(len(s.jobs) for s in auto),
            "search.auto_executor_cpu_s": _med(s.executor_cpu_s for s in auto),
            "search.auto_shuffle_mb": _med(s.shuffle_write_mb for s in auto),
            "phrase.s": _med(s.wall_s for s in phrase),
            "phrase.driver_s": _med(s.driver_s for s in phrase),
            "phrase.jobs": _med(len(s.jobs) for s in phrase),
            "phrase.executor_cpu_s": _med(s.executor_cpu_s for s in phrase),
            "phrase.shuffle_mb": _med(s.shuffle_write_mb for s in phrase),
            "seek.s": _med(s.wall_s for s in seek),
            "seek.driver_s": _med(s.driver_s for s in seek),
            "seek.jobs": _med(len(s.jobs) for s in seek),
            "seek.executor_cpu_s": _med(s.executor_cpu_s for s in seek),
        }

    def write_spans(self) -> dict[str, float]:
        (b,) = self.tracer.by_layer("index.build")
        (p,) = self.tracer.by_layer("index.positions")
        return {
            "build.jobs": float(len(b.jobs)),
            "build.driver_s": b.driver_s,
            "build.executor_run_s": b.executor_run_s,
            "build.executor_cpu_s": b.executor_cpu_s,
            "build.shuffle_write_mb": b.shuffle_write_mb,
            "positions.s": p.wall_s,
            "positions.jobs": float(len(p.jobs)),
            "positions.executor_cpu_s": p.executor_cpu_s,
            "positions.shuffle_write_mb": p.shuffle_write_mb,
        }

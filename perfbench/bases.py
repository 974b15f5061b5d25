"""The base index each serve workload queries.

Each base corpus is fixed per workload (its own constant seed) and built
once per checkout into the cache directory: a build plus positions of 88k
documents takes over a minute on 4 cores, more than one run's share of the
benchmark's time. The build runs in a child process with its own JVM, before
the measured session starts, so no measured JVM has run a build. The first
run in a checkout builds the bases of every workload, because only that run
may take longer than the 180 s of any other run; every later run finds them
cached.

    python3 -m perfbench.bases CACHE_DIR WORK_DIR WORKLOAD...   (the child)
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

import numpy as np

from perfbench import gen
from perfbench.oracle import Reference

BASE_DOCS = 88_000
CORPUS_SEED = {"serve-zipf": 1, "serve-uniform": 2}
WORKLOADS = tuple(CORPUS_SEED)


# the benchmark's modules that decide what a base holds
BASE_SOURCES = ("perfbench/bases.py", "perfbench/gen.py", "perfbench/oracle.py")


def source_fingerprint(root: str) -> str:
    """Hash of the engine's sources and of BASE_SOURCES: a cached base is
    only reused by the code that built it."""
    h = hashlib.sha256()
    paths = list(BASE_SOURCES)
    for d, dirs, files in sorted(os.walk(os.path.join(root, "grenad_spark"))):
        dirs.sort()
        paths += [os.path.relpath(os.path.join(d, f), root) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


@dataclass
class Base:
    """A built base index and what the stream generators need from it."""

    path: str  # cache entry: docs.parquet, index/, reference.npz, meta.json
    vocab: np.ndarray
    df: np.ndarray
    built_s: float  # time this run spent building missing bases

    @property
    def docs_parquet(self) -> str:
        return os.path.join(self.path, "docs.parquet")

    @property
    def index_dir(self) -> str:
        return os.path.join(self.path, "index")

    def reference(self) -> Reference:
        return Reference.load(os.path.join(self.path, "reference.npz"))


def _paths(cache_dir: str, root: str) -> dict[str, str]:
    fp = source_fingerprint(root)
    return {w: os.path.join(cache_dir, f"{w}-{BASE_DOCS}-{fp}") for w in WORKLOADS}


def open_base(workload: str, cache_dir: str, root: str, work_dir: str) -> Base:
    """The workload's base index, built first (with every other missing
    base) in a child process if the cache does not hold it."""
    paths = _paths(cache_dir, root)
    missing = [w for w, p in paths.items() if not os.path.exists(os.path.join(p, "meta.json"))]
    t0 = time.perf_counter()
    if missing:
        env = dict(os.environ)
        for var, sub in (("SPARK_LOCAL_DIRS", "spark"), ("GRENAD_SPARK_NATIVE_DIR", "native"), ("TMPDIR", "tmp")):
            env[var] = os.path.join(work_dir, sub)
            os.makedirs(env[var], exist_ok=True)
        subprocess.run(
            [sys.executable, "-m", "perfbench.bases", cache_dir, work_dir, *missing],
            cwd=root, env=env, stdout=sys.stderr, check=True,
        )
    built_s = time.perf_counter() - t0 if missing else 0.0
    with open(os.path.join(paths[workload], "meta.json")) as fh:
        meta = json.load(fh)
    return Base(paths[workload], np.array(meta["vocab"], dtype=object), np.array(meta["df"]), built_s)


def _base_corpus(workload: str) -> gen.Corpus:
    rng = np.random.default_rng(CORPUS_SEED[workload])
    if workload == "serve-zipf":
        return gen.zipf_corpus(rng, BASE_DOCS)
    return gen.uniform_corpus(rng, BASE_DOCS)


def _build(spark, workload: str, path: str) -> None:
    from grenad_spark.index.build import build_index
    from grenad_spark.index.positions import build_positions

    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    corpus = _base_corpus(workload)
    corpus.write_parquet(os.path.join(tmp, "docs.parquet"))
    docs = spark.read.parquet(os.path.join(tmp, "docs.parquet"))
    build_index(spark, docs, os.path.join(tmp, "index"))
    build_positions(spark, docs, os.path.join(tmp, "index"))
    Reference.from_texts(corpus.doc_ids, corpus.texts).save(os.path.join(tmp, "reference.npz"))
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump({"vocab": corpus.vocab.tolist(), "df": corpus.df().tolist()}, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def main(argv: list[str]) -> int:
    from perfbench import session

    cache_dir, work_dir, *workloads = argv
    root = os.getcwd()
    paths = _paths(cache_dir, root)
    spark = session.start(os.path.join(work_dir, "tmp"))
    try:
        for w in workloads:
            _build(spark, w, paths[w])
    finally:
        session.stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

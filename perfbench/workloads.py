"""The workloads: serve_bm25 and serve_reference.

Both run the same phases with their own scorer and query mix: set up a
single-generation index, then serve a closed loop of queries on it. The
traced run adds the write path: a re-crawl generation, tombstones, a
read-after-write batch on the 3-generation index and compaction. Each
workload function takes a ``Bench`` (session, tracer, sizes) and returns
its end-to-end numbers. All load comes from this one process with
one closed-loop client: the next call starts when the previous returns.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import inputs

K = 10
SETUP_REPS = 3
# client threads of the untimed check
THREADS = 4
E2E = [("setup_s", "s"), ("build_docs_per_s", "docs/s"),
       ("index_bytes_per_posting", "B/posting"), ("query_p50_ms", "ms"),
       ("query_p90_ms", "ms"), ("qps", "1/s")]


class Bench:
    def __init__(self, spark, tracer, work: str, seed: int, seconds: float,
                 sizes: dict, nproc: int, session_start_s: float):
        self.spark = spark
        self.tracer, self.work = tracer, work
        self.seed, self.seconds = seed, seconds
        self.sizes, self.nproc = sizes, nproc
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layer: dict = {}  # numbers and state for the per-layer report
        self.span = tracer.span
        self.session_start_s = session_start_s

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.notes.append(f"FAILED x{n}: {why}")


# ---------------------------------------------------------------- helpers

def _quantile(xs: list[float], ws: list[float], q: float) -> float:
    """Weighted Harrell-Davis estimate of quantile q: the order
    statistics weighted by how much of a Beta(q(m+1), (1-q)(m+1))
    distribution falls on each one's share of the weighted empirical
    distribution, m being the effective sample size (sum w)^2 / sum w^2.
    With equal weights it is the plain Harrell-Davis estimate. With the
    18-48 samples of a run it is far steadier than the one or two order
    statistics the plain percentile reads, which jump between shapes'
    latency bands."""
    order = np.argsort(xs)
    x = np.asarray(xs, dtype=float)[order]
    w = np.asarray(ws, dtype=float)[order]
    w /= w.sum()
    if len(x) == 1:
        return float(x[0])
    m = 1.0 / float(w @ w)
    a, b = q * (m + 1), (1 - q) * (m + 1)
    u = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(u) + (b - 1) * np.log1p(-u)
                 + math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b))
    cdf = np.concatenate([[0.0], np.cumsum(pdf)])
    cdf /= cdf[-1]
    edges = np.concatenate([[0.0], np.cumsum(w)])
    hd = np.diff(np.interp(edges, np.linspace(0.0, 1.0, len(cdf)), cdf))
    return float(hd @ x)


def _weights(strata: list[tuple]) -> list[float]:
    """Each sample's weight: its (shape, slot) stratum's traffic share
    split over the stratum's samples."""
    count: dict = {}
    for st in strata:
        count[st] = count.get(st, 0) + 1
    return [inputs.share(*st) / count[st] for st in strata]


def _manifest_bytes_per_posting(index_dir: str) -> tuple[int, int]:
    posts = nbytes = 0
    for m in glob.glob(os.path.join(index_dir, "_manifests", "*.json")):
        with open(m) as f:
            rec = json.load(f)
        posts += int(rec.get("n_postings", 0))
        nbytes += int(rec.get("bytes_out", 0))
    return nbytes, posts


def _rows(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a))


def _top_k_ok(got: list, full: list) -> bool:
    """``got`` is a correct top-K answer against ``full``, every row of
    the exhaustive plan: position by position its scores equal the
    exhaustive top K's, and each returned doc is a distinct match whose
    exhaustive score ties or beats the K-th best. Docs whose scores tie
    to the last bits may come in either order: the two plans add the
    per-term scores in different orders (the engine's own top-K tests
    compare the same way)."""
    truth = sorted(full, key=lambda r: (-r[1], r[0]))[:K]
    score = dict(full)
    if len(got) != len(truth) or len({d for d, _ in got}) != len(got):
        return False
    kth = truth[-1][1] if truth else 0.0
    return all(_close(sg, st) and d in score
               and (score[d] >= kth or _close(score[d], kth))
               for (d, sg), (_, st) in zip(got, truth))


def _query(b: Bench, index_dir: str, q: str, shape: str, conf, reader,
           phase: str = "serve"):
    """One timed query: plan = search() until the lazy DataFrame returns
    (eager df/sketch jobs included), exec = collect()."""
    from open_source_search_engine_spark.query.executor import search

    with b.span("query", shape=shape, q=q, phase=phase):
        t0 = time.perf_counter()
        with b.span("query.executor.search"):
            df = search(b.spark, index_dir, q, k=K, conf=conf, reader=reader)
        with b.span("query.executor.collect"):
            rows = _rows(df.collect())
        return rows, time.perf_counter() - t0


def _open_reader(b: Bench, index_dir: str, conf):
    from open_source_search_engine_spark.query.executor import IndexReader

    with b.span("query.executor.IndexReader"):
        rd = IndexReader(b.spark, index_dir, conf)
        rd.n_docs, rd.avgdl  # noqa: B018  (docs-side stats, cached)
    return rd


def _build(b: Bench, src: str, index_dir: str, gen: int = 0,
           name: str = "index.build.build_index") -> float:
    """A fresh (resume=False) build of generation ``gen``; wall seconds."""
    from open_source_search_engine_spark.index.build import build_index

    with b.span(name, gen=gen) as sp:
        t0 = time.perf_counter()
        meta = build_index(b.spark, b.spark.read.parquet(src), index_dir,
                           gen=gen, resume=False)
        dt = time.perf_counter() - t0
        sp["secs"] = meta["secs"]
    return dt


def _fsck(b: Bench, index_dir: str, when: str) -> None:
    """fsck as a correctness check: any bad row fails the write it
    follows. Excluded from every end-to-end number."""
    from open_source_search_engine_spark.index.fsck import fsck_index

    with b.span("index.fsck.fsck_index", when=when):
        rows = fsck_index(b.spark, index_dir).collect()
    bad = sum(int(r["n_bad"] or 0) for r in rows)
    if bad:
        b.fail(1, f"fsck after {when}: {bad} bad rows")


def _synth(b: Bench, pages: int, path: str) -> None:
    with b.span("sources.webtext.synthesize", pages=pages):
        inputs.write_corpus(b.spark, pages, b.seed, path, b.nproc * 2)


def _setup_reps(b: Bench, rep) -> float:
    """Run ``rep`` SETUP_REPS times; the median rep's wall seconds."""
    times = []
    for i in range(SETUP_REPS):
        with b.span("setup", rep=i):
            t0 = time.perf_counter()
            rep(i, last=i == SETUP_REPS - 1)
            times.append(time.perf_counter() - t0)
    b.layer["setup.reps_s"] = times
    return statistics.median(times)


def _warm(b: Bench, idx: str, pool: dict, conf, rd) -> float:
    """The warm pass on the reader that will serve: plan every distinct
    pool query (``search()`` runs the eager df and sketch jobs and fills
    the reader's df, sketch and segment-scan caches while planning), so
    each timed query finds them warm, then run the most popular query of
    each shape to the end once, so the execution path is warm too. One
    client, like the loop; no per-query spans. Wall seconds."""
    from open_source_search_engine_spark.query.executor import search

    qs = list(dict.fromkeys(q for qs in pool.values() for q in qs))
    t0 = time.perf_counter()
    with b.span("setup.warm", queries=len(qs)):
        plans = {q: search(b.spark, idx, q, k=K, conf=conf, reader=rd)
                 for q in qs}
        for shape_qs in pool.values():
            plans[shape_qs[0]].collect()
    return time.perf_counter() - t0


def _delete(b: Bench, idx: str, recrawl: str, frac: float, conf) -> None:
    """Tombstone a seeded ``frac`` of real doc_ids from
    ``IndexReader.docs()``, chosen among pages the re-crawl did not
    touch."""
    import pandas as pd

    from open_source_search_engine_spark.index.build import delete_docs

    rd = _open_reader(b, idx, conf)
    fresh = set(pd.read_parquet(recrawl, columns=["url"])["url"])
    ids = sorted(int(r["doc_id"]) for r in
                 rd.docs().select("doc_id", "url").collect()
                 if r["url"] not in fresh)
    rng = random.Random(f"delete:{b.seed}")
    pick = sorted(rng.sample(ids, max(1, int(len(ids) * frac))))
    b.layer["deleted_ids"] = pick
    with b.span("index.build.delete_docs", n=len(pick)):
        delete_docs(b.spark, idx, pick, gen=2)


def _compact(b: Bench, idx: str, conf) -> None:
    from open_source_search_engine_spark.index.build import compact_index

    with b.span("index.build.compact_index"):
        compact_index(b.spark, idx, conf)


# -------------------------------------------------------------- workloads

def serve_bm25(b: Bench) -> dict:
    from open_source_search_engine_spark.config import EngineConf

    return _run(b, "bm25", EngineConf())


def serve_reference(b: Bench) -> dict:
    from open_source_search_engine_spark.config import EngineConf

    return _run(b, "reference", EngineConf(scorer="reference"))


def _run(b: Bench, kind: str, conf) -> dict:
    """Set up a single-generation index and serve a closed loop of
    ``kind`` queries on it. The traced run then also takes the index
    through the write path (``_write_path``)."""
    pages = b.sizes["pages"]
    st: dict = {}
    builds = []

    def rep(i, last):
        corpus, idx = b.path(f"corpus{i}"), b.path(f"idx{i}")
        _synth(b, pages, corpus)
        builds.append(_build(b, corpus, idx))
        rd = _open_reader(b, idx, conf)
        if not last:
            shutil.rmtree(idx, ignore_errors=True)
        st.update(corpus=corpus, idx=idx, rd=rd)

    rep_s = _setup_reps(b, rep)
    corpus, idx, rd = st["corpus"], st["idx"], st["rd"]
    pool = inputs.query_pool(kind, b.seed, inputs.corpus_vocab(corpus, b.seed))
    warm_s = _warm(b, idx, pool, conf, rd)
    b.layer["setup.warm_s"] = warm_s
    setup_s = b.session_start_s + rep_s + warm_s
    nbytes, posts = _manifest_bytes_per_posting(idx)

    # closed loop, one client, for --seconds, then on to the end of the
    # shape cycle, and for at least three cycles so that every (shape,
    # slot) stratum is sampled
    sched = inputs.schedule(pool)
    cycle = len(inputs.SHAPES)
    lat, strata, results, by_shape = [], [], {}, {}
    t0 = time.perf_counter()
    t_end = t0 + b.seconds
    n = 0
    while n % cycle or n < 3 * cycle or time.perf_counter() < t_end:
        shape, slot, q = next(sched)
        n += 1
        b.attempted += 1
        try:
            rows, t = _query(b, idx, q, shape, conf, rd)
        except Exception as e:  # noqa: BLE001
            b.fail(1, f"{q!r}: {e!r}")
            continue
        lat.append(t)
        strata.append((shape, slot))
        by_shape.setdefault(shape, []).append(t)
        results.setdefault(q, []).append(rows)
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    _check_serve(b, idx, conf, rd, results)
    b.layer["phases_s"] = {"setup_reps": sum(b.layer["setup.reps_s"]),
                           "warm": warm_s, "loop": wall,
                           "check": time.perf_counter() - t1}

    b.layer.update(corpus=corpus, index_dir=idx, bpp=(nbytes, posts),
                   queries=[q for qs in pool.values() for q in qs],
                   query_samples=len(lat), loop_qps=len(lat) / wall,
                   by_shape=by_shape,
                   builds_s=builds)
    if b.tracer.enabled:
        _write_path(b, conf, corpus, idx, pool, pages)
    w = _weights(strata)
    return {
        "setup_s": setup_s,
        "build_docs_per_s": pages / statistics.median(builds),
        "index_bytes_per_posting": nbytes / posts,
        "query_p50_ms": 1e3 * _quantile(lat, w, 0.5),
        "query_p90_ms": 1e3 * _quantile(lat, w, 0.9),
        "qps": sum(w) / float(np.dot(w, lat)),
    }


def _write_path(b: Bench, conf, corpus: str, idx: str, pool: dict,
                pages: int) -> None:
    """fsck the served index, re-crawl a seeded share of its pages into
    generation 1, tombstone another share at generation 2, run a
    read-after-write batch (one query per shape) on the 3-generation
    index, compact, fsck again and check that compaction kept exactly the
    visible docs."""
    b.attempted += 1
    _fsck(b, idx, "build")
    recrawl = b.path("recrawl")
    with b.span("bench.recrawl_input"):
        inputs.write_recrawl(b.spark, corpus, b.sizes["recrawl_frac"],
                             b.seed, recrawl)
    _build(b, recrawl, idx, gen=1, name="index.build.build_index.recrawl")
    b.attempted += 1
    _delete(b, idx, recrawl, b.sizes["delete_frac"], conf)
    b.attempted += 1
    rd = _open_reader(b, idx, conf)
    dead = set(b.layer["deleted_ids"])
    for shape in inputs.SHAPES:
        q = pool[shape][0]
        b.attempted += 1
        try:
            rows, _ = _query(b, idx, q, shape, conf, rd, "multigen")
        except Exception as e:  # noqa: BLE001
            b.fail(1, f"{q!r} on 3 generations: {e!r}")
            continue
        with b.span("check.search_all", q=q):
            full = _all_rows(b, idx, q, conf, rd)
        if not _top_k_ok(rows, full):
            b.fail(1, f"{q!r} on 3 generations: not the top-{K} of "
                      f"search_all")
        elif dead & {d for d, _ in rows}:
            b.fail(1, f"{q!r} returned a tombstoned doc")
    visible = _doc_versions(b, rd)
    _compact(b, idx, conf)
    b.attempted += 1
    _fsck(b, idx, "compaction")
    after = _doc_versions(b, _open_reader(b, idx, conf))
    if after != visible or len(after) != pages - len(dead):
        b.fail(1, f"compact_index changed the visible docs: "
                  f"{len(visible)} -> {len(after)}, want {pages - len(dead)}")


def _all_rows(b: Bench, idx: str, q: str, conf, rd) -> list:
    """Every row of the exhaustive plan (search_all)."""
    from open_source_search_engine_spark.query.executor import search_all

    return _rows(search_all(b.spark, idx, q, conf=conf, reader=rd)
                 .collect())


def _check_serve(b: Bench, idx: str, conf, rd, results: dict) -> None:
    """Every timed answer must be a correct top K of search_all for the
    same query on the same index (``_top_k_ok``). Untimed, so the
    distinct queries are checked concurrently (Spark runs jobs from
    several threads); no spans, because the tracer follows one thread."""
    with ThreadPoolExecutor(THREADS) as ex:
        fulls = list(ex.map(lambda q: _all_rows(b, idx, q, conf, rd),
                            results))
    for (q, runs), full in zip(results.items(), fulls):
        bad = [r for r in runs if not _top_k_ok(r, full)]
        if bad:
            want = sorted(full, key=lambda r: (-r[1], r[0]))[:K]
            b.fail(len(bad), f"{q!r}: not the top-{K} of search_all: "
                             f"{bad[0]} vs {want}")


def _doc_versions(b: Bench, rd) -> set:
    """(doc_id, content_hash) of every visible doc: newest generation
    wins, tombstoned docs are gone. Compaction must not change it."""
    with b.span("check.docs"):
        return {(int(r[0]), r[1]) for r in
                rd.docs().select("doc_id", "content_hash").collect()}


WORKLOADS = {"serve_bm25": serve_bm25, "serve_reference": serve_reference}

"""Per-layer numbers for the traced run.

``probe()`` runs the traced-only measurements after a workload is done:
the Spark no-op job floor, the single-thread parse and codec kernels on
the workload's own corpus and index, the query compiler and the cost of
a span itself. ``per_layer()`` then reads the spans and their Spark
counters.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import inputs
import workloads as W
from spans import rollup

SHAPES = inputs.SHAPES
# a span's self time counts toward the layer its name starts with
LAYERS = ["sources.webtext", "index.build", "index.fsck", "functions.codec",
          "query.compiler", "query.executor", "spark"]

PER_LAYER = [
    ("spark.noop_job_ms", "ms"), ("spark.session_start_s", "s"),
    ("sources.webtext.synth_s", "s"),
    ("index.build.parse_s", "s"), ("index.build.stats_s", "s"),
    ("index.build.segments_s", "s"), ("index.build.jobs", "count"),
    ("index.build.tasks", "count"), ("index.build.task_cpu_s", "s"),
    ("index.build.gc_s", "s"), ("index.build.shuffle_write_bytes", "bytes"),
    ("index.build.python_worker_s", "s"),
    ("index.build.python_bytes_sent", "bytes"),
    ("index.build.postings", "count"), ("index.build.blob_bytes", "bytes"),
    ("index.build.parse_doc_us", "us"),
    ("index.recrawl_s", "s"), ("index.recrawl.segments_s", "s"),
    ("index.delete_docs_s", "s"), ("index.compact_s", "s"),
    ("index.compact.jobs", "count"),
    ("index.compact.shuffle_write_bytes", "bytes"),
    ("index.compact.python_worker_s", "s"),
    ("index.fsck_s", "s"),
    ("functions.codec.decode_mb_s", "MB/s"),
    ("functions.codec.decode_ctx_only_mb_s", "MB/s"),
    ("functions.codec.encode_mb_s", "MB/s"),
    ("functions.codec.merge_mb_s", "MB/s"),
    ("query.compiler.compile_ms", "ms"),
    ("query.executor.reader_open_ms", "ms"),
    ("query.executor.plan_ms", "ms"), ("query.executor.plan_jobs", "count"),
    ("query.executor.exec_ms", "ms"), ("query.executor.jobs", "count"),
    ("query.executor.stages", "count"), ("query.executor.tasks", "count"),
    ("query.executor.task_run_ms", "ms"), ("query.executor.gc_ms", "ms"),
    ("query.executor.input_bytes", "bytes"),
    ("query.executor.shuffle_bytes", "bytes"),
    ("query.executor.python_worker_ms", "ms"),
    ("query.executor.python_bytes_sent", "bytes"),
    ("query.executor.multigen_p50_ms", "ms"),
    ("query.executor.multigen_plan_ms", "ms"),
    ("query.executor.multigen_jobs", "count"),
] + [(f"query.executor.jobs.{s}", "count") for s in SHAPES] + [
    (f"query.executor.p50_ms.{s}", "ms") for s in SHAPES
] + [(f"self_s.{x}", "s") for x in LAYERS + ["bench"]] + [
    ("trace.span_overhead_us", "us"),
] + [(f"traced.{name}", unit) for name, unit in W.E2E]


# ------------------------------------------------------------------ probes

def _best_of(fn, min_s: float = 0.2, reps: int = 3) -> float:
    """Median seconds per call over ``reps`` batches of >= min_s each."""
    out = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        out.append(dt / n)
    return statistics.median(out)


def _noop_ms(b: W.Bench) -> float:
    """A one-task job on the serving session: the per-job floor."""
    job = b.spark.range(0, 1, 1, 1)
    samples = []
    for _ in range(20):
        with b.span("spark.noop"):
            t0 = time.perf_counter()
            job.collect()
            samples.append(time.perf_counter() - t0)
    return 1e3 * statistics.median(samples[5:])


def _parse_doc_us(b: W.Bench, corpus: str) -> float:
    """Single-thread parse_doc per page on a seeded corpus sample (the
    extractor, tokenizer and term-hash kernels)."""
    import pandas as pd

    from open_source_search_engine_spark.index.build import parse_doc

    pdf = pd.read_parquet(corpus)
    rows = random.Random(b.seed).sample(range(len(pdf)), min(100, len(pdf)))
    sample = [pdf.iloc[i] for i in rows]

    def run():
        for r in sample:
            parse_doc(r["url"], bytes(r["html"]), r["text"], r["lang"])

    with b.span("index.build.parse_doc"):
        return 1e6 * _best_of(run) / len(sample)


def _largest_blobs(index_dir: str, n: int = 8) -> list[bytes]:
    files = glob.glob(os.path.join(index_dir, "segments", "**", "*.parquet"),
                      recursive=True)
    blobs = []
    for f in files:
        t = pq.read_table(f, columns=["n_bytes", "postings"])
        sizes = t.column("n_bytes").to_numpy()
        for i in np.argsort(sizes)[-n:]:
            blobs.append(t.column("postings")[int(i)].as_py())
    blobs.sort(key=len)
    return blobs[-n:]


def _codec_mb_s(b: W.Bench, index_dir: str) -> dict:
    """Single-thread codec kernels on the index's largest blobs, as MB of
    blob per second (encode: MB produced; merge: MB of input)."""
    from open_source_search_engine_spark.config import EngineConf
    from open_source_search_engine_spark.functions import codec

    blobs = _largest_blobs(index_dir)
    mb = sum(len(x) for x in blobs) / 1e6
    dec = [codec.decode_blocks(x, with_positions=True) for x in blobs]
    out = {}
    with b.span("functions.codec.decode_blocks"):
        out["decode_mb_s"] = mb / _best_of(lambda: [
            codec.decode_blocks(x, with_positions=True) for x in blobs])
    with b.span("functions.codec.decode_blocks.ctx_only"):
        out["decode_ctx_only_mb_s"] = mb / _best_of(lambda: [
            codec.decode_blocks(x, with_positions=True, ctx_only=True)
            for x in blobs])
    dc = EngineConf().docid_codec

    def enc():
        return [codec.encode_postings(d["doc_ids"], d["tfs"], d["doclens"],
                                      d["positions"], d["ctxs"], d["ranks"],
                                      docid_codec=dc) for d in dec]

    if [codec.decode_postings(x)["doc_ids"].tolist() for x in enc()] != \
            [d["doc_ids"].tolist() for d in dec]:
        b.fail(1, "encode_postings(decode_blocks(blob)) lost doc ids")
    with b.span("functions.codec.encode_postings"):
        out["encode_mb_s"] = mb / _best_of(enc)
    # a full re-crawl of each term: the same blob in two generations
    with b.span("functions.codec.merge_blobs"):
        out["merge_mb_s"] = 2 * mb / _best_of(lambda: [
            codec.merge_blobs([x, x], docid_codec=dc) for x in blobs])
    return out


def _compile_ms(b: W.Bench, queries: list[str]) -> float:
    from open_source_search_engine_spark.query.compiler import compile_query

    with b.span("query.compiler.compile_query"):
        return 1e3 * _best_of(
            lambda: [compile_query(q) for q in queries]) / len(queries)


def _span_overhead_us(b: W.Bench) -> float:
    """Cost of one empty span with its job-group switch."""
    def run():
        with b.span("trace.empty"):
            pass

    us = 1e6 * _best_of(run, min_s=0.05)
    b.tracer.spans = [s for s in b.tracer.spans if s["name"] != "trace.empty"]
    return us


def probe(b: W.Bench) -> None:
    p = b.layer
    p["noop_ms"] = _noop_ms(b)
    p["parse_doc_us"] = _parse_doc_us(b, p["corpus"])
    p["codec"] = _codec_mb_s(b, p["index_dir"])
    p["compile_ms"] = _compile_ms(b, p["queries"])
    p["span_us"] = _span_overhead_us(b)


# ------------------------------------------------------------ aggregation

def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _med_dur(b: W.Bench, name: str) -> float:
    return statistics.median(_dur(s) for s in b.tracer.named(name))


def _kids(b: W.Bench, span: dict, name: str) -> dict:
    return next(s for s in b.tracer.spans
                if s["parent"] == span["id"] and s["name"] == name)


def per_layer(b: W.Bench, e2e: dict) -> dict:
    t, p = b.tracer, b.layer
    m: dict[str, float] = {
        "spark.noop_job_ms": p["noop_ms"],
        "spark.session_start_s": b.session_start_s,
        "sources.webtext.synth_s": _med_dur(b, "sources.webtext.synthesize"),
        "index.build.parse_doc_us": p["parse_doc_us"],
        "index.fsck_s": _med_dur(b, "index.fsck.fsck_index"),
        "query.compiler.compile_ms": p["compile_ms"],
        "query.executor.reader_open_ms":
            1e3 * _med_dur(b, "query.executor.IndexReader"),
        "trace.span_overhead_us": p["span_us"],
        **{f"traced.{k}": v for k, v in e2e.items()},
    }
    builds = sorted(t.named("index.build.build_index"), key=_dur)
    bs = builds[len(builds) // 2]
    c = rollup(t, bs)
    m.update({
        "index.build.parse_s": bs["secs"]["parse"],
        "index.build.stats_s": bs["secs"]["stats"],
        "index.build.segments_s": bs["secs"]["segments"],
        "index.build.jobs": c["jobs"], "index.build.tasks": c["tasks"],
        "index.build.task_cpu_s": c["task_cpu_s"],
        "index.build.gc_s": c["gc_s"],
        "index.build.shuffle_write_bytes": c["shuffle_write_bytes"],
        "index.build.python_worker_s": c["python_worker_s"],
        "index.build.python_bytes_sent": c["python_bytes_sent"],
        "index.build.postings": p["bpp"][1],
        "index.build.blob_bytes": p["bpp"][0],
    })
    (rc,) = t.named("index.build.build_index.recrawl")
    (cs,) = t.named("index.build.compact_index")
    cc = rollup(t, cs)
    m.update({
        "index.recrawl_s": _dur(rc),
        "index.recrawl.segments_s": rc["secs"]["segments"],
        "index.delete_docs_s": _med_dur(b, "index.build.delete_docs"),
        "index.compact_s": _dur(cs),
        "index.compact.jobs": cc["jobs"],
        "index.compact.shuffle_write_bytes": cc["shuffle_write_bytes"],
        "index.compact.python_worker_s": cc["python_worker_s"],
    })
    for k, v in p["codec"].items():
        m[f"functions.codec.{k}"] = v

    qs = [s for s in t.named("query")
          if s["shape"] in SHAPES and s["phase"] == "serve"]
    mg = [s for s in t.named("query") if s["phase"] == "multigen"]
    plans = [_kids(b, s, "query.executor.search") for s in qs]
    execs = [_kids(b, s, "query.executor.collect") for s in qs]
    qc = [rollup(t, s) for s in qs]
    mean = lambda xs: float(np.mean(list(xs)))  # noqa: E731
    m.update({
        "query.executor.plan_ms": 1e3 * statistics.median(map(_dur, plans)),
        "query.executor.plan_jobs": mean(rollup(t, s)["jobs"] for s in plans),
        "query.executor.exec_ms": 1e3 * statistics.median(map(_dur, execs)),
        "query.executor.jobs": mean(x["jobs"] for x in qc),
        "query.executor.stages": mean(x["stages"] for x in qc),
        "query.executor.tasks": mean(x["tasks"] for x in qc),
        "query.executor.task_run_ms": 1e3 * mean(x["task_run_s"] for x in qc),
        "query.executor.gc_ms": 1e3 * mean(x["gc_s"] for x in qc),
        "query.executor.input_bytes": mean(x["input_bytes"] for x in qc),
        "query.executor.shuffle_bytes": mean(
            x["shuffle_read_bytes"] + x["shuffle_write_bytes"] for x in qc),
        "query.executor.python_worker_ms":
            1e3 * mean(x["python_worker_s"] for x in qc),
        "query.executor.python_bytes_sent":
            mean(x["python_bytes_sent"] for x in qc),
    })
    m["query.executor.multigen_p50_ms"] = 1e3 * statistics.median(
        map(_dur, mg))
    m["query.executor.multigen_plan_ms"] = 1e3 * statistics.median(
        _dur(_kids(b, s, "query.executor.search")) for s in mg)
    m["query.executor.multigen_jobs"] = mean(rollup(t, s)["jobs"] for s in mg)
    for shape in SHAPES:
        sel = [(s, x) for s, x in zip(qs, qc) if s["shape"] == shape]
        m[f"query.executor.jobs.{shape}"] = mean(x["jobs"] for _, x in sel)
        m[f"query.executor.p50_ms.{shape}"] = 1e3 * statistics.median(
            _dur(s) for s, _ in sel)

    selft = t.self_times()
    for layer in LAYERS:
        m[f"self_s.{layer}"] = sum(v for k, v in selft.items()
                                   if k.startswith(layer + "."))
    m["self_s.bench"] = sum(v for k, v in selft.items()
                            if not any(k.startswith(x + ".") for x in LAYERS))
    return m

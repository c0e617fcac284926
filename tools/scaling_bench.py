"""Two-parallelism scaling run (north-rule evidence).

The sandbox has no multi-node cluster, so per driver instruction the
N-vs-4N-executor criterion is evidenced by running the SAME index-build
job on the SAME input at local[8] and local[32] and reporting throughput
at both plus scaling efficiency:

    eff = (docs_per_sec_32 / docs_per_sec_8) / (32 / 8)

Each level runs in its own subprocess (fresh JVM — Spark local masters
can't be resized in-process). The input is the deterministic synthetic
webtext corpus (sources.webtext.synthesize), pre-materialized to parquet
once so both levels read identical bytes; it is sized large enough that
fixed job-scheduling overhead doesn't dominate (Amdahl floor).

Usage:
  python tools/scaling_bench.py [n_docs]            # default 200000
  python tools/scaling_bench.py --one <cpus> <in> <out.json>   # internal
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_one(cpus: int, input_dir: str, out_path: str) -> None:
    import time

    from open_source_search_engine_spark.index.build import build_index
    from open_source_search_engine_spark.session import get_spark

    spark = get_spark(app=f"osse-scale-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    wt = spark.read.parquet(input_dir)
    # warmup: JVM codegen + python worker pool
    wt.limit(cpus * 2).selectExpr("length(html)").collect()

    idx = tempfile.mkdtemp(prefix=f"osse_scale_idx_{cpus}_")
    t0 = time.time()
    meta = build_index(spark, wt, idx, resume=False)
    secs = time.time() - t0
    n_docs = meta["n_docs"]

    # query latency at this level (warm, top-10 conjunctive)
    from open_source_search_engine_spark.query.executor import (
        IndexReader,
        search,
    )
    rd = IndexReader(spark, idx)
    rd.avgdl
    search(spark, idx, "fox dog", k=10, reader=rd).collect()
    tq = time.time()
    search(spark, idx, "crawl index engine", k=10, reader=rd).collect()
    q_secs = time.time() - tq

    import shutil
    shutil.rmtree(idx, ignore_errors=True)
    spark.stop()
    with open(out_path, "w") as f:
        json.dump({
            "cpus": cpus,
            "n_docs": n_docs,
            "build_secs": round(secs, 2),
            "docs_per_sec": round(n_docs / secs, 1),
            "query_secs": round(q_secs, 3),
            "stage_secs": {k: round(v, 2)
                           for k, v in meta.get("secs", {}).items()},
        }, f)


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--one":
        run_one(int(sys.argv[2]), sys.argv[3], sys.argv[4])
        return 0

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    lv1 = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    lv2 = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    # materialize the deterministic corpus once (shared input bytes)
    from open_source_search_engine_spark.session import get_spark
    from open_source_search_engine_spark.sources.webtext import synthesize

    input_dir = os.path.join(
        tempfile.gettempdir(), f"osse_scale_corpus_{n_docs}")
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        spark = get_spark(app="osse-scale-gen", master="local[32]")
        spark.sparkContext.setLogLevel("ERROR")
        synthesize(spark, n_docs, n_partitions=64).write.mode(
            "overwrite").parquet(input_dir)
        spark.stop()

    results = {}
    for cpus in (lv1, lv2):
        out = os.path.join(tempfile.gettempdir(), f"osse_scale_{cpus}.json")
        subprocess.run(
            [sys.executable, __file__, "--one", str(cpus), input_dir, out],
            check=True, cwd=os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))))
        with open(out) as f:
            results[cpus] = json.load(f)

    thr1 = results[lv1]["docs_per_sec"]
    thr2 = results[lv2]["docs_per_sec"]
    eff = (thr2 / thr1) / (lv2 / lv1)
    summary = {
        "n_docs": n_docs,
        f"local{lv1}": results[lv1],
        f"local{lv2}": results[lv2],
        f"speedup_{lv2}_vs_{lv1}": round(thr2 / thr1, 2),
        "scaling_efficiency": round(eff, 3),
        "criterion": f">=0.8 between N={lv1} and {lv2 // lv1}N cores",
        "pass": eff >= 0.8,
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())

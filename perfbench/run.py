"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve_bm25,serve_reference}
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Run from the root of a checkout. Starts one Spark session on
``local[CORES]`` (one task slot: on a small shared machine, parallel
tasks make the timings follow the host's scheduler more than the
program) through the engine's ``get_spark``, builds its inputs from
``--seed``, runs the workload for ``--seconds`` and prints a report,
then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
The traced run also writes its spans to
``.perfbench/spans-<workload>-<seed>.json``. Everything the run writes
stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "open_source_search_engine_spark"

SIZES = {
    "full": {"pages": 2000, "recrawl_frac": 0.10, "delete_frac": 0.02},
}
SIZES["tiny"] = {**SIZES["full"], "pages": 300}
CORES = 1  # Spark task slots


def _args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["serve_bm25", "serve_reference"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    return p.parse_args()


def _environment(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout, let
    the Python workers import the engine from it, and keep the console
    free of progress bars."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # the JVMs keep their temp and perf-data files out of /tmp too
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    confs = {"spark.ui.showConsoleProgress": "false",
             "spark.ui.retainedJobs": "100000",
             "spark.ui.retainedStages": "100000",
             "spark.sql.ui.retainedExecutions": "100000",
             "spark.local.dir": os.path.join(work, "local"),
             "spark.driver.extraJavaOptions": jvm_opts,
             "spark.executor.extraJavaOptions": jvm_opts}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    sys.path[:0] = [ROOT, HERE]


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ next to perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    import layers
    import workloads
    from spans import SparkCounters, Tracer, attach

    from open_source_search_engine_spark.session import get_spark

    n = CORES
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    run_id = f"{args.workload}-{args.seed}-{'traced' if args.trace else 'e2e'}"
    tracer = Tracer(spark.sparkContext, bool(args.trace), run_id)
    b = workloads.Bench(spark, tracer, work, args.seed, args.seconds,
                        SIZES[args.size], n, session_s)
    try:
        e2e = workloads.WORKLOADS[args.workload](b)
        if args.trace:
            layers.probe(b)
            attach(tracer, SparkCounters(spark.sparkContext).collect())
            metrics = layers.per_layer(b, e2e)
            units = dict(layers.PER_LAYER)
            span_file = os.path.join(out_dir, f"spans-{run_id}.json")
            tracer.write(span_file, {"per_layer": metrics,
                                     "end_to_end_traced": e2e})
        else:
            metrics, units = e2e, dict(workloads.E2E)
    finally:
        try:
            _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  "
          f"local[{n}]  size {args.size}  seconds {args.seconds}")
    print(f"query samples {b.layer['query_samples']} "
          f"({b.layer['loop_qps']:.3f} per s of loop)  "
          f"setup reps {[round(x, 3) for x in b.layer['setup.reps_s']]}  "
          f"warm pass {b.layer['setup.warm_s']:.3f}  "
          f"builds {[round(x, 3) for x in b.layer['builds_s']]}")
    print("phases s: " + "  ".join(f"{k} {v:.1f}" for k, v in
                                   b.layer["phases_s"].items()))
    print("p50 ms by shape (samples): " + "  ".join(
        f"{s} {1e3 * statistics.median(v):.0f} ({len(v)})"
        for s, v in b.layer["by_shape"].items()))
    for name, unit in units.items():
        print(f"  {name:44s} {metrics[name]:14.4f} {unit}")
    print(f"failed_frac {b.failed / max(b.attempted, 1):.4f} "
          f"({b.failed}/{b.attempted})")
    for note in b.notes[:20]:
        print("  " + note)
    if args.trace:
        print(f"spans: {os.path.relpath(span_file, ROOT)}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

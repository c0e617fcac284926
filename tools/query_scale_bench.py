"""Degenerate-term query latency at scale (BENCH.md §3 worst case).

Builds (or reuses, keyed on n_docs + index format version) an index
over N synthetic full-HTML webtext docs and times the worst-case
queries warm: every query term is a stopword-frequency term matching
~all docs, so the run measures the bound-pruned decode paths (multi-
term block-max WAND, in-decode phrase adjacency, reference scorer) —
not selectivity luck.

Usage: python tools/query_scale_bench.py [n_docs] [cpus]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from open_source_search_engine_spark.config import EngineConf
    from open_source_search_engine_spark.index.build import (
        INDEX_FORMAT_VERSION,
        build_index,
    )
    from open_source_search_engine_spark.query.executor import (
        IndexReader,
        search,
    )
    from open_source_search_engine_spark.session import get_spark
    from open_source_search_engine_spark.sources.webtext import synthesize

    spark = get_spark(app="osse-qscale", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from open_source_search_engine_spark.functions.codec import CODEC_VERSION

    idx = (f"/tmp/osse_qscale_{n_docs}_v{INDEX_FORMAT_VERSION}"
           f"_c{CODEC_VERSION}")
    if not os.path.exists(os.path.join(idx, "_index_meta.json")):
        t0 = time.time()
        build_index(spark, synthesize(spark, n_docs), idx, resume=True)
        print(f"# build {time.time() - t0:.1f}s", file=sys.stderr)

    rd = IndexReader(spark, idx)
    rd.avgdl
    timings: dict[str, float] = {}

    def timed(name, fn):
        fn()  # warm
        t = time.time()
        fn()
        timings[name] = round(time.time() - t, 3)

    # 'the'/'of'/'and' hit nearly every synthetic doc (Zipf stops)
    timed("and3_degenerate",
          lambda: search(spark, idx, "the of and", k=10,
                         reader=rd).collect())
    timed("single_degenerate",
          lambda: search(spark, idx, "the", k=10, reader=rd).collect())
    timed("phrase_degenerate",
          lambda: search(spark, idx, '"of the"', k=10,
                         reader=rd).collect())
    ref = EngineConf(scorer="reference")
    timed("reference_3term",
          lambda: search(spark, idx, "the of and", k=10, conf=ref,
                         reader=rd).collect())
    # 2-term (pair-bound-dominated) and 1-term (plateau certificate)
    # reference shapes — the round-4 two-pass loop's worst cases
    timed("reference_2term",
          lambda: search(spark, idx, "the of", k=10, conf=ref,
                         reader=rd).collect())
    timed("reference_1term",
          lambda: search(spark, idx, "the", k=10, conf=ref,
                         reader=rd).collect())

    # mid-df flat-ratio 3-term AND (~10%-df topic words): non-stopword,
    # non-selective — the shape that used to fall back to full decode
    # before uniform salting (VERDICT r2 #1 done-criterion)
    timed("and3_middf",
          lambda: search(spark, idx, "topic01 topic02 topic03", k=10,
                         reader=rd).collect())
    from open_source_search_engine_spark.query.executor import (
        multi_wand_stats,
        numeric_block_stats,
    )

    wst = multi_wand_stats(spark, idx, "topic01 topic02 topic03", k=10)
    wand_evidence = {
        "blocks_total": int(wst["blocks_total"].iloc[0]),
        "blocks_decoded": int(wst["blocks_decoded"].iloc[0]),
    }
    # single-term WAND on a tf-varied stopword list: the r5 tf-band ->
    # min-dl frontier prunes hard here (~86% of 'the' blocks at 500k);
    # the topicNN counter above is at the block-bound information limit
    # instead (all-tf-1 lists, random dl order: the IDEAL same-doc
    # block bound prunes 0/176 pivot blocks — BENCH.md §9; that shape
    # belongs to the sketch-gated reroute, see and3_middf's latency)
    from open_source_search_engine_spark.query.executor import (
        single_wand_stats,
    )

    sst = single_wand_stats(spark, idx, "the", k=10)
    wand_evidence_single = {
        "blocks_total": int(sst["blocks_total"].iloc[0]),
        "blocks_decoded": int(sst["blocks_decoded"].iloc[0]),
    }

    # stopword-containing boolean (VERDICT r2 #4 done-criterion:
    # within 2x of the AND path) — rarest arm seeds candidate pruning
    # for the stopword decodes
    timed("bool_stopword",
          lambda: search(spark, idx, "topic01 AND (the OR of)", k=10,
                         reader=rd).collect())

    # boolean under the reference scorer (r4: vote-buffer membership ->
    # candidate-restricted position scoring, require_all=False)
    from open_source_search_engine_spark.config import EngineConf as _EC

    _refc = _EC(scorer="reference")
    timed("bool_stopword_reference",
          lambda: search(spark, idx, "topic01 AND (the OR of)", k=10,
                         conf=_refc, reader=rd).collect())

    # bounded site-clustered over a degenerate term (VERDICT r2 #5:
    # never scores the full match set)
    from open_source_search_engine_spark.query.executor import (
        search_clustered,
    )

    timed("clustered_degenerate",
          lambda: search_clustered(spark, idx, "the", k=10,
                                   reader=rd).collect())

    # page-2 pagination (offset=10): one deeper WAND pass, no rescore
    timed("paged_offset10",
          lambda: search(spark, idx, "the of and", k=10, offset=10,
                         reader=rd).collect())

    # clustered + Msg40 url-dedup + family filter (driver-side buffer
    # filters + one candidate-restricted gbisadult probe)
    timed("clustered_msg40_filters",
          lambda: search_clustered(spark, idx, "the", k=10,
                                   dedup_url=True, family_filter=True,
                                   reader=rd).collect())

    # numeric range probe + block-skip evidence (VERDICT r2 #6)
    from open_source_search_engine_spark.query.compiler import (
        _numeric_tid,
    )
    from open_source_search_engine_spark.query.executor import (
        _numeric_values,
    )

    vmax = int(_numeric_values(rd, _numeric_tid("warc_ts"))
               .agg({"value": "max"}).collect()[0][0])
    timed("numeric_range",
          lambda: search(spark, idx,
                         f"gbmin:warc_ts:{vmax - 100}", k=None,
                         reader=rd).collect())
    nst = numeric_block_stats(spark, idx, "warc_ts",
                              lo=float(vmax - 100), hi=None)
    numeric_evidence = {
        "blocks_total": int(nst["blocks_total"].iloc[0]),
        "blocks_decoded": int(nst["blocks_decoded"].iloc[0]),
    }

    # HF-term shortcut path (HighFrequencyTermShortcuts analog): build
    # champion lists for the stopword terms once, re-time the worst case
    from open_source_search_engine_spark.index.shortcuts import (
        build_hf_shortcuts,
    )

    if not os.path.exists(os.path.join(idx, "hf_shortcuts")):
        t0 = time.time()
        nsh = build_hf_shortcuts(spark, idx, top_c=50_000)
        print(f"# hf_shortcuts: {nsh} terms in {time.time() - t0:.1f}s",
              file=sys.stderr)
    hconf = EngineConf(use_hf_shortcuts=True)
    rd_hf = IndexReader(spark, idx, hconf)
    rd_hf.avgdl
    timed("and3_hf_shortcut",
          lambda: search(spark, idx, "the of and", k=10, conf=hconf,
                         reader=rd_hf).collect())
    timed("single_hf_shortcut",
          lambda: search(spark, idx, "the", k=10, conf=hconf,
                         reader=rd_hf).collect())
    refhf = EngineConf(scorer="reference", use_hf_shortcuts=True)
    rd_rhf = IndexReader(spark, idx, refhf)
    rd_rhf.avgdl
    timed("reference_3term_hf",
          lambda: search(spark, idx, "the of and", k=10, conf=refhf,
                         reader=rd_rhf).collect())

    # concurrent query THROUGHPUT (the reference's headline is ~8 qps
    # on a 10M-page index, html/faq.html:316): latency above is
    # per-job wall incl. scheduler overhead; a serving deployment runs
    # queries concurrently in one SparkSession (FAIR scheduling across
    # jobs), so qps >> 1/latency. 16 mixed warm queries on 8 threads.
    from concurrent.futures import ThreadPoolExecutor

    mixed = ["the of and", "topic01 topic02 topic03", "the",
             '"of the"', "topic05 topic06", "the of",
             "topic11 topic12 topic13", "of and"] * 2

    def one(q):
        return search(spark, idx, q, k=10, reader=rd).collect()

    with ThreadPoolExecutor(8) as ex:
        list(ex.map(one, mixed[:4]))  # warm the thread/job path
        t0 = time.time()
        list(ex.map(one, mixed))
        qps = round(len(mixed) / (time.time() - t0), 2)

    from open_source_search_engine_spark.functions.gbhash import term_id

    dfs = rd.df_of([term_id("the"), term_id("of"), term_id("and"),
                    term_id("topic01"), term_id("topic02"),
                    term_id("topic03")])
    out = {"n_docs": n_docs, "cpus": cpus, "queries": timings,
           "concurrent_qps_16x8": qps,
           "term_dfs": {t: int(d) for t, d in
                        zip(("the", "of", "and", "topic01", "topic02",
                             "topic03"), dfs.values())},
           "middf_wand_blocks": wand_evidence,
           "single_wand_blocks": wand_evidence_single,
           "numeric_block_skip": numeric_evidence}
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

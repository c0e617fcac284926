"""Query-result cache: snapshot-fingerprint invalidation, the fork's
SearchInput use-cache policy chain, and result identity hit vs miss."""

from __future__ import annotations

import datetime as dt
import json
import os

import pandas as pd

from open_source_search_engine_spark.index.build import (
    build_index,
    delete_docs,
)
from open_source_search_engine_spark.query.cache import QueryCache


def _corpus(spark, docs):
    rows = [{"url": f"http://s{d % 3}.example/p/{d}.html",
             "warc_ts": dt.datetime(2024, 1, 1) + dt.timedelta(minutes=d),
             "html": f"<html><body><p>{t}</p></body></html>".encode(),
             "text": t, "lang": "en", "doc_id": d}
            for d, t in docs.items()]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_cache_hit_identity_and_snapshot_invalidation(
        spark, small_conf, tmp_index, tmp_path):
    docs = {d: f"spark merge ranking doc{d}" for d in range(1, 9)}
    build_index(spark, _corpus(spark, docs), tmp_index,
                conf=small_conf, gen=0)
    qc = QueryCache(str(tmp_path / "qcache"))

    fresh = [(r["doc_id"], r["score"]) for r in
             qc.search(spark, tmp_index, "spark merge", k=5,
                       conf=small_conf).collect()]
    assert (qc.hits, qc.misses) == (0, 1)
    hit = [(r["doc_id"], r["score"]) for r in
           qc.search(spark, tmp_index, "spark merge", k=5,
                     conf=small_conf).collect()]
    assert (qc.hits, qc.misses) == (1, 1)
    assert hit == fresh  # values AND (score desc, doc_id asc) order

    # new tombstone generation -> new snapshot fingerprint -> miss,
    # and the fresh result reflects the deletion
    delete_docs(spark, tmp_index, [fresh[0][0]], gen=1)
    meta_p = os.path.join(tmp_index, "_index_meta.json")
    meta = json.load(open(meta_p))
    meta["gens"] = sorted(set(meta["gens"]) | {1})
    json.dump(meta, open(meta_p, "w"))
    after = [(r["doc_id"], r["score"]) for r in
             qc.search(spark, tmp_index, "spark merge", k=5,
                       conf=small_conf).collect()]
    assert (qc.hits, qc.misses) == (1, 2)
    assert fresh[0][0] not in {d for d, _ in after}


def test_cache_policy_chain(spark, small_conf, tmp_index, tmp_path):
    docs = {d: f"spark merge doc{d}" for d in range(1, 6)}
    build_index(spark, _corpus(spark, docs), tmp_index,
                conf=small_conf, gen=0)

    # auto + spidering: positive site: field never reads or writes
    qc = QueryCache(str(tmp_path / "qc1"), spider_enabled=True)
    for _ in range(2):
        qc.search(spark, tmp_index, "site:s1.example spark",
                  conf=small_conf).collect()
    assert (qc.hits, qc.misses) == (0, 2)
    assert os.listdir(qc.cache_dir) == []

    # NEGATIVE site: does not disable the cache (the reference checks
    # m_hasPositiveSiteField)
    qc.search(spark, tmp_index, "spark -site:s1.example",
              conf=small_conf).collect()
    qc.search(spark, tmp_index, "spark -site:s1.example",
              conf=small_conf).collect()
    assert qc.hits == 1

    # spidering disabled: auto caches even site: queries
    qc2 = QueryCache(str(tmp_path / "qc2"), spider_enabled=False)
    qc2.search(spark, tmp_index, "site:s1.example spark",
               conf=small_conf).collect()
    qc2.search(spark, tmp_index, "site:s1.example spark",
               conf=small_conf).collect()
    assert (qc2.hits, qc2.misses) == (1, 1)

    # explicit use_cache=1 overrides the field heuristic
    qc3 = QueryCache(str(tmp_path / "qc3"), spider_enabled=True)
    qc3.search(spark, tmp_index, "site:s1.example spark",
               conf=small_conf, use_cache=1).collect()
    qc3.search(spark, tmp_index, "site:s1.example spark",
               conf=small_conf, use_cache=1).collect()
    assert (qc3.hits, qc3.misses) == (1, 1)

    # max_age_secs=0: entries are written but immediately stale
    qc4 = QueryCache(str(tmp_path / "qc4"), max_age_secs=0.0)
    qc4.search(spark, tmp_index, "spark", conf=small_conf).collect()
    qc4.search(spark, tmp_index, "spark", conf=small_conf).collect()
    assert (qc4.hits, qc4.misses) == (0, 2)


def test_cache_key_fingerprints_all_score_conf(tmp_path):
    """ADVICE r4: ANY result-affecting conf change must change the
    cache key (two sessions sharing a cache_dir with different scoring
    knobs never share entries); plan-only knobs must NOT (a codec or
    planner flip keeps the cache warm)."""
    import dataclasses
    import json

    from open_source_search_engine_spark.config import EngineConf

    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    json.dump({"gens": [0], "n_docs": 10},
              open(os.path.join(idx, "_index_meta.json"), "w"))
    qc = QueryCache(str(tmp_path / "qc"))
    base = EngineConf()
    k0 = qc._key(idx, "spark", 10, base)

    score_variants = dict(
        k1=2.0, b=0.5, scorer="reference",
        hashgroup_weights=tuple(
            w * 2 for w in base.hashgroup_weights),
        density_weight_min=0.5, syn_weight=0.5, termfreq_max=0.9,
        query_lang=1, same_lang_weight=5.0,
        use_page_temperature=True, use_hf_shortcuts=True,
    )
    for fld, val in score_variants.items():
        conf = dataclasses.replace(base, **{fld: val})
        assert qc._key(idx, "spark", 10, conf) != k0, fld

    for fld, val in dict(n_buckets=8,
                         planner_sketch_gate=False,
                         ref_two_pass_min_postings=5).items():
        conf = dataclasses.replace(base, **{fld: val})
        assert qc._key(idx, "spark", 10, conf) == k0, fld

"""End-to-end engine tests: build -> query on a controlled corpus, scores
checked against an independent in-Python BM25 computation; incremental /
delete / compaction flows mirroring RdbListTest + PosdbTest scenarios."""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import pandas as pd
import pytest

from open_source_search_engine_spark.index.build import (
    build_index,
    compact_index,
    delete_docs,
)
from open_source_search_engine_spark.query.executor import (
    IndexReader,
    search,
    search_all,
)

DOCS = {
    1: "spark shuffle partition merge",
    2: "spark spark spark index",
    3: "posting merge engine ranking spark",
    4: "query engine score proximity",
    5: "the one ranking",
    6: "unrelated words entirely here",
    7: "spark merge",
    8: "1 ranking score",
}


def _webtext_df(spark, docs=DOCS, suffix=""):
    rows = []
    for did, text in docs.items():
        body = (text + suffix).strip()
        html = f"<html><body><p>{body}</p></body></html>".encode()
        rows.append(
            {
                "url": f"http://s{did % 3}.example/p/{did}.html",
                "warc_ts": dt.datetime(2024, 1, 1) + dt.timedelta(minutes=did),
                "html": html,
                "text": body,
                "lang": "en",
                "doc_id": did,
            }
        )
    return spark.createDataFrame(pd.DataFrame(rows))


def _bm25_expected(docs, terms, k1=1.2, b=0.75):
    toks = {d: t.split() for d, t in docs.items()}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for d, tv in toks.items():
        if not all(t in tv for t in terms):
            continue
        s = 0.0
        for t in terms:
            tf = tv.count(t)
            df = sum(1 for v in toks.values() if t in v)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * len(tv) / avgdl))
        out[d] = s
    return out


@pytest.fixture(scope="module")
def built(spark, small_conf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    build_index(spark, _webtext_df(spark), d, conf=small_conf, gen=0)
    return d


def test_build_outputs(built, spark, small_conf):
    rd = IndexReader(spark, built, small_conf)
    assert rd.n_docs == len(DOCS)
    lex = {r["term"] for r in rd.lexicon().collect()}
    assert {"spark", "merge", "ranking"} <= lex
    stats = {r["term_id"]: (r["df"], r["cf"]) for r in rd.term_stats().collect()}
    from open_source_search_engine_spark.functions.gbhash import term_id
    assert stats[term_id("spark")] == (4, 6)
    assert stats[term_id("merge")] == (3, 3)


def test_search_and_scores_match_bm25(built, spark, small_conf):
    got = {
        r["doc_id"]: r["score"]
        for r in search_all(spark, built, "spark merge",
                            conf=small_conf).collect()
    }
    want = _bm25_expected(DOCS, ["spark", "merge"])
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=1e-9)


def test_topk_ordering_and_tiebreak(built, spark, small_conf):
    rows = search(spark, built, "spark", k=3, conf=small_conf).collect()
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert len(rows) == 3


def test_pagination_offset(built, spark, small_conf):
    """offset=N is the serving path's firstResultNum (SearchInput s=):
    pages tile the full ranking exactly — page1 + page2 == top-(2k),
    and an offset past the match set returns empty."""
    full = [(r["doc_id"], r["score"])
            for r in search(spark, built, "spark", k=4,
                            conf=small_conf).collect()]
    p1 = [(r["doc_id"], r["score"])
          for r in search(spark, built, "spark", k=2,
                          conf=small_conf).collect()]
    p2 = [(r["doc_id"], r["score"])
          for r in search(spark, built, "spark", k=2, offset=2,
                          conf=small_conf).collect()]
    assert p1 + p2 == full
    assert search(spark, built, "spark", k=5, offset=1000,
                  conf=small_conf).collect() == []
    with pytest.raises(ValueError):
        search(spark, built, "spark", k=2, offset=-1, conf=small_conf)


def test_phrase_adjacency(built, spark, small_conf):
    got = {r["doc_id"] for r in
           search_all(spark, built, '"posting merge"',
                      conf=small_conf).collect()}
    assert got == {3}
    # reversed order must not match
    got2 = {r["doc_id"] for r in
            search_all(spark, built, '"merge posting"',
                       conf=small_conf).collect()}
    assert got2 == set()


def test_negative_term(built, spark, small_conf):
    got = {r["doc_id"] for r in
           search_all(spark, built, "spark -index", conf=small_conf).collect()}
    assert got == {1, 3, 7}


def test_boolean_query(built, spark, small_conf):
    got = {r["doc_id"] for r in
           search_all(spark, built, "spark AND (index OR shuffle)",
                      conf=small_conf).collect()}
    assert got == {1, 2}
    got2 = {r["doc_id"] for r in
            search_all(spark, built, "index OR proximity",
                       conf=small_conf).collect()}
    assert got2 == {2, 4}


def test_field_site_query(built, spark, small_conf):
    got = {r["doc_id"] for r in
           search_all(spark, built, "site:s1.example",
                      conf=small_conf).collect()}
    assert got == {1, 4, 7}


def test_synonym_search(built, spark, small_conf):
    """'one' with synonyms also matches the doc containing only '1'
    (number-word alias, Synonyms.cpp analog), weighted syn_weight^2."""
    base = {r["doc_id"]: r["score"]
            for r in search_all(spark, built, "one",
                                conf=small_conf).collect()}
    assert set(base) == {5}
    got = {r["doc_id"]: r["score"]
           for r in search_all(spark, built, "one", conf=small_conf,
                               synonyms=True).collect()}
    assert set(got) == {5, 8}
    assert got[5] == pytest.approx(base[5], abs=1e-9)
    want_8 = _bm25_expected(DOCS, ["1"])[8] * small_conf.syn_weight ** 2
    assert got[8] == pytest.approx(want_8, abs=1e-9)


def test_snippets_and_titles(built, spark, small_conf):
    """Msg20 analog: title fallback = first tokens, snippet = best
    window by distinct query-word count, leftmost tie-break."""
    from open_source_search_engine_spark.query.summary import (
        search_with_snippets,
        snippet_of,
        title_of,
    )

    # pure rules first
    assert snippet_of("a b c spark merge d", {"spark", "merge"},
                      window_tokens=3) == "spark merge d"
    assert title_of(None, "alpha beta gamma delta", title_tokens=2) == \
        "alpha beta"
    assert title_of("Real Title", "x y", title_tokens=2) == "Real Title"

    texts = _webtext_df(spark).select("doc_id", "text")
    rows = search_with_snippets(
        spark, built, "spark merge", texts, k=3, conf=small_conf).collect()
    assert rows, "query matches docs 1, 3, 7"
    for r in rows:
        assert "spark" in r["snippet"] and "merge" in r["snippet"]
        assert r["title"]
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_sentence_summary_and_highlight(built, spark, small_conf):
    """Sentence-bounded best excerpt (Summary.cpp:347 getBestWindow) +
    Highlight.cpp cycling span markup."""
    from open_source_search_engine_spark.query.summary import (
        highlight_text,
        search_with_snippets,
        sentence_snippet_of,
    )

    # pure rules: leftmost best sentence by distinct query-word count
    txt = "alpha beta gamma. spark merge wins here. spark alone."
    assert sentence_snippet_of(txt, {"spark", "merge"}) == \
        "spark merge wins here"
    # tie -> leftmost
    assert sentence_snippet_of("spark a. spark b.", {"spark"}) == "spark a"
    # [.!?] punct splits; no match at all -> leftmost sentence
    assert sentence_snippet_of("nav item! spark merge body",
                               {"spark", "merge"}) == "spark merge body"
    assert sentence_snippet_of("first part. second part.",
                               {"absent"}) == "first part"
    # highlight: term 0 -> gbcnst00, term 1 -> gbcnst01, case kept
    assert highlight_text("The Spark merge", ["spark", "merge"]) == \
        "The <span class='gbcnst00'>Spark</span> " \
        "<span class='gbcnst01'>merge</span>"

    texts = _webtext_df(spark).select("doc_id", "text")
    rows = search_with_snippets(
        spark, built, "spark merge", texts, k=3, conf=small_conf,
        mode="sentence", highlight=True).collect()
    assert rows
    for r in rows:
        assert "<span class='gbcnst00'>spark</span>" in r["snippet"].lower()


def test_numeric_sortby_and_range(built, spark, small_conf):
    """gbsortby:/gbrevsortby:/gbmin:/gbmax: numeric termlist operators
    (BF_NUMBER, PosdbTable.cpp:4282-4321). warc_ts of the fixture is
    2024-01-01 + minutes(doc_id)."""
    base = 28401120  # 2024-01-01T00:00Z in minutes since epoch
    rows = search(spark, built, "ranking gbsortby:warc_ts", k=10,
                  conf=small_conf).collect()
    assert [r["doc_id"] for r in rows] == [8, 5, 3]
    assert int(rows[0]["sort_value"]) == base + 8
    rows = search(spark, built, "ranking gbrevsortby:warc_ts", k=10,
                  conf=small_conf).collect()
    assert [r["doc_id"] for r in rows] == [3, 5, 8]
    rows = search_all(
        spark, built,
        f"gbmin:warc_ts:{base + 2} gbmax:warc_ts:{base + 5}",
        conf=small_conf).collect()
    assert sorted(r["doc_id"] for r in rows) == [2, 3, 4, 5]


def test_inlink_text_and_link_field(spark, small_conf, tmp_path_factory):
    """Incoming-link-text indexing (hashIncomingLinkText analog): anchor
    words match the LINKEE; link:<url> matches the LINKER; external
    targets are dropped."""
    import datetime as dtm

    rows = []
    urls = {d: f"http://s0.example/p/{d}.html" for d in (1, 2, 3)}
    bodies = {1: "alpha beta", 2: "gamma delta", 3: "epsilon zeta"}
    anchors = {
        1: f'<a href="{urls[2]}">wonderful zebra engine</a> '
           '<a href="http://elsewhere.example/x">offsite anchor</a>',
        2: '<a href="/p/3.html">relative quokka</a>',
        3: "",
    }
    for d in (1, 2, 3):
        html = (f"<html><body><p>{bodies[d]}</p>"
                f"{anchors[d]}</body></html>").encode()
        rows.append({"url": urls[d],
                     "warc_ts": dtm.datetime(2024, 1, 1),
                     "html": html, "text": None, "lang": "en",
                     "doc_id": d})
    wt = spark.createDataFrame(pd.DataFrame(rows))
    idx = str(tmp_path_factory.mktemp("linkidx"))
    build_index(spark, wt, idx, conf=small_conf, gen=0)

    # anchor word 'zebra': visible body text of the LINKER doc1 AND
    # inlink-text posting on the LINKEE doc2 (reference indexes both)
    got = {r["doc_id"] for r in
           search_all(spark, idx, "zebra", conf=small_conf).collect()}
    assert got == {1, 2}
    # the linkee's posting must carry HASHGROUP_INLINKTEXT
    from open_source_search_engine_spark.functions.gbhash import term_id
    from open_source_search_engine_spark.functions.posdb import (
        HASHGROUP_BODY,
        HASHGROUP_INLINKTEXT,
        unpack_ctx,
    )
    from open_source_search_engine_spark.query.executor import IndexReader

    rd = IndexReader(spark, idx, small_conf)
    rows = {r["doc_id"]: r for r in
            rd.postings([term_id("zebra")], with_positions=True).collect()}
    hg2 = {unpack_ctx(c)[0] for c in rows[2]["ctxs"]}
    assert hg2 == {HASHGROUP_INLINKTEXT}
    # doc1's two consecutive sibling anchors form a menu under setMenus
    # (Sections.cpp:2394-2470), so its own 'zebra' posting is INMENU —
    # the reference-faithful group for link-run text
    from open_source_search_engine_spark.functions.posdb import (
        HASHGROUP_INMENU,
    )

    assert {unpack_ctx(c)[0] for c in rows[1]["ctxs"]} == \
        {HASHGROUP_INMENU}
    # relative href resolves against s0.example: doc2 -> doc3
    got = {r["doc_id"] for r in
           search_all(spark, idx, "quokka", conf=small_conf).collect()}
    assert got == {2, 3}
    # 'offsite' anchor targets a non-corpus url: linker body only, no
    # linkee postings anywhere
    got = {r["doc_id"] for r in
           search_all(spark, idx, "offsite", conf=small_conf).collect()}
    assert got == {1}
    # link:<url of doc2> matches the LINKER doc1
    got = {r["doc_id"] for r in
           search_all(spark, idx, f"link:{urls[2]}",
                      conf=small_conf).collect()}
    assert got == {1}


def test_gbdocid_and_ext_fields(built, spark, small_conf):
    """gbdocid:<N> direct lookup + combined filter; ext: url-extension
    term (Query.h:33-83 field list)."""
    got = search_all(spark, built, "gbdocid:3", conf=small_conf).collect()
    assert [r["doc_id"] for r in got] == [3]
    got = search_all(spark, built, "spark gbdocid:2",
                     conf=small_conf).collect()
    assert [r["doc_id"] for r in got] == [2]
    got = search_all(spark, built, "spark gbdocid:6",
                     conf=small_conf).collect()
    assert got == []  # doc6 has no 'spark'
    # fixture urls end .html
    got = {r["doc_id"] for r in
           search_all(spark, built, "ext:html", conf=small_conf).collect()}
    assert got == set(DOCS)


def test_content_dedup(spark, small_conf, tmp_path_factory):
    """Query-time duplicate-content removal (Msg40 content-hash dedup):
    identical texts collapse to the best-ranked doc."""
    from open_source_search_engine_spark.query.executor import (
        search_clustered,
    )

    docs = {1: "same words here", 2: "same words here",
            3: "other spark text"}
    idx = str(tmp_path_factory.mktemp("dedupidx"))
    build_index(spark, _webtext_df(spark, docs), idx, conf=small_conf,
                gen=0)
    got = {r["doc_id"] for r in
           search_clustered(spark, idx, "words", k=None, max_per_site=99,
                            dedup_content=True,
                            conf=small_conf).collect()}
    assert got == {1}
    got = {r["doc_id"] for r in
           search_clustered(spark, idx, "words", k=None, max_per_site=99,
                            conf=small_conf).collect()}
    assert got == {1, 2}


def test_unknown_term_empty(built, spark, small_conf):
    assert search_all(spark, built, "zzznothere", conf=small_conf).count() == 0


def test_incremental_newest_wins(spark, small_conf, tmp_index):
    build_index(spark, _webtext_df(spark), tmp_index, conf=small_conf, gen=0)
    # re-crawl doc 2 with different content
    build_index(
        spark,
        _webtext_df(spark, {2: "totally different now"}),
        tmp_index, conf=small_conf, gen=1)
    got = {r["doc_id"] for r in
           search_all(spark, tmp_index, "different",
                      conf=small_conf).collect()}
    assert got == {2}
    # the old content of doc 2 must be invisible (newest wins)
    got2 = {r["doc_id"] for r in
            search_all(spark, tmp_index, "index", conf=small_conf).collect()}
    assert 2 not in got2


def test_tombstone_then_compact(spark, small_conf, tmp_index):
    build_index(spark, _webtext_df(spark), tmp_index, conf=small_conf, gen=0)
    delete_docs(spark, tmp_index, [3], gen=1)
    meta_p = os.path.join(tmp_index, "_index_meta.json")
    meta = json.load(open(meta_p))
    meta["gens"] = sorted(set(meta["gens"]) | {1})
    json.dump(meta, open(meta_p, "w"))

    got = {r["doc_id"] for r in
           search_all(spark, tmp_index, "merge", conf=small_conf).collect()}
    assert got == {1, 7}  # doc 3 tombstoned

    compact_index(spark, tmp_index, conf=small_conf)
    rd = IndexReader(spark, tmp_index, small_conf)
    assert rd.gens == [2]
    assert rd.n_docs == len(DOCS) - 1
    got2 = {r["doc_id"] for r in
            search_all(spark, tmp_index, "merge", conf=small_conf).collect()}
    assert got2 == {1, 7}


def test_readd_after_tombstone(spark, small_conf, tmp_index):
    build_index(spark, _webtext_df(spark), tmp_index, conf=small_conf, gen=0)
    delete_docs(spark, tmp_index, [1], gen=1)
    build_index(spark, _webtext_df(spark, {1: "phoenix rebirth"}),
                tmp_index, conf=small_conf, gen=2)
    got = {r["doc_id"] for r in
           search_all(spark, tmp_index, "phoenix", conf=small_conf).collect()}
    assert got == {1}
    # old content dead, tombstone overridden by newer gen
    got2 = {r["doc_id"] for r in
            search_all(spark, tmp_index, "shuffle", conf=small_conf).collect()}
    assert 1 not in got2


def test_resume_skips_completed_buckets(spark, small_conf, tmp_index):
    build_index(spark, _webtext_df(spark), tmp_index, conf=small_conf, gen=0)
    manifests = os.listdir(os.path.join(tmp_index, "_manifests"))
    assert manifests
    before = {
        m: os.path.getmtime(os.path.join(tmp_index, "_manifests", m))
        for m in manifests
    }
    # second run with resume must not rewrite completed buckets
    build_index(spark, _webtext_df(spark), tmp_index, conf=small_conf,
                gen=0, resume=True)
    after = {
        m: os.path.getmtime(os.path.join(tmp_index, "_manifests", m))
        for m in os.listdir(os.path.join(tmp_index, "_manifests"))
    }
    assert before == after


def test_build_metrics_lineage(built):
    mdir = os.path.join(built, "_manifests")
    for m in os.listdir(mdir):
        rec = json.load(open(os.path.join(mdir, m)))
        assert rec["status"] == "complete"
        assert rec["n_postings"] > 0
        assert "input" in rec and rec["bytes_out"] > 0


def test_readd_after_tombstone_survives_compaction(spark, small_conf,
                                                   tmp_index):
    """ADVICE r1: compact_index must keep the docs-table row of a doc
    that was tombstoned and later re-indexed (only docs whose RESOLVED
    event is a tombstone drop), so gbdocid/snippets/clustering keep
    working post-compaction."""
    from open_source_search_engine_spark.query.executor import IndexReader

    build_index(spark, _webtext_df(spark), tmp_index, conf=small_conf, gen=0)
    delete_docs(spark, tmp_index, [1, 6], gen=1)
    build_index(spark, _webtext_df(spark, {1: "phoenix rebirth"}),
                tmp_index, conf=small_conf, gen=2)
    compact_index(spark, tmp_index, conf=small_conf)
    rd = IndexReader(spark, tmp_index, small_conf)
    doc_ids = {r["doc_id"] for r in rd.docs().select("doc_id").collect()}
    assert 1 in doc_ids      # re-added doc keeps its docs row
    assert 6 not in doc_ids  # plain tombstone stays dead
    got = {r["doc_id"] for r in
           search_all(spark, tmp_index, "phoenix",
                      conf=small_conf).collect()}
    assert got == {1}
    # direct doc lookup (inner join on docs) works post-compaction
    got2 = {r["doc_id"] for r in
            search_all(spark, tmp_index, "gbdocid:1",
                       conf=small_conf).collect()}
    assert got2 == {1}


def test_bucket_subset_resume_completes_stats(spark, small_conf, tmp_index):
    """ADVICE r1: a resumable build split across bucket subsets must end
    with COMPLETE term_stats — terms whose buckets finish in the second
    call get real df, not 0."""
    from open_source_search_engine_spark.query.executor import IndexReader

    nb = small_conf.n_buckets
    half = list(range(nb // 2))
    rest = list(range(nb // 2, nb))
    build_index(spark, _webtext_df(spark), tmp_index, conf=small_conf,
                gen=0, buckets=half, resume=True)
    build_index(spark, _webtext_df(spark), tmp_index, conf=small_conf,
                gen=0, buckets=rest, resume=True)
    rd = IndexReader(spark, tmp_index, small_conf)
    # every indexed term must have stats coverage: df > 0 for terms in
    # EVERY bucket, and a search for words hashing to late buckets works
    stats = rd.term_stats().select("term_id", "df").toPandas()
    assert (stats["df"] > 0).all()
    buckets_seen = {int(t) % nb for t in stats["term_id"]}
    assert buckets_seen == set(range(nb))
    for word in ("spark", "merge", "ranking", "engine", "query"):
        got = search_all(spark, tmp_index, word, conf=small_conf).collect()
        assert got, f"term {word} lost by subset-resume stats"


def test_anchor_max_linkers_cap(spark):
    """Viral-linkee guard (Msg25.h:89 MAX_LINKERS): only the top-N
    inlinks by linker siteRank produce INLINKTEXT postings; the salted
    two-phase top-N keeps the exact same winners as a global sort."""
    from open_source_search_engine_spark.functions.gbhash import term_id
    from open_source_search_engine_spark.index.build import (
        PARSED_SCHEMA,
        anchor_parsed,
    )

    linkee = "http://hot.example/p/000001.html"
    rows = []
    # linkee doc itself (join target)
    rows.append({"doc_id": 1, "url": linkee, "site_id": 1, "site_rank": 0,
                 "lang_id": 1, "title": None, "n_tokens": 5,
                 "warc_ts": None, "term_ids": [], "poss": [], "ctxs": [],
                 "lex_words": [], "lex_ids": [], "out_hrefs": [],
                 "out_texts": [], "out_neigh": [], "content_hash": 0})
    # 10 linkers with distinct anchors; siteRank = doc_id % 16
    for d in range(2, 12):
        rows.append({"doc_id": d, "url": f"http://l{d}.example/x.html",
                     "site_id": d, "site_rank": d, "lang_id": 1,
                     "title": None, "n_tokens": 5, "warc_ts": None,
                     "term_ids": [], "poss": [], "ctxs": [],
                     "lex_words": [], "lex_ids": [],
                     "out_hrefs": [linkee], "out_texts": [f"anchor{d:02d}"],
                     "out_neigh": [f"near{d:02d} words"],
                     "content_hash": 0})
    parsed = spark.createDataFrame(rows, PARSED_SCHEMA)
    out = anchor_parsed(parsed, max_linkers=3, n_salts=2).collect()
    assert len(out) == 3  # one PARSED row per surviving inlink
    kept = set()
    for r in out:
        assert r["doc_id"] == 1  # postings belong to the linkee
        kept.update(r["term_ids"])
    # winners = the 3 highest-rank linkers (11, 10, 9)
    for d in (11, 10, 9):
        assert term_id(f"anchor{d:02d}") in kept
    for d in (2, 3, 4, 5, 6, 7, 8):
        assert term_id(f"anchor{d:02d}") not in kept


def test_neighborhood_text_indexing(spark, small_conf, tmp_path_factory):
    """hashNeighborhoods (XmlDoc_Indexing.cpp:1350-1391): the visible
    text AROUND an external inlink's anchor is indexed for the LINKEE
    under HASHGROUP_NEIGHBORHOOD; same-site inlinks are skipped
    (same-IP/16 analog :1371)."""
    import datetime as dtm

    rows = []
    urls = {1: "http://linker.example/a.html",
            2: "http://target.example/b.html",
            3: "http://target.example/c.html"}
    # doc1 (external linker): 'qqnearby' surrounds the anchor to doc2
    # doc3 (same site as doc2): 'qqinternal' surrounds its anchor
    htmls = {
        1: (f'<p>qqnearby context</p><a href="{urls[2]}">click</a>'
            f"<p>qqafter words</p>"),
        2: "<p>target body</p>",
        3: f'<p>qqinternal here</p><a href="{urls[2]}">click2</a>',
    }
    for d in (1, 2, 3):
        rows.append({"url": urls[d],
                     "warc_ts": dtm.datetime(2024, 1, 1),
                     "html": f"<html><body>{htmls[d]}</body></html>"
                     .encode(),
                     "text": None, "lang": "en", "doc_id": d})
    idx = str(tmp_path_factory.mktemp("neighidx"))
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)), idx,
                conf=small_conf, gen=0)

    from open_source_search_engine_spark.functions.gbhash import term_id
    from open_source_search_engine_spark.functions.posdb import (
        HASHGROUP_NEIGHBORHOOD,
        unpack_ctx,
    )
    from open_source_search_engine_spark.query.executor import IndexReader

    # 'qqnearby' matches the linker (body) AND the linkee (neighborhood)
    got = {r["doc_id"] for r in
           search_all(spark, idx, "qqnearby", conf=small_conf).collect()}
    assert got == {1, 2}
    rd = IndexReader(spark, idx, small_conf)
    prows = {r["doc_id"]: r for r in
             rd.postings([term_id("qqnearby")],
                         with_positions=True).collect()}
    assert {unpack_ctx(c)[0] for c in prows[2]["ctxs"]} == \
        {HASHGROUP_NEIGHBORHOOD}
    # same-site inlink: no neighborhood postings on the linkee
    got3 = {r["doc_id"] for r in
            search_all(spark, idx, "qqinternal", conf=small_conf).collect()}
    assert got3 == {3}


def test_neighborhood_for_empty_anchor_links(spark, small_conf,
                                             tmp_path_factory):
    """hashNeighborhoods is NOT conditioned on anchor text
    (XmlDoc_Indexing.cpp:1350-1391): an external image link with no
    anchor words still gives the linkee neighborhood postings
    (code-review r2 finding #6)."""
    import datetime as dtm

    rows = [
        {"url": "http://linker.example/a.html",
         "warc_ts": dtm.datetime(2024, 1, 1),
         "html": (b"<html><body><p>qqaround text here</p>"
                  b'<a href="http://target.example/b.html">'
                  b"<img src=\"/x.png\"></a></body></html>"),
         "text": None, "lang": "en", "doc_id": 1},
        {"url": "http://target.example/b.html",
         "warc_ts": dtm.datetime(2024, 1, 1),
         "html": b"<html><body><p>target body</p></body></html>",
         "text": None, "lang": "en", "doc_id": 2},
    ]
    idx = str(tmp_path_factory.mktemp("imgneigh"))
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)), idx,
                conf=small_conf, gen=0)
    got = {r["doc_id"] for r in
           search_all(spark, idx, "qqaround", conf=small_conf).collect()}
    assert got == {1, 2}  # linker body + linkee neighborhood


def test_boolean_not_and_nested(built, spark, small_conf):
    """Join-composed boolean evaluation (round 3): NOT arms and nested
    groups must match the old truth-table semantics — the domain is docs
    holding >= 1 query term."""
    got = {r["doc_id"] for r in
           search_all(spark, built, "spark AND NOT index",
                      conf=small_conf).collect()}
    base = {r["doc_id"] for r in
            search_all(spark, built, "spark -index",
                       conf=small_conf).collect()}
    assert got == base
    got2 = {r["doc_id"] for r in
            search_all(spark, built, "(spark OR proximity) AND NOT shuffle",
                       conf=small_conf).collect()}
    sp = {r["doc_id"] for r in search_all(spark, built, "spark",
                                          conf=small_conf).collect()}
    pr = {r["doc_id"] for r in search_all(spark, built, "proximity",
                                          conf=small_conf).collect()}
    sh = {r["doc_id"] for r in search_all(spark, built, "shuffle",
                                          conf=small_conf).collect()}
    assert got2 == (sp | pr) - sh


def test_nonbody_positions_continue_stream(spark, small_conf, tmp_path):
    """Non-body hash groups continue the document word stream via the
    shared dist cursor (XmlDoc_Indexing.cpp:2247: after each hashString
    pass m_dist = last pos + 100) instead of restarting at 0 — a title
    posting's positions must sit strictly AFTER every body position."""
    import datetime as dt

    import pandas as pd

    from open_source_search_engine_spark.index.build import build_index
    from open_source_search_engine_spark.query.compiler import (
        compile_query,
    )
    from open_source_search_engine_spark.query.executor import IndexReader

    rows = [{
        "url": "http://cont.example/p/1.html",
        "warc_ts": dt.datetime(2024, 1, 1),
        "html": (b"<html><head><title>zebra unique</title></head>"
                 b"<body><p>plain body words here zebra</p></body></html>"),
        "text": "plain body words here zebra", "lang": "en", "doc_id": 1,
    }]
    d = str(tmp_path / "contidx")
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)), d,
                conf=small_conf, gen=0)
    rd = IndexReader(spark, d, small_conf)
    tid = compile_query("zebra").groups[0].term_ids[0]
    r = rd.postings([tid], with_positions=True).collect()[0]
    ctxs = list(r["ctxs"])
    poss = list(r["positions"])
    hgs = [(c >> 15) & 0xF for c in ctxs]
    body_pos = [p for p, h in zip(poss, hgs) if h == 0]
    title_pos = [p for p, h in zip(poss, hgs) if h == 1]
    assert body_pos and title_pos
    # title continues AFTER the body stream with the +100 gap
    assert min(title_pos) >= max(body_pos) + 99


def test_reader_caches_stable_across_repeat_queries(built, spark, small_conf):
    """Serving-model caches (df_of memo, segment-scan relation reuse)
    must be invisible: repeated lookups through one reader return the
    same values as a fresh reader, including df=0 misses."""
    from open_source_search_engine_spark.functions.gbhash import term_id

    rd = IndexReader(spark, built, small_conf)
    tids = [term_id("spark"), term_id("merge"), term_id("nosuchword")]
    first = rd.df_of(tids)
    again = rd.df_of(tids)          # full cache hit
    mixed = rd.df_of(tids + [term_id("ranking")])  # partial miss
    fresh = IndexReader(spark, built, small_conf).df_of(
        tids + [term_id("ranking")])
    assert first == again == {t: fresh[t] for t in tids}
    assert mixed == fresh
    assert fresh[term_id("nosuchword")] == 0

    a = search(spark, built, "spark merge", k=5, conf=small_conf,
               reader=rd).collect()
    b = search(spark, built, "spark merge", k=5, conf=small_conf,
               reader=rd).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == \
        [(r["doc_id"], r["score"]) for r in b]


def test_maybe_compact_policy(spark, small_conf, tmp_index):
    """RdbBase minToMerge analog: below the threshold maybe_compact is
    a no-op; at the threshold it compacts to one generation."""
    from open_source_search_engine_spark.index.build import maybe_compact

    build_index(spark, _webtext_df(spark), tmp_index, conf=small_conf,
                gen=0)
    build_index(spark,
                _webtext_df(spark, {2: "totally different now"}),
                tmp_index, conf=small_conf, gen=1)
    assert maybe_compact(spark, tmp_index, min_to_merge=4,
                         conf=small_conf) is None
    rd = IndexReader(spark, tmp_index, small_conf)
    assert rd.gens == [0, 1]  # untouched below threshold
    assert maybe_compact(spark, tmp_index, min_to_merge=2,
                         conf=small_conf) is not None
    rd2 = IndexReader(spark, tmp_index, small_conf)
    assert rd2.gens == [2]
    got = {r["doc_id"] for r in
           search_all(spark, tmp_index, "different",
                      conf=small_conf).collect()}
    assert got == {2}  # newest-wins preserved through the policy path


def test_degenerate_queries_never_crash(spark, small_conf, tmp_index):
    """Serving robustness: malformed/degenerate user queries return a
    (possibly empty) result frame — never raise. Compile-level shapes
    are fuzz-pinned in test_compiler; this pins the full search path."""
    from open_source_search_engine_spark.query.executor import search

    build_index(spark, _webtext_df(spark), tmp_index, conf=small_conf,
                gen=0)
    for q in ["", "   ", '""', "(AND)", "a AND", "gbmin:x:",
              "gbdocid:zz", "NOT", "merge (index OR", ")(",
              "gbsortby:", "gbtermid:xx", "-index"]:
        df = search(spark, tmp_index, q, k=5, conf=small_conf)
        assert df.count() >= 0  # materializes without raising


def test_summary_similarity_dedup(spark, small_conf, tmp_path_factory):
    """Msg40 percentSimilarSummary dedup: near-identical title+summary
    vectors collapse to the best-ranked result; a high threshold keeps
    both (computeSimilarity is Dice*100 on deduped word-hash vectors)."""
    from open_source_search_engine_spark.query.executor import (
        search_clustered,
    )
    from open_source_search_engine_spark.query.resultdedup import (
        percent_similar,
        summary_vector,
    )

    docs = {1: "green apples fresh from the orchard today",
            2: "green apples fresh from the orchard tonight",
            3: "blue bicycles racing downhill fast apples"}
    idx = str(tmp_path_factory.mktemp("sumdedup"))
    src = _webtext_df(spark, docs)
    build_index(spark, src, idx, conf=small_conf, gen=0)
    # pure-function ground truth: 6 shared of 7+7 -> 85.71 -> floor 85
    v1 = summary_vector(None, docs[1])
    v2 = summary_vector(None, docs[2])
    assert int(percent_similar(v1, v2)) == 85
    assert percent_similar(v1, v1) == 100.0
    assert percent_similar([], v1) == 0.0

    kw = dict(k=None, max_per_site=99, conf=small_conf,
              text_source=src.select("doc_id", "text"))
    got = {r["doc_id"] for r in search_clustered(
        spark, idx, "apples", percent_similar_summary=80, **kw).collect()}
    assert got == {1, 3}
    got = {r["doc_id"] for r in search_clustered(
        spark, idx, "apples", percent_similar_summary=90, **kw).collect()}
    assert got == {1, 2, 3}


def test_url_normalize_dedup(spark, small_conf, tmp_path_factory):
    """Msg40 URL normalize-and-compare: scheme/trailing-slash/variant-
    subdomain-stripped urls collapse; site: queries skip the filter."""
    from open_source_search_engine_spark.query.executor import (
        search_clustered,
    )
    from open_source_search_engine_spark.query.resultdedup import (
        normalize_url_for_dedup as norm,
    )

    assert norm("http://www.dup.example/a/p.html") == "dup.example/a/p.html"
    assert norm("https://dup.example/a/p.html/") == "dup.example/a/p.html"
    assert norm("http://en.dup.example/a/p.html") == "dup.example/a/p.html"
    # no path beyond "/": the subdomain stays (u.getPathLen() > 1 gate)
    assert norm("http://www.dup.example/") == "www.dup.example"
    # non-variant subdomain stays
    assert norm("http://shop.dup.example/a/p.html") \
        == "shop.dup.example/a/p.html"

    rows = []
    for did, (url, text) in {
        1: ("http://www.dup.example/a/p.html", "wild otters swim happily"),
        2: ("http://dup.example/a/p.html", "wild otters dive deep"),
        3: ("http://other.example/b/q.html", "wild otters eat fish"),
    }.items():
        rows.append({"url": url,
                     "warc_ts": dt.datetime(2024, 1, 1)
                     + dt.timedelta(minutes=did),
                     "html": f"<html><body><p>{text}</p></body></html>"
                     .encode(),
                     "text": text, "lang": "en", "doc_id": did})
    idx = str(tmp_path_factory.mktemp("urldedup"))
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)), idx,
                conf=small_conf, gen=0)
    got = {r["doc_id"] for r in search_clustered(
        spark, idx, "otters", k=None, max_per_site=99, dedup_url=True,
        conf=small_conf).collect()}
    assert got == {1, 3}  # doc 2 is the same normalized url as doc 1
    # a positive site: field disables the url dedup (Msg40.cpp:1589)
    got = {r["doc_id"] for r in search_clustered(
        spark, idx, "otters site:dup.example", k=None, max_per_site=99,
        dedup_url=True, conf=small_conf).collect()}
    assert got == {2}


def test_family_filter(spark, small_conf, tmp_path_factory):
    """SearchInput m_familyFilter: adult results vanish from clustered
    search before consuming any site slot (Msg3a.cpp:827)."""
    from open_source_search_engine_spark.query.executor import (
        search_clustered,
    )

    docs = {1: "wholesome gardening tips and tricks shared",
            2: "porn xxx gardening content flagged here",
            3: "gardening tools and soil advice daily"}
    idx = str(tmp_path_factory.mktemp("famidx"))
    build_index(spark, _webtext_df(spark, docs), idx, conf=small_conf,
                gen=0)
    got = {r["doc_id"] for r in search_clustered(
        spark, idx, "gardening", k=None, max_per_site=99,
        conf=small_conf).collect()}
    assert got == {1, 2, 3}
    got = {r["doc_id"] for r in search_clustered(
        spark, idx, "gardening", k=None, max_per_site=99,
        family_filter=True, conf=small_conf).collect()}
    assert got == {1, 3}
    # bounded mode takes the same filter
    got = [r["doc_id"] for r in search_clustered(
        spark, idx, "gardening", k=2, max_per_site=99,
        family_filter=True, conf=small_conf).collect()]
    assert 2 not in got and len(got) == 2


def test_clustered_pagination(built, spark, small_conf):
    """Clustered-search offset pages tile the clustered ranking exactly,
    in both the bounded and exhaustive paths."""
    from open_source_search_engine_spark.query.executor import (
        search_clustered,
    )

    full = [(r["doc_id"], r["score"]) for r in search_clustered(
        spark, built, "spark", k=4, max_per_site=99,
        conf=small_conf).collect()]
    p1 = [(r["doc_id"], r["score"]) for r in search_clustered(
        spark, built, "spark", k=2, max_per_site=99,
        conf=small_conf).collect()]
    p2 = [(r["doc_id"], r["score"]) for r in search_clustered(
        spark, built, "spark", k=2, max_per_site=99, offset=2,
        conf=small_conf).collect()]
    assert p1 + p2 == full
    # exhaustive (k=None) + offset through the _cluster_rank path
    allr = [(r["doc_id"], r["score"]) for r in search_clustered(
        spark, built, "spark", k=None, max_per_site=99,
        conf=small_conf).collect()]
    tail = [(r["doc_id"], r["score"]) for r in search_clustered(
        spark, built, "spark", k=None, max_per_site=99, offset=1,
        conf=small_conf).collect()]
    assert tail == allr[1:]
    # k=None + offset through the Msg40-filter driver path
    tail2 = [(r["doc_id"], r["score"]) for r in search_clustered(
        spark, built, "spark", k=None, max_per_site=99, offset=1,
        dedup_url=True, conf=small_conf).collect()]
    assert tail2 == allr[1:]  # fixture urls are all distinct


def test_boolean_reference_scoring(built, spark, small_conf):
    """Boolean queries under scorer='reference' route through the
    position scorer (the fork's vote buffer only picks docids;
    PosdbTable scores whatever sublists each doc has): a boolean AND
    must score byte-identically to the plain AND query, and an OR
    match scores exactly like the single-term reference query for
    docs holding only that term."""
    import dataclasses

    ref_conf = dataclasses.replace(small_conf, scorer="reference")
    plain = {r["doc_id"]: r["score"] for r in search_all(
        spark, built, "spark merge", conf=ref_conf).collect()}
    boolean = {r["doc_id"]: r["score"] for r in search_all(
        spark, built, "spark AND merge", conf=ref_conf).collect()}
    assert boolean == plain and plain  # byte-identical, non-vacuous

    orq = {r["doc_id"]: r["score"] for r in search_all(
        spark, built, "index OR proximity", conf=ref_conf).collect()}
    assert set(orq) == {2, 4}
    only_index = {r["doc_id"]: r["score"] for r in search_all(
        spark, built, "index", conf=ref_conf).collect()}
    only_prox = {r["doc_id"]: r["score"] for r in search_all(
        spark, built, "proximity", conf=ref_conf).collect()}
    assert orq[2] == only_index[2]
    assert orq[4] == only_prox[4]
    # NOT inside the expression still filters before scoring
    notq = {r["doc_id"] for r in search_all(
        spark, built, "spark AND NOT index", conf=ref_conf).collect()}
    assert notq == {1, 3, 7}


def test_as_of_gen_time_travel(spark, small_conf, tmp_index):
    """Iceberg VERSION-AS-OF analog: a reader pinned at as_of_gen sees
    only generations <= G — re-crawls and tombstones committed later
    are invisible, replaying the index state at that commit."""
    import pytest as _pytest

    build_index(spark, _webtext_df(spark), tmp_index, conf=small_conf, gen=0)
    build_index(
        spark,
        _webtext_df(spark, {2: "totally different now"}),
        tmp_index, conf=small_conf, gen=1)
    delete_docs(spark, tmp_index, [7], gen=2)
    meta_p = os.path.join(tmp_index, "_index_meta.json")
    meta = json.load(open(meta_p))
    meta["gens"] = sorted(set(meta["gens"]) | {2})
    json.dump(meta, open(meta_p, "w"))

    # current snapshot: doc 2 re-crawled (old text gone), doc 7 deleted
    cur = {r["doc_id"] for r in
           search_all(spark, tmp_index, "index", conf=small_conf).collect()}
    assert 2 not in cur and 7 not in cur

    # as of gen 0: original text of doc 2 visible, doc 7 alive
    rd0 = IndexReader(spark, tmp_index, small_conf, as_of_gen=0)
    asof0 = {r["doc_id"] for r in
             search_all(spark, tmp_index, "index", conf=small_conf,
                        reader=rd0).collect()}
    assert 2 in asof0
    got_diff = {r["doc_id"] for r in
                search_all(spark, tmp_index, "different", conf=small_conf,
                           reader=rd0).collect()}
    assert got_diff == set()  # the gen-1 re-crawl doesn't exist yet

    # as of gen 1: re-crawl visible, tombstone not
    rd1 = IndexReader(spark, tmp_index, small_conf, as_of_gen=1)
    got_merge = {r["doc_id"] for r in
                 search_all(spark, tmp_index, "merge", conf=small_conf,
                            reader=rd1).collect()}
    assert 7 in got_merge

    with _pytest.raises(ValueError):
        IndexReader(spark, tmp_index, small_conf, as_of_gen=-1)


def test_pfor_index_end_to_end(spark, small_conf, tmp_path):
    """Every segment blob carries the one codec format (v4 with the
    frontier flag) through mini encode, merge, deletion and compaction,
    and the deleted doc is gone after compaction."""
    from open_source_search_engine_spark.functions.codec import (
        FRONTIER_FLAG,
    )

    d_pf = str(tmp_path / "idx_pfor")
    build_index(spark, _webtext_df(spark), d_pf, conf=small_conf)
    segs = spark.read.parquet(os.path.join(d_pf, "segments")) \
        .select("postings").collect()
    assert segs and all(
        bytes(r["postings"])[0] == (4 | FRONTIER_FLAG) for r in segs)

    delete_docs(spark, d_pf, [2], gen=1)
    meta_p = os.path.join(d_pf, "_index_meta.json")
    meta = json.load(open(meta_p))
    meta["gens"] = sorted(set(meta["gens"]) | {1})
    json.dump(meta, open(meta_p, "w"))
    compact_index(spark, d_pf, conf=small_conf)
    segs2 = spark.read.parquet(os.path.join(d_pf, "segments")) \
        .select("postings").collect()
    assert segs2 and all(
        bytes(r["postings"])[0] == (4 | FRONTIER_FLAG) for r in segs2)
    got = {r["doc_id"] for r in
           search_all(spark, d_pf, "spark", conf=small_conf).collect()}
    assert 2 not in got and got


def test_search_facets(built, spark, small_conf):
    """Original-Gigablast gbfacet semantics: counts over the FULL match
    set, not the top-k page (Query.cpp:1791 residue in the fork). Fixture
    hosts are s{doc_id % 3}.example, so 'spark' (docs 1,2,3,7) buckets
    s1:2, s0:1, s2:1; ties break facet-ascending."""
    from open_source_search_engine_spark.query.executor import search_facets

    rows = search_facets(spark, built, "spark", field="site",
                         conf=small_conf).collect()
    assert [(r["facet"], r["n_docs"]) for r in rows] == [
        ("s1.example", 2), ("s0.example", 1), ("s2.example", 1)]

    # lang facet: the fixture is all-en, so one bucket sized |match set|
    rows = search_facets(spark, built, "spark", field="lang",
                         conf=small_conf).collect()
    assert [(r["facet"], r["n_docs"]) for r in rows] == [("en", 4)]

    # k truncates the bucket list, never the membership counts
    rows = search_facets(spark, built, "spark", field="site", k=1,
                         conf=small_conf).collect()
    assert [(r["facet"], r["n_docs"]) for r in rows] == [("s1.example", 2)]

    with pytest.raises(ValueError):
        search_facets(spark, built, "spark", field="nope",
                      conf=small_conf)


def test_snapshot_diff(spark, small_conf, tmp_index):
    """Iceberg-style snapshot diff over the generation list: effective
    visibility changes (added / removed / updated) between two as-of
    views, newest-wins and tombstones already resolved."""
    from open_source_search_engine_spark.query.executor import (
        snapshot_diff,
    )

    build_index(spark, _webtext_df(spark), tmp_index,
                conf=small_conf, gen=0)
    # gen1: re-crawl doc 2 with different text + a brand-new doc 99
    recrawl = _webtext_df(spark, {2: "completely different now"},
                          suffix="")
    newdoc = _webtext_df(spark, {99: "newly added document"})
    build_index(spark, recrawl.unionByName(newdoc), tmp_index,
                conf=small_conf, gen=1)
    # gen2: tombstone doc 5
    delete_docs(spark, tmp_index, [5], gen=2)
    meta_p = os.path.join(tmp_index, "_index_meta.json")
    meta = json.load(open(meta_p))
    meta["gens"] = sorted(set(meta["gens"]) | {2})
    json.dump(meta, open(meta_p, "w"))

    got = {r["doc_id"]: r["change"] for r in
           snapshot_diff(spark, tmp_index, 0, conf=small_conf).collect()}
    assert got == {2: "updated", 99: "added", 5: "removed"}

    # bounded upper snapshot: before the tombstone, doc 5 is untouched
    got01 = {r["doc_id"]: r["change"] for r in
             snapshot_diff(spark, tmp_index, 0, 1,
                           conf=small_conf).collect()}
    assert got01 == {2: "updated", 99: "added"}

    # include_unchanged covers the whole corpus
    n = snapshot_diff(spark, tmp_index, 0, conf=small_conf,
                      include_unchanged=True).count()
    assert n == len(DOCS) + 1  # 8 originals + the gen1 addition


def test_search_explain_sums_to_score(built, spark, small_conf):
    """Transparent scoring info (Msg39.h:56 m_getDocIdScoringInfo
    analog): per-term contribution rows sum to the doc's search()
    score exactly, df/idf match the index stats, and negative terms
    contribute no rows."""
    import pytest as _pytest

    from open_source_search_engine_spark.query.executor import (
        search_explain,
    )

    rows = search_explain(spark, built, "spark merge", k=None,
                          conf=small_conf).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    want = {r["doc_id"]: r["score"] for r in
            search_all(spark, built, "spark merge",
                       conf=small_conf).collect()}
    assert set(per_doc) == set(want)
    for d, rs in per_doc.items():
        assert {r["term"] for r in rs} == {"spark", "merge"}
        assert sum(r["contribution"] for r in rs) == \
            _pytest.approx(want[d], abs=2e-6)  # rows round at 6
    # df matches the exact index stats (spark df=4 in the fixture)
    spark_rows = [r for r in rows if r["term"] == "spark"]
    assert all(r["df"] == 4 for r in spark_rows)

    # negated terms restrict membership but are never explained
    rows2 = search_explain(spark, built, "spark -index", k=None,
                           conf=small_conf).collect()
    assert {r["term"] for r in rows2} == {"spark"}
    assert 2 not in {r["doc_id"] for r in rows2}  # doc 2 has 'index'

    with _pytest.raises(ValueError):
        search_explain(spark, built, "spark AND (index OR merge)",
                       conf=small_conf)


def test_search_facets_numeric(built, spark, small_conf):
    """gbfacetint-style equal-width integer range buckets over the
    full match set. 'spark' matches docs 1,2,3,7 with doc lengths
    4,4,5,2 -> lo=2 hi=5 width=ceil(4/2)=2: bucket 0 [2,3] holds doc
    7, bucket 1 [4,5] the other three."""
    from open_source_search_engine_spark.query.executor import (
        search_facets_numeric,
    )

    rows = search_facets_numeric(spark, built, "spark", col="n_tokens",
                                 n_buckets=2, conf=small_conf).collect()
    assert [(r["bucket"], r["lo"], r["hi"], r["n_docs"])
            for r in rows] == [(0, 2, 3, 1), (1, 4, 5, 3)]

    # warc_ts buckets on floor-epoch seconds: 'ranking' matches docs
    # 3,5,8 at base+180/300/480s -> width ceil(301/3)=101 -> one doc
    # per bucket
    rows = search_facets_numeric(spark, built, "ranking",
                                 col="warc_ts", n_buckets=3,
                                 conf=small_conf).collect()
    assert [r["n_docs"] for r in rows] == [1, 1, 1]
    assert [r["bucket"] for r in rows] == [0, 1, 2]
    assert rows[0]["hi"] - rows[0]["lo"] == 100

    # empty match set -> empty frame with the contract schema
    empty = search_facets_numeric(spark, built, "zzznothing",
                                  conf=small_conf)
    assert empty.count() == 0
    assert empty.columns == ["bucket", "lo", "hi", "n_docs"]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        search_facets_numeric(spark, built, "spark", col="title",
                              conf=small_conf)


def test_snapshot_diff_null_ts_recrawl(spark, small_conf, tmp_index):
    """ADVICE r4: the 'updated' test is null-safe — a doc whose
    warc_ts goes NULL -> value (content hash unchanged) is 'updated',
    not silently 'unchanged' through SQL three-valued logic."""
    from open_source_search_engine_spark.query.executor import (
        snapshot_diff,
    )

    def one(ts):
        return spark.createDataFrame(
            pd.DataFrame([{
                "url": "http://s0.example/p/1.html",
                "warc_ts": ts,
                "html": b"<html><body><p>same text</p></body></html>",
                "text": "same text", "lang": "en", "doc_id": 1,
            }]).astype({"warc_ts": "datetime64[us]"}))

    build_index(spark, one(pd.NaT), tmp_index, conf=small_conf, gen=0)
    build_index(spark, one(dt.datetime(2024, 6, 1)), tmp_index,
                conf=small_conf, gen=1)
    got = {r["doc_id"]: r["change"] for r in
           snapshot_diff(spark, tmp_index, 0, conf=small_conf).collect()}
    assert got == {1: "updated"}

"""Index build job: webtext -> parsed checkpoint -> docs + segments +
term_stats + build_metrics.

Spark-first dataflow (SURVEY.md §3.2 "Spark lifecycle"):

  stage A (narrow, one Python pass, Arrow-batched):
      webtext --mapInPandas(parse_docs)--> parsed
      parsed is checkpointed to parquet: one row per doc with doc metadata
      plus parallel posting arrays (term_ids/poss/ctxs). This is the
      analog of the reference's metalist (XmlDoc.cpp:12290 getMetaList) —
      extraction runs exactly once per crawled page.

  stage B (narrow numpy partials + tiny agg):
      docs       = parsed.select(doc columns)
      term_stats = parsed.mapInPandas(per-partition (term, df, cf)
                   partial counts).groupBy(term_id).sum — the shuffle
      carries one row per distinct term per partition, not per posting.
      EVERY term gets salt = doc_id % n_salts (the salted-key skew
      splitting of the north rule; reference skew analog:
      HighFrequencyTermShortcuts.h:9-38) — uniform doc-keyed salting
      makes salt groups disjoint residue sub-indexes for any query
      term set, so conjunctive top-k always routes through the
      per-salt block-max WAND (no hot/cold gate)

  stage C (mini-segment dump + blob-level merge):
      C1 (narrow): parsed.mapInPandas(mini encoder) — each map
      partition numpy-sorts its postings and emits one compressed
      mini-blob per (term_id, salt) run. This is the reference's
      memtable dump (RdbDump.cpp): sorted immutable runs per partition.
      C2 (the only wide boundary): mini.repartition(term_id, salt)
      .sortWithinPartitions.mapInPandas(merge runs) — the shuffle
      carries compressed BLOBS (~10x fewer bytes than posting rows;
      row-level sort/Arrow traffic was the scaling bottleneck at 32
      cores), and the reduce k-way merges each run (RdbList.cpp:2154
      posdbMerge_r; docId sets disjoint -> vectorized fast path,
      single-blob runs pass through byte-identical).
      Consolidation: repartition(bucket) + sortWithinPartitions ->
      segments/gen=G/bucket=B/*.parquet — bucket dirs give partition
      pruning at query time; per-bucket _manifest.json records lineage +
      build metrics (docs/sec, postings/sec, bytes) and makes the build
      resumable bucket-by-bucket (north rule).

The reference's sorted-file + RdbMap layout maps to: parquet row-group
stats on term_id within each bucket dir (SURVEY.md §1.5).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONF, EngineConf
from ..functions import gbhash
from ..functions.extractor import absolute_url
from ..functions.gbhash import (
    TERMID_MASK,
    fielded_term_id,
    hash64_lower_utf8,
    prefix_hash,
    probable_doc_id,
)
from ..functions.posdb import (
    HASHGROUP_BODY,
    HASHGROUP_HEADING,
    HASHGROUP_INLINKTEXT,
    HASHGROUP_INMENU,
    HASHGROUP_INMETATAG,
    HASHGROUP_INTAG,
    HASHGROUP_NEIGHBORHOOD,
    HASHGROUP_INURL,
    HASHGROUP_TITLE,
    MAXDENSITYRANK,
    MAXDIVERSITYRANK,
    MAXWORDSPAMRANK,
    SYN_CONJUGATE,
    SYN_ORIGINAL,
    pack_ctx,
    site_rank_from_inlinks,
)
from ..functions.adult import is_adult
from ..functions.urlinfo import country_of_url, is_permalink_url, synth_ip
from ..functions.sitegetter import get_site
from ..functions.wordspam import word_spam_ranks
from ..functions.tokenizer import (
    ALNUM,
    density_ranks,
    diversity_ranks,
    frag_vec,
    phrase_bits,
    phrase_ids,
    sentence_ids,
    tokenize,
    word_pos_vec,
)

PARSED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("site_id", T.LongType()),
        T.StructField("site_rank", T.IntegerType()),
        T.StructField("lang_id", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("term_ids", T.ArrayType(T.LongType())),
        T.StructField("poss", T.ArrayType(T.IntegerType())),
        T.StructField("ctxs", T.ArrayType(T.IntegerType())),
        # per-doc unique body unigrams (word -> termId); feeds the lexicon
        # table (the reference keeps no lexicon — posdb stores only hashes,
        # Posdb.h:3 — ours is a debug/oracle aid, deduped by Catalyst)
        T.StructField("lex_words", T.ArrayType(T.StringType())),
        T.StructField("lex_ids", T.ArrayType(T.LongType())),
        # outlinks (absolute url + anchor text) — feed the linkdb analog
        # and incoming-link-text hashing (Linkdb.h:90-110)
        T.StructField("out_hrefs", T.ArrayType(T.StringType())),
        T.StructField("out_texts", T.ArrayType(T.StringType())),
        # per-outlink surrounding text (Inlink getSurroundingText analog;
        # hashNeighborhoods consumes it linkee-side, HASHGROUP_NEIGHBORHOOD)
        T.StructField("out_neigh", T.ArrayType(T.StringType())),
        # content checksum of the extracted text (clusterdb contentHash /
        # hashNoSplit dedup terms, XmlDoc_Indexing.cpp:156): query-time
        # duplicate-content removal keys on this
        T.StructField("content_hash", T.LongType()),
        # <meta name=robots content=noarchive> (XmlDoc::getIsNoArchive,
        # XmlDoc.cpp:16942): gates cached-copy serving (PageGet.cpp:270,
        # PageResults.cpp:2405), never indexing or summaries
        T.StructField("no_archive", T.IntegerType()),
    ]
)

# langId mapping subset (GbLanguage / Lang.cpp); unknown -> 0
LANG_IDS = {"xx": 0, "en": 1, "fr": 2, "es": 3, "ru": 4, "tr": 5, "ja": 6,
            "zh": 7, "ko": 8, "de": 9, "nl": 10, "it": 11, "fi": 12,
            "sv": 13, "no": 14, "pt": 15, "vi": 16, "ar": 17, "he": 18,
            "id": 19, "el": 20, "th": 21, "hi": 22, "bn": 23, "pl": 24,
            "da": 27}

PFX_TITLE = prefix_hash("title")
PFX_URL = prefix_hash("url")
PFX_SITE = prefix_hash("site")
PFX_LANG = prefix_hash("gblang")
PFX_SORTBY = prefix_hash("gbsortby")
PFX_LINK = prefix_hash("link")
PFX_EXT = prefix_hash("ext")
PFX_INURL = prefix_hash("inurl")       # tokenized url words; suburl:
                                       # maps here too (Query.cpp:1662)
PFX_IP = prefix_hash("ip")             # XmlDoc_Indexing.cpp:395-420
PFX_COUNTRY = prefix_hash("gbcountry")  # XmlDoc_Indexing.cpp:1618
PFX_PERMALINK = prefix_hash("gbpermalink")  # XmlDoc_Indexing.cpp:1642
PFX_TYPE = prefix_hash("type")         # filetype:/type: (Query.cpp:1666)
PFX_ISADULT = prefix_hash("gbisadult")  # XmlDoc_Indexing.cpp:1678
PFX_SITELINK = prefix_hash("sitelink")  # XmlDoc_Indexing.cpp:828
PFX_CHARSET = prefix_hash("charset")    # FIELD_CHARSET (Query.cpp:1948)
PFX_ISCLEAN = prefix_hash("isclean")    # FIELD_ISCLEAN (Query.h:57)
PFX_CONTENTHASH = prefix_hash("gbcontenthash")  # XmlDoc_Indexing.cpp:174
PFX_SORTBYINT = prefix_hash("gbsortbyint")  # XmlDoc_Indexing.cpp:2371
# custom meta tags indexed as normal (unprefixed) INMETATAG text — the
# reference whitelist (XmlDoc_Indexing.cpp:572-586; hi.m_prefix = NULL
# at :627 "index the wanted meta tags as normal text without prefix")
CUSTOM_META_TAGS = ("author", "subject", "abstract", "news_keywords")

# index format version: bump when the set/shape of emitted terms changes.
# The posting-blob layout is versioned separately by codec.CODEC_VERSION
# (one format: v4 with the tf->min-dl frontier). Cached index dirs are
# keyed on both so builds rerun after a format change.
# History: non-body position continuation via the shared m_dist cursor
# (v10); threshold salting with SALT_SHARED cold runs + layout-general
# WAND (v11); block-meta frontier arrays (v13)
INDEX_FORMAT_VERSION = 13


def _effective_salt_min_df(conf, n_docs: int) -> int:
    """Salting threshold: df above this splits a termlist into per-salt
    runs. Corpus-relative (n_docs/40, i.e. 2.5% df) so the mini-run
    fan-out only pays off where lists are big enough to matter — a
    measured round-3 regression salted everything above a FLAT df of
    1000, which multiplied the C2 merge's multi-blob groups 16x for the
    low-df band and nearly doubled the segments stage at local[32] for
    zero query benefit (full-decoding a <2.5%-df list is cheaper than
    16-way fan-out). Capped by `salt_df_threshold` (default 100k) so at
    web scale no single reducer ever owns more than that many postings
    of one term (the skew bound), and scaled down for tiny test corpora
    (n_docs/10 floor path) so their ~all-docs terms still salt and
    exercise the WAND plan."""
    cap = int(getattr(conf, "salt_df_threshold", 100_000))
    floor = int(getattr(conf, "salt_min_df", 1000))
    return max(64, min(cap, n_docs // 10, max(floor, n_docs // 40)))


def _stats_gen_dirs(paths) -> list[str]:
    base = paths.term_stats
    if not os.path.isdir(base):
        return []
    return sorted(os.path.join(base, d) for d in os.listdir(base)
                  if d.startswith("gen="))


def hash_string_group(tokens, hash_group: int, out_terms, out_pos, out_ctx,
                      start_dist: int = 0, prefix: int | None = None,
                      with_bigrams: bool = True, spam_rank=MAXWORDSPAMRANK,
                      skip_numbers: bool = False, group_vec=None):
    """hashString/hashWords3 analog for one hash group
    (XmlDoc_Indexing.cpp:1817-2250): emits unfielded (or prefixed) word
    terms, possessive-stripped variants (2110-2153), and bigram terms
    (2164-2191, diversity=MAX, syn flag set). spam_rank is either a
    constant or a per-token vector (the word-spam vector for the body
    group, XmlDoc.cpp:19773; the linker's siteRank for inlink text,
    PosdbTable.cpp:3008 reads it back from the spam field).
    skip_numbers mirrors hi.m_hashNumbers=false for inurl: terms
    (XmlDoc_Indexing.cpp hashUrl).

    group_vec (body pass only): per-token hashgroup override from the
    Sections tree (XmlDoc_Indexing.cpp:1957-1966 — SEC_IN_HEADER words
    get HASHGROUP_HEADING, SEC_MENU* words HASHGROUP_INMENU); -1 skips
    the token entirely (SEC_IN_TITLE words — hashTitle covers them).
    Density/diversity/positions stay the body-stream computation."""
    t = tokens
    sent = sentence_ids(t)
    body = hash_group in (HASHGROUP_BODY, HASHGROUP_HEADING)
    fv = frag_vec(t) if hash_group == HASHGROUP_BODY else None
    wpos = word_pos_vec(t, start_dist, fv, sent)
    dens = density_ranks(t, hash_group, sent)
    bits = phrase_bits(t)
    pids = phrase_ids(t, bits) if with_bigrams else [0] * len(t)
    divs = diversity_ranks(t, pids)
    per_token_spam = not isinstance(spam_rank, int)
    nw = len(t)
    for k in range(nw):
        if t.kinds[k] != ALNUM:
            continue
        if fv is not None and fv[k] == 0:
            continue  # repeated fragment: not indexed (XmlDoc.cpp:20574)
        if skip_numbers and t.words[k].isdigit():
            continue  # hi.m_hashNumbers = false
        hg = hash_group if group_vec is None else group_vec[k]
        if hg < 0:
            continue  # SEC_IN_TITLE body word (XmlDoc_Indexing.cpp:1957)
        wid = t.wids[k]
        p = wpos[k]
        d = dens[k]
        dv = divs[k]
        sr = int(spam_rank[k]) if per_token_spam else spam_rank
        tid = (wid & TERMID_MASK) if prefix is None else fielded_term_id(wid, prefix)
        out_terms.append(tid)
        out_pos.append(p)
        out_ctx.append(pack_ctx(hg, d, dv, sr, SYN_ORIGINAL))
        w = t.words[k]
        # possessive: "dave's" also indexes "dave" with syn flag
        # (XmlDoc_Indexing.cpp:2110-2153)
        if w.endswith("'s") or w.endswith("'S"):
            wid2 = hash64_lower_utf8(w[:-2])
            tid2 = (wid2 & TERMID_MASK) if prefix is None else fielded_term_id(wid2, prefix)
            out_terms.append(tid2)
            out_pos.append(p)
            out_ctx.append(pack_ctx(hg, d, dv, sr, SYN_CONJUGATE))
        # bigram term (diversity=MAX, syn=1; XmlDoc_Indexing.cpp:2164-2191)
        if pids[k]:
            bid = (pids[k] & TERMID_MASK) if prefix is None else fielded_term_id(pids[k], prefix)
            out_terms.append(bid)
            out_pos.append(p)
            out_ctx.append(pack_ctx(hg, d, MAXDIVERSITYRANK, sr, SYN_CONJUGATE))
    return wpos[-1] + 1 if nw else start_dist


def _section_group_vec(norm, text, t):
    """Per-token hashgroup vector from the Sections DOM block tree
    (functions/sections.py; XmlDoc_Indexing.cpp:1957-1966), over the
    already-normalized html string. None when no tree applies (no html,
    walk/extract mismatch, or no flagged section at all — the all-body
    fast path)."""
    if not norm:
        return None
    from ..functions.sections import (
        SEC_IN_HEADER,
        SEC_IN_TITLE,
        SEC_MENU,
        body_flag_ranges,
    )

    try:
        ranges, txt = body_flag_ranges(norm)
    except Exception:
        return None
    if txt != (text or ""):
        return None  # text column didn't come from this html: no map
    if not any(fl for _s, _e, fl in ranges):
        return None
    import bisect

    starts = [r[0] for r in ranges]
    gv = [HASHGROUP_BODY] * len(t)
    off = 0
    for k in range(len(t)):
        if t.kinds[k] == ALNUM:
            i = bisect.bisect_right(starts, off) - 1
            if 0 <= i < len(ranges) and off < ranges[i][1]:
                fl = ranges[i][2]
                if fl & SEC_IN_TITLE:
                    gv[k] = -1  # hashTitle covers these (cpp:1957)
                elif fl & SEC_MENU:
                    gv[k] = HASHGROUP_INMENU  # menu overrides (cpp:1964)
                elif fl & SEC_IN_HEADER:
                    gv[k] = HASHGROUP_HEADING
        off += len(t.words[k])
    return gv


def parse_doc(url: str, html: bytes, text: str | None, lang: str | None,
              doc_id: int | None = None, site_inlinks: int | None = None,
              warc_ts_minutes: int | None = None,
              ip: str | None = None) -> dict:
    """Full per-doc term generation (hashAll orchestration,
    XmlDoc_Indexing.cpp:226-470): title, body, headings, metatags, url,
    plus fielded probe terms (title:, url:, site:, gblang:, inurl:, ip:,
    gbcountry:, gbpermalink:, type:). Charset auto-detected from the
    bytes (GbEncoding.cpp getCharset chain) when text isn't supplied."""
    from ..functions.extractor import sniff_content_type

    # normalize ONCE (charset detect + entity decode are the expensive
    # per-doc steps); every extractor fans out over the same string
    from ..functions.extractor import (
        canon_charset,
        detect_charset,
        get_text,
        headings_from_norm,
        links_with_neighborhoods_from_norm,
        is_no_archive,
        meta_from_norm,
        normalize_html,
        title_from_norm,
        to_utf8_text,
    )

    # BR 20160127 (XmlDoc_Indexing.cpp:252-262): JSON and XML content is
    # NEVER term-indexed — hashAll calls hashUrl(urlOnly=true), which
    # stores the url: probe term (XmlDoc_Indexing.cpp:940-967) and
    # returns, so the doc stays findable (and bannable) by url: only.
    # Mirror that short-circuit before any of the expensive extraction:
    # one PFX_URL posting, no body/meta/fielded terms, empty lexicon,
    # no outlinks. The doc ROW is still stored (titledb keeps the
    # record regardless).
    sniffed = sniff_content_type(html) if html else "txt"
    if sniffed in ("json", "xml"):
        if doc_id is None:
            doc_id = probable_doc_id(url)
        site = get_site(url)  # path-aware (SiteGetter port, r5)
        if site_inlinks is None:
            site_inlinks = gbhash.hash8(site.encode()) % 200
        return {
            "doc_id": doc_id,
            "url": url,
            "site_id": hash64_lower_utf8(site) & TERMID_MASK,
            "site_rank": site_rank_from_inlinks(site_inlinks),
            "lang_id": LANG_IDS.get((lang or "xx").lower(), 0),
            "title": "",
            "n_tokens": 0,
            "term_ids": [fielded_term_id(hash64_lower_utf8(url), PFX_URL)],
            "poss": [0],
            "ctxs": [pack_ctx(HASHGROUP_INURL, MAXDENSITYRANK,
                              MAXDIVERSITYRANK, MAXWORDSPAMRANK,
                              SYN_ORIGINAL)],
            "lex_words": [],
            "lex_ids": [],
            "out_hrefs": [],
            "out_texts": [],
            "out_neigh": [],
            "content_hash": hash64_lower_utf8(
                to_utf8_text(html, charset=None)) & TERMID_MASK,
            "no_archive": 0,  # JSON/XML payloads carry no meta tags
        }

    doc_charset = detect_charset(html) if html else "utf-8"
    norm = normalize_html(html, charset=doc_charset) if html else ""
    if text is None:
        text = get_text(norm)
    title = title_from_norm(norm) if html else ""
    headings = headings_from_norm(norm) if html else []
    # metas from the SAME normalized string (no per-meta re-decode of
    # the raw bytes); summary + geo.placename per hashMetaSummary
    # XmlDoc_Indexing.cpp:1514 / hashMetaGeoPlacename :1557 — all
    # HASHGROUP_INMETATAG like keywords/description
    meta_kw = meta_from_norm(norm, "keywords")
    meta_desc = meta_from_norm(norm, "description")
    meta_sum = meta_from_norm(norm, "summary")
    meta_geo = meta_from_norm(norm, "geo.placename")
    # whitelisted custom metas (hashMetaTags, XmlDoc_Indexing.cpp:509-640):
    # indexed as normal unprefixed text so plain queries match them
    # (hi.m_prefix = NULL at :627); keywords/description/summary ride the
    # dedicated extraction above instead (reserved at :563-569)
    meta_custom = [m for m in (meta_from_norm(norm, t)
                               for t in CUSTOM_META_TAGS) if m] if html else []
    content_type = sniffed
    if doc_id is None:
        doc_id = probable_doc_id(url)
    host = url.split("://", 1)[-1].split("/", 1)[0]
    # path-aware site (SiteGetter port, functions/sitegetter.py): on
    # shared hosts ~user//users/ subtrees and homestead path prefixes
    # define the site — site_id/site_rank/clustering key on it
    site = get_site(url)
    site_id = hash64_lower_utf8(site) & TERMID_MASK
    # deterministic synthetic inlink count when no link graph is given
    if site_inlinks is None:
        site_inlinks = gbhash.hash8(site.encode()) % 200
    srank = site_rank_from_inlinks(site_inlinks)
    lang_id = LANG_IDS.get((lang or "xx").lower(), 0)

    terms: list[int] = []
    poss: list[int] = []
    ctxs: list[int] = []

    body_tokens = tokenize(text or "")
    n_tokens = sum(1 for k in body_tokens.kinds if k == ALNUM)
    # word-spam vector over the body words (XmlDoc.cpp:19773
    # getWordSpamVec): repetition-spam ranks flow into the ctx spam field
    body_spam = word_spam_ranks(body_tokens)
    # per-word hashgroup from the Sections DOM block tree
    # (XmlDoc_Indexing.cpp:1957-1966; functions/sections.py): IN_TITLE
    # body words skipped, IN_HEADER -> HEADING, SEC_MENU -> INMENU
    group_vec = _section_group_vec(norm, text, body_tokens)
    # shared word-position cursor (XmlDoc m_dist; getWordPosVec is
    # seeded with m_dist and each hashString pass advances it to
    # last pos + 100, XmlDoc_Indexing.cpp:2247): body hashes FIRST at
    # dist 0, then every non-body source CONTINUES the document word
    # stream instead of restarting at 0 (VERDICT r2 missing #2) — so
    # cross-hashgroup proximity distances in the reference scorer see
    # the reference's geometry. Incoming-link-text / neighborhood
    # postings come from the LINKERS' parse rows (a separate dataflow)
    # and keep their own position space; the FIXED_DISTANCE rule
    # (refscore, PosdbTable.h:258) absorbs that documented deviation.
    cursor = hash_string_group(body_tokens, HASHGROUP_BODY, terms, poss,
                               ctxs, spam_rank=body_spam,
                               group_vec=group_vec) + 99
    lex = {}
    for k in range(len(body_tokens)):
        if body_tokens.kinds[k] == ALNUM:
            w = body_tokens.words[k]
            if w not in lex:
                lex[w] = body_tokens.wids[k] & TERMID_MASK

    if title:
        tt = tokenize(title)
        cursor = hash_string_group(tt, HASHGROUP_TITLE, terms, poss, ctxs,
                                   start_dist=cursor) + 99
        cursor = hash_string_group(tt, HASHGROUP_TITLE, terms, poss, ctxs,
                                   prefix=PFX_TITLE,
                                   start_dist=cursor) + 99
    # Headings are NOT separately re-hashed when the section tree is
    # live — heading words sit in the body stream with
    # HASHGROUP_HEADING via group_vec, exactly like the reference's
    # single hashWords3 pass. The fallback keeps heading terms findable
    # when no tree exists (no html / extracted-text mismatch).
    if group_vec is None:
        for h in headings:
            cursor = hash_string_group(tokenize(h), HASHGROUP_HEADING,
                                       terms, poss, ctxs,
                                       start_dist=cursor) + 99
    for m in (meta_kw, meta_desc, meta_sum, meta_geo, *meta_custom):
        if m:
            cursor = hash_string_group(tokenize(m), HASHGROUP_INMETATAG,
                                       terms, poss, ctxs,
                                       with_bigrams=False,
                                       start_dist=cursor) + 99
    # url terms (hashUrl, XmlDoc_Indexing.cpp:337-420): tokenized url
    # words under the "inurl" prefix (numbers skipped, hi.m_hashNumbers
    # false; suburl: queries map to the same prefix, Query.cpp:1662) +
    # exact-url and site fielded probe terms
    cursor = hash_string_group(tokenize(url), HASHGROUP_INURL, terms, poss,
                               ctxs, with_bigrams=False, prefix=PFX_INURL,
                               skip_numbers=True,
                               start_dist=cursor) + 99
    terms.append(fielded_term_id(hash64_lower_utf8(url), PFX_URL))
    poss.append(0)
    ctxs.append(pack_ctx(HASHGROUP_INURL, MAXDENSITYRANK, MAXDIVERSITYRANK,
                         MAXWORDSPAMRANK, SYN_ORIGINAL))
    terms.append(fielded_term_id(hash64_lower_utf8(host), PFX_SITE))
    poss.append(0)
    ctxs.append(pack_ctx(HASHGROUP_INURL, MAXDENSITYRANK, MAXDIVERSITYRANK,
                         MAXWORDSPAMRANK, SYN_ORIGINAL))
    if site != host.lower():
        # path-defined site: an ADDITIONAL site: probe term so
        # site:xyz.com/~fred/ selects the home dir while host-level
        # site: queries keep matching (superset of the reference's
        # single path-site term; SiteGetter.cpp:481-537)
        terms.append(fielded_term_id(hash64_lower_utf8(site), PFX_SITE))
        poss.append(0)
        ctxs.append(pack_ctx(HASHGROUP_INURL, MAXDENSITYRANK,
                             MAXDIVERSITYRANK, MAXWORDSPAMRANK,
                             SYN_ORIGINAL))
    # url-extension probe term (ext: field, Query.h:33-83)
    last_seg = url.rstrip("/").rsplit("/", 1)[-1]
    if "." in last_seg and "://" not in last_seg:
        ext = last_seg.rsplit(".", 1)[1].lower()
        if 0 < len(ext) <= 6:
            terms.append(fielded_term_id(hash64_lower_utf8(ext), PFX_EXT))
            poss.append(0)
            ctxs.append(pack_ctx(HASHGROUP_INURL, MAXDENSITYRANK,
                                 MAXDIVERSITYRANK, MAXWORDSPAMRANK,
                                 SYN_ORIGINAL))
    # language probe term (hashLanguage, XmlDoc_Indexing.cpp:1577)
    terms.append(fielded_term_id(hash64_lower_utf8(lang or "xx"), PFX_LANG))
    poss.append(0)
    ctxs.append(pack_ctx(HASHGROUP_INMETATAG, MAXDENSITYRANK,
                         MAXDIVERSITYRANK, MAXWORDSPAMRANK, SYN_ORIGINAL))
    # ip: / gbcountry: / gbpermalink: / type: probe terms
    # (XmlDoc_Indexing.cpp:395 ip, :1618 hashCountry, :1642
    # hashPermalink; type via content sniff, all HASHGROUP_INTAG)
    intag = pack_ctx(HASHGROUP_INTAG, MAXDENSITYRANK, MAXDIVERSITYRANK,
                     MAXWORDSPAMRANK, SYN_ORIGINAL)
    doc_ip = ip if ip else synth_ip(host)
    adult = is_adult(text)
    chash = hash64_lower_utf8(text or "") & TERMID_MASK
    probe_terms = [
        (PFX_IP, doc_ip),
        (PFX_COUNTRY, country_of_url(url)),
        (PFX_PERMALINK, "1" if is_permalink_url(url) else "0"),
        (PFX_TYPE, content_type),
        # gbisadult:0/1 (hashIsAdult, XmlDoc_Indexing.cpp:1660;
        # threshold scorer functions/adult.py)
        (PFX_ISADULT, "1" if adult else "0"),
        # canonical sniffed charset (FIELD_CHARSET, Query.cpp:1948;
        # detection chain GbEncoding.cpp:154-360)
        (PFX_CHARSET, canon_charset(doc_charset)),
        # exact-content-hash dedup probe (XmlDoc_Indexing.cpp:166-176:
        # gbcontenthash:<decimal hash64> hashString'd)
        (PFX_CONTENTHASH, str(chash)),
    ]
    # isclean: hashed only when the doc IS clean, value "1"
    # (FIELD_ISCLEAN, Query.h:57)
    if not adult:
        probe_terms.append((PFX_ISCLEAN, "1"))
    for pfx, val in probe_terms:
        terms.append(fielded_term_id(hash64_lower_utf8(val), pfx))
        poss.append(0)
        ctxs.append(intag)
    # numeric sort-by term (hashNumberForSorting,
    # XmlDoc_Indexing.cpp:2348-2494): the reference packs the numeric
    # value into the position bits of the posdb key (Posdb.h:165-176);
    # ours stores it in the posting's position slot. Indexed fields:
    # warc_ts as minutes since the unix epoch -> gbsortby:/gbmin:/gbmax:
    # query operators (PosdbTable.cpp:34 BF_NUMBER, 4282-4321).
    if warc_ts_minutes is not None:
        # warc_ts + the reference's date-number sortby fields
        # (hashDateNumbers, XmlDoc_Indexing.cpp:647: gbspiderdate =
        # crawl time, gbindexdate = index time; one capture pipeline
        # means both equal the warc timestamp here)
        for numfield in ("warc_ts", "gbspiderdate", "gbindexdate"):
            terms.append(fielded_term_id(hash64_lower_utf8(numfield),
                                         PFX_SORTBY))
            poss.append(int(warc_ts_minutes))
            ctxs.append(pack_ctx(HASHGROUP_INMETATAG, MAXDENSITYRANK,
                                 MAXDIVERSITYRANK, MAXWORDSPAMRANK,
                                 SYN_ORIGINAL))
            # int32 companion termlist at full (seconds) resolution
            # (hashNumberForSortingAsInt32, XmlDoc_Indexing.cpp:2371:
            # "dont lose 128 seconds of resolution"); serves
            # gbsortbyint:/gbrevsortbyint:/gbminint:/gbmaxint:/
            # gbequalint:. The reference also materializes a negated
            # gbrevsortbyint termlist because posdb can only scan keys
            # ascending — Spark sorts either direction off one termlist,
            # so the rev list is not emitted.
            terms.append(fielded_term_id(hash64_lower_utf8(numfield),
                                         PFX_SORTBYINT))
            poss.append(int(warc_ts_minutes) * 60)
            ctxs.append(pack_ctx(HASHGROUP_INMETATAG, MAXDENSITYRANK,
                                 MAXDIVERSITYRANK, MAXWORDSPAMRANK,
                                 SYN_ORIGINAL))

    # outlinks: absolutized; linker-side ``link:<url>`` probe term per
    # outlink (hashLinks, XmlDoc_Indexing.cpp:745) — query-time
    # ``link:http://...`` finds docs LINKING to the url (linkdb analog)
    out_hrefs: list[str] = []
    out_texts: list[str] = []
    out_neigh: list[str] = []
    for href, atext, neigh in links_with_neighborhoods_from_norm(norm):
        absu = absolute_url(url, href)
        if not absu:
            continue
        out_hrefs.append(absu)
        out_texts.append(atext)
        out_neigh.append(neigh)
        terms.append(fielded_term_id(hash64_lower_utf8(absu), PFX_LINK))
        poss.append(0)
        ctxs.append(pack_ctx(HASHGROUP_INURL, MAXDENSITYRANK,
                             MAXDIVERSITYRANK, MAXWORDSPAMRANK,
                             SYN_ORIGINAL))
    # one sitelink:<linkee host> probe term per distinct outlink host
    # (XmlDoc_Indexing.cpp:828-830 "hash sitelink:<urlHost>"): finds
    # docs linking to ANY page on the host
    for lhost in dict.fromkeys(
            h.split("://", 1)[-1].split("/", 1)[0] for h in out_hrefs):
        terms.append(fielded_term_id(hash64_lower_utf8(lhost),
                                     PFX_SITELINK))
        poss.append(0)
        ctxs.append(pack_ctx(HASHGROUP_INURL, MAXDENSITYRANK,
                             MAXDIVERSITYRANK, MAXWORDSPAMRANK,
                             SYN_ORIGINAL))

    return {
        "doc_id": doc_id,
        "url": url,
        "site_id": site_id,
        "site_rank": srank,
        "lang_id": lang_id,
        "title": title,
        "n_tokens": n_tokens,
        "term_ids": terms,
        "poss": poss,
        "ctxs": ctxs,
        "lex_words": list(lex.keys()),
        "lex_ids": list(lex.values()),
        "out_hrefs": out_hrefs,
        "out_texts": out_texts,
        "out_neigh": out_neigh,
        "content_hash": chash,
        "no_archive": int(is_no_archive(norm)) if html else 0,
    }


def parse_docs_udf(iterator):
    """mapInPandas body: webtext rows -> PARSED_SCHEMA rows."""
    for pdf in iterator:
        recs = []
        has_docid = "doc_id" in pdf.columns
        for i in range(len(pdf)):
            row = pdf.iloc[i]
            ts = row.get("warc_ts")
            ts_min = (int(ts.value // 60_000_000_000)
                      if ts is not None and not pd.isna(ts) else None)
            rec = parse_doc(
                row["url"],
                bytes(row["html"]) if row["html"] is not None else b"",
                row.get("text"),
                row.get("lang"),
                doc_id=int(row["doc_id"]) if has_docid else None,
                warc_ts_minutes=ts_min,
                ip=row.get("ip"),
            )
            rec["warc_ts"] = row.get("warc_ts")
            recs.append(rec)
        if recs:
            yield pd.DataFrame(recs)[[f.name for f in PARSED_SCHEMA.fields]]


class IndexPaths:
    """Index directory layout. Every table is generation-partitioned
    (``gen=G`` dirs): a generation is one build/ingest batch — the analog
    of one RdbBase file generation (RdbBase.h:193). Readers apply
    newest-generation-wins per docId (RdbIndex semantics, RdbIndex.h:20);
    ``compact_index`` physically merges generations (RdbMerge analog)."""

    def __init__(self, index_dir: str):
        self.root = index_dir
        self.parsed = os.path.join(index_dir, "parsed")
        self.docs = os.path.join(index_dir, "docs")
        self.term_stats = os.path.join(index_dir, "term_stats")
        self.lexicon = os.path.join(index_dir, "lexicon")
        self.segments = os.path.join(index_dir, "segments")
        self.term_sketches = os.path.join(index_dir, "term_sketches")
        self.tombstones = os.path.join(index_dir, "tombstones")
        self.manifests = os.path.join(index_dir, "_manifests")
        self.meta = os.path.join(index_dir, "_index_meta.json")

    def gen(self, table: str, gen: int) -> str:
        return os.path.join(getattr(self, table), f"gen={gen}")


SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("term_id", T.LongType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
        T.StructField("max_tf", T.LongType()),
        # blob size as a column so build metrics aggregate with column
        # pruning (never re-reading the blobs themselves)
        T.StructField("n_bytes", T.LongType()),
        T.StructField("postings", T.BinaryType()),
    ]
)


def _encode_runs(term: np.ndarray, salt: np.ndarray, doc: np.ndarray,
                 pos: np.ndarray, ctx: np.ndarray, dl: np.ndarray,
                 rank: np.ndarray, n_buckets: int) -> pd.DataFrame:
    """Encode a frame of postings SORTED by (term_id, salt, doc_id, pos)
    into one segment row per (term_id, salt) run (the RdbDump
    memtable->sorted-file compression, RdbDump.cpp + Posdb.h:228-233).
    ALL runs — single-block fielded/rare terms and multi-block salted
    hot-term runs alike — encode through ONE call to the bulk
    vectorized encoder (codec.encode_postings_many): per-run
    encode_postings calls (~0.5ms numpy fixed cost each) made the
    segment stage memory-bandwidth-bound at 32 threads."""
    from ..functions.codec import encode_postings_many

    n = len(term)
    key_change = np.empty(n, dtype=bool)
    key_change[0] = True
    key_change[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    doc_change = key_change.copy()
    doc_change[1:] |= doc[1:] != doc[:-1]
    didx = np.flatnonzero(doc_change)  # posting index of each doc start
    docs_d = doc[didx].astype(np.uint64)
    tf_d = np.diff(np.append(didx, n)).astype(np.uint64)
    dl_d = dl[didx].astype(np.uint64)
    rk_d = rank[didx].astype(np.uint64)
    rstart_d = np.flatnonzero(key_change[didx])  # doc-level run starts
    run_nd = np.diff(np.append(rstart_d, len(didx)))
    run_tid = term[didx[rstart_d]]
    run_salt = salt[didx[rstart_d]]
    cf_run = np.add.reduceat(tf_d, rstart_d).astype(np.int64)
    max_tf_run = np.maximum.reduceat(tf_d, rstart_d).astype(np.int64)

    blobs = encode_postings_many(
        run_nd, docs_d, tf_d, dl_d, rk_d,
        pos.astype(np.uint64), ctx.astype(np.uint64))
    return pd.DataFrame({
        "bucket": (run_tid % n_buckets).astype(np.int64),
        "term_id": run_tid.astype(np.int64),
        "salt": run_salt.astype(np.int64),
        "df": run_nd.astype(np.int64),
        "cf": cf_run,
        "max_tf": max_tf_run,
        "n_bytes": np.fromiter((len(b) for b in blobs), dtype=np.int64,
                               count=len(blobs)),
        "postings": blobs,
    })


def _partition_posting_arrays(pdfs: list[pd.DataFrame]):
    """Flatten a map partition's parsed rows into numpy posting arrays
    (term, pos, ctx, doc, dl, rank) — the in-memory 'memtable' of the
    partition (RdbTree/RdbBuckets analog, bounded by
    spark.sql.files.maxPartitionBytes of input html)."""
    t_parts, p_parts, c_parts = [], [], []
    doc_parts, dl_parts, rk_parts = [], [], []
    for pdf in pdfs:
        lens = np.fromiter((len(x) for x in pdf["term_ids"]),
                           dtype=np.int64, count=len(pdf))
        if not lens.sum():
            continue
        t_parts.append(np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pdf["term_ids"]]))
        p_parts.append(np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pdf["poss"]]))
        c_parts.append(np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pdf["ctxs"]]))
        doc_parts.append(np.repeat(pdf["doc_id"].to_numpy(np.int64), lens))
        dl_parts.append(np.repeat(pdf["n_tokens"].to_numpy(np.int64), lens))
        rk_parts.append(np.repeat(
            pdf["site_rank"].to_numpy(np.int64) * 64
            + pdf["lang_id"].to_numpy(np.int64), lens))
    if not t_parts:
        return None
    return (np.concatenate(t_parts), np.concatenate(p_parts),
            np.concatenate(c_parts), np.concatenate(doc_parts),
            np.concatenate(dl_parts), np.concatenate(rk_parts))


def make_stats_partials():
    """mapInPandas body: per-partition (term_id, df, cf) partial counts,
    vectorized — the shuffle then carries one row per distinct term per
    partition instead of one row per posting. Consumes ONLY
    (doc_id, term_ids): the caller must project those two columns so
    the parquet scan and the Arrow transfer skip the positions/ctx
    arrays (mapInPandas cannot column-prune through Python — mapping
    over the full parsed schema measurably doubled stage-B bytes)."""

    def stats_partials(iterator):
        t_parts, d_parts = [], []
        for pdf in iterator:
            if not len(pdf):
                continue
            terms_col = pdf["term_ids"]
            lens = np.fromiter((len(x) for x in terms_col),
                               dtype=np.int64, count=len(pdf))
            t_parts.append(np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in terms_col]))
            d_parts.append(
                np.repeat(pdf["doc_id"].to_numpy(np.int64), lens))
        if not t_parts:
            return
        t = np.concatenate(t_parts)
        d = np.concatenate(d_parts)
        order = np.lexsort((d, t))
        t_s, d_s = t[order], d[order]
        first_pair = np.empty(len(t_s), dtype=bool)
        first_pair[0] = True
        first_pair[1:] = (t_s[1:] != t_s[:-1]) | (d_s[1:] != d_s[:-1])
        terms_cf, cf = np.unique(t_s, return_counts=True)
        terms_df, df = np.unique(t_s[first_pair], return_counts=True)
        assert len(terms_cf) == len(terms_df)
        yield pd.DataFrame({"term_id": terms_cf, "df": df, "cf": cf})

    return stats_partials


def make_lex_partials():
    """mapInPandas body: per-batch deduped (term, term_id) pairs — the
    global lexicon distinct then shuffles ~vocab-sized partials instead
    of every (doc, word) row (at 1M docs that's 150M rows -> ~50k)."""

    def lex_partials(iterator):
        for pdf in iterator:
            if not len(pdf):
                continue
            words = [w for arr in pdf["lex_words"] for w in arr]
            ids_arr = [np.asarray(x, dtype=np.int64) for x in pdf["lex_ids"]]
            if not words:
                continue
            ids = np.concatenate(ids_arr)
            out = pd.DataFrame({"term": words, "term_id": ids})
            # dedupe the PAIR: 48-bit termId collisions are by design
            # (termid_mask.h:4) and both words must stay in the lexicon
            yield out.drop_duplicates()

    return lex_partials


def make_anchor_rows():
    """mapInPandas body over (doc_id, n_tokens, site_rank, lang_id,
    atext): hashes each inlink's anchor text into INLINKTEXT-group
    postings for the LINKEE doc (hashIncomingLinkText,
    XmlDoc_Indexing.cpp:1269; reference weight hgw=16 makes this its
    strongest ranking signal). Yields PARSED_SCHEMA-compatible rows that
    union with the parse output ahead of the mini-segment encode."""
    cols = [f.name for f in PARSED_SCHEMA.fields]

    def anchor_rows(iterator):
        for pdf in iterator:
            recs = []
            for doc_id, ntok, srank, lang_id, atext, lrank, neigh, ext in \
                    zip(pdf["doc_id"], pdf["n_tokens"], pdf["site_rank"],
                        pdf["lang_id"], pdf["atext"], pdf["linker_rank"],
                        pdf["neigh"], pdf["is_external"]):
                terms: list[int] = []
                poss: list[int] = []
                ctxs: list[int] = []
                # INLINKTEXT postings carry the LINKER's siteRank in the
                # spam field (PosdbTable.cpp:3008 reads it back as
                # inlinkerSiteRank; ScoringWeights m_linkerWeights)
                hash_string_group(tokenize(atext or ""),
                                  HASHGROUP_INLINKTEXT, terms, poss, ctxs,
                                  spam_rank=int(lrank))
                # neighborhood text of EXTERNAL inlinks only
                # (hashNeighborhoods XmlDoc_Indexing.cpp:1350-1391; the
                # same-IP/16 skip :1371 maps to same-site here)
                if ext and neigh:
                    hash_string_group(tokenize(neigh),
                                      HASHGROUP_NEIGHBORHOOD, terms, poss,
                                      ctxs, with_bigrams=False)
                if not terms:
                    continue
                recs.append({
                    "doc_id": int(doc_id), "url": None, "site_id": 0,
                    "site_rank": int(srank), "lang_id": int(lang_id),
                    "title": None, "n_tokens": int(ntok),
                    "warc_ts": None, "term_ids": terms, "poss": poss,
                    "ctxs": ctxs, "lex_words": [], "lex_ids": [],
                    "out_hrefs": [], "out_texts": [], "out_neigh": [],
                    "content_hash": 0, "no_archive": 0,
                })
            if recs:
                yield pd.DataFrame(recs)[cols]

    return anchor_rows


def anchor_parsed(parsed: DataFrame, max_linkers: int = 3000,
                  n_salts: int = 16) -> DataFrame:
    """Linkdb-analog dataflow: explode outlinks, resolve linkees by URL
    join against the docs of this generation (only in-corpus targets
    get link-text postings — Msg25's linkdb lookup analog), hash anchor
    text for the linkee.

    Viral-linkee guard (Msg25.h:89 MAX_LINKERS=3000): only the
    ``max_linkers`` best inlinks per linkee (highest linker siteRank,
    deterministic tie-break) produce link-text postings — same cap as
    the reference's Msg25 titlerec budget. Order of operations is
    join-first: the linkee-resolution join runs BEFORE the cap, so
    links whose target is not in the corpus (the common case for a
    partial crawl) never pay a window shuffle; the join's own href skew
    is a streaming 1:N probe (dim side is unique per url) that AQE's
    skew-join splitting handles. The cap itself is a salted two-phase
    top-N so no single reducer ever sorts an unbounded href group:
    phase 1 takes top-N per (href-hash, salt) — hot linkees split S
    ways; phase 2 takes the exact top-N per linkee over the <= S*N
    survivors."""
    from pyspark.sql import Window

    links = (
        parsed.select(
            F.col("site_rank").alias("linker_rank"),
            F.col("site_id").alias("linker_site"),
            F.col("doc_id").alias("linker_doc"),
            F.explode(F.arrays_zip(
                F.col("out_hrefs").alias("href"),
                F.col("out_texts").alias("atext"),
                F.col("out_neigh").alias("neigh"))).alias("z"))
        .select("linker_rank", "linker_site", "linker_doc",
                F.col("z.href").alias("href"),
                F.col("z.atext").alias("atext"),
                F.col("z.neigh").alias("neigh"))
        # keep links that carry EITHER anchor text (INLINKTEXT) or
        # surrounding text (NEIGHBORHOOD — hashNeighborhoods is not
        # conditioned on anchor text, e.g. image links)
        .where((F.length("atext") > 0) | (F.length("neigh") > 0))
    )
    dim = parsed.select("url", "doc_id", "n_tokens", "site_rank",
                        "lang_id", F.col("site_id").alias("linkee_site"))
    joined = (links.join(dim, links.href == dim.url)
              .withColumn("is_external",
                          F.col("linker_site") != F.col("linkee_site"))
              .drop("url", "linker_site", "linkee_site"))
    # deterministic salt (no rand: resumable builds must re-derive it).
    # Salt on the LINKER doc id — unique per inlink, so 10M identical
    # 'home' anchors still spread across all S salt partitions
    joined = joined.withColumn(
        "_s", F.pmod(F.xxhash64("linker_doc"), F.lit(n_salts)))
    # total order (rank desc, then linker_doc) so the <=N winners are
    # the same rows on every (re)run — atext alone ties constantly
    order = (F.col("linker_rank").desc(), F.col("linker_doc").asc())
    w1 = Window.partitionBy("href", "_s").orderBy(*order)
    w2 = Window.partitionBy("href").orderBy(*order)
    joined = (
        joined.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= max_linkers)
        .withColumn("_rn2", F.row_number().over(w2))
        .where(F.col("_rn2") <= max_linkers)
        .drop("href", "_s", "_rn", "_rn2", "linker_doc")
    )
    return joined.mapInPandas(make_anchor_rows(), schema=PARSED_SCHEMA)


SALT_SHARED = -1  # salt of an unsalted (cold-term) run: holds docs of
#                   EVERY residue class; query-side WAND fans such rows
#                   to all salt groups and residue-masks at use


def make_mini_encoder(n_buckets: int, n_salts: int, hot_ids: np.ndarray):
    """mapInPandas body over the PARSED rows (narrow — no posting-row
    shuffle): sorts the partition's postings in numpy and encodes one
    mini-segment blob per (term_id, salt) run — the memtable dump of the
    reference (RdbDump.cpp): each map partition emits sorted, compressed
    runs; the wide shuffle then moves ~10x fewer bytes (blobs, not rows)
    and the reduce side is a blob-level k-way merge (posdbMerge_r).

    Salting is a pure PERF knob (threshold df > eff salt_min_df): hot
    terms split `salt = doc_id % n_salts` so no reducer owns a whole
    hot termlist; cold terms stay in ONE `SALT_SHARED` run — salting
    every term (tried mid-round-3) multiplies the mini-run shuffle rows
    for every term with >1 posting per partition (bigrams, rare words)
    and cost 2v8 scaling 0.86 -> 0.69. Query-side WAND is
    layout-GENERAL (executor._search_multi_wand): exact-salt rows are
    residue-disjoint sub-lists, shared rows fan out to every group with
    a residue mask — correct for any hot/cold mix, including terms that
    crossed the threshold across generations."""
    hot_sorted = np.sort(hot_ids.astype(np.int64))

    def encode_mini(iterator):
        arrs = _partition_posting_arrays(list(iterator))
        if arrs is None:
            return
        t, p, c, d, dl, rk = arrs
        if len(hot_sorted):
            ix = np.searchsorted(hot_sorted, t)
            ixc = np.clip(ix, 0, len(hot_sorted) - 1)
            is_hot = hot_sorted[ixc] == t
            salt = np.where(is_hot, d % n_salts,
                            SALT_SHARED).astype(np.int64)
        else:
            salt = np.full(len(t), SALT_SHARED, dtype=np.int64)
        order = np.lexsort((p, d, salt, t))
        yield _encode_runs(t[order], salt[order], d[order], p[order],
                           c[order], dl[order], rk[order], n_buckets)

    return encode_mini


def _merge_runs(pdf: pd.DataFrame, bulk: bool = True) -> pd.DataFrame:
    """Merge a frame of mini-segment rows SORTED by (term_id, salt) into
    one segment row per (term_id, salt): single-blob runs pass through
    byte-identical (the common case — rare terms live in one map
    partition); multi-blob runs k-way merge (docId sets disjoint by
    construction: one doc parses in exactly one partition).

    ``bulk`` picks the multi-blob strategy — byte-identical outputs,
    different memory behavior (A/B-measured at 200k docs, same box):
    - True: ONE shared sort + bulk re-encode for every group in the
      batch. Fastest when each concurrent worker has memory bandwidth
      to stream the batched arrays (≤ ~16 workers/node: 500k-doc
      segments stage 312.9 → 238.9 s at local[8], 936.5 → 668.8 s at
      local[2]).
    - False: per-group merge. The small cache-resident working set
      wins when MANY workers share one memory bus (local[32] segments
      66.5 s per-group vs 92 s bulk — the bulk arrays turn the stage
      DRAM-bandwidth-bound; an intermediate chunked-bulk variant
      measured no better than full bulk)."""
    from ..functions.codec import merge_disjoint_blobs_many

    term = pdf["term_id"].to_numpy(np.int64)
    salt = pdf["salt"].to_numpy(np.int64)
    key_change = np.empty(len(term), dtype=bool)
    key_change[0] = True
    key_change[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    starts = np.flatnonzero(key_change)
    run_len = np.diff(np.append(starts, len(term)))
    single = run_len == 1
    out_frames = []
    if single.any():
        out_frames.append(pdf.iloc[starts[single]])
    multi_starts = starts[~single]
    multi_lens = run_len[~single]
    if len(multi_starts):
        blobs_col = pdf["postings"]
        bucket_col = pdf["bucket"].to_numpy(np.int64)
        # docs can overlap across sources (body vs inlink-text
        # partitions); the merge combines them
        groups = [[bytes(blobs_col.iloc[s + j]) for j in range(n)]
                  for s, n in zip(multi_starts, multi_lens)]
        if not bulk:
            parts = [merge_disjoint_blobs_many([g]) for g in groups]
            blobs = [p[0][0] for p in parts]
            df_g = np.concatenate([p[1] for p in parts])
            cf_g = np.concatenate([p[2] for p in parts])
            mx_g = np.concatenate([p[3] for p in parts])
        else:
            blobs, df_g, cf_g, mx_g = merge_disjoint_blobs_many(groups)
        out_frames.append(pd.DataFrame({
            "bucket": bucket_col[multi_starts],
            "term_id": term[multi_starts],
            "salt": salt[multi_starts],
            "df": df_g, "cf": cf_g, "max_tf": mx_g,
            "n_bytes": np.fromiter((len(b) for b in blobs),
                                   dtype=np.int64, count=len(blobs)),
            "postings": blobs,
        }))
    out = pd.concat(out_frames, ignore_index=True)
    return out.sort_values(["term_id", "salt"], kind="mergesort")


def make_compact_merge(edocs: np.ndarray, egens: np.ndarray,
                       bulk: bool = True):
    """mapInPandas body for COMPACTION (cross-generation k-way merge,
    RdbList.cpp:2154 posdbMerge_r + negative-key annihilation
    RdbList.cpp:1945-2043): input mini rows sorted by (term_id, salt,
    gen). Doc-event resolution (RdbIndex semantics): a posting at gen g
    is live iff its doc has no event or its newest event is a re-index
    at exactly g (keep_gen == g); keep_gen == -1 means tombstoned.
    Runs merge through codec.merge_blobs_many (dead-filter +
    newest-wins + bulk re-encode); runs left with no live doc emit no
    row. ``bulk`` as in ``_merge_runs``: True merges every run of an
    Arrow batch in one call, False one run per call (a working set of
    one run, for wide nodes)."""
    from ..functions.codec import merge_blobs_many

    has_events = len(edocs) > 0

    def live(docs: np.ndarray, gens: np.ndarray) -> np.ndarray:
        ei = np.searchsorted(edocs, docs)
        eic = np.clip(ei, 0, len(edocs) - 1)
        return ~((edocs[eic] == docs) & (egens[eic] != gens))

    def _runs(pdf: pd.DataFrame) -> pd.DataFrame:
        term = pdf["term_id"].to_numpy(np.int64)
        salt = pdf["salt"].to_numpy(np.int64)
        key_change = np.empty(len(term), dtype=bool)
        key_change[0] = True
        key_change[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
        starts = np.flatnonzero(key_change)
        run_len = np.diff(np.append(starts, len(term)))
        single = (run_len == 1) & (not has_events)
        out_frames = []
        if single.any():
            out_frames.append(
                pdf.iloc[starts[single]].drop(columns=["gen"]))
        blobs_col = pdf["postings"]
        gen_col = pdf["gen"].to_numpy(np.int64)
        bucket_col = pdf["bucket"].to_numpy(np.int64)
        m_starts, m_lens = starts[~single], run_len[~single]
        if len(m_starts):
            groups = [[bytes(blobs_col.iloc[s + j]) for j in range(n)]
                      for s, n in zip(m_starts, m_lens)]
            gens = [gen_col[s:s + n].tolist()
                    for s, n in zip(m_starts, m_lens)]
            keep = live if has_events else None
            if bulk:
                blobs, df, cf, mtf = merge_blobs_many(groups, gens, keep)
            else:
                parts = [merge_blobs_many([g], [gg], keep)
                         for g, gg in zip(groups, gens)]
                blobs = [p[0][0] for p in parts]
                df, cf, mtf = (np.concatenate([p[i] for p in parts])
                               for i in (1, 2, 3))
            ok = df > 0
            kept = [x for x, k in zip(blobs, ok) if k]
            out_frames.append(pd.DataFrame({
                "bucket": bucket_col[m_starts[ok]],
                "term_id": term[m_starts[ok]],
                "salt": salt[m_starts[ok]],
                "df": df[ok], "cf": cf[ok], "max_tf": mtf[ok],
                "n_bytes": np.array([len(x) for x in kept],
                                    dtype=np.int64),
                "postings": kept,
            }))
        if not out_frames:
            return pd.DataFrame(
                columns=["bucket", "term_id", "salt", "df", "cf",
                         "max_tf", "n_bytes", "postings"])
        out = pd.concat(out_frames, ignore_index=True)
        return out.sort_values(["term_id", "salt"], kind="mergesort")

    def go(iterator):
        carry: pd.DataFrame | None = None
        for pdf in iterator:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_t = pdf["term_id"].iloc[-1]
            last_s = pdf["salt"].iloc[-1]
            tail = (pdf["term_id"] == last_t) & (pdf["salt"] == last_s)
            carry = pdf[tail]
            body = pdf[~tail]
            if len(body):
                yield _runs(body)
        if carry is not None and len(carry):
            yield _runs(carry)

    return go


def make_merge_partition(bulk: bool = True):
    """mapInPandas body over mini-segment rows hash-shuffled on
    (term_id, salt) and sorted within: merges runs, carrying the
    trailing incomplete run across Arrow batch boundaries. ``bulk``
    picks the multi-blob merge strategy (see ``_merge_runs``)."""

    def merge_partition(iterator):
        carry: pd.DataFrame | None = None
        for pdf in iterator:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_t = pdf["term_id"].iloc[-1]
            last_s = pdf["salt"].iloc[-1]
            tail = (pdf["term_id"] == last_t) & (pdf["salt"] == last_s)
            carry = pdf[tail]
            body = pdf[~tail]
            if len(body):
                yield _merge_runs(body, bulk)
        if carry is not None and len(carry):
            yield _merge_runs(carry, bulk)

    return merge_partition


def _bulk_merge_ok(spark: SparkSession,
                   conf: EngineConf = DEFAULT_CONF) -> bool:
    """True when each NODE runs few enough concurrent workers that the
    bulk (batched) multi-blob merge has memory bandwidth to win; false
    on wide single-node executors where per-group merging's
    cache-resident working set is faster (measured A/B in
    ``_merge_runs``). Local mode: local[N] puts all N workers on one
    bus. Cluster mode: spark.executor.cores is the per-JVM concurrency,
    and the heuristic ASSUMES one executor per node (the typical
    sizing) — deployments packing several executors per node should set
    ``conf.bulk_merge`` explicitly (ADVICE r3; perf-only, outputs are
    byte-identical either way)."""
    if conf.bulk_merge is not None:
        return conf.bulk_merge
    sc = spark.sparkContext
    if sc.master.startswith("local"):
        workers = sc.defaultParallelism
    else:
        workers = int(sc.getConf().get("spark.executor.cores", "4"))
    return workers <= 16


def build_index(
    spark: SparkSession,
    webtext: DataFrame,
    index_dir: str,
    conf: EngineConf = DEFAULT_CONF,
    gen: int = 0,
    buckets: list[int] | None = None,
    resume: bool = True,
) -> dict:
    """Full build. Returns build metrics. Resumable: completed buckets
    (recorded in _manifests/bucket_*.json) are skipped when resume=True."""
    paths = IndexPaths(index_dir)
    os.makedirs(paths.manifests, exist_ok=True)
    t0 = time.time()
    p_parsed = paths.gen("parsed", gen)
    p_docs = paths.gen("docs", gen)
    p_stats = paths.gen("term_stats", gen)
    p_lex = paths.gen("lexicon", gen)

    # ---- stage A: parse (checkpoint) ----
    if not resume or not _parquet_exists(p_parsed):
        # parse parallelism must not be capped by the source's input
        # splits (a few hundred MB of html coalesces to a handful of
        # 128MB splits — at 32 cores that strands 90% of the executor):
        # widen narrow sources before the Arrow-batched parse. The
        # repartition is a bytes-shuffle of the raw html, ~seconds
        # against the minutes of python parse it unlocks.
        par = spark.sparkContext.defaultParallelism
        src = webtext
        if src.rdd.getNumPartitions() < par:
            src = src.repartition(par * 2)
        parsed = src.mapInPandas(parse_docs_udf, schema=PARSED_SCHEMA)
        parsed.write.mode("overwrite").parquet(p_parsed)
    parsed = spark.read.parquet(p_parsed)
    t_parse = time.time()

    # ---- stage B: docs + term stats + lexicon (Catalyst only) ----
    doc_cols = ["doc_id", "url", "site_id", "site_rank", "lang_id", "title",
                "n_tokens", "warc_ts", "content_hash", "no_archive"]
    if not resume or not _parquet_exists(p_docs):
        parsed.select(*doc_cols).write.mode("overwrite").parquet(p_docs)
    if not resume or not _parquet_exists(p_lex):
        (
            # project first: prunes the parquet scan + Arrow transfer to
            # the two lexicon columns (mapInPandas reads its full input)
            parsed.select("lex_words", "lex_ids")
            .mapInPandas(make_lex_partials(),
                         schema="term string, term_id long")
            .distinct()
            .write.mode("overwrite")
            .parquet(p_lex)
        )

    # indexed rows = parse output + incoming-link-text rows (linkdb
    # analog: anchors hashed for the linkee, anchors-sized shuffle).
    # Probe first (limit-1 early-exit scan): link-free corpora skip the
    # anchor join entirely.
    has_links = bool(
        parsed.where(F.size("out_hrefs") > 0).limit(1).count())
    indexed = (parsed.unionByName(anchor_parsed(parsed)) if has_links
               else parsed)

    # optional per-term docid HLL registers (conf.term_sketch_p): the
    # planner's conjunctive-cardinality sketches. One explode + one
    # groupBy(term, bucket) with map-side partial MAX — the shuffle
    # rows are bounded by distinct (term, bucket) per partition, the
    # output by vocab·2^p, never postings-sized. Covers the same
    # (term, doc) universe as the real termlists (anchor rows carry the
    # linkee's doc_id, exactly like make_stats_partials).
    if conf.term_sketch_p:
        p_sk = paths.gen("term_sketches", gen)
        if not resume or not _parquet_exists(p_sk):
            from ..ops.sketches import grouped_hll_registers
            pairs = indexed.select(
                F.col("doc_id").cast("string").alias("_d"),
                F.explode("term_ids").alias("term_id"))
            (grouped_hll_registers(pairs, ["term_id"], "_d",
                                   p=conf.term_sketch_p)
             .write.mode("overwrite").parquet(p_sk))

    # df partials for HOT-term detection only (salting); exact stats are
    # recomputed from the merged segments after stage C (strictly better
    # than the reference's RdbMap-size upper-bound estimate,
    # Posdb.cpp:301 — and the partial-count estimate here may overcount
    # a doc whose body and inlink-text postings split across partitions)
    cur_stats = (
        indexed.select("doc_id", "term_ids")
        .mapInPandas(make_stats_partials(),
                     schema="term_id long, df long, cf long")
        .groupBy("term_id")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    n_docs = spark.read.parquet(p_docs).count()

    # Hot-term decision uses cumulative df over ALL generations so a
    # doc's (term, salt) assignment stays stable across incremental
    # builds. The threshold is LOW (default 1000, scaled down for tiny
    # corpora) so every mid-df term is salted and WAND-routable; terms
    # below it stay in one SALT_SHARED run (see make_mini_encoder).
    prior_stats = [d for d in _stats_gen_dirs(paths) if d != p_stats]
    all_stats = cur_stats.select("term_id", "df")
    if prior_stats:
        all_stats = all_stats.unionByName(
            spark.read.parquet(*prior_stats).select("term_id", "df"))
    eff_thresh = _effective_salt_min_df(conf, n_docs)
    hot_rows = (
        all_stats.groupBy("term_id").agg(F.sum("df").alias("df"))
        .where(F.col("df") > eff_thresh).select("term_id").collect()
    )
    hot_ids = np.array([r["term_id"] for r in hot_rows], dtype=np.int64)
    t_stats = time.time()

    # ---- stage C: mini-segment encode (narrow) + blob-level merge ----
    # C1 encodes each map partition's postings into sorted compressed
    # mini-blobs (RdbDump memtable dump); the wide shuffle then carries
    # blobs (~10x fewer bytes than posting rows) and C2 k-way merges
    # each (term_id, salt) run (posdbMerge_r).
    all_buckets = buckets if buckets is not None else list(range(conf.n_buckets))
    todo = [b for b in all_buckets
            if not (resume and os.path.exists(_manifest_path(paths, gen, b)))]
    if todo:
        mini = indexed.mapInPandas(
            make_mini_encoder(conf.n_buckets, conf.n_salts, hot_ids),
            schema=SEGMENT_SCHEMA)
        if len(todo) < conf.n_buckets:
            mini = mini.where(F.col("bucket").isin(todo))
        seg = (
            mini.repartition(F.col("term_id"), F.col("salt"))
            .sortWithinPartitions("term_id", "salt")
            .mapInPandas(make_merge_partition(_bulk_merge_ok(spark, conf)),
                         schema=SEGMENT_SCHEMA)
        )
        out = os.path.join(paths.segments, f"gen={gen}")
        # consolidation shuffle of the ENCODED blobs (a fraction of the
        # posting volume): one sorted file per bucket dir -> term_id
        # row-group stats stay tight for scan pruning (RdbMap analog)
        (
            seg.repartition("bucket")
            .sortWithinPartitions("term_id", "salt")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(out)
        )
        # per-bucket manifest: lineage + metrics (north rule). The stats
        # scan column-prunes to (bucket, cf, n_bytes) — blobs not read.
        seg_stats = (
            spark.read.parquet(out)
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n_terms"),
                F.sum("cf").alias("n_postings"),
                F.sum("n_bytes").alias("bytes_out"),
            )
            .collect()
        )
        elapsed = time.time() - t_stats
        for r in seg_stats:
            if r["bucket"] not in todo:
                continue
            with open(_manifest_path(paths, gen, r["bucket"]), "w") as f:
                json.dump(
                    {
                        "bucket": r["bucket"],
                        "gen": gen,
                        "n_terms": r["n_terms"],
                        "n_postings": int(r["n_postings"]),
                        "bytes_out": int(r["bytes_out"]),
                        "secs_stage_c": elapsed,
                        "input": paths.parsed,
                        "status": "complete",
                    },
                    f,
                )
    # exact per-term stats from the merged segments (one row per
    # (term, salt) blob, column-pruned — blobs never read). Rewritten
    # whenever THIS call completed new buckets: a bucket-subset resumable
    # build would otherwise freeze stats at the first subset and leave
    # later buckets' terms with df=0 (ADVICE r1)
    if not resume or todo or not _parquet_exists(p_stats):
        seg_dir = paths.gen("segments", gen)
        src = (spark.read.parquet(seg_dir)
               .groupBy("term_id")
               .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
               if os.path.isdir(seg_dir) else cur_stats)
        src.write.mode("overwrite").parquet(p_stats)
    term_stats = spark.read.parquet(p_stats)
    t_seg = time.time()

    meta = {
        "n_docs": int(n_docs),
        "n_terms": int(term_stats.count()),
        "conf": {"n_buckets": conf.n_buckets, "n_salts": conf.n_salts,
                 "salt_df_threshold": conf.salt_df_threshold,
                 "term_sketch_p": conf.term_sketch_p,
                 # salt layout contract for the query-side WAND: rows
                 # with salt >= 0 hold exactly the term's docs ≡ salt
                 # (mod n_salts); rows with salt == SALT_SHARED hold a
                 # full (unsalted) run and must be residue-masked
                 "salt_scheme": {"version": 2,
                                 "min_df": int(eff_thresh)}},
        "gens": [gen],
        # r5: whether ANY generation carries incoming-link-text rows —
        # anchors add postings for a LINKEE doc in the linker's gen, so
        # a doc's (term, postings) can span gens only when this is set;
        # readers use it to keep the ctx-only single-term plan on
        # anchor-free multi-gen indexes (executor._search_reference)
        "has_anchors": bool(has_links),
        "secs": {"parse": t_parse - t0, "stats": t_stats - t_parse,
                 "segments": t_seg - t_stats, "total": t_seg - t0},
        "docs_per_sec": n_docs / max(t_seg - t0, 1e-9),
    }
    if os.path.exists(paths.meta):
        with open(paths.meta) as f:
            old = json.load(f)
        meta["gens"] = sorted(set(old.get("gens", [])) | {gen})
        meta["has_anchors"] = bool(old.get("has_anchors", True)
                                   or has_links)
    with open(paths.meta, "w") as f:
        json.dump(meta, f)
    _invalidate_derived(index_dir)
    return meta


def _invalidate_derived(index_dir: str) -> None:
    """Drop derived read-side acceleration tables (HF-shortcut champion
    lists) whenever the generation set changes: they were built from an
    older gen-resolved postings view, so a doc deleted or re-crawled
    afterwards would still be served from the stale champion list
    (ADVICE r2). Readers degrade gracefully — a missing shortcut dir
    just means exact termlist reads until build_hf_shortcuts reruns."""
    import shutil

    from .shortcuts import SUBDIR as HF_SUBDIR

    p = os.path.join(index_dir, HF_SUBDIR)
    if os.path.exists(p):
        shutil.rmtree(p, ignore_errors=True)


def delete_docs(spark: SparkSession, index_dir: str, doc_ids: list[int],
                gen: int) -> None:
    """Record tombstones for docIds at generation `gen`: the analog of the
    reference's negative keys (delbit, Posdb.h:88; RdbList.cpp:1945-2043).
    Readers drop postings of a doc whose tombstone gen is >= the posting's
    gen; ``compact_index`` annihilates them physically (merge-time
    negative-key removal, RdbListTest.cpp:184)."""
    paths = IndexPaths(index_dir)
    df = spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
    df.write.mode("overwrite").parquet(paths.gen("tombstones", gen))
    # register the tombstone generation so readers and compaction see it
    # without manual meta surgery
    if os.path.exists(paths.meta):
        with open(paths.meta) as f:
            meta = json.load(f)
        meta["gens"] = sorted(set(meta.get("gens", [])) | {int(gen)})
        with open(paths.meta, "w") as f:
            json.dump(meta, f)
    _invalidate_derived(index_dir)


def compact_index(spark: SparkSession, index_dir: str,
                  conf: EngineConf = DEFAULT_CONF) -> dict:
    """Merge all segment generations into one new generation
    (k-way posdb merge, RdbList.cpp:2154 posdbMerge_r + RdbMerge.h):
    newest-gen-wins per (term_id, doc_id), tombstoned docs annihilated.
    Catalyst shuffle on (term_id, salt) + the batched merge UDF
    ``make_compact_merge`` (codec.merge_blobs_many)."""
    paths = IndexPaths(index_dir)
    with open(paths.meta) as f:
        meta = json.load(f)
    gens = meta.get("gens", [0])
    new_gen = max(gens) + 1
    seg = spark.read.option("basePath", paths.segments).parquet(
        *[paths.gen("segments", g) for g in gens if
          os.path.exists(paths.gen("segments", g))])
    events = compute_doc_events(spark, paths, gens)
    # The merge only needs events for docs that actually CONFLICT —
    # postings in 2+ generations, or tombstoned. Append-only streamed
    # corpora (one gen per micro-batch, disjoint docs) produce ZERO
    # conflicted docs, so the driver-side event map stays bounded by the
    # re-crawl/delete volume, not the corpus (ADVICE r1: events.collect
    # OOM). Worst case (every doc re-crawled) is the re-crawl size by
    # definition.
    if events is not None:
        doc_dirs = [paths.gen("docs", g) for g in gens
                    if os.path.exists(paths.gen("docs", g))]
        appearances = (
            spark.read.option("basePath", paths.docs).parquet(*doc_dirs)
            .select("doc_id")
        )
        tomb_dirs = [paths.gen("tombstones", g) for g in gens
                     if os.path.exists(paths.gen("tombstones", g))]
        if tomb_dirs:
            appearances = appearances.unionByName(
                spark.read.option("basePath", paths.tombstones)
                .parquet(*tomb_dirs).select("doc_id"))
        conflicted = (appearances.groupBy("doc_id")
                      .agg(F.count("*").alias("n"))
                      .where(F.col("n") >= 2).select("doc_id"))
        needed = events.join(conflicted, "doc_id", "left_semi")
        ev_rows = needed.toPandas()
        ev_map = dict(zip(ev_rows["doc_id"].astype(int),
                          ev_rows["keep_gen"].astype(int)))
    else:
        ev_map = {}
    edocs = np.array(sorted(ev_map), dtype=np.uint64)
    egens = np.array([ev_map[int(d)] for d in edocs], dtype=np.int64)

    out_dir = paths.gen("segments", new_gen)
    (
        seg.repartition(F.col("term_id"), F.col("salt"))
        .sortWithinPartitions("term_id", "salt", "gen")
        .mapInPandas(make_compact_merge(edocs, egens,
                                        _bulk_merge_ok(spark, conf)),
                     schema=SEGMENT_SCHEMA)
        .repartition("bucket")
        .sortWithinPartitions("term_id", "salt")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )

    # docs/term_stats/lexicon: newest-wins rollup into the new gen
    docs = spark.read.option("basePath", paths.docs).parquet(
        *[paths.gen("docs", g) for g in gens
          if os.path.exists(paths.gen("docs", g))])
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.desc("gen"))
    docs_new = (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1).drop("_rn", "gen")
    )
    # drop only docs whose RESOLVED event is a tombstone (keep_gen == -1):
    # a doc tombstoned then re-indexed at a later gen must keep its docs
    # row, exactly as the segment merge keeps its newest postings
    # (ADVICE r1: compact_index dropped re-added docs)
    if events is not None:
        dead = events.where(F.col("keep_gen") == -1).select("doc_id")
        docs_new = docs_new.join(dead, "doc_id", "left_anti")
    docs_new.write.mode("overwrite").parquet(paths.gen("docs", new_gen))
    # exact term stats recomputed from merged segments (cheap: one row per
    # (term, salt) blob, not per posting)
    (
        spark.read.parquet(out_dir)
        .groupBy("term_id")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .write.mode("overwrite")
        .parquet(paths.gen("term_stats", new_gen))
    )
    lex_dirs = [paths.gen("lexicon", g) for g in gens
                if os.path.exists(paths.gen("lexicon", g))]
    if lex_dirs:
        (
            spark.read.parquet(*lex_dirs).distinct()
            .write.mode("overwrite").parquet(paths.gen("lexicon", new_gen))
        )
    # term sketches: registers merge by MAX across generations (HLL
    # union). Deleted docs' contributions survive — an HLL cannot
    # subtract — so post-compaction sketches stay an upper sketch until
    # a from-scratch rebuild (documented in EngineConf.term_sketch_p).
    sk_dirs = [paths.gen("term_sketches", g) for g in gens
               if os.path.exists(paths.gen("term_sketches", g))]
    if sk_dirs:
        (
            spark.read.parquet(*sk_dirs)
            .groupBy("term_id", "bucket")
            .agg(F.max("register").alias("register"))
            .write.mode("overwrite")
            .parquet(paths.gen("term_sketches", new_gen))
        )

    n_docs = docs_new.count()
    meta.update({
        "gens": [new_gen],
        "n_docs": int(n_docs),
        "compacted_from": gens,
    })
    with open(paths.meta, "w") as f:
        json.dump(meta, f)
    _invalidate_derived(index_dir)
    return meta


def merge_indexes(spark: SparkSession, in_dirs: list[str],
                  out_dir: str, conf: EngineConf = DEFAULT_CONF,
                  check_disjoint: bool = True) -> dict:
    """Consolidate independently built indexes over DISJOINT docId
    sets into one new index — the multi-crawl/shard consolidation the
    reference performs by copying RdbBase file sets between
    collections and letting the next merge fold them (RdbBase.h:193
    file-set merge; collections share nothing else). At corpus scale
    this is how monthly crawl indexes or per-partition shard builds
    become one servable snapshot WITHOUT re-parsing a byte of HTML:
    only posting blobs move.

    Preconditions (validated): every input is a single-generation
    snapshot with no tombstones (compact first — newest-wins
    resolution across UNRELATED indexes is undefined), and all inputs
    share the bucket/salt layout (n_buckets, n_salts). DocId sets
    must be disjoint; ``check_disjoint`` verifies with one
    aggregation (skippable when the sharding scheme guarantees it).

    Scale shape: the exact compaction dataflow with an empty event
    map — one (term_id, salt)-keyed shuffle of segment rows + the
    vectorized multi-blob merge, one docs/lexicon union, stats
    recomputed from the merged segments (one row per blob, never
    per posting). Term sketches max-merge when every input carries
    them at the same precision (HLL union is elementwise max).
    """
    if len(in_dirs) < 2:
        raise ValueError("need at least two input indexes")
    in_paths, in_metas, in_gens = [], [], []
    for d in in_dirs:
        p = IndexPaths(d)
        with open(p.meta) as f:
            m = json.load(f)
        gens = m.get("gens", [0])
        if len(gens) != 1:
            raise ValueError(
                f"{d}: multi-generation input (gens={gens}) — run "
                "compact_index first")
        if os.path.exists(p.gen("tombstones", gens[0])):
            raise ValueError(f"{d}: has tombstones — compact first")
        in_paths.append(p)
        in_metas.append(m)
        in_gens.append(gens[0])
    c0 = in_metas[0].get("conf", {})
    for d, m in zip(in_dirs[1:], in_metas[1:]):
        ci = m.get("conf", {})
        for key in ("n_buckets", "n_salts"):
            if ci.get(key) != c0.get(key):
                raise ValueError(
                    f"{d}: conf.{key}={ci.get(key)} != {c0.get(key)} "
                    "— inputs must share the bucket/salt layout")

    docs_frames = [spark.read.parquet(p.gen("docs", g))
                   for p, g in zip(in_paths, in_gens)]
    docs_all = docs_frames[0]
    for f in docs_frames[1:]:
        docs_all = docs_all.unionByName(f, allowMissingColumns=True)
    if check_disjoint:
        dup = (docs_all.groupBy("doc_id")
               .agg(F.count("*").alias("n")).where(F.col("n") > 1))
        clash = dup.limit(1).collect()
        if clash:
            raise ValueError(
                f"doc_id {clash[0]['doc_id']} appears in more than one "
                "input — merge_indexes requires disjoint docId sets")

    out_paths = IndexPaths(out_dir)
    os.makedirs(out_paths.manifests, exist_ok=True)
    docs_all.write.mode("overwrite").parquet(out_paths.gen("docs", 0))

    seg = None
    for i, (p, g) in enumerate(zip(in_paths, in_gens)):
        s = (spark.read.parquet(p.gen("segments", g))
             .withColumn("gen", F.lit(i)))
        seg = s if seg is None else seg.unionByName(s)
    empty = np.empty(0, dtype=np.uint64)
    (
        seg.repartition(F.col("term_id"), F.col("salt"))
        .sortWithinPartitions("term_id", "salt", "gen")
        .mapInPandas(make_compact_merge(empty, empty.astype(np.int64),
                                        _bulk_merge_ok(spark, conf)),
                     schema=SEGMENT_SCHEMA)
        .repartition("bucket")
        .sortWithinPartitions("term_id", "salt")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_paths.gen("segments", 0))
    )
    (
        spark.read.parquet(out_paths.gen("segments", 0))
        .groupBy("term_id")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .write.mode("overwrite")
        .parquet(out_paths.gen("term_stats", 0))
    )
    (
        spark.read.parquet(*[p.gen("lexicon", g)
                             for p, g in zip(in_paths, in_gens)])
        .distinct()
        .write.mode("overwrite").parquet(out_paths.gen("lexicon", 0))
    )
    sk_ps = {m.get("conf", {}).get("term_sketch_p") for m in in_metas}
    sketch_p = sk_ps.pop() if len(sk_ps) == 1 else None
    if sketch_p and all(os.path.exists(p.gen("term_sketches", g))
                        for p, g in zip(in_paths, in_gens)):
        (
            spark.read.parquet(*[p.gen("term_sketches", g)
                                 for p, g in zip(in_paths, in_gens)])
            .groupBy("term_id", "bucket")
            .agg(F.max("register").alias("register"))
            .write.mode("overwrite")
            .parquet(out_paths.gen("term_sketches", 0))
        )
    else:
        sketch_p = None

    n_docs = docs_all.count()
    meta = {
        "n_docs": int(n_docs),
        "n_terms": int(spark.read.parquet(
            out_paths.gen("term_stats", 0)).count()),
        "conf": {
            "n_buckets": c0.get("n_buckets"),
            "n_salts": c0.get("n_salts"),
            "salt_df_threshold": c0.get("salt_df_threshold"),
            "term_sketch_p": sketch_p,
            # worth-it gate only — row-level salt layout declarations
            # stay sound for any mix, so the conservative max applies
            "salt_scheme": {
                "version": 2,
                "min_df": max(int((m.get("conf", {})
                                   .get("salt_scheme") or {})
                                  .get("min_df", 0))
                              for m in in_metas)},
        },
        "gens": [0],
        "merged_from": [os.path.abspath(d) for d in in_dirs],
    }
    with open(out_paths.meta, "w") as f:
        json.dump(meta, f)
    return meta


def compute_doc_events(spark: SparkSession, paths: IndexPaths,
                       gens: list[int]) -> DataFrame | None:
    """(doc_id, keep_gen) for every doc touched after the base generation:
    keep_gen = the doc's newest (re)index gen, or -1 if its newest event
    is a tombstone. A posting of doc d at gen g is live iff d is absent
    here or keep_gen == g — the RdbIndex doc-presence resolution
    (RdbIndex.h:20-40): a re-crawl shadows ALL the doc's older postings.
    Only delta docs appear, so this stays broadcast-sized at any corpus
    scale (re-crawl batches are small relative to the index). None when
    single-generation with no tombstones (compacted fast path)."""
    parts = []
    base_gen = min(gens) if gens else 0
    delta_dirs = [paths.gen("docs", g) for g in gens
                  if g != base_gen and os.path.exists(paths.gen("docs", g))]
    if delta_dirs:
        parts.append(
            spark.read.option("basePath", paths.docs).parquet(*delta_dirs)
            .select("doc_id", F.col("gen").cast("int").alias("gen"),
                    F.lit(False).alias("is_tomb"))
        )
    tomb_dirs = [paths.gen("tombstones", g) for g in gens
                 if os.path.exists(paths.gen("tombstones", g))]
    if tomb_dirs:
        parts.append(
            spark.read.option("basePath", paths.tombstones).parquet(*tomb_dirs)
            .select("doc_id", F.col("gen").cast("int").alias("gen"),
                    F.lit(True).alias("is_tomb"))
        )
    if not parts:
        return None
    events = parts[0]
    for p in parts[1:]:
        events = events.unionByName(p)
    return (
        events.groupBy("doc_id")
        .agg(F.max(F.struct("gen", "is_tomb")).alias("ev"))
        .select(
            "doc_id",
            F.when(F.col("ev.is_tomb"), F.lit(-1))
            .otherwise(F.col("ev.gen")).alias("keep_gen"),
        )
    )


def _manifest_path(paths: IndexPaths, gen: int, bucket: int) -> str:
    return os.path.join(paths.manifests, f"gen{gen}_bucket{bucket:04d}.json")



def _parquet_exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def maybe_compact(spark: SparkSession, index_dir: str,
                  min_to_merge: int = 4,
                  conf: EngineConf = DEFAULT_CONF) -> dict | None:
    """RdbBase merge-scheduling analog (RdbBase.h:193 `minToMerge`,
    selection logic RdbBase.cpp:67): compact only when the live
    generation count reaches ``min_to_merge`` — the policy the
    reference applies per Rdb to keep file counts (and therefore
    per-query k-way fan-in) bounded while amortizing merge cost.
    Returns compact_index's metrics dict, or None when below the
    threshold. Streaming ingest (streaming/ingest.py) folds one
    generation per micro-batch, so a `maybe_compact` after each batch
    gives the reference's steady-state behavior: reads see at most
    min_to_merge generations."""
    paths = IndexPaths(index_dir)
    with open(paths.meta) as f:
        meta = json.load(f)
    gens = [g for g in meta.get("gens", [0])
            if os.path.exists(paths.gen("segments", g))]
    if len(gens) < min_to_merge:
        return None
    return compact_index(spark, index_dir, conf=conf)

"""Seeded inputs: the page corpus, the re-crawl batch and the query pools.

Everything here derives from the benchmark's ``--seed``; the engine only
ever sees the generated pages and query strings.
"""

from __future__ import annotations

import random
import re

import pandas as pd

STOPS = ["the", "of", "and", "to", "a", "in", "is", "it", "on", "for"]
SHAPES = ["1term", "2term", "3term", "phrase", "bool", "not"]

_WORD = re.compile(r"[a-z0-9]+")
_PARA = re.compile(r"<p>(.*?)</p>", re.S)


def write_corpus(spark, pages: int, seed: int, path: str, parts: int) -> None:
    """Full-HTML synthetic pages from the engine's own generator."""
    from open_source_search_engine_spark.sources.webtext import synthesize

    synthesize(spark, pages, seed=seed, n_partitions=parts) \
        .write.mode("overwrite").parquet(path)


def write_recrawl(spark, corpus_path: str, frac: float, seed: int,
                  path: str) -> None:
    """A seeded ``frac`` of the corpus URLs with new page content: every
    paragraph gains seeded words, so each re-crawled doc's postings and
    positions change and newest-wins replacement has work to do."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.functions.extractor import (
        extract_text,
    )
    from open_source_search_engine_spark.sources.webtext import (
        WEBTEXT_SCHEMA,
    )

    picked = spark.read.parquet(corpus_path).where(
        F.abs(F.xxhash64("url", F.lit(seed))) % 1000 < int(frac * 1000))

    def rewrite(it):
        for pdf in it:
            html, text = [], []
            for url, h in zip(pdf["url"], pdf["html"]):
                rng = random.Random(f"{seed}:{url}")
                words = " ".join(rng.choice(["revisit", "fresh", "update",
                                             "crawl", "index", "fox"])
                                 for _ in range(3))
                new = bytes(h).replace(b"<p>", f"<p>{words} ".encode())
                html.append(new)
                text.append(extract_text(new))
            pdf["html"] = html
            pdf["text"] = text
            pdf["warc_ts"] = pdf["warc_ts"] + pd.Timedelta(days=30)
            yield pdf

    picked.mapInPandas(rewrite, schema=WEBTEXT_SCHEMA) \
        .write.mode("overwrite").parquet(path)


def corpus_vocab(corpus_path: str, seed: int, sample: int = 400) -> dict:
    """Words and bigrams of the page bodies (``<p>`` text, so menus and
    meta boilerplate stay out) in a seeded sample of the corpus, so
    pooled queries hit real postings: ``core`` (the 20 most frequent
    plain words), ``rare`` (rareNNNN), ``bigrams`` (two plain words) and
    ``stop_bigrams`` (stopword, then a plain word)."""
    df = pd.read_parquet(corpus_path, columns=["html"])
    rng = random.Random(seed)
    rows = rng.sample(range(len(df)), min(sample, len(df)))
    counts: dict[str, int] = {}
    rare, bigrams, stop_bigrams = set(), set(), set()
    plain = lambda w: w.isalpha() and len(w) > 2 and w not in STOPS  # noqa: E731
    for i in sorted(rows):
        html = bytes(df["html"].iloc[i]).decode("utf-8", "replace").lower()
        for para in _PARA.findall(html):
            toks = _WORD.findall(para)
            for t in toks:
                if plain(t):
                    counts[t] = counts.get(t, 0) + 1
                elif t.startswith("rare"):
                    rare.add(t)
            for a, b in zip(toks, toks[1:]):
                if plain(b) and a in STOPS:
                    stop_bigrams.add(f"{a} {b}")
                elif plain(b) and plain(a):
                    bigrams.add(f"{a} {b}")
    core = sorted(counts, key=lambda w: (-counts[w], w))[:20]
    return {"core": sorted(core), "rare": sorted(rare),
            "bigrams": sorted(bigrams), "stop_bigrams": sorted(stop_bigrams)}


def query_pool(kind: str, seed: int, vocab: dict) -> dict:
    """{shape: [query, ...]} for ``kind`` 'bm25' (core, mid-df topicNN
    and low-df rareNNNN words) or 'reference' (stopwords and high-df
    core words). Slot i of a shape always has the same word classes; the
    seed picks the words."""
    rng = random.Random(f"{kind}:{seed}")
    pick = {
        "core": lambda: rng.choice(vocab["core"]),
        "topic": lambda: f"topic{rng.randrange(50):02d}",
        "rare": lambda: rng.choice(vocab["rare"]),
        "stop": lambda: rng.choice(STOPS),
        "bigram": lambda: rng.choice(vocab["bigrams"]),
        "stop_bigram": lambda: rng.choice(vocab["stop_bigrams"]),
    }
    if kind == "bm25":
        slots = {
            "1term": ["{core}", "{topic}", "{rare}"],
            "2term": ["{core} {topic}", "{core} {rare}", "{core} {core}"],
            "3term": ["{core} {core} {topic}", "{core} {topic} {rare}",
                      "{core} {core} {core}"],
            "phrase": ['"{bigram}"'] * 3,
            "bool": ["{core} AND ({core} OR {topic})"] * 3,
            "not": ["{core} -{core}", "{topic} -{core}", "{core} -{topic}"],
        }
    else:
        slots = {
            "1term": ["{stop}", "{stop}", "{core}"],
            "2term": ["{stop} {core}", "{stop} {stop}", "{core} {core}"],
            "3term": ["{stop} {stop} {stop}", "{stop} {stop} {core}",
                      "{stop} {core} {core}"],
            "phrase": ['"{stop_bigram}"'] * 3,
            "bool": ["{stop} AND ({core} OR {core})"] * 3,
            "not": ["{stop} -{core}"] * 3,
        }
    pool = {}
    for shape, templates in slots.items():
        qs: list[str] = []
        for tpl in templates:
            for _ in range(1000):
                q = re.sub(r"{(\w+)}", lambda m: pick[m.group(1)](), tpl)
                words = re.findall(r"[a-z0-9]+", q.replace(" AND ", " ")
                                   .replace(" OR ", " "))
                if q not in qs and len(set(words)) == len(words):
                    break
            qs.append(q)
        pool[shape] = qs
    return pool


# popularity: rank r of a shape's pool has weight 1/(r+1) (Zipf, s=1),
# 6:3:2 with a 3-query pool; shapes are weighted equally
ZIPF = [1.0, 1 / 2, 1 / 3]


def share(shape: str, slot: int) -> float:
    """The share of all traffic that pool slot ``slot`` of ``shape``
    stands for."""
    return ZIPF[slot] / sum(ZIPF) / len(SHAPES)


def schedule(pool: dict):
    """Endless (shape, slot, query): cycles of one query per shape, and
    in cycle c shape j takes pool slot (c + j) % 3, so every three cycles
    visit each (shape, slot) pair once. The popularity weights are
    applied to the measured latencies (``share``), not to the order, so
    that every run of three or more cycles carries the same mix, however
    many cycles fit in it."""
    c = 0
    while True:
        for j, shape in enumerate(SHAPES):
            slot = (c + j) % len(pool[shape])
            yield shape, slot, pool[shape][slot]
        c += 1

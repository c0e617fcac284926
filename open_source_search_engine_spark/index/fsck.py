"""Index integrity checker — the RdbMap verification analog
(RdbMap.h:245 verifyMap/verifyMap2: the reference re-walks a posdb
file against its map on load and rebuilds the map when keys are out of
order or offsets disagree). Our segments carry their own per-blob
directories (BlockMeta) plus denormalized stats columns, so fsck
re-decodes every blob and cross-checks EVERY invariant the query path
relies on:

per-blob (distributed, Arrow-batched over the segments scan):
  - the version byte is the one supported format (codec v4 with the
    frontier flag) and the block directory parses
  - docIds strictly increasing (the RdbMap key-order check)
  - decoded doc count == stored df; sum(tf) == stored cf;
    max(tf) == stored max_tf; blob length == stored n_bytes
  - bucket == term_id % n_buckets (directory-pruning contract)
  - salted rows (salt >= 0) hold ONLY docs ≡ salt (mod n_salts) —
    the WAND per-salt layout contract (build.py salt_scheme v2)
  - block-max tf metadata dominates every block's true max
  - the tf-band -> min-dl frontier equals a re-derivation from the
    decoded postings

cross-table (Catalyst only):
  - term_stats df/cf == per-term sums over segment rows
  - docs: doc_id unique within each generation

Returns one row per check: (check, n_checked, n_bad). A healthy index
is all-zero n_bad; any non-zero row pinpoints which contract broke.
Scale shape: one pass over the segments (the blobs are decoded once,
partition-local), two vocabulary-sized aggregates, one docs groupBy —
the same cost as a compaction read pass, trivially parallel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONF, EngineConf
from ..functions.codec import (
    BLOCK,
    BlockMeta,
    _frontier_arrays,
    decode_postings,
)

_BLOB_CHECKS = [
    "blob_decodes", "docids_sorted", "df_matches", "cf_matches",
    "max_tf_matches", "n_bytes_matches", "bucket_matches",
    "salt_residue", "block_max_dominates", "frontier_matches",
]


def _blob_check_udf(n_buckets: int, n_salts: int):
    def body(iterator):
        for pdf in iterator:
            checked = {c: 0 for c in _BLOB_CHECKS}
            bad = {c: 0 for c in _BLOB_CHECKS}
            for tid, salt, df, cf, mtf, nb, bucket, blob in zip(
                    pdf["term_id"], pdf["salt"], pdf["df"], pdf["cf"],
                    pdf["max_tf"], pdf["n_bytes"], pdf["bucket"],
                    pdf["postings"]):
                blob = bytes(blob)
                for c in _BLOB_CHECKS:
                    checked[c] += 1
                try:
                    meta = BlockMeta(blob)
                    d = decode_postings(blob)
                except Exception:
                    bad["blob_decodes"] += 1
                    continue
                docs = d["doc_ids"]
                tfs = d["tfs"]
                if len(docs) > 1 and not bool(
                        np.all(docs[1:] > docs[:-1])):
                    bad["docids_sorted"] += 1
                if len(docs) != int(df):
                    bad["df_matches"] += 1
                if int(tfs.sum()) != int(cf):
                    bad["cf_matches"] += 1
                if int(tfs.max(initial=0)) != int(mtf):
                    bad["max_tf_matches"] += 1
                if len(blob) != int(nb):
                    bad["n_bytes_matches"] += 1
                if int(bucket) != int(tid) % n_buckets:
                    bad["bucket_matches"] += 1
                if int(salt) >= 0 and len(docs) and not bool(
                        np.all(docs % n_salts == int(salt))):
                    bad["salt_residue"] += 1
                if meta.nblocks:
                    # per-block true max tf must never exceed the
                    # stored block-max (upper-bound contract)
                    bounds = np.repeat(
                        meta.bmax_tf.astype(np.int64),
                        np.diff(np.concatenate(
                            ([0], np.cumsum([meta.block_doc_count(i)
                                             for i in range(
                                                 meta.nblocks)])))))
                    if not bool(np.all(tfs.astype(np.int64)
                                       <= bounds[:len(tfs)])):
                        bad["block_max_dominates"] += 1
                    # the tf-band -> min-dl frontier must equal a
                    # re-derivation from the decoded postings (WAND
                    # bound input; a drifted frontier silently
                    # over-prunes)
                    bstarts = np.arange(0, len(docs), BLOCK,
                                        dtype=np.int64)
                    want = _frontier_arrays(
                        tfs.astype(np.uint64),
                        d["doclens"].astype(np.uint64), bstarts)
                    got = (meta.bdl_tf2, meta.bdl_tf4, meta.bdl_tf8)
                    if not all(np.array_equal(w, g.astype(np.uint64))
                               for w, g in zip(want, got)):
                        bad["frontier_matches"] += 1
            yield pd.DataFrame(
                {"check": _BLOB_CHECKS,
                 "n_checked": [checked[c] for c in _BLOB_CHECKS],
                 "n_bad": [bad[c] for c in _BLOB_CHECKS]})
    return body


def fsck_index(spark: SparkSession, index_dir: str,
               conf: EngineConf = DEFAULT_CONF) -> DataFrame:
    """(check, n_checked, n_bad) — see module docstring."""
    from ..query.executor import IndexReader

    rd = IndexReader(spark, index_dir, conf)
    # layout contracts are checked against the layout the index was
    # BUILT with (recorded in _index_meta.json), not the caller's conf
    # — fsck with a default conf on a non-default-layout index must not
    # report false corruption (ADVICE r4)
    built = rd.meta.get("conf") or {}
    n_buckets = int(built.get("n_buckets", conf.n_buckets))
    n_salts = int(built.get("n_salts", conf.n_salts))
    segs = rd._read_gens("segments")
    blob = (segs.select("term_id", "salt", "df", "cf", "max_tf",
                        "n_bytes", "bucket", "postings")
            .mapInPandas(_blob_check_udf(n_buckets, n_salts),
                         schema="check string, n_checked long, n_bad long")
            .groupBy("check")
            .agg(F.sum("n_checked").alias("n_checked"),
                 F.sum("n_bad").alias("n_bad")))

    # term_stats == per-term segment sums (exact post-merge contract)
    seg_sum = (segs.groupBy("term_id", "gen")
               .agg(F.sum("df").alias("sdf"), F.sum("cf").alias("scf")))
    ts = rd._read_gens("term_stats")
    stats_cmp = (ts.join(seg_sum, ["term_id", "gen"], "full")
                 .select(((F.coalesce(F.col("df"), F.lit(-1))
                           != F.coalesce(F.col("sdf"), F.lit(-2))) |
                          (F.coalesce(F.col("cf"), F.lit(-1))
                           != F.coalesce(F.col("scf"), F.lit(-2))))
                         .cast("long").alias("bad"))
                 .agg(F.count("*").alias("n_checked"),
                      F.sum("bad").alias("n_bad"))
                 .select(F.lit("term_stats_consistent").alias("check"),
                         "n_checked", "n_bad"))

    # docs unique per (gen, doc_id)
    docs = rd._read_gens("docs")
    dup = (docs.groupBy("gen", "doc_id").count()
           .agg(F.count("*").alias("n_checked"),
                F.sum((F.col("count") > 1).cast("long")).alias("n_bad"))
           .select(F.lit("docs_unique_per_gen").alias("check"),
                   "n_checked", "n_bad"))

    return blob.unionByName(stats_cmp).unionByName(dup).orderBy("check")

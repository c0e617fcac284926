"""Index fsck (RdbMap verify analog): a healthy index — fresh,
multi-gen, compacted — reports zero violations on every check;
tampered stats rows and blobs of removed codec formats are caught by
the blob checks."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from open_source_search_engine_spark.config import EngineConf
from open_source_search_engine_spark.index.build import (
    build_index,
    compact_index,
    delete_docs,
)
from open_source_search_engine_spark.index.fsck import (
    _BLOB_CHECKS,
    _blob_check_udf,
    fsck_index,
)

DOCS = {d: f"alpha beta gamma doc{d} " + "filler " * (d % 5)
        for d in range(1, 41)}


def _df(spark, ids):
    rows = [{"url": f"http://s{d % 3}.example/p/{d}.html",
             "warc_ts": dt.datetime(2024, 1, 1) + dt.timedelta(minutes=d),
             "html": f"<html><body><p>{DOCS[d]}</p></body></html>".encode(),
             "text": DOCS[d].strip(), "lang": "en", "doc_id": d}
            for d in ids]
    return spark.createDataFrame(pd.DataFrame(rows))


def _assert_clean(rows):
    got = {r["check"]: (r["n_checked"], r["n_bad"]) for r in rows}
    assert set(got) == set(_BLOB_CHECKS) | {"term_stats_consistent",
                                            "docs_unique_per_gen"}
    for chk, (n, bad) in got.items():
        assert n > 0, chk
        assert bad == 0, (chk, bad)


def test_fsck_green_across_lifecycle(spark, small_conf, tmp_index):
    import json
    import os

    build_index(spark, _df(spark, range(1, 21)), tmp_index,
                conf=small_conf, gen=0)
    _assert_clean(fsck_index(spark, tmp_index, small_conf).collect())

    # multi-gen + tombstones
    build_index(spark, _df(spark, range(21, 41)), tmp_index,
                conf=small_conf, gen=1)
    delete_docs(spark, tmp_index, [5, 25], gen=2)
    meta_p = os.path.join(tmp_index, "_index_meta.json")
    meta = json.load(open(meta_p))
    meta["gens"] = sorted(set(meta["gens"]) | {2})
    json.dump(meta, open(meta_p, "w"))
    _assert_clean(fsck_index(spark, tmp_index, small_conf).collect())

    # compacted
    compact_index(spark, tmp_index, conf=small_conf)
    _assert_clean(fsck_index(spark, tmp_index, small_conf).collect())


def test_fsck_green_pfor(spark, tmp_index):
    conf = EngineConf(n_buckets=4, n_salts=2, salt_df_threshold=10_000,
                      docid_codec="pfor")
    build_index(spark, _df(spark, range(1, 21)), tmp_index,
                conf=conf, gen=0)
    _assert_clean(fsck_index(spark, tmp_index, conf).collect())


@pytest.mark.parametrize("field,value,check", [
    ("df", 999, "df_matches"),
    ("cf", 999, "cf_matches"),
    ("max_tf", 999, "max_tf_matches"),
    ("n_bytes", 1, "n_bytes_matches"),
    ("bucket", 3, "bucket_matches"),
    ("postings", b"\x02garbage", "blob_decodes"),
    # a valid blob relabelled as a removed format: v3, v5, flag-less v4
    ("version_byte", 0x43, "blob_decodes"),
    ("version_byte", 0x45, "blob_decodes"),
    ("version_byte", 0x04, "blob_decodes"),
])
def test_fsck_catches_tampering(field, value, check):
    from open_source_search_engine_spark.functions.codec import (
        encode_postings,
    )
    import numpy as np

    blob = encode_postings(
        doc_ids=np.array([2, 4, 6], dtype=np.uint64),
        tfs=np.array([1, 2, 1], dtype=np.uint64),
        doclens=np.array([5, 5, 5], dtype=np.uint64),
        ranks=np.array([0, 0, 0], dtype=np.uint64),
        positions=np.array([0, 0, 1, 0], dtype=np.uint64),
        ctxs=np.array([0, 0, 0, 0], dtype=np.uint64))
    row = {"term_id": 8, "salt": 0, "df": 3, "cf": 4, "max_tf": 2,
           "n_bytes": len(blob), "bucket": 0, "postings": blob}
    if field == "version_byte":
        row["postings"] = bytes([value]) + blob[1:]
    else:
        row[field] = value
    out = list(_blob_check_udf(n_buckets=4, n_salts=2)(
        iter([pd.DataFrame([row])])))[0]
    bad = dict(zip(out["check"], out["n_bad"]))
    assert bad[check] == 1, bad
    # ... and the untouched clean row passes everything
    clean = {"term_id": 8, "salt": 0, "df": 3, "cf": 4, "max_tf": 2,
             "n_bytes": len(blob), "bucket": 0, "postings": blob}
    out2 = list(_blob_check_udf(n_buckets=4, n_salts=2)(
        iter([pd.DataFrame([clean])])))[0]
    assert int(out2["n_bad"].sum()) == 0


def test_fsck_catches_salt_violation():
    import numpy as np

    from open_source_search_engine_spark.functions.codec import (
        encode_postings,
    )

    # salt=0 run holding an odd docId (residue 1 under n_salts=2)
    blob = encode_postings(
        doc_ids=np.array([2, 5], dtype=np.uint64),
        tfs=np.array([1, 1], dtype=np.uint64),
        doclens=np.array([4, 4], dtype=np.uint64),
        ranks=np.array([0, 0], dtype=np.uint64),
        positions=np.array([0, 0], dtype=np.uint64),
        ctxs=np.array([0, 0], dtype=np.uint64))
    row = {"term_id": 8, "salt": 0, "df": 2, "cf": 2, "max_tf": 1,
           "n_bytes": len(blob), "bucket": 0, "postings": blob}
    out = list(_blob_check_udf(n_buckets=4, n_salts=2)(
        iter([pd.DataFrame([row])])))[0]
    bad = dict(zip(out["check"], out["n_bad"]))
    assert bad["salt_residue"] == 1


def test_fsck_reads_layout_from_index_meta(spark, small_conf, tmp_index):
    """ADVICE r4: the bucket/salt layout contracts come from the conf
    the index was BUILT with (_index_meta.json), not the caller's —
    fsck with the DEFAULT_CONF layout (64 buckets / 16 salts) on a
    4-bucket/2-salt index must stay all-green."""
    from open_source_search_engine_spark.config import DEFAULT_CONF

    build_index(spark, _df(spark, range(1, 21)), tmp_index,
                conf=small_conf, gen=0)
    assert (DEFAULT_CONF.n_buckets != small_conf.n_buckets
            and DEFAULT_CONF.n_salts != small_conf.n_salts)
    _assert_clean(fsck_index(spark, tmp_index, DEFAULT_CONF).collect())

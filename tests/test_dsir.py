"""DSIR importance resampling: featurizer parity, exact weight math,
partition-order independence, Gumbel-race determinism."""

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from datax_spark.operators.dsir import (
    DEFAULT_BUCKETS,
    dsir_importance_weights,
    dsir_select,
    hashed_ngram_features,
    log_ratio_table,
)
from datax_spark.oracle.xxh64 import spark_xxhash64

DOCS = [
    (0, "the cat sat on the mat", "en"),
    (1, "le chat est sur le tapis rouge", "fr"),
    (2, "the dog ate the homework", "en"),
    (3, "der hund und die katze spielen zusammen", "de"),
    (4, "cat dog cat dog cat", "en"),
    (5, "   ", "en"),  # whitespace-only: no features, must vanish
    (6, "une seule", "fr"),
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string")


def _py_feats(text):
    w = [x for x in text.lower().split() if x]
    return w + [f"{a} {b}" for a, b in zip(w, w[1:])]


def test_featurizer_matches_python(spark):
    got = (
        hashed_ngram_features(_df(spark), "text", "doc_id", salt=7)
        .groupBy("doc_id").agg(F.sort_array(F.collect_list("_b")).alias("bs"))
        .collect()
    )
    got = {r["doc_id"]: list(r["bs"]) for r in got}
    for doc_id, text, _lang in DOCS:
        want = sorted(
            spark_xxhash64(("str", f), ("int", 7)) % DEFAULT_BUCKETS
            for f in _py_feats(text)
        )
        if not want:
            assert doc_id not in got
        else:
            assert got[doc_id] == want, doc_id


def test_weights_match_pure_python(spark):
    df = _df(spark)
    w = dsir_importance_weights(df, df.filter(F.col("lang") != "en"),
                                "text", "doc_id")
    rows = {r["doc_id"]: (r["n_feats"], r["logratio"]) for r in w.collect()}
    # python replay with the same math
    import math

    def counts(texts):
        c = {}
        for t in texts:
            for f in _py_feats(t):
                b = spark_xxhash64(("str", f), ("int", 7)) % DEFAULT_BUCKETS
                c[b] = c.get(b, 0) + 1
        return c

    raw_c = counts(t for _i, t, _l in DOCS)
    tgt_c = counts(t for _i, t, l in DOCS if l != "en")
    lr = dict(log_ratio_table(tgt_c, raw_c))
    for doc_id, text, _lang in DOCS:
        feats = _py_feats(text)
        if not feats:
            assert doc_id not in rows
            continue
        s = sum(
            (lr[spark_xxhash64(("str", f), ("int", 7)) % DEFAULT_BUCKETS]
             for f in feats),
            start=Decimal(0),
        )
        n, got_lr = rows[doc_id]
        assert n == len(feats)
        assert abs(got_lr - float(s)) < 1e-6
    # direction: the french doc must be MORE target-like (target = non-en)
    # than the english-only repetition doc
    assert rows[1][1] > rows[4][1]


def test_tiny_alpha_log_ratio_out_of_decimal_range_raises():
    """|lr| ≥ 100 does not fit decimal(14,12); the cast would make it a
    silent NULL, so the table refuses to build and names alpha."""
    with pytest.raises(ValueError, match="alpha=1e-60"):
        log_ratio_table({0: 5}, {1: 5}, num_buckets=2, alpha=1e-60)
    # a ratio just inside the range still builds
    lr = dict(log_ratio_table({0: 5}, {1: 5}, num_buckets=2, alpha=1e-40))
    assert 90 < lr[0] < 100 and -100 < lr[1] < -90


def test_weights_partition_order_independent(spark):
    df = _df(spark)
    tgt = df.filter(F.col("lang") != "en")
    a = dsir_importance_weights(df, tgt, "text", "doc_id").collect()
    b = dsir_importance_weights(df.repartition(7), tgt.repartition(3),
                                "text", "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_select_is_deterministic_weight_subset(spark):
    df = _df(spark)
    tgt = df.filter(F.col("lang") != "en")
    sel1 = dsir_select(df, tgt, "text", "doc_id", k=3).collect()
    sel2 = dsir_select(df.repartition(5), tgt, "text", "doc_id", k=3).collect()
    assert sorted(map(tuple, sel1)) == sorted(map(tuple, sel2))
    assert len(sel1) == 3
    all_ids = {r["doc_id"] for r in
               dsir_importance_weights(df, tgt, "text", "doc_id").collect()}
    assert {r["doc_id"] for r in sel1} <= all_ids

"""Hashed linear classifier tests: exactness (layout invariance + the
independent-numpy twin), optimizer sanity on a planted separable fixture,
and the deterministic train_frac sample rule."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from ztdf_spark import mlops

DOCS_DDL = "doc_id long, text string"


def _numpy_twin(rows, *, label, dim, iters, lr, l2=1e-3, salt="qc"):
    """Independent full-precision-free recompute of train_classifier: the
    SAME integer quantization at every cross-doc boundary, pure numpy."""
    Q = mlops.Q_SCALE

    def idx(w):
        return int(hashlib.md5((salt + w).encode()).hexdigest()[:8], 16) % dim

    feats = []
    ys = []
    for _doc_id, text in rows:
        v = {}
        for w in text.lower().split(" "):
            v[idx(w)] = v.get(idx(w), 0) + 1
        feats.append(v)
        ys.append(1.0 if label(text) else 0.0)
    y = np.array(ys)
    n = len(rows)
    w = np.zeros(dim)
    b = 0.0
    for _ in range(iters):
        wq = np.rint(w * Q).astype(np.int64)
        zq = np.array(
            [sum(c * int(wq[i]) for i, c in v.items()) for v in feats], dtype=np.int64
        )
        z = zq / Q + b
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -30.0, 30.0)))
        eq = np.rint((p - y) * Q).astype(np.int64)
        gq = np.zeros(dim, dtype=np.int64)
        for v, e in zip(feats, eq):
            for i, c in v.items():
                gq[i] += c * int(e)
        w -= lr * (gq / (Q * n) + l2 * w)
        b -= lr * float(np.sum(eq)) / (Q * n)
    return {
        "wq": np.rint(w * Q).astype(np.int64).tolist(),
        "bq": int(np.rint(b * Q)),
    }


@pytest.fixture(scope="module")
def planted(spark):
    """Separable fixture: class-1 docs carry marker words, class-0 docs
    carry others; shared filler words in both."""
    rng = np.random.default_rng(7)
    rows = []
    pos = ["alpha", "beta", "gamma"]
    neg = ["delta", "epsilon", "zeta"]
    filler = ["the", "a", "of", "data", "row", "table"]
    for i in range(200):
        cls = i % 2
        marker = list(rng.choice(pos if cls else neg, size=3))
        words = marker + list(rng.choice(filler, size=12))
        rng.shuffle(words)
        rows.append((i, " ".join(words)))
    return rows


def test_planted_separable_learns(spark, planted):
    df = spark.createDataFrame(planted, DOCS_DDL)
    m = mlops.train_classifier(
        df, label_expr="array_contains(split(lower(text),' '), 'alpha') or "
        "array_contains(split(lower(text),' '), 'beta') or "
        "array_contains(split(lower(text),' '), 'gamma')",
        dim=128, iters=30, lr=0.5,
    )
    s = mlops.score_classifier(df, m)
    y = {i: (1 if any(w in t.split(" ") for w in ("alpha", "beta", "gamma")) else 0)
         for i, t in planted}
    got = {r["doc_id"]: r["pred"] for r in s.collect()}
    acc = sum(got[i] == y[i] for i in y) / len(y)
    assert acc >= 0.99


def test_model_is_layout_invariant(spark, planted):
    df = spark.createDataFrame(planted, DOCS_DDL)
    kw = dict(label_expr="text like '%alpha%'", dim=64, iters=8, lr=0.5)
    m1 = mlops.train_classifier(df.coalesce(1), **kw)
    m2 = mlops.train_classifier(df.repartition(13), **kw)
    assert m1 == m2


def test_matches_independent_numpy_twin(spark, planted):
    df = spark.createDataFrame(planted, DOCS_DDL)
    m = mlops.train_classifier(df, label_expr="text like '%alpha%'", dim=64,
                               iters=10, lr=0.5)
    twin = _numpy_twin(planted, label=lambda t: "alpha" in t, dim=64,
                       iters=10, lr=0.5)
    assert m["wq"] == twin["wq"] and m["bq"] == twin["bq"]


def test_score_covers_all_docs_and_is_integer_exact(spark, planted):
    df = spark.createDataFrame(planted + [(999, "unseen words only")], DOCS_DDL)
    m = mlops.train_classifier(
        spark.createDataFrame(planted, DOCS_DDL),
        label_expr="text like '%alpha%'", dim=64, iters=5, lr=0.5,
    )
    s = mlops.score_classifier(df, m).collect()
    assert len(s) == len(planted) + 1
    for r in s:
        assert isinstance(r["score_q"], int) and r["pred"] in (0, 1)


def test_train_frac_rule_is_deterministic(spark, planted):
    df = spark.createDataFrame(planted, DOCS_DDL)
    kw = dict(label_expr="text like '%alpha%'", dim=64, iters=3, lr=0.5,
              train_frac=0.5)
    m1 = mlops.train_classifier(df, **kw)
    m2 = mlops.train_classifier(df.repartition(9), **kw)
    assert m1 == m2
    assert 0 < m1["n_train"] < len(planted)


def test_classifier_driver_and_distributed_paths_identical(spark, planted):
    """The size-gated driver descent must reproduce the distributed
    iteration loop bit-for-bit (same int64 logit/gradient sums, same
    float update sequence)."""
    df = spark.createDataFrame(planted, DOCS_DDL)
    kw = dict(label_expr="text like '%alpha%'", dim=64, iters=8, lr=0.5)
    base = spark.conf.get("spark.ztdf.classifierDriverMaxFeatures", "2000000")
    try:
        spark.conf.set("spark.ztdf.classifierDriverMaxFeatures", "2000000")
        fast = mlops.train_classifier(df, **kw)
        spark.conf.set("spark.ztdf.classifierDriverMaxFeatures", "0")
        slow = mlops.train_classifier(df, **kw)
    finally:
        spark.conf.set("spark.ztdf.classifierDriverMaxFeatures", base)
    assert fast == slow


def test_train_and_score_equals_train_then_score(spark, planted):
    """train_and_score is score_classifier(train_classifier(train_frac=1))
    row for row, on both sides of the driver-descent gate."""
    df = spark.createDataFrame(planted, DOCS_DDL)
    kw = dict(label_expr="text like '%alpha%'", dim=64, iters=8, lr=0.5)
    rows = lambda out: sorted(tuple(r) for r in out.collect())  # noqa: E731
    ref = rows(mlops.score_classifier(df, mlops.train_classifier(df, train_frac=1.0, **kw)))
    base = spark.conf.get("spark.ztdf.classifierDriverMaxFeatures", "2000000")
    try:
        spark.conf.set("spark.ztdf.classifierDriverMaxFeatures", "2000000")
        fast = rows(mlops.train_and_score(df, **kw))
        spark.conf.set("spark.ztdf.classifierDriverMaxFeatures", "0")
        slow = rows(mlops.train_and_score(df, **kw))
    finally:
        spark.conf.set("spark.ztdf.classifierDriverMaxFeatures", base)
    assert len(ref) == len(planted)
    assert fast == ref == slow

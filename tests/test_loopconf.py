"""The gated driver-or-distributed loops leave the session conf as they
found it: on both sides of each gate, and when the distributed body
raises."""

import pytest
from pyspark.sql import functions as F

from ztdf_spark import bpeops, mlops, textops, unigram, wordpiece

ARROW = "spark.sql.execution.arrow.pyspark.enabled"
WATCHED = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled", ARROW)

_STEMS = ["walking", "talked", "jumper", "looks", "the", "a", "of", "lower", "newest"]
_TEXTS = [" ".join(_STEMS[(i * 7 + j) % len(_STEMS)] for j in range(2 + i % 5)) for i in range(40)]
_LABEL = "text like '%walking%'"


def _docs(spark):
    return spark.createDataFrame(list(enumerate(_TEXTS)), "doc_id long, text string")


def _edges(spark):
    pairs = [(i, (i * 13 + 5) % 60) for i in range(60)] + [(100, 101), (101, 102)]
    return spark.createDataFrame(pairs, "src long, dst long")


# entry point -> (gate knob, call, (module, attribute) its distributed body uses)
CASES = {
    "bpe_train": (
        "spark.ztdf.trainDriverMaxWords",
        lambda s: bpeops.bpe_train(_docs(s), n_merges=4),
        (bpeops, "_merge_expr"),
    ),
    "wordpiece_train": (
        "spark.ztdf.trainDriverMaxWords",
        lambda s: wordpiece.wordpiece_train(_docs(s), vocab_size=64),
        (wordpiece, "_best_pair"),
    ),
    "unigram_train": (
        "spark.ztdf.unigramDriverMaxWords",
        lambda s: unigram.unigram_train(_docs(s), 20, max_rounds=2),
        (unigram, "_estep_counts"),
    ),
    "train_classifier": (
        "spark.ztdf.classifierDriverMaxFeatures",
        lambda s: mlops.train_classifier(_docs(s), label_expr=_LABEL, dim=16, iters=2),
        (mlops, "_dot_q"),
    ),
    "train_and_score": (
        "spark.ztdf.classifierDriverMaxFeatures",
        lambda s: mlops.train_and_score(_docs(s), label_expr=_LABEL, dim=16, iters=2).collect(),
        (mlops, "_dot_q"),
    ),
    "connected_components": (
        "spark.ztdf.ccDriverMaxEdges",
        lambda s: textops.connected_components(_edges(s)).collect(),
        (F, "least"),
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_gated_loop_leaves_session_conf_as_found(spark, monkeypatch, name):
    knob, run, (mod, attr) = CASES[name]
    conf = lambda: {k: spark.conf.get(k) for k in WATCHED}  # noqa: E731
    arrow0 = spark.conf.get(ARROW)
    knob0 = spark.conf.get(knob, None)
    try:
        spark.conf.set(ARROW, "false")
        before = conf()
        spark.conf.unset(knob)  # the gate at its default: driver body
        run(spark)
        assert conf() == before
        spark.conf.set(knob, "0")  # every input above the gate: distributed body
        run(spark)
        assert conf() == before

        def boom(*a, **k):
            raise RuntimeError("injected failure in the distributed body")

        monkeypatch.setattr(mod, attr, boom)
        with pytest.raises(RuntimeError, match="injected"):
            run(spark)
        assert conf() == before
    finally:
        spark.conf.set(ARROW, arrow0)
        if knob0 is None:
            spark.conf.unset(knob)
        else:
            spark.conf.set(knob, knob0)

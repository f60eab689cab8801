"""Byte-pair-encoding vocabulary training + tokenization, Spark-first.

The classic subword tokenizer pipeline (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units" — public
literature): learn ``n_merges`` symbol-pair merges from corpus word
frequencies, then tokenize by replaying the merges in learned order.
The engine's token-counting / vocab operators (textops, tokops) stop at
whitespace tokens; this adds the real trainable-vocab step a pretraining
data pipeline runs before packing.

Scale shape (the part that matters at 100 TB):

- The CORPUS-sized work is exactly ONE shuffle: the word-frequency
  aggregate (map-side partial count → hash exchange on word). Everything
  after operates on the DISTINCT-WORD table — bounded by natural-language
  vocabulary (~10^7), not corpus size — kept distributed, never collected.
- Each merge round is one tiny aggregate job over that table: adjacent
  symbol pairs exploded weight-by-frequency, partial-combine summed, and
  a single winner row (count desc, pair asc — total order, engine-
  portable) collected. The merge APPLICATION is a pure-Catalyst
  ``aggregate`` fold over each word's symbol array (greedy left-to-right,
  the training-time semantics), map-only. Per-round lineage is truncated
  with ``localCheckpoint`` exactly like the connected-components loop
  (swap to ``checkpoint()`` on real clusters).
- Training reads a LAYOUT-INVARIANT bounded document sample (md5
  threshold + total-order cap, the IVF/PQ construction) so the learned
  vocab is identical on any cluster size or file split.
- ENCODING is the one legitimately-Python stage (per-word merge replay is
  data-dependent iteration no Catalyst expression covers): an
  Arrow-batched ``mapInPandas`` with the broadcast merge ranks, applied
  word-cache-memoized per batch — the standard fast-BPE shape.

Determinism: merge winner = max by (count, then lexicographically
SMALLEST pair); ties cannot reorder across partitioning. The whole
train+encode path is value-checked against an independent
collections.Counter re-implementation (tools/check_oracles.py) and
pinned in pytest on a hand-checkable corpus.

Reference scope note: the reference (opentdf/nifi) has no tokenizer;
this extends the training-data surface (SURVEY.md §2.4) like
textops/simops/tokops.
"""

from __future__ import annotations

from contextlib import closing
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spread import spread

EOW = "</w>"  # end-of-word marker symbol (Sennrich)


def _sampled_docs(docs: DataFrame, sample_docs: int, seed: int) -> DataFrame:
    """Layout-invariant bounded training sample: md5-threshold Bernoulli on
    doc_id + total-order (hash, id) cap — same construction as simops'
    index-training samples (sample()/limit() are layout-dependent)."""
    n = docs.count()
    frac = min(1.0, (sample_docs * 1.5) / max(1, n))
    h = F.substring(
        F.md5(F.concat(F.lit(f"bpe{seed}-"), F.col("doc_id").cast("string"))), 1, 8
    )
    thr = "g" if frac >= 1.0 else format(int(frac * (1 << 32)), "08x")
    return (
        docs.select("doc_id", "text", h.alias("_h"))
        .filter(F.col("_h") < thr)
        .orderBy("_h", "doc_id")
        .limit(sample_docs)
        .drop("_h")
    )


def _word_table(
    docs: DataFrame, sample_docs: int, seed: int, symbols: str | None = None
) -> tuple[DataFrame, int]:
    """The trainers' shared prelude: (word, freq) over the layout-invariant
    doc sample — the ONLY corpus-sized shuffle; every round after runs on
    this distinct-word table — plus the trainer's own ``symbols``
    projection (SQL over ``word``), lazily checkpointed. Returns the table
    and its row count; the count is the one job that materializes it."""
    # spread: single-row-group scans serialize the map work
    words = (
        spread(_sampled_docs(docs, sample_docs, seed))
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"))
        .filter(F.length("word") > 0)
    )
    wf = words.groupBy("word").agg(F.count("*").alias("freq"))
    if symbols is not None:
        wf = wf.withColumn("symbols", F.expr(symbols))
    wf = wf.localCheckpoint(eager=False)
    return wf, wf.count()


# BPE symbols: one per character, then the end-of-word marker
_SYMBOLS = (
    "concat(transform(sequence(1, length(word)), i -> substring(word, i, 1)),"
    f" array('{EOW}'))"
)


def _merge_expr(left: str, right: str, token: str):
    """Greedy left-to-right application of one merge rule to a symbol
    array as a Catalyst fold: append, or fuse with the accumulator's last
    element when (last, current) == (left, right)."""

    def q(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    return F.expr(
        "aggregate(symbols, cast(array() as array<string>), (acc, s) -> "
        f"IF(size(acc) > 0 AND element_at(acc, -1) = {q(left)} AND s = {q(right)}, "
        f"concat(slice(acc, 1, size(acc) - 1), array({q(token)})), "
        "concat(acc, array(s))))"
    )


def _merge_apply(syms: list[str], left: str, right: str, token: str) -> list[str]:
    """Driver twin of ``_merge_expr``: greedy left-to-right fusion."""
    out: list[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = token
        else:
            out.append(s)
    return out


def _bpe_train_driver(pdf, n_merges: int) -> list[tuple[int, str, str, str]]:
    """Driver-side twin of the distributed merge loop — IDENTICAL results
    (integer pair counts under the same (count desc, pair asc) total
    order; pytest pins path equality). Used only when the measured
    distinct-word table fits ``spark.ztdf.trainDriverMaxWords``: below
    that, 2·n_merges Spark-job round trips cost orders of magnitude more
    than the arithmetic they schedule."""
    words = [(list(syms), int(f)) for syms, f in zip(pdf["symbols"], pdf["freq"])]
    merges: list[tuple[int, str, str, str]] = []
    for rank in range(n_merges):
        cnt: dict[tuple[str, str], int] = {}
        for syms, freq in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                cnt[p] = cnt.get(p, 0) + freq
        best = None
        for p, c in cnt.items():
            if c < 2:
                continue
            if best is None or c > best[1] or (c == best[1] and p < best[0]):
                best = (p, c)
        if best is None:
            break
        (left, right), _c = best
        token = left + right
        merges.append((rank, left, right, token))
        words = [(_merge_apply(s, left, right, token), f) for s, f in words]
    return merges


def _pair_counts(wf: DataFrame) -> DataFrame:
    """(left, right, cnt): adjacent symbol pairs of the word table,
    weighted by word frequency (partial-combine summed)."""
    return (
        wf.filter(F.size("symbols") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(symbols) - 1), i -> "
                    "struct(element_at(symbols, i) AS left, "
                    "element_at(symbols, i + 1) AS right))"
                )
            ).alias("p"),
        )
        .groupBy("p.left", "p.right")
        .agg(F.sum("freq").alias("cnt"))
    )


def _bpe_best_pair(wf: DataFrame) -> tuple[str, str] | None:
    """BPE's winner under a total order (count desc, pair asc), or None
    when no pair occurs at least twice: one aggregate job."""
    best = _pair_counts(wf).orderBy(F.desc("cnt"), F.asc("left"), F.asc("right")).first()
    return None if best is None or best["cnt"] < 2 else (best["left"], best["right"])


def _merge_rounds(wf: DataFrame, best_pair, token_of) -> Iterator[tuple[str, str, str]]:
    """The distributed merge loop BPE and WordPiece share. Per round
    ``best_pair(wf)`` picks the pair (None ends the loop); the round yields
    ``(left, right, token_of(left, right))`` and, when resumed, applies the
    merge as a Catalyst fold into a LAZY checkpoint. The next round's
    ``best_pair`` action materializes that checkpoint, so the merge adds
    no job of its own; the previous table's blocks are released once that
    action has materialized its child (same fusion as the
    connected-components loop). Close the generator to stop: no checkpoint
    block outlives it."""
    prev = None
    try:
        while True:
            got = best_pair(wf)
            if prev is not None:
                prev.unpersist()
                prev = None
            if got is None:
                return
            left, right = got
            token = token_of(left, right)
            yield left, right, token
            prev, wf = wf, wf.withColumn(
                "symbols", _merge_expr(left, right, token)
            ).localCheckpoint(eager=False)
    finally:
        if prev is not None:
            prev.unpersist()
        wf.unpersist()


def bpe_train(
    docs: DataFrame,
    n_merges: int = 32,
    sample_docs: int = 10_000,
    seed: int = 42,
) -> list[tuple[int, str, str, str]]:
    """Learn the merge list: [(rank, left, right, token), ...] with rank
    0-based in learned order. Stops early when no pair occurs at least
    twice. The merge list is driver-side state (it IS the model — a few
    KB), exactly like simops' trained centroids/codebooks.

    The distinct-word table is BOUNDED by the doc sample's vocabulary,
    never corpus size: when its measured count fits
    ``spark.ztdf.trainDriverMaxWords`` the identical integer loop runs
    in-process (loopconf.gated_loop)."""
    from .loopconf import gated_loop

    wf, n_words = _word_table(docs, sample_docs, seed, _SYMBOLS)

    def distributed(_resize):
        with closing(_merge_rounds(wf, _bpe_best_pair, str.__add__)) as rounds:
            return [(rank, *m) for rank, m in zip(range(n_merges), rounds)]

    try:
        return gated_loop(
            wf, n_words, "spark.ztdf.trainDriverMaxWords", 200_000,
            lambda pdf: _bpe_train_driver(pdf, n_merges), distributed,
        )
    finally:
        wf.unpersist()


def bpe_train_merges(
    docs: DataFrame, n_merges: int = 32, sample_docs: int = 10_000, seed: int = 42
) -> DataFrame:
    """The learned merge table as a DataFrame (rank, left, right, token) —
    the driver-checkable surface of bpe_train."""
    spark = docs.sparkSession
    merges = bpe_train(docs, n_merges, sample_docs, seed)
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table(
            {
                "rank": pa.array([m[0] for m in merges], type=pa.int64()),
                "left": pa.array([m[1] for m in merges]),
                "right": pa.array([m[2] for m in merges]),
                "token": pa.array([m[3] for m in merges]),
            }
        )
    )


def apply_merges(word: str, merges: list[tuple[int, str, str, str]]) -> list[str]:
    """Tokenize one word by replaying the merges in learned order — the
    same greedy left-to-right fold the trainer applied."""
    syms = list(word) + [EOW]
    for _rank, left, right, _token in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        syms = out
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[int, str, str, str]],
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, tokens_md5): per-doc BPE token count and an
    order-sensitive md5 digest of the token sequence (space-joined).
    Arrow-batched mapInPandas with a per-batch word memo — the merge
    replay is data-dependent iteration, the one legitimately-Python stage
    of the pipeline (everything upstream/downstream stays Catalyst)."""
    mlist = [tuple(m) for m in merges]

    def _enc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        memo: dict[str, list[str]] = {}

        def tok(word: str) -> list[str]:
            got = memo.get(word)
            if got is None:
                got = memo[word] = apply_merges(word, mlist)
            return got

        for pdf in it:
            n_out, digests = [], []
            for text in pdf["text"]:
                toks: list[str] = []
                for w in str(text).lower().split(" "):
                    if w:
                        toks.extend(tok(w))
                n_out.append(len(toks))
                digests.append(hashlib.md5(" ".join(toks).encode()).hexdigest())
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_tokens": n_out, "tokens_md5": digests}
            )

    src = docs.select(F.col("doc_id").cast("long").alias("doc_id"), F.col(text_col).alias("text"))
    return src.mapInPandas(_enc, "doc_id long, n_tokens long, tokens_md5 string")

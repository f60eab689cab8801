"""WordPiece subword tokenizer (Schuster & Nakajima 2012; the BERT
vocabulary builder — public literature), Spark-first, completing the
trainable-tokenizer family next to ``bpeops`` (BPE: merge by raw pair
count) and ``unigram`` (unigram-LM: prune by EM likelihood).

WordPiece is BPE's skeleton with a LIKELIHOOD merge rule: each round
merges the adjacent symbol pair maximizing

    score(l, r) = count(l, r) / (count(l) * count(r))

— the pair whose fusion most increases corpus likelihood under a unigram
model, not the most frequent pair. Symbols use the BERT continuation
convention: the first character of a word is bare, every later character
is ``##``-prefixed, and merging ``(l, r)`` yields ``l + r[2:]``.
Encoding is NOT merge replay (the BPE/WordPiece asymmetry): it is greedy
longest-match-first (MaxMatch) against the finished vocabulary, with a
whole-word ``[UNK]`` on any unmatchable position — exactly the published
BERT tokenizer.

Scale shape (same skeleton as bpeops, deliberately):

- ONE corpus-sized shuffle: the word-frequency aggregate over the
  layout-invariant md5-rule document sample. Every round after runs on
  the DISTINCT-WORD table — bounded by natural-language vocabulary,
  never corpus size — and stays distributed.
- Each round: pair counts and symbol counts are two partial-combine
  int64 aggregates over that table; symbol counts (≤ vocab-sized) are
  BROADCAST onto the pair table for the score; the winner is found by a
  two-stage EXACT argmax (below); the merge APPLICATION is the pure-
  Catalyst ``aggregate`` fold shared with BPE, map-only. Per-round
  lineage is truncated with ``localCheckpoint`` (swap to ``checkpoint()``
  on real clusters).
- ENCODING is one Arrow-batched ``mapInPandas`` with the vocabulary in
  the closure and per-batch word memoization — map-only, zero exchanges
  (the legitimately-Python stage: MaxMatch is data-dependent iteration).

Exact winner selection (the repo's integer-exact discipline): the merge
rule compares RATIONALS cnt/(cl*cr). A float64 score is computed only as
a PREFILTER — one max aggregate, then every pair within a 1e-9 relative
band of that max (float64's worst-case rank error is ~3 ulp ≈ 1e-15, so
the band provably contains the exact argmax and all exact ties) is
collected and the winner chosen driver-side by big-int CROSS-
MULTIPLICATION (cnt_a*(cl_b*cr_b) > cnt_b*(cl_a*cr_a)), ties broken
(left asc, right asc). The learned vocabulary is therefore bit-identical
under any partitioning and under the independent Fraction-arithmetic
oracle in tools/check_oracles.py.

Reference scope note: the reference (opentdf/nifi) has no tokenizer;
this extends the training-data surface (SURVEY.md §2.4) like
bpeops/unigram.
"""

from __future__ import annotations

from contextlib import closing
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bpeops import _merge_rounds, _pair_counts, _word_table

UNK = "[UNK]"
CONT = "##"


# BERT continuation symbols: first char bare, later chars ##-prefixed
_SYMBOLS = (
    "transform(sequence(1, length(word)), i -> "
    f"IF(i = 1, substring(word, i, 1), concat('{CONT}', substring(word, i, 1))))"
)


def _merge_token(left: str, right: str) -> str:
    """Fuse a symbol pair under the continuation convention: the right
    symbol's ## marker disappears into the join; the left keeps its own
    prefix (bare = word-initial piece, ## = continuation piece)."""
    return left + (right[len(CONT):] if right.startswith(CONT) else right)


def _best_pair(wf: DataFrame) -> tuple[str, str] | None:
    """The exact WordPiece argmax over adjacent pairs of the current
    word-symbol table: (left, right), or None if no pair
    occurs at least twice. Two distributed int64 aggregates + a broadcast
    score join + the float-band prefilter; the final exact comparison is
    driver-side over the (tiny) band."""
    pairs = _pair_counts(wf).filter(F.col("cnt") >= 2)
    syms = (
        wf.select("freq", F.explode("symbols").alias("sym"))
        .groupBy("sym")
        .agg(F.sum("freq").alias("scnt"))
    )
    # The symbol-count table is BOUNDED (alphabet + learned merges, i.e.
    # O(vocab_size) rows), so collect it once per round and attach the
    # counts as a literal-map lookup: the per-round job count drops from
    # one action plus TWO broadcast builds (each re-running the symbol
    # aggregate — ReuseExchange does not canonicalize the two build
    # subtrees together) to two plain jobs, and the scoring join
    # disappears from the plan entirely. Collecting also materializes the
    # pending lazy checkpoint before the pair job scans it. An unusually
    # large alphabet (e.g. CJK) falls back to the broadcast-join shape
    # rather than growing the plan without bound.
    sym_rows = syms.collect()
    if len(sym_rows) <= 4096:
        m = F.create_map(
            *[x for r in sym_rows for x in (F.lit(r["sym"]), F.lit(int(r["scnt"])))]
        )
        scored = (
            pairs.withColumn("cl", F.element_at(m, F.col("left")))
            .withColumn("cr", F.element_at(m, F.col("right")))
            .withColumn(
                "score",
                F.col("cnt") / (F.col("cl").cast("double") * F.col("cr").cast("double")),
            )
        )
    else:
        syms_b = F.broadcast(syms)
        scored = (
            pairs.join(syms_b, F.col("left") == F.col("sym"))
            .withColumnRenamed("scnt", "cl")
            .drop("sym")
            .join(syms_b, F.col("right") == F.col("sym"))
            .withColumnRenamed("scnt", "cr")
            .drop("sym")
            .withColumn(
                "score",
                F.col("cnt") / (F.col("cl").cast("double") * F.col("cr").cast("double")),
            )
        )
    # ONE TakeOrderedAndProject job covers the common case: the float band
    # around the max is almost always a handful of rows, so the top-64
    # contains it. Only if the band fills the whole collected prefix (mass
    # ties) does the exact filter re-run over the full pair table.
    top = scored.orderBy(F.desc("score")).limit(64).collect()
    if not top:
        return None
    m = top[0]["score"]
    band = [r for r in top if r["score"] >= m * (1.0 - 1e-9)]
    if len(band) == len(top):
        band = scored.filter(F.col("score") >= F.lit(m * (1.0 - 1e-9))).collect()
    best = None
    for r in band:
        cand = (int(r["cnt"]), int(r["cl"]) * int(r["cr"]), r["left"], r["right"])
        if best is None:
            best = cand
            continue
        lhs = cand[0] * best[1]
        rhs = best[0] * cand[1]
        if lhs > rhs or (lhs == rhs and (cand[2], cand[3]) < (best[2], best[3])):
            best = cand
    return (best[2], best[3]) if best else None


def _wp_train_driver(pdf, vocab_size: int) -> list[str]:
    """Driver-side twin of the distributed merge loop — IDENTICAL results
    (exact rational argmax by big-int cross-multiplication under the same
    (score desc, pair asc) total order; pytest pins path equality). Used
    only when the measured distinct-word table fits
    ``spark.ztdf.trainDriverMaxWords`` — the same gate as BPE's."""
    from .bpeops import _merge_apply

    words = [(list(syms), int(f)) for syms, f in zip(pdf["symbols"], pdf["freq"])]
    alphabet = sorted({s for syms, _ in words for s in syms})
    vocab: list[str] = list(alphabet)
    have = set(vocab)
    while len(vocab) < vocab_size:
        cnt: dict[tuple[str, str], int] = {}
        scnt: dict[str, int] = {}
        for syms, freq in words:
            for s in syms:
                scnt[s] = scnt.get(s, 0) + freq
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                cnt[p] = cnt.get(p, 0) + freq
        best = None  # (cnt, cl*cr, left, right)
        for (left, right), c in cnt.items():
            if c < 2:
                continue
            cand = (c, scnt[left] * scnt[right], left, right)
            if best is None:
                best = cand
                continue
            lhs = cand[0] * best[1]
            rhs = best[0] * cand[1]
            if lhs > rhs or (lhs == rhs and (cand[2], cand[3]) < (best[2], best[3])):
                best = cand
        if best is None:
            break
        left, right = best[2], best[3]
        token = _merge_token(left, right)
        if token not in have:
            vocab.append(token)
            have.add(token)
        words = [(_merge_apply(s, left, right, token), f) for s, f in words]
    return vocab


def _wp_train_distributed(wf: DataFrame, vocab_size: int) -> list[str]:
    """The distributed merge loop over the checkpointed word table."""
    alphabet = sorted(
        r["sym"] for r in wf.select(F.explode("symbols").alias("sym")).distinct().collect()
    )
    vocab: list[str] = list(alphabet)
    have = set(vocab)
    if len(vocab) < vocab_size:
        with closing(_merge_rounds(wf, _best_pair, _merge_token)) as rounds:
            for _left, _right, token in rounds:
                if token not in have:
                    vocab.append(token)
                    have.add(token)
                if len(vocab) >= vocab_size:
                    break
    return vocab


def wordpiece_train(
    docs: DataFrame,
    vocab_size: int = 64,
    *,
    sample_docs: int = 10_000,
    seed: int = 42,
) -> list[str]:
    """Learn the WordPiece vocabulary: the sample alphabet (every bare
    and ## character symbol — full coverage) plus likelihood-rule merge
    tokens in learned order, until ``vocab_size`` pieces or no pair
    occurs twice. Returns the piece list — rank = position: alphabet
    first (piece asc), merges after in learned order (a merge whose
    string already exists is applied but adds no new piece). The list IS
    the model: driver-side state, a few KB, like BPE's merge list.

    Same gate as BPE's (``spark.ztdf.trainDriverMaxWords``): a
    driver-sized distinct-word table runs the identical exact loop
    in-process instead of paying 2 Spark jobs of scheduling latency per
    merge round (loopconf.gated_loop)."""
    from .loopconf import gated_loop

    wf, n_words = _word_table(docs, sample_docs, seed, _SYMBOLS)
    try:
        return gated_loop(
            wf, n_words, "spark.ztdf.trainDriverMaxWords", 200_000,
            lambda pdf: _wp_train_driver(pdf, vocab_size),
            lambda _resize: _wp_train_distributed(wf, vocab_size),
        )
    finally:
        wf.unpersist()


def wordpiece_vocab_df(docs: DataFrame, vocab_size: int = 64, **kw) -> DataFrame:
    """The learned vocabulary as a DataFrame (rank, piece) — the
    driver-checkable surface of wordpiece_train."""
    vocab = wordpiece_train(docs, vocab_size, **kw)
    spark = docs.sparkSession
    return spark.createDataFrame(list(enumerate(vocab)), "rank int, piece string")


def maxmatch(word: str, vocab: set[str], max_piece_len: int) -> list[str]:
    """BERT greedy longest-match-first tokenization of one word: at each
    position take the LONGEST vocab piece (##-prefixed after the first);
    any unmatchable position makes the WHOLE word [UNK] (the published
    WordPiece rule, not a per-character fallback)."""
    out: list[str] = []
    i, n = 0, len(word)
    while i < n:
        prefix = "" if i == 0 else CONT
        piece = None
        for j in range(min(n, i + max_piece_len), i, -1):
            cand = prefix + word[i:j]
            if cand in vocab:
                piece = cand
                i = j
                break
        if piece is None:
            return [UNK]
        out.append(piece)
    return out


def wordpiece_encode(
    docs: DataFrame, vocab: list[str], text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, n_unk, tokens_md5): per-doc WordPiece MaxMatch
    token count, [UNK]-word count, and an order-sensitive md5 of the
    token sequence. One Arrow-batched mapInPandas with the vocabulary in
    the closure and a per-batch word memo — map-only, zero exchanges
    (the 100 TB path after training)."""
    vset = set(vocab)
    max_len = max((len(p) for p in vocab), default=1)

    def _enc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        memo: dict[str, list[str]] = {}

        def tok(word: str) -> list[str]:
            got = memo.get(word)
            if got is None:
                got = memo[word] = maxmatch(word, vset, max_len)
            return got

        for pdf in it:
            n_out, n_unk, digests = [], [], []
            for text in pdf["text"]:
                toks: list[str] = []
                for w in str(text).lower().split(" "):
                    if w:
                        toks.extend(tok(w))
                n_out.append(len(toks))
                n_unk.append(sum(1 for t in toks if t == UNK))
                digests.append(hashlib.md5(" ".join(toks).encode()).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": n_out,
                    "n_unk": n_unk,
                    "tokens_md5": digests,
                }
            )

    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )
    return src.mapInPandas(
        _enc, "doc_id long, n_tokens long, n_unk long, tokens_md5 string"
    )

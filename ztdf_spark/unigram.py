"""Unigram-LM subword tokenizer (Kudo 2018, "Subword Regularization" —
the SentencePiece unigram model; public literature), Spark-first, as the
HARD-EM (Viterbi) variant so every trained quantity is an exact integer.

This is the other half of the subword-tokenizer story next to ``bpeops``:
BPE grows a vocab bottom-up by merging; unigram starts from a large seed
vocabulary and SHRINKS it by EM — the model used by T5 / mT5 / ALBERT
sentencepiece vocabularies.

Scale shape (same skeleton as bpeops, which this deliberately mirrors):

- ONE corpus-sized shuffle: the word-frequency aggregate over a
  layout-invariant md5-rule document sample. Everything after runs on the
  DISTINCT-WORD table — bounded by natural-language vocabulary, never by
  corpus size — and stays distributed.
- Seeding is pure Catalyst: all substrings (length ≤ max_piece_len) of
  each distinct word exploded weight-by-frequency, partial-combine
  summed, top-N under the (count desc, piece asc) total order via
  TakeOrderedAndProject; every single character is always kept (coverage
  guarantee — Viterbi can segment any sample word).
- Each EM round: E-step = Viterbi segmentation of each distinct word
  (Arrow-batched ``mapInPandas`` over the bounded word table — per-word
  DP is data-dependent iteration no Catalyst expression covers, the
  bpe_encode justification), M-step = one int64 partial-combine piece-
  count aggregate + a driver-side prune toward ``vocab_size`` on the
  (count desc, piece asc) total order. The model (piece → count dict) is
  driver-side state, a few KB, exactly like BPE's merge list.

Determinism (the repo's integer-exact discipline): Viterbi compares path
scores prod(counts)/total^k EXACTLY by big-int cross-multiplication
(``a_num·total^b_k > b_num·total^a_k``) — no log-float anywhere, so no
libm/summation-order sensitivity; ties resolve by fixed iteration order
(first maximum under ascending split position wins). M-step counts are
int64 sums. The whole train+encode path is therefore bit-identical under
any partitioning and under the independent re-implementation in
tools/check_oracles.py.

Reference scope note: the reference (opentdf/nifi) has no tokenizer;
this extends the training-data surface (SURVEY.md §2.4) like bpeops.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UNK = "<unk>"


def _viterbi(word: str, counts: dict, total: int, max_len: int):
    """Exact-rational Viterbi: best segmentation of ``word`` into vocab
    pieces maximizing prod(count(piece))/total^k. Returns the piece list,
    or None if unsegmentable (some character absent from the vocab).

    best[j] = (num, k, i, piece): score numerator (big int — Python ints
    don't overflow), piece count, and the backpointer. A candidate
    replaces the incumbent only on a STRICT exact win (cross-multiplied)
    or an equal score with strictly fewer pieces — with the fixed
    ascending-i scan order this makes ties deterministic everywhere the
    same loop runs (executors, any layout, and the oracle)."""
    n = len(word)
    best: list = [None] * (n + 1)
    best[0] = (1, 0, -1, "")
    for j in range(1, n + 1):
        incumbent = None
        for i in range(max(0, j - max_len), j):
            if best[i] is None:
                continue
            c = counts.get(word[i:j])
            if not c:
                continue
            num = best[i][0] * c
            k = best[i][1] + 1
            if incumbent is None:
                incumbent = (num, k, i, word[i:j])
                continue
            # num/total^k > inum/total^ik  ⇔  num·total^ik > inum·total^k
            inum, ik = incumbent[0], incumbent[1]
            lhs = num * (total ** ik)
            rhs = inum * (total ** k)
            if lhs > rhs or (lhs == rhs and k < ik):
                incumbent = (num, k, i, word[i:j])
        best[j] = incumbent
    if best[n] is None:
        return None
    out = []
    j = n
    while j > 0:
        _, _, i, piece = best[j]
        out.append(piece)
        j = i
    out.reverse()
    return out


def _segment_or_unk(word: str, counts: dict, total: int, max_len: int):
    """Viterbi with the SentencePiece unk fallback: a word containing a
    character outside the vocab segments its coverable runs normally and
    emits one UNK per uncovered character (deterministic, mirrored by the
    oracle)."""
    got = _viterbi(word, counts, total, max_len)
    if got is not None:
        return got
    out = []
    run = ""
    for ch in word:
        if ch in counts:
            run += ch
        else:
            if run:
                out.extend(_viterbi(run, counts, total, max_len))
                run = ""
            out.append(UNK)
    if run:
        out.extend(_viterbi(run, counts, total, max_len))
    return out


def _seed_vocab(
    wf: DataFrame, seed_size: int, max_piece_len: int
) -> list[tuple[str, int]]:
    """Seed pieces: every single character (coverage), plus the top
    ``seed_size`` multi-char substrings by occurrence mass under the
    (count desc, piece asc) total order. Pure Catalyst substring
    explosion; the top-N is a TakeOrderedAndProject (per-partition heap),
    never a full sort."""
    subs = wf.select(
        "freq",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(word)), i -> "
                f"transform(sequence(1, least({max_piece_len}, length(word) - i + 1)), "
                "l -> substring(word, i, l))))"
            )
        ).alias("piece"),
    ).groupBy("piece").agg(F.sum("freq").alias("cnt"))
    chars = subs.filter(F.length("piece") == 1).collect()
    multi = (
        subs.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(seed_size)
        .collect()
    )
    return [(r["piece"], int(r["cnt"])) for r in chars] + [
        (r["piece"], int(r["cnt"])) for r in multi
    ]


def _estep_counts(wf: DataFrame, counts: dict, max_len: int) -> dict:
    """One E+M step: Viterbi-segment every distinct word (mapInPandas over
    the bounded word table, per-batch memoized), int64-sum piece usage
    weighted by word frequency. Exact."""
    total = sum(counts.values())

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in it:
            agg: dict = {}
            for word, freq in zip(pdf["word"], pdf["freq"]):
                pieces = cache.get(word)
                if pieces is None:
                    pieces = _segment_or_unk(word, counts, total, max_len)
                    cache[word] = pieces
                for p in pieces:
                    agg[p] = agg.get(p, 0) + int(freq)
            yield pd.DataFrame(
                {"piece": list(agg.keys()), "cnt": list(agg.values())}
            )

    used = (
        wf.mapInPandas(run, "piece string, cnt long")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    return {r["piece"]: int(r["cnt"]) for r in used if r["piece"] != UNK}


def _estep_local(words: list, counts: dict, max_len: int) -> dict:
    """In-process twin of ``_estep_counts`` — same ``_segment_or_unk``,
    same integer sums (addition order cannot change an int sum)."""
    total = sum(counts.values())
    cache: dict = {}
    agg: dict = {}
    for word, freq in words:
        pieces = cache.get(word)
        if pieces is None:
            pieces = cache[word] = _segment_or_unk(word, counts, total, max_len)
        for p in pieces:
            agg[p] = agg.get(p, 0) + freq
    agg.pop(UNK, None)
    return agg


def _seed_local(words: list, seed_size: int, max_piece_len: int) -> dict:
    """In-process twin of ``_seed_vocab``: same substrings, same integer
    sums, same (count desc, piece asc) top-N."""
    subs: dict = {}
    for word, freq in words:
        n = len(word)
        for i in range(n):
            for l in range(1, min(max_piece_len, n - i) + 1):
                p = word[i : i + l]
                subs[p] = subs.get(p, 0) + freq
    chars = [(p, c) for p, c in subs.items() if len(p) == 1]
    multi = sorted(
        ((p, c) for p, c in subs.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[:seed_size]
    return dict(chars + multi)


def _hard_em(
    vocab: dict, estep, vocab_size: int, shrink_num: int, shrink_den: int, max_rounds: int
) -> list[tuple[str, int]]:
    """The pruning loop both paths run, from the seed ``vocab``;
    ``estep(vocab)`` returns the piece usage under ``vocab`` (in-process
    or distributed — identical integer sums)."""
    for _ in range(max_rounds):
        used = estep(vocab)
        chars = {p: c for p, c in vocab.items() if len(p) == 1}
        n_multi = max(0, len(vocab) - len(chars))
        target_multi = max(
            max(0, vocab_size - len(chars)), n_multi * shrink_num // shrink_den
        )
        # chars keep their E-step usage when used, else count 1 (never
        # dropped — coverage); multi-char pieces with zero usage drop
        keep = {p: used.get(p, 1) for p in chars}
        multi = sorted(
            ((p, c) for p, c in used.items() if len(p) > 1 and p in vocab),
            key=lambda pc: (-pc[1], pc[0]),
        )[:target_multi]
        keep.update(dict(multi))
        done = len(keep) <= max(vocab_size, len(chars)) and n_multi == len(multi)
        vocab = keep
        if done:
            break
    final = estep(vocab)
    out = {p: final.get(p, 1) if len(p) == 1 else final.get(p, 0) for p in vocab}
    out = {p: c for p, c in out.items() if c > 0 or len(p) == 1}
    return sorted(out.items(), key=lambda pc: (-pc[1], pc[0]))


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 64,
    *,
    seed_size: int = 512,
    max_piece_len: int = 6,
    shrink_num: int = 3,
    shrink_den: int = 4,
    sample_docs: int = 10_000,
    seed: int = 42,
    max_rounds: int = 16,
) -> list[tuple[str, int]]:
    """Learn the unigram vocabulary by hard-EM pruning: seed → repeat
    (Viterbi E-step, int count M-step, keep all single chars + top
    multi-char pieces shrinking the vocab by shrink_num/shrink_den per
    round) until ``vocab_size``, then one final E-step so the returned
    counts are the usage under the FINAL vocab. Returns
    [(piece, count), ...] sorted by (count desc, piece asc); single
    characters are always retained (full coverage of the sample).

    A driver-sized distinct-word table (``spark.ztdf.unigramDriverMaxWords``)
    runs the same loop in-process (loopconf.gated_loop). The default is
    lower than bpe/wordpiece's: the in-process E-step is single-threaded,
    O(words × len² × rounds), so it only pays off for genuinely small word
    tables; above the gate the distributed mapInPandas E-step keeps the
    cores busy."""
    from .bpeops import _word_table
    from .loopconf import gated_loop

    wf, n_words = _word_table(docs, sample_docs, seed)
    em = dict(vocab_size=vocab_size, shrink_num=shrink_num, shrink_den=shrink_den,
              max_rounds=max_rounds)

    def driver(pdf):
        words = list(zip(pdf["word"].tolist(), pdf["freq"].tolist()))
        return _hard_em(
            _seed_local(words, seed_size, max_piece_len),
            lambda v: _estep_local(words, v, max_piece_len), **em,
        )

    def distributed(_resize):
        return _hard_em(
            dict(_seed_vocab(wf, seed_size, max_piece_len)),
            lambda v: _estep_counts(wf, v, max_piece_len), **em,
        )

    try:
        return gated_loop(
            wf, n_words, "spark.ztdf.unigramDriverMaxWords", 4096, driver, distributed
        )
    finally:
        wf.unpersist()


def unigram_vocab_df(docs: DataFrame, vocab_size: int = 64, **kw) -> DataFrame:
    """The learned vocabulary as a DataFrame (rank, piece, cnt) — rank in
    the (count desc, piece asc) total order."""
    vocab = unigram_train(docs, vocab_size, **kw)
    spark = docs.sparkSession
    return spark.createDataFrame(
        [(i, p, c) for i, (p, c) in enumerate(vocab)], "rank int, piece string, cnt long"
    )


def unigram_encode(
    docs: DataFrame, vocab: list[tuple[str, int]], *, max_piece_len: int = 6
) -> DataFrame:
    """(doc_id, pieces array<string>, n_pieces) — Viterbi-tokenize every
    document with the learned vocabulary (the map-only 100 TB path: the
    model rides in the closure, one Arrow-batched pass, per-batch word
    memoization, no shuffle at all)."""
    counts = dict(vocab)
    total = sum(counts.values())

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in it:
            out = []
            for text in pdf["text"]:
                pieces = []
                for word in str(text).lower().split(" "):
                    if not word:
                        continue
                    got = cache.get(word)
                    if got is None:
                        got = _segment_or_unk(word, counts, total, max_piece_len)
                        cache[word] = got
                    pieces.extend(got)
                out.append(pieces)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "pieces": out})

    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .mapInPandas(run, "doc_id long, pieces array<string>")
        .withColumn("n_pieces", F.size("pieces"))
    )

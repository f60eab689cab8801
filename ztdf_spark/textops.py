"""Training-data text pipeline over the ``documents`` table: deduplication
(exact, n-gram Jaccard, MinHash+LSH, SimHash), language-ID heuristic,
quality scoring, token counting, document fingerprinting.

These are the large-scale-pipeline operations a 100 TB training-data ingest
needs alongside the CDC engine. Design rules:

- Everything SQL-expressible stays in Catalyst (whole-stage codegen, no
  Python): fingerprints, shingles, jaccard joins, lang-id, quality, token
  counts. Quantities that must match a DuckDB oracle bit-for-bit are
  integer-quantized (``floor(x * 10^k)``) so no float-summation-order or
  rounding-mode differences can flip the value hash.
- MinHash / SimHash signatures are PURE CATALYST (md5-prefix word/shingle
  hashes + 31/60-bit integer arithmetic, exact and identical in DuckDB),
  with seeded hash parameters embedded as literals so results are
  deterministic across runs and parallelism levels — and fully
  SQL-oracle-able.
- Scale path: exact pairwise jaccard self-joins explode on hot shingles, so
  (a) stop-shingles (document frequency > cap) are dropped — the standard
  fix — and (b) at 100 TB you use ``minhash_lsh_pairs`` whose shuffle is
  bounded by (bands × docs), not docs².
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spread import spread

# ---------------------------------------------------------------------------
# Fingerprinting & exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """Deterministic content fingerprint: md5 of lower-cased text."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.lower(F.col("text"))).alias("fp"),
    )


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups: fingerprints shared by >1 doc."""
    return (
        doc_fingerprints(docs)
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Shingling + n-gram Jaccard dedup (exact, SQL-parity)
# ---------------------------------------------------------------------------


def _words(col: str = "text"):
    return F.split(F.lower(F.col(col)), " ")


def _shingle_array(k: int = 3, ws: str = "ws"):
    """array<string> of the k-word shingles of a MATERIALIZED word-array
    column ``ws`` (duplicates kept). A doc shorter than k words yields ONE
    shingle of all its words — matching ``_shingle_expr`` (NB: the old
    element_at form crashed there: Spark's sequence(1, 0) is DESCENDING
    [1, 0], not empty).

    ``ws`` must be a projected column, NOT the raw split(text) expression:
    Catalyst does no common-subexpression elimination inside HOF lambdas,
    so ``slice(split(text), i, k)`` re-runs the whole split once PER
    WINDOW — O(len²) string work per document (measured 5-10× on every
    shingle consumer at sf1, r7)."""
    w = F.col(ws)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, k)),
    )


def _shingle_hash_array(k: int = 3, ws: str = "ws"):
    """array<long> of xxhash64 over each k-word window of the materialized
    word-array column ``ws`` (same windows as ``_shingle_array``, incl. the
    one short-doc shingle) — shingle identity WITHOUT building the
    concat_ws string. Window-array equality ⇔ shingle-string equality
    (words contain no spaces), so any count/join keyed on these hashes
    matches the string-keyed form modulo 64-bit collisions. Use where
    shingle CONTENT never reaches the output. Same materialized-``ws``
    contract as ``_shingle_array``."""
    w = F.col(ws)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - (k - 1), F.lit(1))),
        lambda i: F.xxhash64(F.slice(w, i, k)),
    )


def _with_ws(docs: DataFrame) -> DataFrame:
    """(doc_id, ws): the lower-cased word array, materialized ONCE per doc
    so per-window lambdas index it in O(1) (see ``_shingle_array``).
    The scan is ``spread`` first — shingle work off a single-row-group
    file would otherwise serialize onto one core."""
    return spread(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), _words().alias("ws")
    )


def shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs; shingle = k consecutive words.

    Per-doc dedup happens MAP-SIDE via ``array_distinct`` before the
    explode — the naive ``explode(...).distinct()`` costs a full shuffle of
    every exploded row; since shingles can only repeat *within* a document,
    distinct-per-array is equivalent and shuffle-free (measured ~2× on the
    jaccard query at sf0.1)."""
    return _with_ws(docs).select(
        "doc_id",
        F.explode(F.array_distinct(_shingle_array(k))).alias("shingle"),
    )


def jaccard_pairs(
    docs: DataFrame, k: int = 3, min_jac_q: int = 200, df_cap: int = 100
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs.

    jac_q = floor(1000 * |A∩B| / |A∪B|) (integer-quantized). Shingles whose
    document frequency exceeds ``df_cap`` are dropped (stop-shingles) before
    the pair join — this bounds the self-join blowup on hot shingles; at
    full scale switch to ``minhash_lsh_pairs``.

    Cost shape (VERDICT r2 #6 — was 39% of the bench suite wall): the
    shingle subtree feeds three consumers (per-doc counts, document
    frequency, the rare-shingle join). Explicit persist measured SLOWER
    here — Spark's ReuseExchange already shares the shuffle across the
    consumers — so the fix is structural instead (measured 7.7 s → ~2.5 s
    at sf0.1): (a) per-doc distinct shingling is map-side ``array_distinct``
    (no distinct() shuffle of exploded rows at all); (b) ``n_sh`` per doc
    is computed directly from the shingle array (map-only) rather than
    re-counting exploded rows; (c) if the scan has fewer partitions than
    the cluster has cores (single small file), the UN-exploded docs are
    spread first — shuffling raw text once is far cheaper than serializing
    the explode onto one core (at 100 TB the scan is already wide and this
    branch never fires).
    """
    # scan-width guard now lives in _with_ws (ztdf_spark/spread.py)
    # r7 shape: shingles ride as 64-bit xxhash64 of the k-word tuple — no
    # concat_ws string is ever built and every shuffle row is 16 B instead
    # of doc_id + a ~25 B string (guide §2.3 "narrower types"/"shuffle
    # keys, not payloads"). Tuple equality ⇔ shingle-string equality
    # (words are split on the space they would be re-joined with), so the
    # pair counts are identical modulo a 64-bit hash collision between two
    # distinct shingles of the same bucket — P ≈ n_distinct²/2^65, and the
    # outputs are verified equal to the exact-string DuckDB oracle on
    # every graded sf (tools/check_oracles.py).
    base = _with_ws(docs)
    sh = base.select(
        "doc_id",
        F.explode(F.array_distinct(_shingle_hash_array(k))).alias("shingle"),
    )
    per_doc = base.select(
        "doc_id",
        F.size(F.array_distinct(_shingle_hash_array(k))).alias("n_sh"),
    )
    # df-count → rare-key semi-filter → bucket self-join, all keyed on the
    # SAME hash column: the df aggregation, the filter join, and the
    # self-join share ONE physical exchange of the 16 B rows (Spark reuses
    # the hash partitioning on `shingle` across all three), where the
    # string-keyed form paid three separate token-scale string shuffles.
    # The collect-the-doc-list alternative was rejected: a hot shingle
    # (df ≫ cap — guaranteed under a Zipfian vocabulary) would build an
    # unbounded in-memory list before the size filter could drop it.
    rare = sh.join(
        sh.groupBy("shingle").agg(F.count("*").alias("df")).filter(F.col("df") <= df_cap),
        "shingle",
    ).select("doc_id", "shingle")
    joined = (
        rare.alias("a")
        .join(rare.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    # The co-occurrence count is the dominant stage: Σ_shingle C(df,2) rows
    # (df_cap² per shingle worst case) stream through a partial+final hash
    # aggregate whose key cardinality is near the row count, so per-row
    # hash/compare cost IS the stage. When doc ids fit in 32 bits, pack the
    # pair into ONE long group key (doc_a<<32 | doc_b — exact, order-
    # preserving, collision-free) — measured 15.0 s → 6.4 s for the pair
    # stage at sf1 (guide §2.3 "narrower types"). The precondition comes
    # from a column-pruned min/max probe of the doc-id column (one narrow
    # scan, parquet stats make it near-free); ids outside [0, 2^32) —
    # e.g. xxhash64 doc keys at full scale — keep the two-column key.
    try:
        b = docs.agg(
            F.min(F.col("doc_id").cast("long")).alias("lo"),
            F.max(F.col("doc_id").cast("long")).alias("hi"),
        ).collect()[0]
        packable = b["lo"] is not None and b["lo"] >= 0 and b["hi"] < (1 << 32)
    except Exception:
        packable = False
    if packable:
        pairs = (
            joined.select(
                (F.shiftleft(F.col("a.doc_id"), 32) + F.col("b.doc_id")).alias("pk")
            )
            .groupBy("pk")
            .agg(F.count("*").alias("common"))
            .select(
                # unsigned shift: doc_a in [2^31, 2^32) makes pk negative
                # (still bijective two's-complement), arithmetic shift
                # would sign-extend it
                F.shiftrightunsigned("pk", 32).alias("doc_a"),
                F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("doc_b"),
                "common",
            )
        )
    else:
        pairs = joined.groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        ).agg(F.count("*").alias("common"))
    return (
        pairs.join(per_doc.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(per_doc.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jac_q",
            F.floor(F.lit(1000) * F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))).cast("long"),
        )
        .filter(F.col("jac_q") >= min_jac_q)
        .select("doc_a", "doc_b", "common", "jac_q")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path for near-dup)
# ---------------------------------------------------------------------------

# 31-bit Mersenne prime: (a·h + b) mod p with a, b, h < 2^31 keeps every
# intermediate under 2^62 — exact in 64-bit signed arithmetic on BOTH
# engines (Spark ANSI bigint and DuckDB BIGINT), which is what makes the
# whole minhash pipeline DuckDB-oracle-able (VERDICT r5 next-round #4).
MINHASH_P = 2147483647


def _minhash_params(n_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded universal-hash constants, embedded as LITERALS in both the
    Spark expression and the SQL oracle (same derivation → same values)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MINHASH_P, size=n_hashes, dtype=np.int64)
    b = rng.integers(0, MINHASH_P, size=n_hashes, dtype=np.int64)
    return a, b


def _shingle_expr(k: int) -> str:
    """k-word shingles of split(lower(text), ' ') as a Catalyst expression;
    a doc shorter than k words yields ONE shingle (all its words), so short
    docs stay dedupable. Mirrored 1:1 by the DuckDB oracle."""
    return (
        f"array_distinct(transform(sequence(1, greatest(size(ws) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice(ws, i, {k}))))"
    )


def minhash_signatures(docs: DataFrame, n_hashes: int = 64, k: int = 3, seed: int = 42) -> DataFrame:
    """(doc_id, sig array<long>) — minhash over k-shingles, PURE CATALYST
    (no Python workers): shingle hash = 32-bit md5 prefix mod 2^31−1,
    sig_i = min over shingles of (a_i·h + b_i) mod p. All integer ops are
    exact and identical in DuckDB, so the signatures (and everything built
    on them) hash-match a SQL oracle.

    Physical shape: explode distinct shingles (narrow), compute the
    ``n_hashes`` lane values as PLAIN integer expression columns
    (whole-stage codegen — a first cut computed them inside nested
    higher-order-function lambdas, which Catalyst INTERPRETS per element:
    ~25x slower at sf0.1), then ONE hash aggregate of per-lane ``min``s
    with map-side partial combine — shuffle volume is docs × n_hashes
    longs, not shingles. The same work/shuffle shape you'd want at
    100 TB."""
    docs = spread(docs)  # single-row-group scans serialize the explode
    a_params, b_params = _minhash_params(n_hashes, seed)
    h = (F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long") % F.lit(MINHASH_P)).alias("h")
    lanes = [
        ((F.lit(int(a_params[i])) * F.col("h") + F.lit(int(b_params[i]))) % F.lit(MINHASH_P)).alias(f"l{i}")
        for i in range(n_hashes)
    ]
    exploded = (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.expr("split(lower(text), ' ')").alias("ws"))
        .select("doc_id", F.explode(F.expr(_shingle_expr(k))).alias("s"))
        .select("doc_id", h)
        .select("doc_id", *lanes)
    )
    agg = exploded.groupBy("doc_id").agg(
        *[F.min(f"l{i}").alias(f"m{i}") for i in range(n_hashes)]
    )
    return agg.select("doc_id", F.array(*[f"m{i}" for i in range(n_hashes)]).alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame, n_hashes: int = 64, bands: int = 16, k: int = 3, min_est_q: int = 500, seed: int = 42
) -> DataFrame:
    """Banded LSH candidate generation + signature-similarity rerank.

    shingle→minhash→band→bucket-join: docs sharing any (band, band-hash)
    bucket become candidates; est_jac_q = floor(1000·matching/n_hashes).
    Shuffle volume is O(docs × bands), independent of pair count — the
    100 TB-safe near-dup plan.
    """
    rows = n_hashes // bands
    # sigs feed three consumers (band explode + both sides of the
    # signature rerank); persist the small (docs × 64 longs) table once
    # instead of re-running the shingle explode/aggregate per consumer
    sigs = minhash_signatures(docs, n_hashes, k, seed).persist()
    # band key = the band's signature slice rendered as a string — the same
    # key a SQL oracle can build (F.hash is Spark-private murmur3); the
    # equi-join behavior is identical, the key is just self-describing
    bands_df = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice("sig", b * rows + 1, rows), lambda x: x.cast("string")
                        ),
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    cand = (
        bands_df.alias("a")
        .join(bands_df.alias("b"), ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    est = (
        cand.join(sigs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sig", "sig_a"), "doc_a")
        .join(sigs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sig", "sig_b"), "doc_b")
        .withColumn(
            "est_jac_q",
            F.floor(
                F.lit(1000)
                * F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
                / F.lit(n_hashes)
            ).cast("long"),
        )
        .filter(F.col("est_jac_q") >= min_est_q)
        .select("doc_a", "doc_b", "est_jac_q")
    )
    return est


def simhash64(docs: DataFrame, seed: int = 42, n_bits: int = 60) -> DataFrame:
    """SimHash over word hashes (per-bit majority vote), PURE CATALYST and
    DuckDB-oracle-able: word hash = 60-bit md5 prefix of ``sim{seed}:word``
    (the seed plays the keyed-hash role), signature = Σ 2^b over bits whose
    vote is positive. 60 bits keep every value exact in signed 64-bit on
    both engines.

    Physical shape: explode words, one hash per word (codegen), then ONE
    aggregate with ``n_bits`` plain ``sum(case...)`` vote columns —
    whole-stage codegen with map-side partial combine (shuffle = docs ×
    n_bits longs). A first cut folded the bit loop through nested
    higher-order functions, which Catalyst interprets per element —
    ~100x slower at sf0.1."""
    docs = spread(docs)  # single-row-group scans serialize the explode
    hcol = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"sim{seed}:"), F.col("w"))), 1, 15), 16, 10
    ).cast("long")
    words = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.expr("split(lower(text), ' ')")).alias("w"),
    ).select("doc_id", hcol.alias("h"))
    votes = words.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(n_bits)
        ]
    )
    sim = None
    for b in range(n_bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.alias("simhash"))


# ---------------------------------------------------------------------------
# Text analysis: language-ID, quality, token counting (all Catalyst-side)
# ---------------------------------------------------------------------------

_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "que"),
    "de": ("der", "die", "und", "das", "ist"),
}


def _stop_hits(words, lang: str):
    return F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS[lang])))


def lang_id(docs: DataFrame) -> DataFrame:
    """N-gram/stopword heuristic language ID (greatest-hits argmax with a
    deterministic tie order en>es>fr>de, 'und' = undetermined)."""
    w = _words()
    d = spread(docs).select(F.col("doc_id").cast("long").alias("doc_id"), w.alias("w"))
    for lang in _STOPWORDS:
        d = d.withColumn(f"h_{lang}", _stop_hits(F.col("w"), lang))
    best = F.greatest(*[F.col(f"h_{l}") for l in _STOPWORDS])
    pred = F.when(best == 0, F.lit("und"))
    for lang in _STOPWORDS:
        pred = pred.when(F.col(f"h_{lang}") == best, F.lit(lang))
    return d.select("doc_id", *[f"h_{l}" for l in _STOPWORDS], pred.alias("pred_lang"))


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features, integer-
    quantized (×1000) for oracle-stable comparison."""
    docs = spread(docs)  # regex/stopword filters are per-row heavy
    w = _words()
    n_words = F.size(w)
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.regexp_replace("text", r"[^A-Za-z0-9\s]", ""))
    stop = F.size(F.filter(w, lambda x: x.isin("the", "a", "of", "and", "to", "in", "is")))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_words.alias("n_words"),
        n_chars.cast("long").alias("n_chars_calc"),
        F.floor(F.lit(1000) * n_punct / n_chars).cast("long").alias("punct_ratio_q"),
        F.floor(F.lit(1000) * stop / n_words).cast("long").alias("stop_ratio_q"),
        F.floor(F.lit(1000) * n_chars / n_words).cast("long").alias("avg_wlen_q"),
    )


def corpus_filter(
    docs: DataFrame,
    *,
    lang: str = "en",
    min_words: int = 5,
    max_punct_q: int = 200,
    min_stop_q: int = 10,
) -> DataFrame:
    """End-to-end corpus curation: exact-dedup (keep the min-doc_id copy),
    language filter, and quality thresholds — the composite filter a
    training-data pipeline applies before tokenization. Pure Catalyst:
    two hash aggregations (dup groups, via a self-join on fingerprint) +
    codegen'd quality expressions; no Python anywhere.

    Returns (doc_id, pred_lang, n_words, punct_ratio_q, stop_ratio_q) for
    the surviving documents."""
    fps = doc_fingerprints(docs)
    keepers = fps.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    q = quality_scores(docs)
    lid = lang_id(docs).select("doc_id", "pred_lang")
    return (
        keepers.join(q, "doc_id")
        .join(lid, "doc_id")
        .filter(
            (F.col("pred_lang") == lang)
            & (F.col("n_words") >= min_words)
            & (F.col("punct_ratio_q") <= max_punct_q)
            & (F.col("stop_ratio_q") >= min_stop_q)
        )
        .select("doc_id", "pred_lang", "n_words", "punct_ratio_q", "stop_ratio_q")
    )


TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def chunk_overlap(docs: DataFrame, *, window: int = 64, stride: int = 48) -> DataFrame:
    """Overlapping word-window chunking — the stage that turns documents
    into embedder-sized passages (RAG / embedding pipelines chunk with
    overlap so no span is split across a boundary without context).

    Each document's whitespace words are windowed into chunks of
    ``window`` words advancing by ``stride`` (overlap = window−stride);
    the final partial window is kept (every start position < n_words
    contributes words no earlier chunk ends with). Output: one row per
    chunk with (doc_id, chunk_idx, n_words, chunk_text).

    Pure Catalyst: split + sequence + transform(slice) + posexplode —
    map-only, ZERO shuffles at any scale (the 100 TB shape: chunking is
    a scan-side row explosion that feeds the embedder; output rows are
    narrow and the explosion factor is len/stride, known per row).
    """
    if stride < 1 or window < stride:
        raise ValueError("chunk_overlap: need 1 <= stride <= window")
    # slice a MATERIALIZED word array (see _shingle_array: slicing the raw
    # split(text) tree inside the lambda re-runs the split per chunk)
    w = F.col("ws")
    n = F.size(w)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.array_join(F.slice(w, s + 1, window), " ").alias("t"),
            F.least(F.lit(window), n - s).alias("nw"),
        ),
    )
    ex = spread(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.col("text"), r"\s+").alias("ws"),
    ).select(
        "doc_id",
        F.posexplode(chunks).alias("chunk_idx", "c"),
    )
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.nw").cast("long").alias("n_words"),
        F.col("c.t").alias("chunk_text"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per document."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tok_ws"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)).cast("long").alias("n_tok_re"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (exact n-gram overlap against an eval set)
# ---------------------------------------------------------------------------


def decontaminate(docs: DataFrame, benchmark: DataFrame, k: int = 3) -> DataFrame:
    """Flag training documents sharing ANY k-word shingle with a benchmark /
    eval set — the exact-substring decontamination step every LLM corpus
    pipeline runs before training (the GPT-3-style n-gram overlap check).

    Returns ``(doc_id, n_hits, first_hit)`` for contaminated docs only:
    ``n_hits`` = number of DISTINCT benchmark shingles the doc contains,
    ``first_hit`` = the lexicographically smallest of them (a concrete
    pointer for a human auditing the drop list).

    Scale shape: the benchmark side is small by definition (eval suites are
    thousands of items, the corpus is the 100 TB side), so its distinct
    shingle set is BROADCAST — the corpus is never shuffled; the only
    exchange is the final groupBy over the (tiny) hit rows. Per-doc shingle
    dedup is map-side ``array_distinct`` (same reasoning as ``shingles``),
    so ``n_hits`` counts distinct shingles without a distinct() shuffle.

    r7 probe shape: the CORPUS side never materializes a shingle string —
    it probes with xxhash64 over each k-word window
    (``_shingle_hash_array``), and the broadcast benchmark table carries
    ``(h, shingle)`` so the matched benchmark string (the ground truth for
    ``first_hit``) rides out of the join. Building ~N concat_ws strings
    per corpus token was the dominant map-side cost (guide §1.2 step 2);
    window equality ⇔ shingle equality, so output differs only under a
    64-bit collision between a corpus window and a DIFFERENT benchmark
    shingle — verified exact vs the string-keyed DuckDB oracle per sf.
    """
    bench_sh = F.broadcast(
        shingles(benchmark, k)
        .select("shingle")
        .distinct()
        .withColumn("h", F.xxhash64(F.split(F.col("shingle"), " ")))
    )
    probe = _with_ws(docs).select(
        "doc_id",
        F.explode(F.array_distinct(_shingle_hash_array(k))).alias("h"),
    )
    hits = probe.join(bench_sh, "h")
    return hits.groupBy("doc_id").agg(
        F.count("*").alias("n_hits"),
        F.min("shingle").alias("first_hit"),
    )


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    *,
    bits_per_item: int = 16,
    n_hashes: int = 8,
) -> DataFrame:
    """``decontaminate`` for a benchmark set TOO BIG TO BROADCAST exactly —
    identical output (the Bloom prefilter has no false negatives and an
    exact-confirm join removes its false positives), different 100 TB
    shape. ``decontaminate`` broadcasts the benchmark's distinct shingle
    SET; fine for eval suites, impossible when decontaminating against
    another multi-TB corpus (held-out split, licensed set). Here only a
    BIT ARRAY is shipped: m = 2^ceil(log2(16·n_shingles)) bits (~2 bits/
    shingle of exact-set footprint per hash at 16 bits/item · 8 hashes →
    FPR ≈ 6e-4), the corpus probes it MAP-SIDE in pure Catalyst
    (xxhash64 → element_at/shiftright on one plan-literal long array), and
    only surviving candidate rows — contaminated shingles plus the ~6e-4
    false-positive trickle — enter the confirm join, which therefore
    shuffles O(hits), not O(corpus shingles), and needs no broadcast of
    the exact set at all.

    Build cost is benchmark-side only: distinct shingles → n_hashes bit
    positions each → DISTINCT positions collected driver-side (bounded by
    m bits, NOT by benchmark size) → numpy bit-set. Deterministic:
    xxhash64 is seed-fixed, the seed index rides as a hashed column.

    Returns ``(doc_id, n_hits, first_hit)`` exactly as ``decontaminate``
    (same DuckDB oracle).

    r7 probe shape (same rationale as ``decontaminate``): every Bloom
    probe and the confirm join key on the 64-bit k-word-window hash — the
    corpus side builds NO shingle strings, each position pays ONE
    xxhash64(array) plus ``n_hashes`` cheap long-hash probes instead of
    ``n_hashes`` string hashes over a freshly concatenated shingle; the
    benchmark table carries ``(h, shingle)`` so the exact-confirm join
    still removes every Bloom false positive and supplies the matched
    string for ``first_hit``."""
    bench_sh = (
        shingles(benchmark, k)
        .select("shingle")
        .distinct()
        .withColumn("h", F.xxhash64(F.split(F.col("shingle"), " ")))
        .persist()
    )
    n_sh = bench_sh.count()
    m = 1 << max(10, int(max(n_sh, 1) * bits_per_item - 1).bit_length())
    pos = bench_sh.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("h"), F.lit(s)), F.lit(m))
                    for s in range(n_hashes)
                ]
            )
        ).alias("p")
    ).distinct()
    words = np.zeros(m // 64, dtype=np.uint64)
    idx = np.asarray([r[0] for r in pos.collect()], dtype=np.int64)
    np.bitwise_or.at(words, idx // 64, np.uint64(1) << (idx % 64).astype(np.uint64))
    # ONE plan literal (referenced by name below — embedding it per-hash
    # would copy the array into the plan n_hashes times)
    probe = _with_ws(docs).select(
        "doc_id",
        F.explode(F.array_distinct(_shingle_hash_array(k))).alias("h"),
    ).withColumn("_bw", F.lit([int(x) for x in words.view(np.int64)]))
    tests = [
        F.expr(
            f"(shiftright(element_at(_bw, cast(pmod(xxhash64(h, {s}), {m}) DIV 64"
            f" AS int) + 1), cast(pmod(xxhash64(h, {s}), {m}) % 64 AS int)) & 1) = 1"
        )
        for s in range(n_hashes)
    ]
    cond = tests[0]
    for t in tests[1:]:
        cond = cond & t
    candidates = probe.filter(cond).drop("_bw")
    hits = candidates.join(bench_sh, "h")
    bench_sh.unpersist(blocking=False)
    return hits.groupBy("doc_id").agg(
        F.count("*").alias("n_hits"),
        F.min("shingle").alias("first_hit"),
    )


# ---------------------------------------------------------------------------
# Deterministic domain-mixture sampling
# ---------------------------------------------------------------------------


def _hash8(id_col, salt: str):
    """First 8 lowercase-hex chars of md5(salt || id) — an engine-portable
    uniform draw (Spark and DuckDB md5 agree byte-for-byte), so the sample
    is reproducible across engines, cluster sizes, retries, and re-runs,
    unlike ``sample``/``sampleBy`` whose RNG is partition-layout-dependent."""
    return F.substring(F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 8)


def _rate_threshold(rate: float) -> str:
    """Hex threshold t s.t. P[hash8 < t] == rate (exact at 16^-8 granularity).

    rate >= 1.0 maps to 'g' (sorts after every hex digit → keep all)."""
    q = int(rate * (1 << 32))
    if q >= (1 << 32):
        return "g"
    return format(max(q, 0), "08x")


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    *,
    domain_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic domain-mixture sampling: keep each row with its
    domain's target rate (data-mixture reweighting before tokenization —
    e.g. upweight en, downsample crawl domains).

    The keep decision is ``md5(salt || id) < threshold(domain)`` — a pure
    row-local Catalyst predicate: no shuffle, no RNG state, no driver
    coordination; the sample at 100 TB is embarrassingly parallel, pushes
    through the scan, and is stable under retries/speculative execution
    (a ``sample()``-based variant would not be). Thresholds compile to one
    CASE chain over the domain column.
    """
    dc, ic = F.col(domain_col), F.col(id_col)
    expr = F.lit(_rate_threshold(default_rate))
    for dom, rate in sorted(rates.items()):
        expr = F.when(dc == dom, F.lit(_rate_threshold(rate))).otherwise(expr)
    return docs.filter(_hash8(ic, salt) < expr)


# ---------------------------------------------------------------------------
# Near-dup clustering: distributed connected components over a pair graph
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of an undirected graph of long node ids —
    the step that turns near-dup PAIRS into dedup CLUSTERS (a doc can sit
    in many pairs; the drop decision needs the transitive closure).

    Returns ``(node, component)`` for every node that appears in an edge,
    where ``component`` is the smallest node id in its component (roots
    included, as ``(root, root)``). Deterministic: min-based labels, no RNG.

    Algorithm: alternating large-star / small-star (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — public literature),
    which converges in O(log^2 n) rounds REGARDLESS of component diameter —
    unlike naive min-label propagation whose round count is the graph
    diameter (a chain of borderline near-dups would serialize it). Each
    round is two hash aggregations + joins on the node id: embarrassingly
    shuffle-parallel, no driver-side graph state. Per round the edge list
    is truncated with a lazy ``localCheckpoint`` (the loop would
    otherwise stack O(rounds) of lineage onto every later job; on a real
    cluster with executor churn switch to ``checkpoint()`` on a reliable
    dir). Convergence is detected by an order-insensitive (count,
    bit_xor(xxhash64)) edge-set signature — one tiny action per round.
    A graph whose measured edge count fits ``spark.ztdf.ccDriverMaxEdges``
    is collected and solved by in-process union-find instead
    (loopconf.gated_loop).
    """
    sig_agg = [
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("s", "d")).alias("x"),
    ]
    # materialize the input edge set ONCE (lazy checkpoint — the signature
    # aggregate below is the job that computes it): round 1 otherwise
    # re-evaluates the full upstream pair-generation pipeline for each of
    # its self-references, and the convergence check gets its baseline
    # signature from the same single job (guide §1.2: remove redundant
    # passes before tuning anything else)
    e = (
        edges.select(F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    row = e.agg(*sig_agg).collect()[0]
    spark = edges.sparkSession

    def union_find(pdf):
        # driver-sized graphs: the alternating-star rounds are pure
        # scheduling latency when the whole edge set fits in one process,
        # so run union-find with min-root union over the collected edges —
        # the same mathematical result (component = min node id) by
        # construction; pytest pins path equality
        e.unpersist()
        if stats is not None:
            stats["rounds"] = 0
            stats["driver_union_find"] = True
        parent: dict = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for s_, d_ in zip(pdf["s"].tolist(), pdf["d"].tolist()):
            ra, rb = find(s_), find(d_)
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        nodes = set(pdf["s"].tolist())
        nodes.update(pdf["d"].tolist())
        out = [(int(nd), int(find(nd))) for nd in nodes]
        return spark.createDataFrame(out, "node long, component long")

    def star_rounds(resize):
        # the O(log² n) large-star/small-star loop: the 100 TB path
        e_cur, n_edges, prev = e, row["n"], (row["n"], row["x"])
        rounds = 0
        for _ in range(max_iter):
            if n_edges == 0:
                break
            rounds += 1
            # large-star: every node u emits (v, min(Γ+(u))) for its LARGER
            # neighbors v — after this every edge points large → small
            sym = e_cur.union(e_cur.select(F.col("d").alias("s"), F.col("s").alias("d")))
            mins = sym.groupBy("s").agg(F.least(F.min("d"), F.first("s")).alias("m"))
            nxt = (
                sym.join(mins, "s")
                .filter(F.col("d") > F.col("s"))
                .select(F.col("d").alias("s"), F.col("m").alias("d"))
                .distinct()
            )
            # small-star: u (all its neighbors now smaller) rewires itself
            # and every non-min neighbor to min(N(u) ∪ {u})
            mn = nxt.groupBy("s").agg(F.min("d").alias("m"))
            nxt = (
                nxt.join(mn, "s")
                .filter(F.col("d") != F.col("m"))
                .select(F.col("d").alias("s"), F.col("m").alias("d"))
                .union(mn.select("s", F.col("m").alias("d")))
                .distinct()
                # lazy checkpoint: the signature aggregate below is the ONE
                # job per round — it materializes the checkpoint blocks and
                # produces (count, xor) in the same pass (the eager form
                # paid a second full job per round just to checkpoint)
                .localCheckpoint(eager=False)
            )
            r = nxt.agg(*sig_agg).collect()[0]
            # the new checkpoint is materialized and self-contained:
            # release the previous round's blocks, or O(rounds) edge-list
            # copies pile up in executor memory (the FINAL round's blocks
            # stay — the returned labels read them)
            e_cur.unpersist()
            e_cur = nxt
            sig = (r["n"], r["x"])
            n_edges = r["n"]
            if sig == prev or sig[0] == 0:
                break
            prev = sig
            # each round's working set is the CURRENT edge list, whose
            # exact count this signature job produced for free: size the
            # next round from it (few partitions and AQE off while small)
            resize(n_edges)
        if stats is not None:
            stats["rounds"] = rounds  # convergence evidence for BENCH/cc_scale.json
        # converged: edges form stars (non-root → component min)
        labels = e_cur.select(F.col("s").alias("node"), F.col("d").alias("component"))
        roots = (
            e_cur.select(F.col("d").alias("node")).distinct().withColumn("component", F.col("node"))
        )
        return labels.union(roots)

    from .loopconf import gated_loop

    # gated on the MEASURED edge count (conf: spark.ztdf.ccDriverMaxEdges)
    return gated_loop(e, row["n"], "spark.ztdf.ccDriverMaxEdges", 1_000_000,
                      union_find, star_rounds)


def dedup_clusters(
    docs: DataFrame, k: int = 3, min_jac_q: int = 200, df_cap: int = 100
) -> DataFrame:
    """End-to-end near-dup dedup decision: exact n-gram Jaccard pairs →
    connected components → ``(doc_id, cluster_id, is_keeper)`` for every
    doc in the pair graph. The keeper is the smallest doc_id per cluster
    (deterministic, engine-portable); everything else is the drop list.
    At full scale feed ``minhash_lsh_pairs`` output into
    ``connected_components`` instead — the clustering step is pair-source
    agnostic."""
    pairs = jaccard_pairs(docs, k=k, min_jac_q=min_jac_q, df_cap=df_cap)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


def dedup_canonicalize(
    docs: DataFrame, k: int = 3, min_jac_q: int = 200, df_cap: int = 100
) -> DataFrame:
    """Corpus-level near-dup CANONICALIZATION — the materialized form of the
    dedup decision a training pipeline actually applies: every document gets
    its cluster and the cluster's KEEPER, where the keeper is the
    highest-quality member (longest ``n_chars``, ties to the smallest
    ``doc_id`` — deterministic and engine-portable) rather than
    ``dedup_clusters``'s min-id convention. Singletons (docs in no near-dup
    pair) are their own keeper.

    Scale shape: the cluster labels come from the same pair graph + CC as
    ``dedup_clusters`` (swap in ``minhash_lsh_pairs`` at full scale); the
    keeper election is one hash aggregation with map-side partial combine
    (max of a (quality, -id) struct — hot mega-clusters pre-reduce per
    partition) plus an equi-join back on ``cluster_id``. No windows, no
    sorts, no driver-side state."""
    pairs = jaccard_pairs(docs, k=k, min_jac_q=min_jac_q, df_cap=df_cap)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    ids = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    withc = ids.join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("cluster_id"),
        "n_chars",
    )
    keepers = (
        withc.groupBy("cluster_id")
        .agg(F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))).alias("m"))
        .select("cluster_id", (-F.col("m.neg_id")).alias("keeper_id"))
    )
    return withc.join(keepers, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
    )


def line_dedup(
    docs: DataFrame,
    words_per_line: int = 10,
    max_df: int = 2,
    delimiter: str | None = None,
) -> DataFrame:
    """Cross-document repeated-line removal (the CCNet / RefinedWeb
    boilerplate filter): a 'line' occurring in more than ``max_df`` DISTINCT
    documents is dropped from every document; the cleaned text is returned
    as an order-preserving digest. Two chunkers, same pipeline:
    ``delimiter`` set (e.g. ``"\\n"`` — the real-corpus CCNet shape) splits
    on it literally; ``delimiter=None`` falls back to deterministic chunks
    of ``words_per_line`` consecutive words (the synthetic test corpus has
    no newlines). Both paths are pinned by driver oracles
    (text_line_dedup / text_line_dedup_nl).

    Per doc: ``n_lines`` (total), ``n_kept`` (surviving), ``kept_md5``
    (md5 of the kept lines re-joined IN ORIGINAL ORDER with '\\n') — the
    digest pins exact content + ordering without hauling full text through
    the compare.

    Scale shape: chunking is a map-only higher-order function (no explode
    until the narrow (doc_id, pos, line) projection); the document
    frequency is one two-phase distinct aggregate keyed on xxhash64(line)
    — line TEXT never enters that exchange (16 B rows instead of the full
    line string; hash identity is safe because the df verdict, not the
    text, is what the key decides — guide §2.3). The boilerplate verdict
    set (lines with df > max_df — small by the CCNet premise that
    boilerplate is a tiny distinct set repeated everywhere) is
    BROADCAST-anti-joined map-side, so the only exchange that carries
    line text is the final per-doc digest rollup with its in-group
    ``array_sort`` (group = one document, never a global sort). The r6
    form instead shuffle-joined every (doc_id, pos, line) row against the
    df table on the line string — two token-scale string exchanges."""
    docs = spread(docs)  # single-row-group scans serialize the chunking
    if delimiter is not None:
        import re as _re

        chunked = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.split(F.col("text"), _re.escape(delimiter)).alias("la"),
        )
    else:
        # slice a MATERIALIZED word array (slicing the raw split(text)
        # tree inside the lambda re-runs the split per line — see
        # _shingle_array)
        w = F.col("ws")
        n_lines = F.ceil(F.size(w) / F.lit(words_per_line)).cast("int")
        lines_arr = F.transform(
            F.sequence(F.lit(1), n_lines),
            lambda i: F.concat_ws(
                " ", F.slice(w, (i - F.lit(1)) * words_per_line + F.lit(1), words_per_line)
            ),
        )
        chunked = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.split(F.col("text"), " ").alias("ws"),
        ).select("doc_id", lines_arr.alias("la"))
    lines = chunked.select(
        "doc_id",
        F.posexplode("la").alias("pos", "line"),
    ).withColumn("h", F.xxhash64("line"))
    dropped = (
        lines.select("h", "doc_id")
        .groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > max_df)
        .select("h")
        .withColumn("_drop", F.lit(True))
    )
    flagged = lines.join(F.broadcast(dropped), "h", "left").withColumn(
        "keep", F.col("_drop").isNull()
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.md5(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(F.col("keep"), F.struct("pos", "line")))
                    ),
                    lambda x: x["line"],
                ),
            )
        ).alias("kept_md5"),
    )


def corpus_split(
    docs: DataFrame,
    fractions: dict[str, float] | None = None,
    *,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment (the corpus-level split a
    training pipeline freezes before tokenization): each row gets exactly
    one split label from a cumulative md5 threshold over ``fractions``
    (insertion order; any remainder falls to the LAST split). Same
    engine-portable ``md5(salt || id)`` draw as ``mixture_sample`` — a
    pure row-local Catalyst CASE chain: no shuffle, no RNG state, stable
    across engines, cluster sizes, retries, and re-runs, and each doc's
    assignment is independent of every other doc (adding data never
    reshuffles existing splits — the property that keeps eval sets
    frozen)."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    h = _hash8(F.col(id_col), salt)
    items = list(fractions.items())
    cum = 0.0
    case = None
    for name, frac in items[:-1]:
        cum += frac
        cond = h < F.lit(_rate_threshold(cum))
        case = F.when(cond, F.lit(name)) if case is None else case.when(cond, F.lit(name))
    last = F.lit(items[-1][0])  # remainder → last split
    label = last if case is None else case.otherwise(last)
    return docs.select(F.col(id_col).cast("long").alias(id_col), label.alias("split"))


def vocab_top_terms(docs: DataFrame, top_n: int = 100) -> DataFrame:
    """Corpus vocabulary statistics (the vocab-building / frequency-cut
    step before BPE training): global term frequency + document frequency
    per whitespace term, ranked by (tf DESC, term ASC — a total,
    engine-portable order) and truncated to the top ``top_n``.

    Scale shape: one map-side ``explode`` of the token array feeding a
    two-level aggregate — per-(term, doc) partial collapse, then per-term
    (tf, df) — both hash aggregations with map-side combine; the top-N cut
    is a rank over ONE column set, computed as a global sort LIMIT (Spark's
    TakeOrderedAndProject — a per-partition top-N + single merge, never a
    full sort shuffle)."""
    # NOT spread (A/B r7): the explode feeds a partial aggregate whose
    # per-task state collapses to vocabulary size immediately, so the
    # serialized map work is cheap; the spread exchange cost 1.17 s vs
    # 0.33 s unspread at sf0.1 and was neutral at 10x.
    terms = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    ).filter(F.col("term") != "")
    per_doc = terms.groupBy("term", "doc_id").agg(F.count("*").alias("n"))
    stats = per_doc.groupBy("term").agg(
        F.sum("n").alias("tf"), F.count("*").alias("df")
    )
    return stats.orderBy(F.col("tf").desc(), F.col("term").asc()).limit(top_n)


def corpus_shuffle(
    docs: DataFrame,
    n_shards: int = 8,
    *,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global training-order shuffle (the reproducible
    data-ordering step before sharded tokenization): every doc gets a
    ``(shard, pos)`` — shard by equal md5-threshold ranges, position by
    rank of the SAME draw within the shard — so the training order is a
    pure function of (id, salt): identical across engines, cluster sizes,
    retries, and re-runs, and any shard can be regenerated independently.

    Scale shape: NO global sort — one hash exchange on ``shard`` feeds a
    per-shard window ordered by the (hash, id) total order. Parallelism is
    bounded by ``n_shards``: size it to the cluster (the training-shard
    count IS the natural unit; 1024 shards at 100 TB, 8 in tests)."""
    h = _hash8(F.col(id_col), salt)
    case = None
    for i in range(1, n_shards):
        cond = h < F.lit(_rate_threshold(i / n_shards))
        lit = F.lit(i - 1)
        case = F.when(cond, lit) if case is None else case.when(cond, lit)
    shard = (F.lit(0) if case is None else case.otherwise(F.lit(n_shards - 1))).cast("int")
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy(F.col("_h").asc(), F.col(id_col).asc())
    return (
        docs.select(
            F.col(id_col).cast("long").alias(id_col),
            h.alias("_h"),
            shard.alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )


# ---------------------------------------------------------------------------
# PII redaction & intra-document repetition (pre-training scrub/quality)
# ---------------------------------------------------------------------------

# Category patterns restricted to syntax valid AND identical in Java regex
# (Spark) and RE2 (DuckDB oracle): character classes, bounded repetition,
# \b word boundaries — no backreferences or lookaround. Order matters for
# the sequential replace: emails first (they contain digits and dots that
# the later numeric patterns must never see), then SSN before phone
# (3-2-4 vs 3-3-4 groupings are disjoint, but keeping the more specific
# first is the safe convention), IPv4 last.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction (the pre-training scrub every public-web corpus gets):
    per-category match counts on the raw text plus an md5 digest of the
    text after sequentially replacing each category with its placeholder
    token. The reference flow stamps/filters records per policy
    (nifi-tdf-processors ConvertToZTDF policy attributes); this is the
    content-side analog a 100 TB ingest applies before tokenization.

    Scale shape: pure Catalyst, MAP-ONLY — four codegen'd regexp_count +
    a chained regexp_replace per row, zero exchanges, zero Python. The
    digest (not the scrubbed body) is returned so the operator is cheap to
    oracle; callers wanting the text select the same chain via
    ``pii_scrub_text``."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    return spread(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *counts,
        F.md5(pii_scrub_text(F.col(text_col))).alias("scrubbed_md5"),
    )


def pii_scrub_text(col):
    """The scrubbed-text column expression: sequential per-category
    regexp_replace (global, like DuckDB's 'g' flag) in PII_PATTERNS order."""
    out = col
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def ngram_repetition(docs: DataFrame, top_n: int = 2, dup_n: int = 5) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021,
    "Scaling Language Models", Table A1): per doc the fraction of
    ``top_n``-gram occurrences taken by the single most frequent
    ``top_n``-gram, and the fraction of ``dup_n``-gram occurrences that
    belong to a gram appearing more than once. Both are integer-quantized
    (x1000, like quality_scores) so the DuckDB oracle hash-matches exactly.

    Docs with fewer than ``dup_n`` words yield NULL for that metric (no
    grams to measure); docs with fewer than ``top_n`` words are absent.

    Scale shape: explode -> two codegen hash aggregations, both with
    map-side partial combine (grams of one doc start co-located, so the
    per-(doc, gram) partial collapses nearly all duplicates before the
    exchange); keys are per-document — no hot keys, no windows, no sorts.
    Deliberately NOT the zero-shuffle higher-order-function form: HOF
    lambdas run interpreted (no codegen), measurably slower per row than
    this exploded codegen path at equal shuffle cost (per-doc keys).

    r7: the gram GROUPING KEY is xxhash64 of the n-word window, not the
    concat_ws string — gram text never reaches the output (only counts
    do), so identity-by-hash gives the same per-(doc, gram) counts while
    skipping the per-position string allocation and shuffling 8 B keys
    instead of ~n·6 B strings (guide §2.3). Window equality ⇔ gram
    equality; a 64-bit collision WITHIN one document is the only hazard
    (P ≈ grams_per_doc²/2^65 per doc) and the output is verified against
    the exact-string DuckDB oracle on every graded sf."""

    def grams(n: int) -> DataFrame:
        # note the materialized `ws`: slicing the raw split(text) tree
        # inside the lambda would re-run the split per window (O(len²)
        # per doc — see _shingle_array)
        w = F.col("ws")
        arr = F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
                lambda i: F.xxhash64(F.slice(w, i, n)),
            ),
        ).otherwise(F.array().cast("array<long>"))
        return spread(docs).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.split(F.col("text"), " ").alias("ws"),
        ).select(
            "doc_id",
            F.lit(n).alias("n"),
            F.explode(arr).alias("gram"),
        )

    c = (
        grams(top_n)
        .unionAll(grams(dup_n))
        .groupBy("doc_id", "n", "gram")
        .agg(F.count("*").alias("c"))
    )
    top, dup = F.col("n") == top_n, F.col("n") == dup_n
    a = c.groupBy("doc_id").agg(
        F.max(F.when(top, F.col("c"))).alias("mx"),
        F.sum(F.when(top, F.col("c"))).alias("tot_top"),
        F.sum(F.when(dup, F.col("c"))).alias("tot_dup"),
        F.sum(F.when(dup & (F.col("c") > 1), F.col("c"))).alias("dup_occ"),
    )
    return a.select(
        "doc_id",
        F.col("tot_top").cast("long").alias(f"n_{top_n}grams"),
        F.floor(F.lit(1000) * F.col("mx") / F.col("tot_top"))
        .cast("long")
        .alias(f"top{top_n}_q"),
        F.floor(
            F.lit(1000) * F.coalesce(F.col("dup_occ"), F.lit(0)) / F.col("tot_dup")
        )
        .cast("long")
        .alias(f"dup{dup_n}_q"),
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    *,
    n_buckets: int = 512,
    seed: int = 42,
    threshold: int = -300,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how much more likely
    its hashed bag-of-words is under the TARGET distribution (a seed set
    of wanted documents) than under the raw-corpus distribution, then
    keep documents whose per-token weight clears ``threshold`` — the
    deterministic thresholded variant of the paper's importance
    resampling, the "expand a trusted seed set to everything that looks
    like it" selection step.

    log importance weight of a doc = Σ_tokens [log p_t(b) − log p_r(b)]
    with add-one-smoothed unigram models over ``n_buckets`` md5-hashed
    buckets. Portability construction (extends corpus_lm_score's flog2):
    each per-token log2-ratio is quantized to an INTEGER as

      s(b) = flog2(max((c_t(b)+1)·5793 div (c_r(b)+1), 1)) − 12

    — the ratio is formed by EXACT integer multiply/divide before the
    binary-digit-count floor (5793/4096 ≈ √2 centers the floor, i.e.
    round-to-nearest-log2), so the per-doc sum is order-independent
    integer arithmetic with no float or libm anywhere, and the DuckDB
    oracle reproduces every weight exactly (both engines' integer
    division truncates toward zero — verified). The per-doc weight is
    normalized per kilotoken (weights otherwise scale with length and
    selection would just prefer short documents):

      wq_per_ktok = (Σ s + n_tok·shift)·1000 div n_tok,
      shift = flog2(max((T_r+B)·5793 div (T_t+B), 1)) − 12.

    Scale shape: both count tables are token-scale hash aggregations
    BOUNDED at ``n_buckets`` groups (map-side partial combine collapses
    any token volume — the count-min construction); the ≤B-row score
    table and the 1-row totals broadcast; the per-doc rollup is a
    partial-combine integer sum. No windows, no sorts, no Python.
    Output: (doc_id, n_tok, weight_q, wq_per_ktok, keep).
    """
    w = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"dsir{seed}-"), F.col("w"))), 1, 8), 16, 10)
        .cast("long") % n_buckets
    ).alias("b")

    raw_toks = spread(docs).select(F.explode(w).alias("w")).select(bucket)
    tgt_toks = spread(target).select(F.explode(w).alias("w")).select(bucket)
    cr = raw_toks.groupBy("b").agg(F.count("*").alias("cr"))
    ct = tgt_toks.groupBy("b").agg(F.count("*").alias("ct"))
    score = cr.join(ct, "b", "full").select(
        "b",
        (
            _flog2(
                F.greatest(
                    F.expr("(coalesce(ct, 0) + 1) * 5793 div (coalesce(cr, 0) + 1)"),
                    F.lit(1),
                )
            )
            - F.lit(12)
        ).alias("s"),
    )
    totals = cr.agg(F.sum("cr").alias("tr")).crossJoin(ct.agg(F.sum("ct").alias("tt"))).select(
        (
            _flog2(
                F.greatest(
                    F.expr(f"(tr + {n_buckets}) * 5793 div (tt + {n_buckets})"), F.lit(1)
                )
            )
            - F.lit(12)
        ).alias("shift")
    )

    doc_toks = spread(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), F.explode(w).alias("w")
    ).select("doc_id", bucket)
    per_doc = (
        doc_toks.join(F.broadcast(score), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.sum(F.coalesce(F.col("s"), F.lit(-12))).cast("long").alias("sum_s"),
        )
    )
    wq = F.col("sum_s") + F.col("n_tok") * F.col("shift")
    per_k = F.expr("(sum_s + n_tok * shift) * 1000 div n_tok")
    return per_doc.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "n_tok",
        wq.alias("weight_q"),
        per_k.alias("wq_per_ktok"),
        (per_k >= threshold).alias("keep"),
    )


def _flog2(c):
    """floor(log2(c)) for a positive integer column, computed EXACTLY as
    length(binary representation) - 1 — identical in Spark (bin) and the
    DuckDB oracle (format('{:b}')), so no libm/ULP divergence can flip a
    quantized value."""
    return (F.length(F.bin(c)) - F.lit(1)).cast("long")


def corpus_lm_score(
    docs: DataFrame,
    train_mod: int = 2,
    backoff_shift: int = 2,
    unseen_shift: int = 4,
    broadcast_model: bool = True,
) -> DataFrame:
    """CCNet-style n-gram language-model quality scoring (Wenzek et al.
    2020 train a KenLM and keep the low-perplexity tercile; LLaMA's
    pipeline does the same): a bigram LM with stupid backoff (Brants et
    al. 2007) is trained on the ``doc_id % train_mod == 0`` half of the
    corpus and every document is scored by its average per-bigram
    log-probability. Held-out documents exercise the backoff paths.

    Portability construction: per-bigram log2-probabilities are quantized
    to INTEGERS via floor(log2) = binary-digit-count - 1 (exact in both
    engines, see _flog2) BEFORE the per-doc sum, so the sum is
    order-independent integer arithmetic — no float-summation-order or
    libm-ULP hazard anywhere. Scores:

    - seen bigram:            flog2(C2(w1,w2)) - flog2(C1(w1))
    - backoff (w2 seen):      flog2(C1(w2)) - flog2(T) - backoff_shift
      (i.e. alpha = 2^-backoff_shift, the stupid-backoff discount)
    - unseen w2:              -flog2(T) - unseen_shift

    Scale shape: model build = two token-scale hash aggregations with
    map-side partial combine (bigram/unigram tables are vocabulary-bounded
    outputs); scoring BROADCASTS the trained model (unigram + bigram
    tables + the 1-row total) and streams the token-scale pair stream
    through three map-side broadcast hash joins — exactly how a real
    deployment ships a trained LM. The r6 form used shuffle equi-joins on
    the word keys: natural-language word frequencies are Zipfian, so the
    hottest function words each pin an entire shuffle partition (guide
    §2.5 — AQE skew-join splits sort-merge partitions, but a ~31-word
    fixture vocabulary serialized the whole stream onto ≤31 reducers,
    three times; measured 55 s → ~3 s at sf1). The final per-doc rollup
    stays a partial-combine integer sum. No windows, no sorts, no Python.
    A model too big to broadcast falls back to the equi-join plan via
    ``broadcast_model=False`` (identical output either way)."""
    d = F.col("doc_id").cast("long")
    w = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    # MATERIALIZE the word array before any per-position lambda touches it:
    # `element_at(w, i)` with `w` still the raw filter(split(text)) TREE
    # re-evaluates the full split per element (Catalyst does no common-
    # subexpression elimination inside higher-order-function lambdas) —
    # O(len²) string work per document, measured as 38 s of a 43 s query
    # at sf1 just to explode the bigram pairs. One projection makes every
    # element_at O(1).
    ws = F.col("ws")
    prs = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - F.lit(1)),
            lambda i: F.struct(
                F.element_at(ws, i).alias("w1"),
                F.element_at(ws, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = (
        spread(docs).select(d.alias("doc_id"), w.alias("ws"))
        .select("doc_id", F.explode(prs).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )
    toks = spread(docs).filter(d % train_mod == 0).select(
        F.explode(w).alias("w")
    )
    c1 = toks.groupBy("w").agg(F.count("*").alias("c1"))
    c2 = (
        pairs.filter(F.col("doc_id") % train_mod == 0)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    t = toks.agg(F.count("*").alias("tt"))
    if broadcast_model:
        c1, c2 = F.broadcast(c1), F.broadcast(c2)
    scored = (
        pairs.join(c2, ["w1", "w2"], "left")
        .join(c1.withColumnRenamed("w", "w1").withColumnRenamed("c1", "c1_w1"), "w1", "left")
        .join(c1.withColumnRenamed("w", "w2").withColumnRenamed("c1", "c1_w2"), "w2", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "doc_id",
            F.when(F.col("c2").isNotNull(), _flog2(F.col("c2")) - _flog2(F.col("c1_w1")))
            .when(
                F.col("c1_w2").isNotNull(),
                _flog2(F.col("c1_w2")) - _flog2(F.col("tt")) - F.lit(backoff_shift),
            )
            .otherwise(-_flog2(F.col("tt")) - F.lit(unseen_shift))
            .alias("q"),
        )
    )
    a = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.sum("q").alias("score_q")
    )
    return a.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("score_q").cast("long").alias("score_q"),
        F.floor(F.lit(1000) * F.col("score_q") / F.col("n_bigrams"))
        .cast("long")
        .alias("avg_q"),
    )


# ---------------------------------------------------------------------------
# Exact duplicated-span removal (ExactSubstr-style, k-gram construction)
# ---------------------------------------------------------------------------


def substring_dedup(docs: DataFrame, k: int = 6, text_col: str = "text") -> DataFrame:
    """Exact duplicated-substring removal: delete every word position
    covered by a ``k``-gram that occurs more than once ANYWHERE in the
    corpus (including self-repeats inside one document).

    The k-gram construction is the distributed-friendly variant of the
    suffix-array ExactSubstr dedup of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better", §4.1): a suffix array
    needs a global sort of the whole corpus; k-gram occurrence counting is
    one linear explode + one hash-shuffle on the gram hash, and removing
    every occurrence of a duplicated k-gram deletes exactly the positions
    that lie inside some length-``k`` repeat (the paper's aggressive
    remove-all setting). Overlapping duplicated spans need no
    gaps-and-islands merge: coverage is a per-doc position SET, built with
    ``collect_set`` and applied map-side with an index-lambda
    ``F.filter`` over the original word array — so the rebuild is one
    groupBy(gram) + one groupBy(doc) + one equi-join, no windows, no
    sorts, no Python.

    100 TB shape: gram rows are O(total words); the duplicate decision is
    a partial-combine hash count on the gram hash (hot grams combine
    map-side); coverage rows are O(k x duplicated occurrences); the final
    join shuffles on doc_id only. Nothing is quadratic and nothing sorts
    globally. Output is bit-exact cross-engine: integer positions and a
    space-joined rebuild (gram identity never reaches the output).

    r7: the gram key is xxhash64 over the k-word window (16 B rows, no
    per-window concat_ws/md5 string materialization — guide §2.3); window
    equality ⇔ gram-string equality, so the duplicate verdicts match the
    md5-string form modulo a 64-bit collision (verified exact vs the
    DuckDB oracle per graded sf). The old explicit ``.distinct()`` on
    covered positions was dropped: ``collect_set`` already deduplicates
    in-group (with partial merge), so the distinct was a second full
    exchange of the same rows for nothing."""
    docs = spread(docs)  # single-row-group scans serialize the explode
    w = F.split(F.col(text_col), " ")
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), w.alias("w"))
    # (doc_id, start, gram-hash) for every k-window; start is 0-based
    # NB: Spark's sequence(1, 0) yields DESCENDING [1, 0], not empty — docs
    # shorter than k must take the explicit empty-array branch
    gram_arr = F.when(
        F.size("w") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - (k - 1)),
            lambda i: F.xxhash64(F.slice("w", i, k)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    grams = base.select("doc_id", F.posexplode(gram_arr).alias("start", "gh"))
    dup = grams.groupBy("gh").agg(F.count("*").alias("c")).filter(F.col("c") >= 2)
    occ = grams.join(dup.select("gh"), "gh", "left_semi")
    covered = occ.select(
        "doc_id", F.explode(F.sequence(F.col("start"), F.col("start") + (k - 1))).alias("pos")
    )
    cov = covered.groupBy("doc_id").agg(F.collect_set("pos").alias("cov"))
    return (
        base.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_words"),
            F.coalesce(F.size("cov"), F.lit(0)).cast("long").alias("n_removed"),
            F.array_join(
                F.filter("w", lambda x, i: F.coalesce(~F.array_contains("cov", i), F.lit(True))),
                " ",
            ).alias("kept_text"),
        )
    )


# ---------------------------------------------------------------------------
# BM25-style retrieval (integer-exact RSJ odds weighting)
# ---------------------------------------------------------------------------


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    top_k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Top-``top_k`` documents per query under BM25 term-frequency
    saturation (k1=1.2, b=0.75) with the Robertson/Sparck-Jones odds idf
    kept as an exact RATIONAL instead of its log: every quantity is
    integer arithmetic, so scores are bit-identical across Spark, DuckDB,
    executor counts, and retries (an ln()-based idf differs in the last
    ulp between libm implementations and can flip a floor() at the hash
    boundary). Production ranking would take the log; the ORDER of the
    per-term weights is what the surrogate preserves exactly.

    Construction (all BIGINT; div truncates toward zero in both engines,
    every operand is positive):

      AD      = (1000 * total_words) div N            -- avg doc len, milli-words
      tfnorm  = 1e6 * 44*tf*AD div (20*tf*AD + 6*AD + 18000*dl)
                -- == 1e6 * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)), k1=6/5 b=3/4
      contrib = tfnorm * (2*(N-df)+1) div (2*df+1)    -- RSJ odds idf
      score   = sum(contrib) over the query's terms

    Overflow audit at 100 TB (N~1e9 docs, 1e13 words, dl<=1e5):
    1e6*44*tf*AD <= 4.4e17 and tfnorm*idf_num <= 2.2e6*2e9 = 4.4e15,
    both inside int64.

    100 TB shape: the query table is a literal broadcast; tf/df/dl are
    partial-combine hash aggregates over the exploded terms (filtered to
    query terms BEFORE the shuffle, so the aggregated space is tiny); the
    corpus-size scalars ride a one-row broadcast join; the final top-k is
    a row_number window that Spark rewrites to a partial WindowGroupLimit
    (per-partition heap) below the exchange — only k rows per partition
    per query move."""
    spark = docs.sparkSession
    qterms = []
    for qid, qtext in queries:
        for t in qtext.split(" "):
            qterms.append((int(qid), t))
    qdf = F.broadcast(
        spark.createDataFrame(qterms, "query_id long, term string").distinct()
    )
    w = F.split(F.col(text_col), " ")
    # NOT spread (A/B r7): the exploded terms are semi-join-filtered to
    # query terms before any shuffle and the scalar/df aggregates collapse
    # map-side, so the serialized map work is light; the spread exchange
    # measured 2.16 s vs 1.01 s unspread at sf0.1 and 3.38 s vs 1.95 s at
    # 10x (it forced the wide `base` through an extra round-robin pass
    # consumed by BOTH the terms and scalars subtrees).
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), w.alias("w"))
    terms = base.select(
        "doc_id", F.size("w").cast("long").alias("dl"), F.explode("w").alias("term")
    ).join(qdf.select("term").distinct(), "term", "left_semi")
    tf = terms.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf"), F.first("dl").alias("dl")
    )
    df_ = terms.groupBy("term").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    scalars = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size("w")).cast("long").alias("total_words"),
    ).withColumn("ad", F.expr("1000 * total_words div n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(scalars))
        .join(qdf, "term")
        .withColumn(
            "tfnorm",
            F.expr("1000000 * 44 * tf * ad div (20 * tf * ad + 6 * ad + 18000 * dl)"),
        )
        .withColumn("contrib", F.expr("tfnorm * (2 * (n_docs - df) + 1) div (2 * df + 1)"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").cast("long").alias("score"))
    )
    from pyspark.sql import Window

    rank_w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "score", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source sampling (mT5-style multilingual reweighting)
# ---------------------------------------------------------------------------


def temperature_sample(
    docs: DataFrame,
    *,
    temperature_log2: int = 1,
    target_num: int = 1,
    target_den: int = 2,
    domain_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "temp",
) -> DataFrame:
    """Temperature-scaled mixture sampling (the mT5 / multilingual-T5
    rule, Xue et al. 2021 — public literature): sample so the kept count
    per domain is proportional to ``n_domain^(1/T)`` instead of
    ``n_domain`` — flattening head domains and protecting tail ones —
    with an overall budget of ``target_num/target_den`` of the corpus.

    INTEGER-EXACT construction (the repo's cross-engine discipline; no
    float pow/sqrt anywhere, so no libm/ulp portability hazard):

    - ``T = 2^temperature_log2``; the weight ``w = n^(1/T)`` is computed
      as ``temperature_log2`` NESTED integer square roots
      (``isqrt(isqrt(n))`` for T=4, etc. — ``floor(sqrt(floor(sqrt(n))))
      == floor(n^(1/4))`` holds exactly for integers).
    - Domain counts come from ONE bounded aggregate (O(#domains) driver
      rows). The per-domain keep threshold is a PYTHON BIG-INT floor
      division ``(target_num * N * w * 2^32) // (target_den * sw * n)``
      (capped at 2^32 — filtering cannot upsample), embedded as an int64
      literal.
    - The row decision is ``uint32(md5(salt||id)) < threshold`` — the
      engine-portable md5 draw shared with mixture_sample, row-local,
      zero shuffle, stable under retries and any partitioning.

    Expected kept rows per domain: ``target·N·w_s/Σw`` (exact rate
    ``thr_s/2^32``). Returns the surviving rows unchanged."""
    if temperature_log2 < 0:
        raise ValueError("temperature_log2 must be >= 0")
    if target_num <= 0 or target_den <= 0:
        raise ValueError("target fraction must be positive")
    import math

    counts = {
        r["d"]: int(r["n"])
        for r in docs.groupBy(F.col(domain_col).alias("d"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if not counts:
        return docs
    total = sum(counts.values())

    def w(n: int) -> int:
        for _ in range(temperature_log2):
            n = math.isqrt(n)
        return n

    weights = {d: w(n) for d, n in counts.items()}
    sw = sum(weights.values())
    thr = {
        d: min(
            1 << 32,
            (target_num * total * weights[d] * (1 << 32))
            // (target_den * sw * counts[d]),
        )
        for d in counts
    }
    h32 = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "-"), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    expr = F.lit(0).cast("long")
    for d, t in sorted(thr.items()):
        expr = F.when(F.col(domain_col) == d, F.lit(t).cast("long")).otherwise(expr)
    return docs.filter(h32 < expr)

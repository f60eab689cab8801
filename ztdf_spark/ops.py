"""Vectorized operator layer — the Spark-first re-expression of the four
reference processors (SURVEY.md §2.1).

Design (idiomatic Spark, not a port of NiFi's record-at-a-time loop):

- **Validity routing is Catalyst-side.** The reference's pre-flight checks
  (no data attribute → failure, AbstractToProcessor.java:94-101; no KAS URL
  anywhere → failure, :56-70; nano oversize → exceeds_size_limit,
  ConvertToNanoTDF.java:110-112) are pure ``when/otherwise`` column
  expressions evaluated inside whole-stage codegen *before* any Python is
  invoked — rows that will fail never pay the Arrow transfer + crypto cost.
- **Crypto is an iterator-of-batches pandas UDF** (Arrow transport, no
  per-row Python dispatch). The iterator form gives a per-Python-worker
  initialization point — the analog of the reference's lazy per-process SDK
  singleton (AbstractTDFProcessor.java:139-161) — where KEK cipher objects
  are derived once and cached.
- **Per-record failure isolation**: exceptions are caught *inside* the UDF
  per row and surfaced as an ``error`` column; a raised exception would kill
  the Spark task, unlike NiFi's per-record try/catch
  (ConvertToZTDF.java:230-236). Failed rows keep their original content,
  matching the reference's failure-route contract
  (ConvertToZTDFTest.java:67-71).
"""

from __future__ import annotations

import functools
import json
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import tdf
from .settings import NANO_MAX_SIZE, NANO_MIME, ZTDF_MIME, Settings

ERR_NO_ATTRS = "no data attribute(s) provided"
ERR_NO_KAS = "no KAS URL provided via attribute or property"
ERR_OVERSIZE = "exceeds_size_limit"

ROUTE_SUCCESS = "success"
ROUTE_FAILURE = "failure"
ROUTE_OVERSIZE = "exceeds_size_limit"

_ENCRYPT_RESULT = T.StructType(
    [
        T.StructField("ciphertext", T.BinaryType()),
        T.StructField("error", T.StringType()),
    ]
)
_DECRYPT_RESULT = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("error", T.StringType()),
    ]
)


def _csv_nonempty(col: Column) -> Column:
    """Comma-split, trim, drop empties — the columnar analog of the
    reference's ``Arrays.stream(s.split(",")).filter(not empty)``
    (AbstractToProcessor.java:56-70, :94-101)."""
    return F.filter(F.transform(F.split(col, ","), F.trim), lambda x: x != "")


def resolved_kas(settings: Settings, kas_col: str = "kas_url") -> Column:
    """Row attribute overrides the job-level default (AbstractToProcessor.java:56-62)."""
    default = F.lit(settings.default_kas_url) if settings.default_kas_url else F.lit(None).cast("string")
    return _csv_nonempty(F.coalesce(F.nullif(F.trim(F.col(kas_col)), F.lit("")), default))


def resolved_attrs(attr_col: str = "tdf_attribute") -> Column:
    return _csv_nonempty(F.coalesce(F.col(attr_col), F.lit("")))


def payload_nbytes(tokens_col: str = "tokens", n_tok_col: str = "n_tok", *, has_n_tok: bool = False) -> Column:
    """Serialized payload size = 4 bytes per int32 token.

    With ``has_n_tok`` the expression references ONLY the n_tok column —
    critical for column pruning: a routing-only scan must never force the
    parquet reader to decode the (dominant-width) tokens column. The binlog
    contract (BASELINE.json input_hint) carries n_tok on every event."""
    if has_n_tok:
        return F.col(n_tok_col).cast("long") * F.lit(4)
    n = F.coalesce(F.col(n_tok_col).cast("long"), F.size(F.col(tokens_col)).cast("long"))
    return n * F.lit(4)


ERR_BAD_ASSERTION = "invalid assertion document"

_ASSERTION_ARRAY = T.ArrayType(
    T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("scope", T.StringType()),
            T.StructField("appliesToState", T.StringType()),
            T.StructField(
                "statement",
                T.StructType(
                    [T.StructField("value", T.StringType()), T.StructField("format", T.StringType())]
                ),
            ),
        ]
    )
)


def assertions_invalid(col: Column) -> Column:
    """Catalyst-side assertion validation mirroring the reference's required
    fields + enum domains (ConvertToZTDF.java:128-133,145-178): malformed
    JSON (from_json → null) or any element failing scope/statement.format/
    appliesToState/type checks. Lets the engine detect every failure mode
    BEFORE the crypto stage, so dedup-then-encrypt never hides a failing
    winner (per-event failure parity with the reference at zero Python cost)."""
    parsed = F.from_json(col, _ASSERTION_ARRAY)
    elem_ok = lambda a: (  # noqa: E731
        a["scope"].isin(*tdf.ASSERTION_SCOPES)
        & a["statement"].isNotNull()
        & a["statement"]["format"].isNotNull()
        & a["appliesToState"].isin(*tdf.ASSERTION_STATES)
        & a["type"].isin(*tdf.ASSERTION_TYPES)
    )
    # malformed JSON reads as one element that fails the check (its null
    # ``statement`` makes elem_ok false whatever the other fields hold), so
    # the gate parses once; ``exists(!ok)`` keeps ``~forall(ok)``'s
    # three-valued result, null when an enum field is null
    failing = F.array(
        F.struct(*[F.lit(None).cast(f.dataType).alias(f.name)
                   for f in _ASSERTION_ARRAY.elementType.fields])
    )
    # CASE WHEN short-circuits: rows without assertions (the vast majority)
    # never pay the from_json parse
    return F.when(col.isNull(), F.lit(False)).otherwise(
        F.exists(F.coalesce(parsed, failing), lambda a: ~elem_ok(a))
    )


def pre_route_column(
    settings: Settings, fmt: str = "ztdf", *, has_op: bool = True,
    has_assertions: bool = True, has_n_tok: bool = True,
) -> Column:
    """The validity gate as one nullable error-string Column (null = valid).

    Evaluation order matches the reference: KAS resolution first
    (AbstractToProcessor.java:56-70 raised before the attribute check at
    :94-101 in getKasUrl/getDataAttributes call order, ConvertToZTDF.java:201-202),
    then attributes, then (nano only) the size gate — which in the reference
    runs before config resolution (ConvertToNanoTDF.java:110-112), so here the
    oversize check wins over the other two for nano.

    Delete events (op='D') carry no payload and bypass the gate.

    The Column references input columns by name only, so one build serves
    every frame with the same ``has_*`` shape: building it costs ~0.1 s of
    Py4J lambda construction (``transform``/``filter``/``forall``), which a
    micro-batch loop should pay once, not per batch."""
    is_change = F.col("op").isin("I", "U") if has_op else F.lit(True)
    checks = F.when(F.size(resolved_kas(settings)) == 0, F.lit(ERR_NO_KAS)).when(
        F.size(resolved_attrs()) == 0, F.lit(ERR_NO_ATTRS)
    )
    if has_assertions and fmt == "ztdf":
        checks = checks.when(assertions_invalid(F.col("assertions")), F.lit(ERR_BAD_ASSERTION))
    if fmt == "nano":
        nbytes = payload_nbytes(has_n_tok=has_n_tok)
        checks = F.when(nbytes > NANO_MAX_SIZE, F.lit(ERR_OVERSIZE)).otherwise(checks)
    return F.when(is_change, checks)


def with_pre_route(df: DataFrame, settings: Settings, fmt: str = "ztdf") -> DataFrame:
    """Catalyst-only validity gate → nullable ``pre_error`` column
    (``pre_route_column`` over ``df``'s shape)."""
    cols = df.columns
    gate = pre_route_column(
        settings, fmt, has_op="op" in cols, has_assertions="assertions" in cols,
        has_n_tok="n_tok" in cols,
    )
    return df.withColumn("pre_error", gate)


def with_encrypt_defaults(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Add the optional binlog columns the encrypt stage reads, as nulls
    (``op`` as an update, ``n_tok`` from ``tokens``), in ONE projection;
    ``df`` unchanged when nothing is missing."""
    have = set(df.columns if columns is None else columns)
    defaults = {
        "op": lambda: F.lit("U"),
        "kas_url": lambda: F.lit(None).cast("string"),
        "tdf_attribute": lambda: F.lit(None).cast("string"),
        "assertions": lambda: F.lit(None).cast("string"),
        "n_tok": lambda: F.size("tokens"),
    }
    missing = {c: make() for c, make in defaults.items() if c not in have}
    return df.withColumns(missing) if missing else df


def _encrypt_pandas(
    settings: Settings, fmt: str
) -> "pd.api.extensions.ExtensionArray":  # returns a pandas_udf, typed loosely
    master = settings.master_secret
    signing_pem = settings.signing_key_pem if settings.sign_assertions else None
    default_kas = settings.default_kas_url
    container = settings.container_format
    wrap_mode = settings.wrap_mode
    nano_ecdsa = settings.nano_ecdsa_binding

    @F.pandas_udf(_ENCRYPT_RESULT)
    def encrypt_udf(
        it: Iterator[Tuple[pd.Series, pd.Series, pd.Series, pd.Series, pd.Series, pd.Series, pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        # per-worker init (lazy SDK-singleton analog, AbstractTDFProcessor.java:139-161)
        if fmt == "ztdf":
            encrypt = tdf.ZtdfEncryptor(
                master, signing_pem, container=container, wrap_mode=wrap_mode
            ).encrypt
        else:
            encrypt = functools.partial(
                tdf.encrypt_nano, container=container, ecdsa_binding=nano_ecdsa
            )
        resolve_cache: dict[tuple, tuple] = {}
        assertion_cache: dict[str, list] = {}

        for doc_id, lsn, op, tokens, kas_url, attrs_s, asserts_s, pre_err, sign_f in it:
            n = len(doc_id)
            out_ct: list = [None] * n
            out_err: list = [None] * n
            # plain python lists: ~10x cheaper element access than Series.iloc
            doc_l = doc_id.tolist()
            lsn_l = lsn.fillna(0).astype("int64").tolist()
            op_l = op.tolist()
            tok_l = tokens.tolist() if tokens.dtype != object else tokens.to_numpy()
            kas_l = kas_url.tolist()
            attrs_l = attrs_s.tolist()
            ass_l = asserts_s.tolist()
            pre_l = pre_err.tolist()
            # per-row SIGN_ASSERTIONS decision (EL-evaluated Catalyst-side;
            # constant False/True when the property has no EL)
            sign_l = sign_f.fillna(False).tolist()
            for i in range(n):
                pe = pre_l[i]
                if pe is not None:
                    out_err[i] = pe
                    continue
                if op_l[i] == "D":
                    continue  # deletes carry no payload
                try:
                    key = (kas_l[i], attrs_l[i])
                    resolved = resolve_cache.get(key)
                    if resolved is None:
                        if len(resolve_cache) >= 4096:  # bound per-worker memory
                            resolve_cache.clear()
                        resolved = (
                            tdf.resolve_kas_urls(kas_l[i], default_kas),
                            tdf.resolve_data_attributes(attrs_l[i]),
                        )
                        resolve_cache[key] = resolved
                    kas_list, attr_list = resolved
                    a_json = ass_l[i]
                    assertions = ()
                    if a_json:
                        assertions = assertion_cache.get(a_json)
                        if assertions is None:
                            if len(assertion_cache) >= 4096:
                                assertion_cache.clear()
                            assertions = tdf.parse_assertions_json(a_json)
                            assertion_cache[a_json] = assertions
                    payload = np.asarray(tok_l[i], dtype="<i4").tobytes()
                    if fmt == "ztdf":
                        out_ct[i] = encrypt(
                            payload,
                            doc_id=doc_l[i],
                            lsn=lsn_l[i],
                            kas_urls=kas_list,
                            data_attributes=attr_list,
                            assertions=assertions,
                            master_secret=master,
                            signing_key_pem=signing_pem,
                            sign=bool(sign_l[i]),
                        )
                    else:
                        out_ct[i] = encrypt(
                            payload,
                            doc_id=doc_l[i],
                            lsn=lsn_l[i],
                            kas_urls=kas_list,
                            data_attributes=attr_list,
                            master_secret=master,
                        )
                except Exception as e:  # per-record isolation, never kill the task
                    out_err[i] = str(e) or type(e).__name__
            yield pd.DataFrame({"ciphertext": out_ct, "error": out_err})

    return encrypt_udf


def encrypt_batch(df: DataFrame, settings: Settings, fmt: str = "ztdf") -> DataFrame:
    """ConvertToZTDF / ConvertToNanoTDF analog over a whole DataFrame.

    Adds: ``pre_error`` (Catalyst gate), ``ciphertext`` (binary envelope),
    ``error``, ``route`` ∈ {success, failure, exceeds_size_limit}, and
    ``mime_type`` (``application/ztdf+zip`` on ZTDF success,
    ConvertToZTDF.java:228). Original columns (incl. ``tokens``) are
    preserved so failure routes keep the original content.
    """
    exprs = _encrypt_exprs(settings, fmt)
    gated = with_pre_route(with_encrypt_defaults(df), settings, fmt)
    return _encrypt_gated(gated, *exprs).drop("_enc", "pre_error")


def _encrypt_exprs(settings: Settings, fmt: str) -> tuple[Column, dict[str, Column]]:
    """The encrypt stage as Columns: the UDF call ``_enc`` over a gated
    frame's columns (every column the UDF reads plus ``pre_error``) and
    the output Columns derived from it. They reference columns by name
    only, so a micro-batch loop builds them once and reuses them."""
    if fmt not in ("ztdf", "nano"):
        raise ValueError(f"fmt must be ztdf|nano, got {fmt}")
    # SIGN_ASSERTIONS: the reference's EL-capable property
    # (AbstractTDFProcessor.java:123-129) — a template evaluates per row in
    # Catalyst; a plain bool is a constant column. The flag rides into the
    # UDF so the per-worker encryptor caches signed and unsigned manifest
    # templates separately.
    if isinstance(settings.sign_assertions, str):
        from .el import compile_template

        sign_col = compile_template(settings.sign_assertions).cast("boolean")
    else:
        sign_col = F.lit(bool(settings.sign_assertions))
    # asNondeterministic: Catalyst's projection collapse would otherwise
    # DUPLICATE the UDF expression into one ArrowEvalPython per referenced
    # struct field (ciphertext, error) — running the crypto twice per row
    # (verified via .explain: two stacked ArrowEvalPython nodes). Marking it
    # nondeterministic pins a single evaluation whose result is shared.
    udf = _encrypt_pandas(settings, fmt).asNondeterministic()
    enc = udf(
        F.col("doc_id").cast("string"),
        F.col("lsn").cast("long"),
        F.col("op"),
        F.col("tokens"),
        F.col("kas_url"),
        F.col("tdf_attribute"),
        F.col("assertions"),
        F.col("pre_error"),
        sign_col,
    )
    mime = ZTDF_MIME if fmt == "ztdf" else NANO_MIME
    ct, err = F.col("_enc.ciphertext"), F.col("_enc.error")
    outputs = {
        "ciphertext": ct,
        "error": err,
        "route": F.when(err == ERR_OVERSIZE, F.lit(ROUTE_OVERSIZE))
        .when(err.isNotNull(), F.lit(ROUTE_FAILURE))
        .otherwise(F.lit(ROUTE_SUCCESS)),
        # route success ⇔ error is null
        "mime_type": F.when(err.isNull() & ct.isNotNull(), F.lit(mime)),
    }
    return enc, outputs


def _encrypt_gated(gated: DataFrame, enc: Column, outputs: dict[str, Column]) -> DataFrame:
    """Apply ``_encrypt_exprs``: one UDF projection (``_enc``), then ONE
    projection adding the outputs (an input column of the same name is
    replaced in place). ``_enc`` and ``pre_error`` stay on the result for
    the caller to drop or project away."""
    return gated.withColumn("_enc", enc).withColumns(outputs)


def _decrypt_pandas(settings: Settings, fmt: str):
    master = settings.master_secret
    verify = settings.verify_assertions
    verify_pem = settings.verification_key_pem or settings.signing_key_pem

    @F.pandas_udf(_DECRYPT_RESULT)
    def decrypt_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        if fmt == "ztdf":
            def decrypt(blob):
                return tdf.decrypt_ztdf(
                    blob, master_secret=master,
                    verify_assertions=verify, verification_key_pem=verify_pem,
                )
        else:
            def decrypt(blob):
                return tdf.decrypt_nano(blob, master_secret=master)
        for blobs in it:
            toks: list = [None] * len(blobs)
            errs: list = [None] * len(blobs)
            for i, blob in enumerate(blobs):
                if blob is None:
                    continue
                try:
                    toks[i] = np.frombuffer(decrypt(bytes(blob)), dtype="<i4")
                except Exception as e:
                    errs[i] = str(e) or type(e).__name__
            yield pd.DataFrame({"tokens": toks, "error": errs})

    return decrypt_udf


def decrypt_batch(
    df: DataFrame, settings: Settings, fmt: str = "ztdf", blob_col: str = "ciphertext"
) -> DataFrame:
    """ConvertFromZTDF / ConvertFromNanoTDF analog: adds ``tokens_out`` and
    ``decrypt_error`` columns; corrupt envelopes fail row-level, batch
    survives (ConvertFromZTDF.java:88-91)."""
    udf = _decrypt_pandas(settings, fmt).asNondeterministic()  # see encrypt_batch
    res = df.withColumn("_dec", udf(F.col(blob_col)))
    return (
        res.withColumn("tokens_out", F.col("_dec.tokens"))
        .withColumn("decrypt_error", F.col("_dec.error"))
        .drop("_dec")
    )


_REWRAP_RESULT = T.StructType(
    [
        T.StructField("ciphertext", T.BinaryType()),
        T.StructField("error", T.StringType()),
    ]
)


def rewrap_batch(
    df: DataFrame, settings: Settings, new_kas_urls: list[str], blob_col: str = "ciphertext"
) -> DataFrame:
    """KAS key-rotation over a whole DataFrame of ZTDF envelopes: DEKs are
    re-wrapped for ``new_kas_urls`` in a map-only Arrow-batched pass;
    payload ciphertext is untouched (no payload crypto → ~20× cheaper than
    re-encryption). Per-record failure isolation as everywhere else; adds
    ``ciphertext_rewrapped`` + ``rewrap_error``.

    Composition with the lake: run over ``table.read()`` and MERGE the
    rewrapped rows back at the same (doc_id, lsn) — deterministic rewrap
    makes the operation idempotent.
    """
    master = settings.master_secret
    urls = tuple(new_kas_urls)

    @F.pandas_udf(_REWRAP_RESULT)
    def rewrap_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for blobs in it:
            out: list = [None] * len(blobs)
            errs: list = [None] * len(blobs)
            for i, blob in enumerate(blobs):
                if blob is None:
                    continue
                try:
                    out[i] = tdf.rewrap_ztdf(bytes(blob), master_secret=master, kas_urls=urls)
                except Exception as e:
                    errs[i] = str(e) or type(e).__name__
            yield pd.DataFrame({"ciphertext": out, "error": errs})

    udf = rewrap_udf.asNondeterministic()  # see encrypt_batch
    res = df.withColumn("_rw", udf(F.col(blob_col)))
    return (
        res.withColumn("ciphertext_rewrapped", F.col("_rw.ciphertext"))
        .withColumn("rewrap_error", F.col("_rw.error"))
        .drop("_rw")
    )


def split_routes(df: DataFrame) -> dict[str, DataFrame]:
    """Relationship fan-out (AbstractTDFProcessor.java:87-103,
    ConvertToNanoTDF.java:63-66) as filtered views — Catalyst pushes each
    filter into the shared plan; with the input cached/persisted by the
    caller these are three cheap scans of one in-memory batch."""
    return {
        ROUTE_SUCCESS: df.filter(F.col("route") == ROUTE_SUCCESS),
        ROUTE_FAILURE: df.filter(F.col("route") == ROUTE_FAILURE),
        ROUTE_OVERSIZE: df.filter(F.col("route") == ROUTE_OVERSIZE),
    }


def latest_wins(df: DataFrame, key: str = "doc_id", seq: str = "lsn") -> DataFrame:
    """Latest-wins dedup within a batch: keep the row with max(seq) per key.

    Implemented as ``max_by(struct(*), seq)`` — a declarative aggregate with
    map-side partial aggregation, so each shuffle partition receives at most
    one pre-reduced row per (key, map-partition): hot keys are combined
    locally before the exchange (the two-phase salted reduce of SURVEY.md §4
    item 1, expressed natively; no manual salt column needed for the agg).
    """
    cols = [c for c in df.columns]
    packed = df.groupBy(key).agg(
        F.max_by(F.struct(*[F.col(c) for c in cols if c != key]), F.col(seq)).alias("_top")
    )
    return packed.select(key, *[F.col(f"_top.{c}").alias(c) for c in cols if c != key])


def broadcast_key_limit(spark) -> int:
    """Max narrow-key-set size we broadcast in merge/dedup joins; above it,
    shuffled hash joins. Tune per deployment via spark.ztdf.broadcastKeyLimit.

    Heap sizing: a broadcast winner row is ~30 B of data but ~60-100 B as a
    JVM hashed relation, and EVERY executor holds one full copy next to its
    scan/shuffle buffers — the default 8M keys ≈ 0.5-0.8 GB, safe for the
    4 GB+ executor heaps this engine targets (the scaling bench runs 12 GB
    executors at exactly this limit). Raise it only with the heap to match;
    above the limit the join degrades gracefully to shuffled-hash (never
    sort-merge — sorting wide rows is the cost this knob exists to avoid)."""
    return int(spark.conf.get("spark.ztdf.broadcastKeyLimit", "8000000"))


def latest_wins_join(
    df: DataFrame, key: str = "doc_id", seq: str = "lsn", broadcast_keys: bool = True
) -> DataFrame:
    """Latest-wins dedup as (narrow hash-agg → join back), for WIDE rows.

    ``max_by(struct(*))`` falls back to sort-based aggregation (struct agg
    buffers aren't hash-aggregable), which sorts the full-width rows twice —
    measured as the dominant GC/CPU cost on 1M-row batches. Here the winner
    set is computed as ``max(seq) per key`` (pure HashAggregate with
    map-side partial combine — hot keys pre-reduced), then joined back to
    fetch the winning rows. With ``broadcast_keys`` the join is a broadcast
    hash join: the wide rows are NEVER shuffled at all.

    Requires (key, seq) unique within ``df`` (true for any WAL/binlog batch:
    LSNs are unique). For inputs that may repeat (key, seq), use
    ``latest_wins`` (arbitrary-but-single winner per key).
    """
    winner_keys = df.groupBy(key).agg(F.max(seq).alias(seq))
    if broadcast_keys:
        winner_keys = F.broadcast(winner_keys)
    else:
        # above the broadcast threshold: force a shuffled HASH join — the
        # default sort-merge join would sort the full-width rows (the exact
        # cost this operator exists to avoid)
        winner_keys = winner_keys.hint("shuffle_hash")
    return df.join(winner_keys, on=[key, seq], how="inner")


def latest_wins_salted(
    df: DataFrame, key: str = "doc_id", seq: str = "lsn", salt_buckets: int = 32
) -> DataFrame:
    """Explicit two-phase salted latest-wins (north rule: 'partitioning /
    shuffle / skew handled explicitly').

    Phase 1 reduces per (key, hash(seq) % salt_buckets) so a pathological
    hot key's rows spread across ``salt_buckets`` reducers; phase 2 reduces
    the ≤salt_buckets survivors per key. Semantically identical to
    ``latest_wins`` (property-tested). Use when the plan cannot rely on
    map-side partial aggregation — e.g. after a window/row_number rewrite,
    or when a single key exceeds one reducer's memory even post-combine.
    """
    cols = [c for c in df.columns]
    others = [c for c in cols if c != key]
    salted = df.withColumn("_salt", F.pmod(F.hash(F.col(seq)), F.lit(salt_buckets)))
    phase1 = salted.groupBy(key, "_salt").agg(
        F.max_by(F.struct(*[F.col(c) for c in others]), F.col(seq)).alias("_top")
    )
    phase2 = phase1.groupBy(key).agg(
        F.max_by(F.col("_top"), F.col(f"_top.{seq}")).alias("_top")
    )
    return phase2.select(key, *[F.col(f"_top.{c}").alias(c) for c in others])

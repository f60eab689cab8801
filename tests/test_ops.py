"""Operator-layer tests over Spark DataFrames — mirrors the reference's
TestRunner assertions table-level (FIXTURES.md §4 routing cases)."""

import json

import pytest
from pyspark.sql import functions as F

from ztdf_spark import ops, tdf
from ztdf_spark.datagen import BINLOG_DDL, CANON_ATTR
from ztdf_spark.settings import NANO_MAX_SIZE, NANO_MIME, ZTDF_MIME, Settings

ASSERTION_JSON = json.dumps(
    [
        {
            "id": "1111",
            "type": "handling",
            "scope": "payload",
            "appliesToState": "unencrypted",
            "statement": {"value": "a test assertion", "format": "sample"},
        }
    ]
)


def _rows_df(spark, rows):
    return spark.createDataFrame(rows, schema=BINLOG_DDL)


@pytest.fixture(scope="module")
def routing_cases(spark):
    rows = [
        # (lsn, op, doc_id, tokens, n_tok, source, kas_url, tdf_attribute, assertions)
        (1, "I", "ok", [1, 2, 3], 3, "web", None, CANON_ATTR, None),
        (2, "I", "no-attrs", [4, 5], 2, "web", None, None, None),
        (3, "I", "two-attrs", [6], 1, "web", None, f"{CANON_ATTR},https://a/attr/x/value/b", None),
        (4, "I", "kas-override", [7], 1, "web", "https://kas2", CANON_ATTR, None),
        (5, "I", "assertion", [8, 9], 2, "web", None, CANON_ATTR, ASSERTION_JSON),
        (6, "D", "deleted", None, None, None, None, None, None),
        (7, "I", "bad-assertion", [1], 1, "web", None, CANON_ATTR, '[{"type":"weird"}]'),
    ]
    return _rows_df(spark, rows)


def test_routes_and_mime(routing_cases, settings):
    out = ops.encrypt_batch(routing_cases, settings, fmt="ztdf")
    got = {r["doc_id"]: r for r in out.collect()}
    assert got["ok"]["route"] == "success" and got["ok"]["mime_type"] == ZTDF_MIME
    # no-attrs → failure with original content preserved (ConvertToZTDFTest.java:49-50,67-71)
    assert got["no-attrs"]["route"] == "failure"
    assert got["no-attrs"]["error"] == ops.ERR_NO_ATTRS
    assert got["no-attrs"]["tokens"] == [4, 5]
    assert got["no-attrs"]["ciphertext"] is None
    assert got["two-attrs"]["route"] == "success"
    assert got["kas-override"]["route"] == "success"
    assert got["assertion"]["route"] == "success"
    # malformed assertion JSON → per-record failure, batch survives
    assert got["bad-assertion"]["route"] == "failure"
    # delete events pass through with no payload
    assert got["deleted"]["route"] == "success" and got["deleted"]["ciphertext"] is None


def test_policy_and_kas_in_envelope(routing_cases, settings):
    out = ops.encrypt_batch(routing_cases, settings, fmt="ztdf")
    rows = {r["doc_id"]: r for r in out.filter(F.col("route") == "success").collect()}
    import base64

    m = tdf.read_manifest(bytes(rows["two-attrs"]["ciphertext"]))
    policy = json.loads(base64.b64decode(m["encryptionInformation"]["policy"]))
    assert len(policy["body"]["dataAttributes"]) == 2  # ConvertToZTDFTest.java:173-179
    m2 = tdf.read_manifest(bytes(rows["kas-override"]["ciphertext"]))
    assert m2["encryptionInformation"]["keyAccess"][0]["url"] == "https://kas2"  # :54-55
    m3 = tdf.read_manifest(bytes(rows["ok"]["ciphertext"]))
    assert m3["encryptionInformation"]["keyAccess"][0]["url"] == Settings().default_kas_url
    m4 = tdf.read_manifest(bytes(rows["assertion"]["ciphertext"]))
    assert m4["assertions"][0]["id"] == "1111"


def test_no_kas_anywhere_fails(spark):
    s = Settings(default_kas_url=None)
    df = _rows_df(spark, [(1, "I", "d", [1], 1, "web", None, CANON_ATTR, None)])
    out = ops.encrypt_batch(df, s, fmt="ztdf").collect()[0]
    assert out["route"] == "failure" and out["error"] == ops.ERR_NO_KAS


def test_roundtrip_token_equality(routing_cases, settings):
    enc = ops.encrypt_batch(routing_cases, settings, fmt="ztdf")
    dec = ops.decrypt_batch(enc.filter(F.col("route") == "success"), settings, fmt="ztdf")
    for r in dec.filter(F.col("ciphertext").isNotNull()).collect():
        assert r["decrypt_error"] is None
        assert list(r["tokens_out"]) == list(r["tokens"])


def test_nano_roundtrip_and_oversize_gate(spark, settings):
    big_n_tok = NANO_MAX_SIZE // 4 + 10
    rows = [
        (1, "I", "small", [1, 2], 2, "web", None, CANON_ATTR, None),
        # oversize is gated Catalyst-side on n_tok*4 — no giant array materialized
        (2, "I", "huge", [0], big_n_tok, "web", None, CANON_ATTR, None),
    ]
    df = _rows_df(spark, rows)
    out = ops.encrypt_batch(df, settings, fmt="nano")
    got = {r["doc_id"]: r for r in out.collect()}
    assert got["small"]["route"] == "success" and got["small"]["mime_type"] == NANO_MIME
    # oversize → exceeds_size_limit with content untouched (ConvertToNanoTDFTest.java:84-87,105-109)
    assert got["huge"]["route"] == "exceeds_size_limit"
    assert got["huge"]["ciphertext"] is None and got["huge"]["tokens"] == [0]
    dec = ops.decrypt_batch(out.filter(F.col("doc_id") == "small"), settings, fmt="nano").collect()[0]
    assert list(dec["tokens_out"]) == [1, 2]


def test_corrupt_ciphertext_row_level_failure(spark, settings):
    df = _rows_df(
        spark,
        [(1, "I", "a", [1, 2], 2, "web", None, CANON_ATTR, None),
         (2, "I", "b", [3, 4], 2, "web", None, CANON_ATTR, None)],
    )
    enc = ops.encrypt_batch(df, settings, fmt="ztdf")
    corrupted = enc.withColumn(
        "ciphertext",
        F.when(F.col("doc_id") == "b", F.expr("substring(ciphertext, 1, length(ciphertext)-1)")).otherwise(
            F.col("ciphertext")
        ),
    )
    dec = {r["doc_id"]: r for r in ops.decrypt_batch(corrupted, settings, "ztdf").collect()}
    assert dec["a"]["decrypt_error"] is None and list(dec["a"]["tokens_out"]) == [1, 2]
    assert dec["b"]["decrypt_error"] is not None and dec["b"]["tokens_out"] is None


def test_split_routes(routing_cases, settings):
    out = ops.encrypt_batch(routing_cases, settings, fmt="ztdf")
    routes = ops.split_routes(out)
    assert routes["success"].count() == 5
    assert routes["failure"].count() == 2
    assert routes["exceeds_size_limit"].count() == 0


def test_latest_wins_dedup(spark):
    rows = [
        (1, "I", "a", [1], 1, "web", None, CANON_ATTR, None),
        (5, "U", "a", [5], 1, "web", None, CANON_ATTR, None),
        (3, "U", "a", [3], 1, "web", None, CANON_ATTR, None),
        (2, "I", "b", [2], 1, "web", None, CANON_ATTR, None),
    ]
    out = ops.latest_wins(_rows_df(spark, rows))
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 2
    assert got["a"]["lsn"] == 5 and got["a"]["tokens"] == [5]
    assert got["b"]["lsn"] == 2


def test_deterministic_ciphertext_across_runs(routing_cases, settings):
    a = {r["doc_id"]: r["ciphertext"] for r in ops.encrypt_batch(routing_cases, settings).collect()}
    b = {r["doc_id"]: r["ciphertext"] for r in ops.encrypt_batch(routing_cases, settings).collect()}
    assert a == b


def test_latest_wins_salted_equals_plain(spark):
    import random

    random.seed(5)
    rows = []
    for i in range(500):
        doc = "hot" if random.random() < 0.6 else f"d{random.randrange(30)}"
        rows.append((i, "U", doc, [i], 1, "web", None, CANON_ATTR, None))
    df = _rows_df(spark, rows)
    a = {r["doc_id"]: r["lsn"] for r in ops.latest_wins(df).collect()}
    b = {r["doc_id"]: r["lsn"] for r in ops.latest_wins_salted(df, salt_buckets=8).collect()}
    assert a == b
    assert a["hot"] == max(l for l, *_rest in [(r[0],) for r in rows if r[2] == "hot"])


def test_decrypt_batch_assertion_verification_row_level(spark):
    """verify_assertions=True end-to-end: a tampered signed assertion fails
    ONLY its own record (per-record isolation), valid rows still decrypt."""
    import json as _json

    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import rsa

    from ztdf_spark import tdf
    from ztdf_spark.settings import Settings

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    priv = key.private_bytes(
        serialization.Encoding.PEM, serialization.PrivateFormat.PKCS8, serialization.NoEncryption()
    )
    s = Settings(
        sign_assertions=True, signing_key_pem=priv,
        verify_assertions=True, verification_key_pem=priv,
    )
    adoc = _json.dumps([
        {"id": "1", "type": "handling", "scope": "payload",
         "appliesToState": "unencrypted",
         "statement": {"value": "classified", "format": "txt"}}
    ])
    df = spark.createDataFrame(
        [("d1", 1, [1, 2], adoc), ("d2", 2, [3, 4], adoc)],
        "doc_id string, lsn long, tokens array<int>, assertions string",
    ).withColumn("tdf_attribute", F.lit("https://a/attr/x/value/y"))
    enc = ops.encrypt_batch(df, s, fmt="ztdf")
    rows = {r["doc_id"]: bytes(r["ciphertext"]) for r in enc.collect()}
    # tamper d2's manifest assertion text
    blob = rows["d2"]
    import struct as _s

    mlen = _s.unpack("<I", blob[5:9])[0]
    m = blob[9 : 9 + mlen].replace(b"classified", b"clean-data")
    rows["d2"] = blob[:9] + m + blob[9 + mlen :]
    tampered = spark.createDataFrame(
        [(k, v) for k, v in rows.items()], "doc_id string, ciphertext binary"
    )
    out = {r["doc_id"]: r for r in ops.decrypt_batch(tampered, s, fmt="ztdf").collect()}
    assert list(out["d1"]["tokens_out"]) == [1, 2] and out["d1"]["decrypt_error"] is None
    assert out["d2"]["tokens_out"] is None
    assert "binding verification failed" in out["d2"]["decrypt_error"]


def test_rewrap_batch_rotates_and_roundtrips(spark):
    from ztdf_spark import tdf
    from ztdf_spark.settings import Settings

    s = Settings()
    df = spark.createDataFrame(
        [("d1", 1, [1, 2]), ("d2", 2, [3, 4])],
        "doc_id string, lsn long, tokens array<int>",
    ).withColumn("tdf_attribute", F.lit("https://a/attr/x/value/y"))
    enc = ops.encrypt_batch(df, s, fmt="ztdf").select("doc_id", "lsn", "ciphertext")
    rot = ops.rewrap_batch(enc, s, ["https://kas-rotated.example.com"])
    rows = rot.collect()
    assert all(r["rewrap_error"] is None for r in rows)
    for r in rows:
        m = tdf.read_manifest(bytes(r["ciphertext_rewrapped"]))
        assert [k["url"] for k in m["encryptionInformation"]["keyAccess"]] == [
            "https://kas-rotated.example.com"
        ]
    dec = ops.decrypt_batch(
        rot.select("doc_id", F.col("ciphertext_rewrapped").alias("ciphertext")), s, fmt="ztdf"
    )
    got = {r["doc_id"]: list(r["tokens_out"]) for r in dec.collect()}
    assert got == {"d1": [1, 2], "d2": [3, 4]}


def test_el_sign_assertions_per_row(spark):
    """The reference's one EL-bearing property — SIGN_ASSERTIONS
    (AbstractTDFProcessor.java:123-129) — as a per-row decision: an EL
    template over row columns decides which records' assertions get RS256
    bindings; all rows still encrypt and round-trip."""
    import json as _json

    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import rsa

    from ztdf_spark import tdf
    from ztdf_spark.settings import Settings

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    priv = key.private_bytes(
        serialization.Encoding.PEM, serialization.PrivateFormat.PKCS8, serialization.NoEncryption()
    )
    s = Settings(sign_assertions="${source:equals('web')}", signing_key_pem=priv)
    adoc = _json.dumps([
        {"id": "1", "type": "handling", "scope": "payload",
         "appliesToState": "unencrypted",
         "statement": {"value": "classified", "format": "txt"}}
    ])
    df = spark.createDataFrame(
        [("d1", 1, [1, 2], "web", adoc), ("d2", 2, [3, 4], "api", adoc),
         ("d3", 3, [5, 6], "web", adoc)],
        "doc_id string, lsn long, tokens array<int>, source string, assertions string",
    ).withColumn("tdf_attribute", F.lit("https://a/attr/x/value/y"))
    out = ops.encrypt_batch(df, s, "ztdf").select("doc_id", "source", "route", "ciphertext").collect()
    assert all(r["route"] == "success" for r in out)
    for r in out:
        m = tdf.read_manifest(bytes(r["ciphertext"]))
        has_binding = "binding" in m["assertions"][0]
        assert has_binding == (r["source"] == "web"), r["doc_id"]
    # both signed and unsigned records round-trip
    dec = ops.decrypt_batch(
        spark.createDataFrame(
            [(r["doc_id"], bytes(r["ciphertext"])) for r in out],
            "doc_id string, ciphertext binary",
        ), s, fmt="ztdf",
    )
    got = {r["doc_id"]: list(r["tokens_out"]) for r in dec.collect()}
    assert got == {"d1": [1, 2], "d2": [3, 4], "d3": [5, 6]}


def test_el_sign_assertions_template_validated():
    from ztdf_spark.settings import ConfigurationError, Settings

    with pytest.raises(ConfigurationError, match="EL template invalid"):
        Settings(sign_assertions="${source:equals('web')", signing_key_pem=b"-----BEGIN X-----")
    with pytest.raises(ConfigurationError, match="signing_key_pem"):
        Settings(sign_assertions="${source:equals('web')}")


def test_assertions_invalid_three_valued_semantics(spark):
    """The gate's assertion check: null column → valid (false), malformed
    JSON → invalid, any element failing a check → invalid, and an element
    whose enum field is null (``isin`` yields null) → null, which the gate's
    CASE treats as valid."""

    def elem(**over):
        a = {"id": "a", "type": "handling", "scope": "tdo", "appliesToState": "encrypted",
             "statement": {"value": "v", "format": "json-structured"}}
        a.update(over)
        return a

    cases = {
        0: (None, False),
        1: ("not json", True),
        2: (json.dumps([elem()]), False),
        3: (json.dumps([elem(scope=None)]), None),
        4: (json.dumps([elem(appliesToState=None), elem(type=None)]), None),
        5: (json.dumps([elem(scope="bogus")]), True),
        6: (json.dumps([elem(statement=None)]), True),
        7: (json.dumps([elem(scope=None), elem(type="bogus")]), True),
        8: ("[]", False),
        9: ("[null]", True),  # a null element has no statement
    }
    df = spark.createDataFrame([(i, a) for i, (a, _) in cases.items()], "i int, a string")
    got = {r["i"]: r["bad"] for r in df.select(
        "i", ops.assertions_invalid(F.col("a")).alias("bad")).collect()}
    assert got == {i: want for i, (_, want) in cases.items()}

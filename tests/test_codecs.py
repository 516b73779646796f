"""Codec unit + property tests: the reference's dual binary/text decode rule
is the most fragile surface (SURVEY.md §7 risk register)."""

import struct
from datetime import datetime, timedelta, timezone

from hypothesis import given, strategies as st

from hive_cassandra_spark import codecs


def test_int_binary_and_text():
    assert codecs.decode_int(struct.pack(">i", 42)) == 42
    assert codecs.decode_int(b"42") == 42  # text fallback (len != 4)
    assert codecs.decode_int(b"abc") is None
    assert codecs.decode_int(None) is None


def test_long_eight_char_ambiguity():
    # The documented try-binary-first rule (CassandraLazyLong.java:18-32):
    # an 8-byte ASCII numeral decodes as BINARY, not text.
    assert codecs.decode_long(b"12345678") == struct.unpack(">q", b"12345678")[0]
    assert codecs.decode_long(b"1234567") == 1234567  # 7 bytes → text


def test_boolean():
    assert codecs.decode_boolean(b"\x01") is True
    assert codecs.decode_boolean(b"\x00") is False
    assert codecs.decode_boolean(b"true") is True
    assert codecs.decode_boolean(b"FALSE") is False
    assert codecs.decode_boolean(b"nope") is None


def test_timestamp_epoch_millis():
    ts = datetime(2020, 5, 17, 12, 30, 45, tzinfo=timezone.utc)
    assert codecs.decode_timestamp(codecs.encode_timestamp(ts)) == ts


def test_binary_base64_sniff():
    # alphabet-valid payload is silently decoded (CassandraLazyBinary.java:26-51)
    assert codecs.decode_binary(b"aGVsbG8=") == b"hello"
    # commons-codec isArrayByteBase64 accepts whitespace; decode discards it
    assert codecs.decode_binary(b"aGVsbG8=\n") == b"hello"
    assert codecs.decode_binary(b"aGVs bG8=\r\n") == b"hello"
    # partial trailing quantum is dropped (commons-codec decode loop)
    assert codecs.decode_binary(b"aGVsbG8=QUJ") == b"hello"
    # whitespace-only → zero quanta → empty (commons-codec)
    assert codecs.decode_binary(b"\n") == b""
    # opt-out keeps raw bytes (our documented extension)
    assert codecs.decode_binary(b"aGVsbG8=", base64_sniff=False) == b"aGVsbG8="
    # non-alphabet bytes pass through
    assert codecs.decode_binary(b"\x00\xff") == b"\x00\xff"
    # mid-stream padding fails the strict grammar → raw (documented deviation)
    assert codecs.decode_binary(b"aG==bG8=") == b"aG==bG8="


def test_validator_decode():
    assert codecs.decode_validator_string(struct.pack(">i", 7), "Int32Type") == "7"
    assert codecs.decode_validator_string(b"\xde\xad", "BytesType") == "dead"
    assert codecs.decode_validator_string(b"hi", "UTF8Type") == "hi"


@given(st.integers(min_value=-(2**31), max_value=2**31 - 1))
def test_int_roundtrip(v):
    assert codecs.decode_int(codecs.encode_int(v)) == v


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_long_roundtrip(v):
    assert codecs.decode_long(codecs.encode_long(v)) == v


@given(st.floats(allow_nan=False, allow_infinity=False))
def test_double_roundtrip(v):
    assert codecs.decode_double(codecs.encode_double(v)) == v


@given(st.text())
def test_string_roundtrip(v):
    assert codecs.decode_string(codecs.encode_string(v)) == v


@given(st.binary(min_size=1).filter(
    lambda b: not all(c in codecs._B64_ALPHABET or c in codecs._B64_WS for c in b)
))
def test_binary_roundtrip_non_b64(v):
    assert codecs.decode_binary(codecs.encode_binary(v)) == v


def test_spark_decode_col(spark):
    from pyspark.sql import functions as F

    rows = [
        (codecs.encode_long(7),),
        (b"123",),  # text fallback
        (None,),
    ]
    df = spark.createDataFrame(rows, "cell binary")
    out = df.select(codecs.decode_col(F.col("cell"), "bigint").alias("v")).collect()
    assert [r.v for r in out] == [7, 123, None]


def test_spark_encode_col_roundtrip(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1234567890123,), (None,)], "v long")
    out = df.select(
        codecs.decode_col(codecs.encode_col(F.col("v"), "bigint"), "bigint").alias("v")
    ).collect()
    assert [r.v for r in out] == [1234567890123, None]


# ---------------------------------------------------------------------------
# Expression (JVM) codec path == Arrow/Python ground-truth path
# ---------------------------------------------------------------------------

import math

import pytest
from pyspark.sql import functions as F


def _corpus_for(hive_type):
    """Binary payloads covering the dual-decode branches: exact-width
    Cassandra-marshaled values, reference-grammar text forms, and junk."""
    import random

    rng = random.Random(20260813)
    width = {"boolean": 1, "int": 4, "float": 4, "bigint": 8, "double": 8,
             "timestamp": 8}.get(hive_type)
    rows = []
    if width:
        rows += [bytes(rng.randrange(256) for _ in range(width)) for _ in range(200)]
        rows += [b"\x00" * width, b"\xff" * width, b"\x80" + b"\x00" * (width - 1)]
    rows += [b"42", b"-7", b"+13", b" 99 ", b"3.5", b"-0.25e2", b".5",
             b"true", b"False", b"2024-03-01 12:30:45", b"2024-03-01",
             b"2024-03-01T12:30", b"2024-03-01 12:30:45+05:00",
             b"\x1d8\x1d", b" \x09-5\x00",
             b"", b"zz", b"12abc", b"\xc3\xa9junk", b"_1", b"1_2",
             b"aGVsbG8=", b"====", b"abcd", b"a===",
             bytes(rng.randrange(256) for _ in range(7)),
             bytes(rng.randrange(256) for _ in range(9))]
    return rows


@pytest.mark.parametrize(
    "hive_type",
    ["boolean", "tinyint", "smallint", "int", "bigint", "float", "double",
     "timestamp", "binary"],
)
def test_decode_expression_matches_python(spark, hive_type):
    rows = [(b,) for b in _corpus_for(hive_type)] + [(None,)]
    df = spark.createDataFrame(rows, "cell binary")
    both = df.select(
        codecs.decode_col(F.col("cell"), hive_type).alias("expr"),
        codecs.decode_col_arrow(F.col("cell"), hive_type).alias("py"),
    ).collect()
    for r in both:
        a, b = r.expr, r.py
        if isinstance(a, float) and isinstance(b, float):
            assert (math.isnan(a) and math.isnan(b)) or a == b
        else:
            assert a == b, (hive_type, a, b)


def test_decode_expression_matches_python_string(spark):
    # valid UTF-8 only: on invalid bytes the expression path follows the
    # reference (replacement char) while the Python decoder nulls — the
    # documented deviation
    rows = [(s.encode("utf-8"),) for s in ["", "héllo", "aÿb", "x" * 50]]
    df = spark.createDataFrame(rows, "cell binary")
    both = df.select(
        codecs.decode_col(F.col("cell"), "string").alias("expr"),
        codecs.decode_col_arrow(F.col("cell"), "string").alias("py"),
    ).collect()
    for r in both:
        assert r.expr == r.py


@pytest.mark.parametrize(
    "hive_type,values,sql_type",
    [
        ("boolean", [True, False, None], "boolean"),
        ("tinyint", [0, 1, -128, 127, None], "tinyint"),
        ("smallint", [0, -32768, 32767, None], "smallint"),
        ("int", [0, 1, -1, 2**31 - 1, -(2**31), None], "int"),
        ("bigint", [0, -1, 2**63 - 1, -(2**63), 1234567890123, None], "bigint"),
        # NaN excluded: the Arrow tier cannot distinguish SQL NULL from NaN
        # in a float batch (see encode_col_arrow docstring); NaN encoding is
        # covered by test_encode_expression_nan_payload below
        ("float", [0.0, 1.5, -0.1, float("inf"), None], "float"),
        ("double", [0.0, -123.456, float("-inf"), 1e-300, None], "double"),
        ("string", ["", "héllo", "a b", None], "string"),
        ("binary", [b"", b"raw\x00bytes", None], "binary"),
    ],
)
def test_encode_expression_matches_python(spark, hive_type, values, sql_type):
    df = spark.createDataFrame([(v,) for v in values], f"v {sql_type}")
    both = df.select(
        codecs.encode_col(F.col("v"), hive_type).alias("expr"),
        codecs.encode_col_arrow(F.col("v"), hive_type).alias("py"),
    ).collect()
    for r in both:
        assert (None if r.expr is None else bytes(r.expr)) == (
            None if r.py is None else bytes(r.py)
        ), (hive_type, r.expr, r.py)


def test_encode_timestamp_expression_matches_python(spark):
    import datetime as dt

    vals = [
        dt.datetime(2024, 1, 1, 0, 0, 0),
        dt.datetime(2030, 6, 15, 23, 59, 59, 999000),
        None,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v timestamp")
    both = df.select(
        codecs.encode_col(F.col("v"), "timestamp").alias("expr"),
        codecs.encode_col_arrow(F.col("v"), "timestamp").alias("py"),
    ).collect()
    for r in both:
        assert (None if r.expr is None else bytes(r.expr)) == (
            None if r.py is None else bytes(r.py)
        )


def test_decode_col_is_pure_expression(spark):
    df = spark.createDataFrame([(b"\x00" * 8,)], "cell binary")
    plan = df.select(
        codecs.decode_col(F.col("cell"), "bigint"),
        codecs.decode_col(F.col("cell"), "double"),
        codecs.encode_col(F.lit(7).cast("long"), "bigint"),
    )._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # no ArrowEvalPython / BatchEvalPython nodes


def test_encode_expression_nan_payload(spark):
    # the expression tier preserves NaN payloads (canonical IEEE bits),
    # matching struct.pack and the reference's Java float marshaling
    df = spark.createDataFrame([(float("nan"),)], "v double")
    out = df.select(
        codecs.encode_col(F.col("v"), "double").alias("d"),
        codecs.encode_col(F.col("v").cast("float"), "float").alias("f"),
    ).collect()[0]
    assert bytes(out.d) == struct.pack(">d", float("nan"))
    assert bytes(out.f) == struct.pack(">f", float("nan"))


@pytest.mark.parametrize(
    "hive_type",
    ["boolean", "tinyint", "smallint", "int", "bigint", "float", "double",
     "timestamp", "binary"],
)
def test_decode_expression_fuzz_random_bytes(spark, hive_type):
    # 3000 seeded random payloads of every length 0..12 in ONE job per type:
    # batch-scale fuzz of the dual-decode branch structure (exact widths,
    # near-miss widths, ASCII-looking prefixes, high bytes)
    import random

    rng = random.Random(hash(hive_type) & 0xFFFF)
    pool = bytes(range(256)) + b"0123456789+-.eE Tt" * 8  # bias toward text-ish
    rows = [
        (bytes(rng.choice(pool) for _ in range(rng.randrange(13))),)
        for _ in range(3000)
    ]
    df = spark.createDataFrame(rows, "cell binary").coalesce(4)
    both = df.select(
        "cell",
        codecs.decode_col(F.col("cell"), hive_type).alias("expr"),
        codecs.decode_col_arrow(F.col("cell"), hive_type).alias("py"),
    ).collect()
    for r in both:
        a, b = r.expr, r.py
        if isinstance(a, float) and isinstance(b, float):
            ok = (math.isnan(a) and math.isnan(b)) or a == b
        elif isinstance(a, (bytes, bytearray)) or isinstance(b, (bytes, bytearray)):
            ok = (None if a is None else bytes(a)) == (None if b is None else bytes(b))
        else:
            ok = a == b
        assert ok, (hive_type, bytes(r.cell).hex(), a, b)


_BOUNDARY_8 = [b"\x00" * 8, b"\x7f" + b"\xff" * 7, b"\x80" + b"\x00" * 7, b"\xff" * 8]
_TS_EDGES = [
    struct.pack(">q", ms)
    for ms in (codecs._TS_MILLIS_MIN, codecs._TS_MILLIS_MAX,
               codecs._TS_MILLIS_MIN - 1, codecs._TS_MILLIS_MAX + 1)
]


@pytest.mark.parametrize("hive_type", ["bigint", "double", "timestamp"])
def test_decode_col_boundary_bytes_match_python(spark, hive_type):
    """The two's-complement reading of 8-byte payloads at the sign and
    range boundaries: the expression tier equals the Python decoder
    exactly (timestamps compared in epoch microseconds, doubles by bit
    pattern so -0.0 counts, NaN payloads as NaN)."""
    payloads = _BOUNDARY_8 + (_TS_EDGES if hive_type == "timestamp" else [])
    dec = codecs.decode_col(F.col("cell"), hive_type)
    if hive_type == "timestamp":
        dec = F.unix_micros(dec)
    got = [r[0] for r in spark.createDataFrame([(b,) for b in payloads], "cell binary")
           .select(dec).collect()]
    want = [codecs.DECODERS[hive_type](b) for b in payloads]
    if hive_type == "timestamp":
        epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
        want = [None if w is None else (w - epoch) // timedelta(microseconds=1) for w in want]
        assert want[-2:] == [None, None]  # outside year 1..9999
    if hive_type == "double":
        got, want = ([None if math.isnan(x) else struct.pack(">d", x) for x in xs]
                     for xs in (got, want))
    assert got == want, (hive_type, got, want)
    if hive_type == "bigint":
        assert want == [0, (1 << 63) - 1, -(1 << 63), -1]

"""Cassandra-validator byte codecs with the reference's dual decode rule.

The reference decodes Cassandra's raw cell bytes per declared Hive type with
lazy primitives (factory at
/root/reference/src/main/java/org/apache/hadoop/hive/cassandra/serde/CassandraLazyFactory.java:49-77).
The load-bearing semantic (SURVEY.md §1.3) is **dual decode**: every
fixed-width type first tries the Cassandra-marshaled binary form and falls
back to ASCII text parse on wrong length or failure — so data written by
Hive as text and data written by native clients both read correctly
(e.g. CassandraLazyLong.java:18-32, CassandraLazyInteger.java:18-32).

Three tiers here:

- pure-Python ``decode_*`` / ``encode_*`` — the semantic ground truth,
  unit- and hypothesis-tested;
- ``decode_col`` / ``encode_col`` — the production tier: the same dual
  rule built from pure codegen'd expressions (conv/hex arithmetic,
  reflect() for IEEE bits) — NO Python boundary, so the connector
  hot path stays inside whole-stage codegen at any scale;
- ``decode_col_arrow`` / ``encode_col_arrow`` — Arrow-batched pandas_udf
  wrappers over the Python decoders, equivalence-tested against the
  expression tier (tests/test_codecs.py).

Encodings follow LazyCassandraUtils.getCassandraType
(serde2/lazy/LazyCassandraUtils.java:17-41): boolean→1 byte, int→4 BE,
bigint→8 BE, float/double→IEEE BE, string→UTF-8, timestamp→8-byte epoch
millis (DateType), binary→raw bytes.
"""

from __future__ import annotations

import base64
import re
import struct
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import Column, functions as F, types as T

# ---------------------------------------------------------------- encode ---


def encode_boolean(v: bool) -> bytes:
    return b"\x01" if v else b"\x00"


def encode_int(v: int) -> bytes:
    return struct.pack(">i", v)


def encode_long(v: int) -> bytes:
    return struct.pack(">q", v)


def encode_float(v: float) -> bytes:
    return struct.pack(">f", v)


def encode_double(v: float) -> bytes:
    return struct.pack(">d", v)


def encode_string(v: str) -> bytes:
    return v.encode("utf-8")


def encode_timestamp(v: datetime) -> bytes:
    """8-byte big-endian epoch millis (≙ Cassandra DateType;
    CassandraLazyTimestamp.java:19-33)."""
    if v.tzinfo is None:
        v = v.replace(tzinfo=timezone.utc)
    return struct.pack(">q", int(v.timestamp() * 1000))


def encode_binary(v: bytes) -> bytes:
    return bytes(v)


# ---------------------------------------------------------------- decode ---
# Each decoder returns None on undecodable input (the reference marks the
# lazy object null in that case).


# Java String.trim() strips every char <= U+0020 — more than regex \s
# (e.g. \x1d) and less than Python str.strip() outside ASCII. Both codec
# tiers pin this exact rule so they agree with each other and the
# reference's trim-then-parse text path.
_JAVA_TRIM_CHARS = "".join(chr(i) for i in range(0x21))


def _java_trim(s: str) -> str:
    return s.strip(_JAVA_TRIM_CHARS)


def _text_fallback(data: bytes, parse):
    try:
        return parse(_java_trim(data.decode("ascii")))
    except (UnicodeDecodeError, ValueError):
        return None


# Text-number grammar shared with the expression codecs (decode_col): the
# reference's Java-style parse — optional sign + digits for integers,
# standard decimal/scientific for floats. Python's bare int()/float() are
# looser (underscore separators, "inf"/"nan" words); those are rejected
# here so both codec tiers and the reference agree.
_INT_TEXT_RE = re.compile(r"^[+-]?[0-9]+$")
_FLOAT_TEXT_RE = re.compile(r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$")
_TS_TEXT_RE = re.compile(
    r"^[0-9]{4}-[0-9]{2}-[0-9]{2}([ T][0-9]{2}:[0-9]{2}:[0-9]{2}(\.[0-9]+)?)?$"
)


def _parse_int_strict(s: str) -> int:
    if not _INT_TEXT_RE.match(s):
        raise ValueError(f"not an integer numeral: {s!r}")
    return int(s)


def _bounded_int_parser(bits: int):
    """Java-style Integer/Long/Byte/Short.parse semantics: a numeral whose
    value is outside the target width throws (→ NULL after fallback), the
    same net result as the expression tier's string→numeric cast."""
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1

    def parse(s: str) -> int:
        v = _parse_int_strict(s)
        if not lo <= v <= hi:
            raise ValueError(f"out of {bits}-bit range: {s!r}")
        return v

    return parse


_parse_int8 = _bounded_int_parser(8)
_parse_int16 = _bounded_int_parser(16)
_parse_int32 = _bounded_int_parser(32)
_parse_int64 = _bounded_int_parser(64)


def _parse_float_strict(s: str) -> float:
    if not _FLOAT_TEXT_RE.match(s):
        raise ValueError(f"not a float numeral: {s!r}")
    return float(s)


def decode_boolean(data: bytes) -> bool | None:
    """1 binary byte, else text parse (CassandraLazyBoolean.java:20-34)."""
    if data is None:
        return None
    if len(data) == 1:
        return data[0] != 0
    s = _text_fallback(data, str)
    if s is None:
        return None
    low = s.lower()
    return True if low == "true" else False if low == "false" else None


def decode_int(data: bytes) -> int | None:
    """4 big-endian bytes, else text (CassandraLazyInteger.java:18-32)."""
    if data is None:
        return None
    if len(data) == 4:
        return struct.unpack(">i", data)[0]
    return _text_fallback(data, _parse_int32)


def decode_long(data: bytes) -> int | None:
    """8 big-endian bytes, else text (CassandraLazyLong.java:18-32).
    NB the documented ambiguity (SURVEY.md §7): an 8-char ASCII numeral like
    b"12345678" decodes as *binary* — try-binary-first, same as the
    reference."""
    if data is None:
        return None
    if len(data) == 8:
        return struct.unpack(">q", data)[0]
    return _text_fallback(data, _parse_int64)


def decode_float(data: bytes) -> float | None:
    """4 IEEE bytes, else text (CassandraLazyFloat.java:19-33)."""
    if data is None:
        return None
    if len(data) == 4:
        return struct.unpack(">f", data)[0]
    return _text_fallback(data, _parse_float_strict)


def decode_double(data: bytes) -> float | None:
    """8 IEEE bytes, else text (CassandraLazyDouble.java:18-32)."""
    if data is None:
        return None
    if len(data) == 8:
        return struct.unpack(">d", data)[0]
    return _text_fallback(data, _parse_float_strict)


def decode_string(data: bytes) -> str | None:
    if data is None:
        return None
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        return None


# millis range representable by both Python datetime (year 1..9999) and
# Spark TimestampType; 8-byte payloads outside it decode to NULL on every
# tier rather than raising (random bytes are a valid cell payload)
_TS_MILLIS_MIN = -62135596800000   # 0001-01-01T00:00:00Z
_TS_MILLIS_MAX = 253402300799999   # 9999-12-31T23:59:59.999Z
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def decode_timestamp(data: bytes) -> datetime | None:
    """8-byte epoch-millis long, else ISO text
    (CassandraLazyTimestamp.java:19-33)."""
    if data is None:
        return None
    if len(data) == 8:
        millis = struct.unpack(">q", data)[0]
        if not (_TS_MILLIS_MIN <= millis <= _TS_MILLIS_MAX):
            return None  # outside datetime's year 1..9999 — undecodable
        # integer arithmetic: millis / 1000.0 loses microseconds near year 9999
        return _EPOCH + timedelta(milliseconds=millis)
    try:
        s = _java_trim(data.decode("ascii"))
    except UnicodeDecodeError:
        return None
    # shared grammar with the expression tier (_TS_TEXT): date or
    # date + full seconds time; bare fromisoformat would also take
    # minute-precision and offset forms the expression path nulls
    if not _TS_TEXT_RE.match(s):
        return None
    try:
        return datetime.fromisoformat(s)
    except ValueError:
        return None


_B64_ALPHABET = frozenset(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/="
)
# commons-codec Base64.isArrayByteBase64 also accepts whitespace
# (isWhiteSpace: space, tab, CR, LF) and decodeBase64 discards it, decoding
# only the complete 4-char quanta that remain (partial trailing quantum is
# dropped — commons-codec 1.x decode loop).
_B64_WS = frozenset(b" \t\r\n")
# strict quad grammar shared with the expression tier (_B64_TEXT): pads only
# at the end, in valid positions — payloads failing it pass through raw
# (commons would emit garbage for e.g. mid-stream pads; we keep bytes intact,
# documented deviation in the same spirit as the base64_sniff opt-out)
_B64_STRICT_RE = None  # initialized below _B64_TEXT


def decode_binary(data: bytes, base64_sniff: bool = True) -> bytes | None:
    """Raw bytes, with the reference's opportunistic Base64 sniff: a payload
    made entirely of Base64-alphabet bytes — whitespace included, matching
    commons-codec ``isArrayByteBase64`` — is silently decoded
    (CassandraLazyBinary.java:26-51): whitespace is discarded and the
    complete 4-char quanta decoded (a partial trailing quantum is dropped,
    as commons-codec does). ``base64_sniff=False`` opts out — a deliberate
    extension, since the sniff corrupts genuine text that happens to be
    alphabet-valid (flagged in SURVEY.md §7)."""
    if data is None:
        return None
    if (
        base64_sniff
        and len(data) > 0
        and all(b in _B64_ALPHABET or b in _B64_WS for b in data)
    ):
        cleaned = bytes(b for b in data if b not in _B64_WS)
        head = cleaned[: len(cleaned) // 4 * 4]
        if head == b"":
            # e.g. a whitespace-only or sub-quantum payload: commons-codec
            # decodes zero quanta → empty
            return b""
        if _B64_STRICT_RE.match(head):
            return base64.b64decode(head)
    return bytes(data)


def decode_validator_string(data: bytes, validator: str = "BytesType") -> str | None:
    """Validator-driven decode-to-string (≙ CassandraLazyValidator.java:24-35,
    CassandraValidatorObjectInspector.java:16-48): any cell rendered as a
    string through its declared validator; BytesType renders hex."""
    if data is None:
        return None
    v = validator.rsplit(".", 1)[-1]
    if v == "BytesType":
        return data.hex()
    if v == "UTF8Type" or v == "AsciiType":
        return decode_string(data)
    if v == "Int32Type":
        r = decode_int(data)
    elif v in ("LongType", "CounterColumnType"):
        r = decode_long(data)
    elif v == "FloatType":
        r = decode_float(data)
    elif v == "DoubleType":
        r = decode_double(data)
    elif v == "BooleanType":
        b = decode_boolean(data)
        return None if b is None else str(b).lower()
    elif v == "DateType":
        t = decode_timestamp(data)
        return None if t is None else t.isoformat()
    else:
        return data.hex()
    return None if r is None else str(r)


DECODERS = {
    "boolean": decode_boolean,
    "tinyint": lambda b: _text_fallback(b, _parse_int8) if b is not None else None,
    "smallint": lambda b: _text_fallback(b, _parse_int16) if b is not None else None,
    "int": decode_int,
    "bigint": decode_long,
    "float": decode_float,
    "double": decode_double,
    "string": decode_string,
    "binary": decode_binary,
    "timestamp": decode_timestamp,
}

ENCODERS = {
    "boolean": encode_boolean,
    "tinyint": lambda v: str(v).encode("ascii"),
    "smallint": lambda v: str(v).encode("ascii"),
    "int": encode_int,
    "bigint": encode_long,
    "float": encode_float,
    "double": encode_double,
    "string": encode_string,
    "binary": encode_binary,
    "timestamp": encode_timestamp,
}

_SPARK_TYPES = {
    "boolean": T.BooleanType(),
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
}


def decode_col_arrow(col: Column, hive_type: str) -> Column:
    """Vectorized dual-decode of a BinaryType column to ``hive_type`` via an
    Arrow-batched ``pandas_udf`` running the pure-Python ground-truth
    decoders. Kept as the reference implementation the expression path
    (``decode_col``) is equivalence-tested against.
    """
    decoder = DECODERS[hive_type]
    spark_type = _SPARK_TYPES[hive_type]
    # nullable extension dtype for integral results: a batch with any None
    # would otherwise coerce the object series to float64 and silently
    # round longs past 2^53 (caught by the expression-equivalence tests)
    int_dtype = {
        "tinyint": "Int8", "smallint": "Int16", "int": "Int32", "bigint": "Int64"
    }.get(hive_type)

    float_np = {"float": "float32", "double": "float64"}.get(hive_type)

    @F.pandas_udf(spark_type)
    def _decode(s: pd.Series) -> pd.Series:
        # explicit list → typed array: Series.map would *infer* the result
        # dtype, and an int batch containing any None infers float64,
        # silently rounding longs past 2^53 before any astype could help
        vals = [None if b is None else decoder(bytes(b)) for b in s]
        if int_dtype:
            return pd.Series(pd.array(vals, dtype=int_dtype))
        if float_np:
            # masked FloatingArray keeps NULL (undecodable) distinct from a
            # decoded NaN payload — an object series would Arrow both to null
            import numpy as np

            mask = np.array([v is None for v in vals], dtype=bool)
            data = np.array(
                [0.0 if v is None else v for v in vals], dtype=float_np
            )
            return pd.Series(pd.arrays.FloatingArray(data, mask))
        return pd.Series(vals, dtype=object)

    return _decode(col)


# ----------------------------------------------- expression (JVM) codecs ---
# The connector hot path must stay inside whole-stage codegen (no Python
# workers); these build the dual-decode rule from built-in expressions.
# hex() on BinaryType is byte-wise (length 2·bytes, leading zeros kept), so
# fixed-width reinterpretation is exact; IEEE bit patterns go through
# reflect('java.lang.{Double,Float}', ...), still JVM-side.
#
# Text-fallback grammar note: the expression path implements the
# *reference's* Java parse semantics (Integer.parseInt-style: optional
# sign + digits; standard decimal/scientific floats) — Python's int()/
# float() are slightly looser (underscore separators, "inf"); the
# equivalence tests pin the shared grammar.

# `\x00-\x20` (not `\s`): Java String.trim() strips every char <= U+0020,
# which the Python tier mirrors via _java_trim — see that comment
_J = r"[\x00-\x20]*"
_INT_TEXT = rf"^{_J}([+-]?[0-9]+){_J}$"
_FLOAT_TEXT = rf"^{_J}([+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?){_J}$"
_TS_TEXT = rf"^{_J}([0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}([ T][0-9]{{2}}:[0-9]{{2}}:[0-9]{{2}}(\.[0-9]+)?)?){_J}$"
# strict base64: full quads, correct padding placement (mirrors
# b64decode(validate=True) in decode_binary / CassandraLazyBinary.java:26-51)
_B64_TEXT = (
    r"^([A-Za-z0-9+/]{4})*"
    r"([A-Za-z0-9+/]{4}|[A-Za-z0-9+/]{3}=|[A-Za-z0-9+/]{2}==)$"
)
_B64_STRICT_RE = re.compile(_B64_TEXT.encode())


def _ascii(col: Column) -> Column:
    # undecodable high bytes become U+FFFD, which no numeric regex matches —
    # same net null as Python's ascii-decode raise
    return F.decode(col, "US-ASCII")


def _signed64(col: Column) -> Column:
    """Reinterpret an 8-byte binary column as a signed big-endian long:
    conv() to a negative base reads the 64 bits as two's complement."""
    return F.conv(F.hex(col), 16, -10).cast("long")


def _signed32(col: Column) -> Column:
    v = F.conv(F.hex(col), 16, 10).cast("long")
    return F.when(v >= F.lit(1 << 31), v - F.lit(1 << 32)).otherwise(v)


def _text_int(col: Column, spark_type: str) -> Column:
    m = F.regexp_extract(_ascii(col), _INT_TEXT, 1)
    return F.when(m != "", m.cast(spark_type))


def _text_float(col: Column, spark_type: str) -> Column:
    m = F.regexp_extract(_ascii(col), _FLOAT_TEXT, 1)
    return F.when(m != "", m.cast(spark_type))


def _reflect_double(bits: Column) -> Column:
    return F.reflect(
        F.lit("java.lang.Double"), F.lit("longBitsToDouble"), bits
    ).cast("double")


def _reflect_float(bits: Column) -> Column:
    return F.reflect(
        F.lit("java.lang.Float"), F.lit("intBitsToFloat"), bits.cast("int")
    ).cast("float")


def decode_col(col: Column, hive_type: str) -> Column:
    """Dual-decode of a BinaryType column to ``hive_type`` as a pure
    codegen'd expression — no Python boundary (≙ the CassandraLazy*
    try-binary-first/text-fallback rule, SURVEY.md §1.3; semantics
    equivalence-tested against the Python decoders)."""
    n = F.length(col)
    if hive_type == "boolean":
        first_nonzero = F.conv(F.substring(F.hex(col), 1, 2), 16, 10) != "0"
        # F.trim strips spaces only; Java-trim all of \x00-\x20
        low = F.lower(
            F.regexp_replace(_ascii(col), r"^[\x00-\x20]+|[\x00-\x20]+$", "")
        )
        txt = F.when(low == "true", F.lit(True)).when(low == "false", F.lit(False))
        return F.when(col.isNull(), F.lit(None).cast("boolean")).when(
            n == 1, first_nonzero
        ).otherwise(txt)
    if hive_type in ("tinyint", "smallint"):
        # text-only in the reference (Hive LazyByte/LazyShort,
        # CassandraLazyFactory.java:56-59)
        return _text_int(col, {"tinyint": "byte", "smallint": "short"}[hive_type])
    if hive_type == "int":
        return F.when(n == 4, _signed32(col).cast("int")).otherwise(
            _text_int(col, "int")
        )
    if hive_type == "bigint":
        return F.when(n == 8, _signed64(col)).otherwise(_text_int(col, "long"))
    if hive_type == "float":
        return F.when(n == 4, _reflect_float(_signed32(col))).otherwise(
            _text_float(col, "float")
        )
    if hive_type == "double":
        return F.when(n == 8, _reflect_double(_signed64(col))).otherwise(
            _text_float(col, "double")
        )
    if hive_type == "string":
        # decode() replaces invalid UTF-8 rather than nulling the row; the
        # reference's LazyString behaves the same way (Hive Text replacement)
        return F.decode(col, "UTF-8")
    if hive_type == "timestamp":
        m = F.regexp_extract(_ascii(col), _TS_TEXT, 1)
        ms = _signed64(col)
        in_range = ms.between(F.lit(_TS_MILLIS_MIN), F.lit(_TS_MILLIS_MAX))
        return F.when(
            n == 8, F.when(in_range, F.timestamp_millis(ms))
        ).otherwise(F.when(m != "", m.cast("timestamp")))
    if hive_type == "binary":
        # whitespace-tolerant sniff matching decode_binary / commons-codec
        # isArrayByteBase64: all bytes alphabet-or-whitespace → strip the
        # whitespace, decode complete quads only (partial tail dropped)
        s = _ascii(col)
        sniffable = (n > 0) & s.rlike(r"^[A-Za-z0-9+/= \t\r\n]*$")
        cleaned = F.regexp_replace(s, r"[ \t\r\n]", "")
        head = cleaned.substr(
            F.lit(1), F.length(cleaned) - F.pmod(F.length(cleaned), F.lit(4))
        )
        decoded = (
            F.when(F.length(head) == 0, F.lit(b""))
            .when(head.rlike(_B64_TEXT), F.unbase64(head))
            .otherwise(col)
        )
        return F.when(sniffable, decoded).otherwise(col)
    raise ValueError(f"no decoder for hive type {hive_type!r}")


def _coerce(v, hive_type: str):
    """Arrow hands nullable numeric batches to pandas as float64 — restore
    the python-native type the struct encoders expect."""
    if hive_type in ("int", "bigint", "tinyint", "smallint"):
        return int(v)
    if hive_type in ("float", "double"):
        return float(v)
    if hive_type == "boolean":
        return bool(v)
    return v


def encode_col_arrow(col: Column, hive_type: str) -> Column:
    """Arrow-batched encode running the pure-Python ground-truth encoders;
    kept as the reference implementation ``encode_col`` is tested against.

    Known fidelity gap: a float/double NaN *value* encodes to a NULL cell
    here, because Arrow hands the Python worker a plain float series in
    which SQL NULL and NaN are indistinguishable. The expression path
    (``encode_col``) preserves NaN payloads — one more reason it is the
    production tier."""
    encoder = ENCODERS[hive_type]

    @F.pandas_udf(T.BinaryType())
    def _encode(s: pd.Series) -> pd.Series:
        def enc(v):
            # Arrow surfaces SQL NULLs as None/NaN/NaT depending on dtype;
            # all encode to NULL cells (NaN-as-value is not representable in
            # the reference's text-remarshal path either)
            if v is None or (not isinstance(v, (bytes, str, list, dict)) and pd.isna(v)):
                return None
            return encoder(_coerce(v, hive_type))

        return s.map(enc)

    return _encode(col)


def _unhex_fixed(value_as_long: Column, n_bytes: int) -> Column:
    """Big-endian fixed-width bytes of a (sign-extended) long value."""
    hx = F.lpad(F.hex(value_as_long), 16, "0")
    return F.unhex(F.substring(hx, 17 - 2 * n_bytes, 2 * n_bytes))


def encode_col(col: Column, hive_type: str) -> Column:
    """Encode a typed column to Cassandra-marshaled bytes as a pure
    codegen'd expression — no Python boundary (≙ TableMapping.serialize +
    validator.fromString re-marshal, serde/TableMapping.java:139-166;
    widths per LazyCassandraUtils.getCassandraType,
    serde2/lazy/LazyCassandraUtils.java:17-41)."""
    if hive_type == "boolean":
        return F.when(
            col.isNull(), F.lit(None).cast("binary")
        ).when(col, F.lit(b"\x01")).otherwise(F.lit(b"\x00"))
    if hive_type in ("tinyint", "smallint"):
        return F.encode(col.cast("string"), "US-ASCII")
    if hive_type == "int":
        return _unhex_fixed(col.cast("long"), 4)
    if hive_type == "bigint":
        return _unhex_fixed(col, 8)
    if hive_type == "float":
        bits = F.reflect(
            F.lit("java.lang.Float"), F.lit("floatToIntBits"), col.cast("float")
        ).cast("long")
        # reflect() cannot unbox a NULL argument — guard so NULL encodes to
        # a NULL cell instead of a task failure
        return F.when(col.isNotNull(), _unhex_fixed(bits, 4))
    if hive_type == "double":
        bits = F.reflect(
            F.lit("java.lang.Double"), F.lit("doubleToLongBits"), col.cast("double")
        ).cast("long")
        return F.when(col.isNotNull(), _unhex_fixed(bits, 8))
    if hive_type == "string":
        return F.encode(col, "UTF-8")
    if hive_type == "timestamp":
        return _unhex_fixed(F.unix_millis(col), 8)
    if hive_type == "binary":
        return col
    raise ValueError(f"no encoder for hive type {hive_type!r}")


def decode_validator_col(col: Column, validator: str = "BytesType") -> Column:
    """Vectorized validator-driven decode-to-string (≙ the factory's
    validator mode, CassandraLazyFactory.java:118-162: when a per-column
    validator list is declared, *all* columns read back as strings)."""

    @F.pandas_udf(T.StringType())
    def _decode(s: pd.Series) -> pd.Series:
        return s.map(
            lambda b: None if b is None else decode_validator_string(bytes(b), validator)
        )

    return _decode(col)

"""Spark-side collation encoding: pure Column expressions.

The pure-Python codec lives in ``mapreduce_spark.collate``; this module
re-expresses it as JVM-side Column expressions, so a build encodes
keys with no Python and no Arrow crossing:

- numbers: ``Double.doubleToRawLongBits`` via ``reflect`` plus the
  sign-flip bit transform, rendered as 16 hex digits;
- strings: the UTF-16 code-unit order transform (SURVEY.md §1.3) as
  ``regexp_replace`` passes, then terminator escaping as literal
  ``replace``s;
- arrays/composites: ``concat`` of the component encodings — the
  encoding is prefix-compositional by design.

Callers fold NaN/±Infinity to null first (``mapphase.fold_nonfinite``).

Query-time range bounds are encoded driver-side with the pure-Python
codec into *constants*, so every scan predicate is a plain string
comparison that Catalyst pushes into the Parquet reader (row-group
min/max pruning) — the Spark analog of the reference handing
startkey/endkey to its sorted KV store (SURVEY.md §4 X3).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TERM = "\x00"
_ESC_HI = "퟿"


def _enc_num_col(col: Column) -> Column:
    """Number encoding as a Column — JVM-side via
    ``Double.doubleToRawLongBits`` reflection (no Arrow crossing).

    Bit transform identical to ``collate``'s number codec: negative →
    flip all bits, else set the sign bit; ``+0.0`` first so ``-0.0``
    encodes as ``0.0``.  NaN encodes as ``'1'`` (null key).  ``reflect``
    is CodegenFallback (boxed, not codegen'd) but stays in the JVM: it
    benchmarked at parity with a vectorized pandas UDF per column and
    lets whole-stage CSE share the encode between ``key_enc`` and
    ``key_parts_enc``, which two ArrowEvalPython nodes never could.
    """
    d = col.cast("double") + F.lit(0.0)
    b = F.reflect(
        F.lit("java.lang.Double"), F.lit("doubleToRawLongBits"), d
    ).cast("bigint")
    enc = (
        F.when(b < 0, F.lit(-1).cast("long").bitwiseXOR(b))
        .otherwise(b.bitwiseOR(F.lit(-9223372036854775808)))
    )
    return (
        F.when(col.isNull() | F.isnan(col.cast("double")), F.lit("1"))
        .otherwise(
            F.concat(F.lit("3"), F.lower(F.lpad(F.hex(enc), 16, "0")))
        )
    )


def _enc_str_col(col: Column) -> Column:
    """String encoding as a pure Column expression — no Python, no
    Arrow crossing, whole-stage-codegen'd end to end.

    Mirrors ``collate.encode_string_body`` exactly:

    1. u16ord — the UTF-16 code-unit order transform: a literal
       ``replace`` for U+D7FF itself plus one ``regexp_replace`` per
       edge char class (BMP ≥ U+E000, astral).  The astral rewrite is
       JVM-expressible because the codec stores the raw astral char
       after the ``\\x11`` discriminator (code-point order == surrogate
       -pair order inside the astral range — no arithmetic needed).
    2. esc — terminator escaping as three literal ``replace``s.

    The three regex passes cost ~nothing on edge-free strings (the
    common case) and beat a vectorized-pandas round trip by ~3× on the
    build path.
    """
    s = col.cast("string")
    u16 = F.replace(s, F.lit(_ESC_HI), F.lit(_ESC_HI + "\x10"))
    u16 = F.regexp_replace(
        u16, "[\ue000-\uffff]", _ESC_HI + "\x12$0"
    )
    u16 = F.regexp_replace(
        u16, "[\U00010000-\U0010ffff]", _ESC_HI + "\x11$0"
    )
    esc = F.replace(
        F.replace(
            F.replace(u16, F.lit("\x02"), F.lit("\x02\x02")),
            F.lit("\x01"),
            F.lit("\x01\x02"),
        ),
        F.lit("\x00"),
        F.lit("\x01\x01"),
    )
    return (
        F.when(s.isNull(), F.lit("1"))
        .otherwise(F.concat(F.lit("4"), esc, F.lit(_TERM)))
    )


def enc_component_col(col: Column, kind: str) -> Column:
    """Encoding of one key component as a Column.

    kind: 'null' | 'bool' | 'num' | 'str' (str includes ISO-formatted
    timestamps — callers date_format first).
    """
    if kind == "null":
        return F.lit("1")
    if kind == "bool":
        return (
            F.when(col.isNull(), F.lit("1"))
            .when(col, F.lit("21"))
            .otherwise(F.lit("20"))
        )
    if kind == "num":
        return _enc_num_col(col)
    if kind == "str":
        return _enc_str_col(col)
    raise ValueError(f"unknown component kind {kind!r}")


def enc_key_cols(parts: list[Column], *, as_array: bool) -> Column:
    """Compose component encodings into the full key encoding."""
    if as_array:
        return F.concat(F.lit("5"), *parts, F.lit(_TERM))
    assert len(parts) == 1
    return parts[0]


def json_scalar_col(col: Column, kind: str) -> Column:
    """JSON text of a scalar column, JVM-side with proper escaping.

    Uses the ``to_json(array(x))`` trick and strips the brackets, so
    Spark's Jackson writer does all string escaping. null → 'null'.
    NOTE: Jackson renders extreme doubles as '1.0E20' where Python/DuckDB
    write '1e+20' — driver-facing query wrappers therefore extract typed
    values (get_json_object + cast) rather than comparing raw JSON.
    """
    if kind == "null":
        return F.lit("null")
    if kind == "num":
        j = F.to_json(F.array(col.cast("double")))
    elif kind == "bool":
        j = F.to_json(F.array(col.cast("boolean")))
    else:  # 'str'
        j = F.to_json(F.array(col.cast("string")))
    return j.substr(F.lit(2), F.length(j) - 2)

"""Spark-side collation encoding: vectorized Arrow/pandas UDFs + Column
composition.

The pure-Python codec lives in ``mapreduce_spark.collate``; this module
makes it fast inside Spark jobs:

- numbers: numpy bit-twiddle (``float64.view(uint64)`` + flip) — one C
  pass per Arrow batch, no per-row Python in the common case;
- strings: vectorized pandas ``str.replace`` escaping, with a per-row
  fallback only for rows containing code points ≥ U+D7FF (the UTF-16
  code-unit order edge, SURVEY.md §1.3);
- arrays/composites: JVM-side ``concat`` of the component encodings —
  the encoding is prefix-compositional by design.

Query-time range bounds are encoded driver-side with the pure-Python
codec into *constants*, so every scan predicate is a plain string
comparison that Catalyst pushes into the Parquet reader (row-group
min/max pruning) — the Spark analog of the reference handing
startkey/endkey to its sorted KV store (SURVEY.md §4 X3).
"""

from __future__ import annotations

import binascii

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from mapreduce_spark.collate import encode_string_body

_TERM = "\x00"
# chars that force the generic per-row string path (UTF-16 order edge)
_EDGE_RE = "[^\x00-퟾]"


def enc_num_np(values: np.ndarray) -> list[str]:
    """float64 array → list of 17-char encodings ('3' + 16 hex)."""
    values = values + 0.0  # -0.0 → 0.0
    bits = values.view("uint64").copy()
    neg = (bits >> 63).astype(bool)
    bits[neg] ^= np.uint64(0xFFFFFFFFFFFFFFFF)
    bits[~neg] |= np.uint64(0x8000000000000000)
    h = binascii.hexlify(bits.astype(">u8").tobytes()).decode()
    return ["3" + h[i : i + 16] for i in range(0, len(h), 16)]


def enc_num_series(s: pd.Series) -> pd.Series:
    """Nullable float series → full encodings; null → '1' (null key)."""
    mask = s.isna()
    out = pd.Series(
        enc_num_np(s.fillna(0.0).to_numpy(dtype="float64")), index=s.index
    )
    out[mask] = "1"
    return out


def enc_str_series(s: pd.Series) -> pd.Series:
    """Nullable string series → full encodings ('4' body '\\x00');
    null → '1'."""
    mask = s.isna()
    base = s.fillna("")
    # vectorized terminator escaping (identical to collate._esc)
    esc = (
        base.str.replace("\x02", "\x02\x02", regex=False)
        .str.replace("\x01", "\x01\x02", regex=False)
        .str.replace("\x00", "\x01\x01", regex=False)
    )
    edge = base.str.contains(_EDGE_RE, regex=True)
    if edge.any():
        # rare path: full per-row codec (astral / U+D7FF.. chars need the
        # UTF-16 code-unit order transform before escaping)
        esc = esc.where(~edge, base[edge].map(encode_string_body))
    # NB: `series + "\x00"` silently drops the NUL (numpy object-array
    # add treats it as a C-string terminator) — str.cat preserves it.
    out = ("4" + esc).str.cat([_TERM] * len(esc))
    out[mask] = "1"
    return out


_ESC_HI = "퟿"


def _enc_num_col(col: Column) -> Column:
    """Number encoding as a Column — JVM-side via
    ``Double.doubleToRawLongBits`` reflection (no Arrow crossing).

    Bit transform identical to :func:`enc_num_np`: negative → flip all
    bits, else set the sign bit; ``+0.0`` first so ``-0.0`` encodes as
    ``0.0``.  NaN encodes as ``'1'`` (null key), matching the pandas
    path's ``isna`` mask.  ``reflect`` is CodegenFallback (boxed, not
    codegen'd) but stays in the JVM: it benchmarks at parity with the
    vectorized pandas UDF per column and lets whole-stage CSE share
    the encode between ``key_enc`` and ``key_parts_enc``, which two
    ArrowEvalPython nodes never could.
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

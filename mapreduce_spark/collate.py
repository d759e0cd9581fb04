"""CouchDB-collation codec: the single most load-bearing semantic.

Re-implements, Spark-first, the capability of ``pouchdb-collate``
(reference: pouchdb/mapreduce, merged upstream into pouchdb/pouchdb as
``packages/node_modules/pouchdb-collate/src/index.js`` — see
/root/reference/readme.md:4 for the moved-repo notice; SURVEY.md §1.3):

- ``normalize_key``    — undefined/NaN/±Inf → null, Date → ISO string,
  applied recursively (upstream ``normalizeKey``).
- ``collate(a, b)``    — cross-type total order
  ``null < false < true < numbers < strings < arrays < objects``
  (upstream ``collate``); strings compare in **UTF-16 code-unit order**
  (the documented PouchDB deviation from CouchDB's ICU collation).
- ``to_indexable_string(key)`` — an order-preserving string encoding:
  lexicographic (code-point / UTF-8 byte) order of the encodings equals
  ``collate`` order of the keys (upstream ``toIndexableString``).
- ``parse_indexable_string(s)`` — exact inverse
  (upstream ``parseIndexableString``).

The ENCODING ITSELF IS ORIGINAL — not the upstream sign/exponent/decimal-
mantissa scheme.  We only need *an* order-preserving injective code, and a
branch-free IEEE-754 bit trick is simpler, exact, and vectorizes in numpy
for the Spark build path:

    grammar (each char is one Unicode code point):
      enc(null)   = '1'
      enc(false)  = '20'        enc(true) = '21'
      enc(number) = '3' + 16 lowercase-hex chars of monotone_bits(double)
      enc(string) = '4' + esc(u16ord(s)) + '\\x00'
      enc(array)  = '5' + concat(enc(elem)…) + '\\x00'
      enc(object) = '6' + concat(enc(k) + enc(v)…) + '\\x00'

    monotone_bits(d): IEEE-754 bits; sign bit set → invert all bits,
      else set sign bit.  Total order over finite doubles, -0.0
      normalized to 0.0.

    u16ord(s): order-normalizing transform so that code-point comparison
      of the output equals UTF-16 code-unit comparison of the input
      (PouchDB string order).  Only code points >= U+D7FF are rewritten:
        U+D7FF          → E '\\x10'
        cp >= U+10000   → E '\\x11' chr(cp)
        U+E000..U+FFFF  → E '\\x12' chr(cp)
      with E = U+D7FF.  (Surrogate code *units* order between U+D7FF and
      U+E000; the escape discriminators reproduce exactly that order.
      Within the astral group, code-point order equals surrogate-pair
      order, so the raw char after '\\x11' suffices — and the whole
      transform becomes two regexp_replaces + a literal replace,
      JVM-expressible with no Python in the build path.)

    esc(s): terminator escaping (same trick as upstream, which must also
      keep '\\x00' out of stored keys): '\\x00'→'\\x01\\x01',
      '\\x01'→'\\x01\\x02', '\\x02'→'\\x02\\x02'.  All escaped content is
      > '\\x00', so the '\\x00' terminator gives correct prefix ordering
      (["a"] < ["a","b"], "ab" < "abc" inside arrays, …).

Because the array/object encodings are the plain concatenation of the
element encodings, the code is *prefix-compositional*: the encoding of
``key[:n]`` is a prefix of the encoding of ``key`` — which is what makes
``group_level`` (SURVEY §2 A6) a pure-string prefix operation and lets
startkey/endkey push down to Parquet as binary string ranges (SURVEY §4 X3).

Everything here is pure Python with zero Spark imports; Spark-side
vectorized wrappers live in ``mapreduce_spark.functions.encode``.
"""

from __future__ import annotations

import datetime as _dt
import math
import struct
from functools import cmp_to_key
from typing import Any

__all__ = [
    "normalize_key",
    "collate",
    "collation_sort_key",
    "to_indexable_string",
    "parse_indexable_string",
    "MIN_ENC",
    "MAX_ENC",
]

_TERM = "\x00"
_ESC_HI = "퟿"  # last BMP code point below the surrogate range

# An encoded value never starts with '\x00' and never exceeds tag '6';
# these bound every possible encoding (useful for open-ended ranges).
MIN_ENC = ""
MAX_ENC = "7"


# ---------------------------------------------------------------------------
# normalize_key  [reference parity: pouchdb-collate#normalizeKey]
# ---------------------------------------------------------------------------

def normalize_key(key: Any) -> Any:
    """NaN/±Inf → None, datetime → ISO-8601 string, recursive; -0.0 → 0.0.

    Python analog of the JS rules ``undefined/NaN/±Infinity → null`` and
    ``Date → date.toJSON()``.  Integers stay numeric (JSON numbers are
    IEEE-754 doubles in doc space; we normalize to float for injectivity
    of the encoding: collate(1, 1.0) == 0 must imply equal encodings).
    """
    if key is None or isinstance(key, bool):
        return key
    if isinstance(key, float):
        if math.isnan(key) or math.isinf(key):
            return None
        return key + 0.0  # -0.0 → 0.0
    if isinstance(key, int):
        return float(key)
    if isinstance(key, str):
        return key
    if isinstance(key, (_dt.datetime, _dt.date)):
        return key.isoformat()
    if isinstance(key, (list, tuple)):
        return [normalize_key(k) for k in key]
    if isinstance(key, dict):
        return {k: normalize_key(v) for k, v in key.items()}
    raise TypeError(f"unsupported key type for collation: {type(key)!r}")


# ---------------------------------------------------------------------------
# collate  [reference parity: pouchdb-collate#collate]
# ---------------------------------------------------------------------------

def _type_rank(k: Any) -> int:
    if k is None:
        return 0
    if isinstance(k, bool):
        return 1
    if isinstance(k, float):
        return 2
    if isinstance(k, str):
        return 3
    if isinstance(k, list):
        return 4
    return 5  # dict


def _utf16_units(s: str) -> bytes:
    # UTF-16-BE byte order == UTF-16 code-unit order (PouchDB string order).
    return s.encode("utf-16-be", "surrogatepass")


def collate(a: Any, b: Any) -> int:
    """Three-way comparison in CouchDB/PouchDB collation order.

    Inputs are normalized first, so callers may pass raw keys.
    """
    return _collate_norm(normalize_key(a), normalize_key(b))


def _collate_norm(a: Any, b: Any) -> int:
    ra, rb = _type_rank(a), _type_rank(b)
    if ra != rb:
        return -1 if ra < rb else 1
    if ra == 0:
        return 0
    if ra == 1:  # booleans: false < true
        return (a > b) - (a < b)
    if ra == 2:
        return (a > b) - (a < b)
    if ra == 3:
        ua, ub = _utf16_units(a), _utf16_units(b)
        return (ua > ub) - (ua < ub)
    if ra == 4:
        for xa, xb in zip(a, b):
            c = _collate_norm(xa, xb)
            if c:
                return c
        return (len(a) > len(b)) - (len(a) < len(b))
    # objects: entries pairwise in insertion order (key then value)
    ia, ib = list(a.items()), list(b.items())
    for (ka, va), (kb, vb) in zip(ia, ib):
        c = _collate_norm(ka, kb)
        if c:
            return c
        c = _collate_norm(va, vb)
        if c:
            return c
    return (len(ia) > len(ib)) - (len(ia) < len(ib))


def collation_sort_key(key: Any):
    """``sorted(keys, key=collation_sort_key)`` sorts in collation order."""
    return to_indexable_string(key)


_collate_cmp_key = cmp_to_key(collate)


# ---------------------------------------------------------------------------
# to_indexable_string  [reference parity: pouchdb-collate#toIndexableString]
# ---------------------------------------------------------------------------

def _num_to_hex(d: float) -> str:
    bits = struct.unpack(">Q", struct.pack(">d", d))[0]
    if bits & 0x8000_0000_0000_0000:
        bits = bits ^ 0xFFFF_FFFF_FFFF_FFFF  # negative: flip all
    else:
        bits = bits | 0x8000_0000_0000_0000  # non-negative: set sign
    return format(bits, "016x")


def _hex_to_num(h: str) -> float:
    bits = int(h, 16)
    if bits & 0x8000_0000_0000_0000:
        bits = bits ^ 0x8000_0000_0000_0000
    else:
        bits = bits ^ 0xFFFF_FFFF_FFFF_FFFF
    return struct.unpack(">d", struct.pack(">Q", bits))[0]


def _u16ord(s: str) -> str:
    """Rewrite so code-point order of output == UTF-16 code-unit order of s."""
    if not s:
        return s
    # Fast path: all chars strictly below U+D7FF need no rewriting.
    if max(s) < _ESC_HI:
        return s
    out: list[str] = []
    for ch in s:
        cp = ord(ch)
        if cp < 0xD7FF:
            out.append(ch)
        elif cp == 0xD7FF:
            out.append(_ESC_HI + "\x10")
        elif cp >= 0x10000:
            # code-point order == surrogate-pair order inside the astral
            # range, so the raw char carries its own ordering
            out.append(_ESC_HI + "\x11" + ch)
        else:  # U+E000..U+FFFF
            out.append(_ESC_HI + "\x12" + ch)
    return "".join(out)


def _u16ord_inv(s: str) -> str:
    if _ESC_HI not in s:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch != _ESC_HI:
            out.append(ch)
            i += 1
            continue
        disc = s[i + 1]
        if disc == "\x10":
            out.append(_ESC_HI)
            i += 2
        elif disc == "\x11":
            out.append(s[i + 2])
            i += 3
        else:  # '\x12'
            out.append(s[i + 2])
            i += 3
    return "".join(out)


def _esc(s: str) -> str:
    # Order: \x02 first so escape output of \x01/\x00 is never re-escaped.
    return (
        s.replace("\x02", "\x02\x02")
        .replace("\x01", "\x01\x02")
        .replace("\x00", "\x01\x01")
    )


def _unesc(s: str) -> str:
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "\x01":
            out.append("\x00" if s[i + 1] == "\x01" else "\x01")
            i += 2
        elif ch == "\x02":
            out.append("\x02")
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def encode_string_body(s: str) -> str:
    """The payload of a string encoding (no tag, no terminator)."""
    return _esc(_u16ord(s))


def _encode_norm(key: Any, out: list[str]) -> None:
    if key is None:
        out.append("1")
    elif isinstance(key, bool):
        out.append("21" if key else "20")
    elif isinstance(key, float):
        out.append("3")
        out.append(_num_to_hex(key))
    elif isinstance(key, str):
        out.append("4")
        out.append(encode_string_body(key))
        out.append(_TERM)
    elif isinstance(key, list):
        out.append("5")
        for e in key:
            _encode_norm(e, out)
        out.append(_TERM)
    else:  # dict
        out.append("6")
        for k, v in key.items():
            _encode_norm(k, out)
            _encode_norm(v, out)
        out.append(_TERM)


def to_indexable_string(key: Any) -> str:
    """Order-preserving encoding: enc order (code-point) == collate order."""
    out: list[str] = []
    _encode_norm(normalize_key(key), out)
    return "".join(out)


def encode_array_prefix(elements: list[Any]) -> str:
    """Encoding of an array key truncated to the given elements, WITHOUT the
    closing terminator — i.e. a prefix of the full encoding of any array key
    starting with these elements.  Used for group_level prefix grouping and
    startkey=[a, b] range scans."""
    out: list[str] = ["5"]
    for e in elements:
        _encode_norm(normalize_key(e), out)
    return "".join(out)


# ---------------------------------------------------------------------------
# parse_indexable_string  [ref parity: pouchdb-collate#parseIndexableString]
# ---------------------------------------------------------------------------

def parse_indexable_string(s: str) -> Any:
    """Exact inverse of :func:`to_indexable_string`."""
    val, pos = _decode(s, 0)
    if pos != len(s):
        raise ValueError(f"trailing bytes at {pos} in indexable string")
    return val


def _scan_terminated(s: str, pos: int) -> int:
    """Index of the unescaped '\\x00' terminator scanning from pos."""
    i = pos
    n = len(s)
    while i < n:
        ch = s[i]
        if ch == "\x00":
            return i
        if ch in ("\x01", "\x02"):
            i += 2
        else:
            i += 1
    raise ValueError("unterminated encoding")


def _decode(s: str, pos: int) -> tuple[Any, int]:
    tag = s[pos]
    if tag == "1":
        return None, pos + 1
    if tag == "2":
        return s[pos + 1] == "1", pos + 2
    if tag == "3":
        return _hex_to_num(s[pos + 1 : pos + 17]), pos + 17
    if tag == "4":
        end = _scan_terminated(s, pos + 1)
        return _u16ord_inv(_unesc(s[pos + 1 : end])), end + 1
    if tag == "5":
        arr: list[Any] = []
        i = pos + 1
        while s[i] != "\x00":
            v, i = _decode(s, i)
            arr.append(v)
        return arr, i + 1
    if tag == "6":
        obj: dict[Any, Any] = {}
        i = pos + 1
        while s[i] != "\x00":
            k, i = _decode(s, i)
            v, i = _decode(s, i)
            obj[k] = v
        return obj, i + 1
    raise ValueError(f"bad type tag {tag!r} at {pos}")

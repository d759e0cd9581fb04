"""JS regular expressions for the interpreter tiers (F1).

Upstream map/reduce functions are arbitrary JavaScript
(`[U pouchdb-abstract-mapreduce#evalFunc]`), and literal-regex string
methods (``doc.text.match(/re/)``, ``replace``, ``split``, ``test``)
are a common real-design-doc idiom — the widest remaining slice of
"an upstream ddoc that won't run" after round 6 (VERDICT r6 #3).

This module implements a faithful JS-regex subset on top of Python
``re``:

- **Pattern translation** (:func:`translate`): JS character classes
  differ from Python's unicode defaults, so ``\\d \\w \\s`` (and
  negations) expand to their exact ECMAScript non-``u``-mode sets,
  ``(?<name>…)`` / ``\\k<name>`` rewrite to Python named-group
  syntax, ``[]`` (matches nothing) → ``(?!)``, ``[^]`` (matches
  anything) → ``[\\s\\S]``.  The compiled pattern carries
  ``re.ASCII`` so ``\\b``/``\\B`` use the [A-Za-z0-9_] word set —
  ECMAScript's definition.  Constructs whose semantics the engine
  cannot reproduce raise loud :class:`JSReduceError`
  (the ``v`` flag's class set operations, ``\\cX``) — a compile
  miss must never silently mis-match.  The ``u`` flag is supported
  since round 8 (see ``translate``): Python is code-point native, so
  u-mode's unit-vs-code-point semantics are what this module already
  implements; the translation adds ``\\u{…}``, surrogate-pair
  combining, u-mode escape strictness, and ``\\p{…}``/``\\P{…}``
  property classes — General_Category from the stdlib Unicode
  table, ``Script=`` for 28 major scripts from the generated JDK
  table (round 10, ``_script_ranges.py``), ``Script_Extensions=``
  for the same scripts from the generated ``regex``-package UCD
  table (round 11, ``_scx_ranges.py``); negated sets inside
  character classes expand via complement ranges
  (:func:`_invert_ranges`).
- **Sticky ``y`` flag** (round 8): spec RegExpBuiltinExec anchors the
  match AT ``lastIndex`` (Python ``match`` vs ``search``) and
  advances/zeroes it whether or not ``g`` is set; match/matchAll/
  replace/search follow their spec uses of RegExpExec (search and
  split anchor at 0 / ignore it).
- **Stateful objects** (:class:`JSRegExp`): ``lastIndex`` advances on
  ``exec``/``test`` for ``g`` regexes — the ``while ((m =
  re.exec(s)))`` idiom works, including the JS empty-match behavior.
- **String-method semantics**: ``match`` (global and not),
  ``search``, ``replace`` with ``$&``/``$1``/``$`​``/``$'``/
  ``$<name>``/``$$`` expansion or a callback, and the exact
  ECMAScript ``split`` algorithm (captures included, empty-match
  handling Python's ``re.split`` does differently).

Everything is pure Python over already-Arrow-batched doc strings —
this runs on the interpreter tier only; jscompile separately rewrites
anchored-literal patterns (``/^abc/`` …) to pushable
startswith/contains/endswith compiled forms.
"""

from __future__ import annotations

import math
import re
from functools import lru_cache
from typing import Any, Callable

from mapreduce_spark.functions.jsreduce import (
    JSReduceError,
    JSRuntimeThrow,
)

# ECMAScript WhiteSpace ∪ LineTerminator — the \s set in non-u mode
_JS_WS = (
    "\\t\\n\\x0b\\f\\r \\u00a0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000\\ufeff"
)
_CLASS_EXPANSION = {
    "d": "0-9",
    "D": None,  # negations need their own bracket form outside classes
    "w": "A-Za-z0-9_",
    "s": _JS_WS,
}
_OUTSIDE_EXPANSION = {
    "d": "[0-9]",
    "D": "[^0-9]",
    "w": "[A-Za-z0-9_]",
    "W": "[^A-Za-z0-9_]",
    "s": f"[{_JS_WS}]",
    "S": f"[^{_JS_WS}]",
}

_FLAG_MAP = {"i": re.IGNORECASE, "m": re.MULTILINE, "s": re.DOTALL}

# Unicode White_Space (PropList.txt) — NOT the same set as the JS \s
# class above: U+FEFF (BOM) is \s in JS but not White_Space; U+0085
# (NEL) is White_Space but not \s.
_UNICODE_WS = (
    "\\x09-\\x0d\\x20\\x85\\xa0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000"
)

# General_Category long forms / PropertyValueAliases → short form
# (property NAMES in JS \p{…} are case-sensitive — exact keys only).
_GC_ALIAS = {
    "Letter": "L", "Cased_Letter": "LC",
    "Uppercase_Letter": "Lu", "Lowercase_Letter": "Ll",
    "Titlecase_Letter": "Lt", "Modifier_Letter": "Lm",
    "Other_Letter": "Lo",
    "Mark": "M", "Combining_Mark": "M",
    "Nonspacing_Mark": "Mn", "Spacing_Mark": "Mc",
    "Enclosing_Mark": "Me",
    "Number": "N", "Decimal_Number": "Nd", "digit": "Nd",
    "Letter_Number": "Nl", "Other_Number": "No",
    "Punctuation": "P", "punct": "P",
    "Connector_Punctuation": "Pc", "Dash_Punctuation": "Pd",
    "Open_Punctuation": "Ps", "Close_Punctuation": "Pe",
    "Initial_Punctuation": "Pi", "Final_Punctuation": "Pf",
    "Other_Punctuation": "Po",
    "Symbol": "S", "Math_Symbol": "Sm", "Currency_Symbol": "Sc",
    "Modifier_Symbol": "Sk", "Other_Symbol": "So",
    "Separator": "Z", "Space_Separator": "Zs",
    "Line_Separator": "Zl", "Paragraph_Separator": "Zp",
    "Other": "C", "Control": "Cc", "cntrl": "Cc", "Format": "Cf",
    "Surrogate": "Cs", "Private_Use": "Co", "Unassigned": "Cn",
}
# one-letter groupings of the two-letter unicodedata categories
_GC_GROUPS = {
    "L": ("Lu", "Ll", "Lt", "Lm", "Lo"),
    "LC": ("Lu", "Ll", "Lt"),
    "M": ("Mn", "Mc", "Me"),
    "N": ("Nd", "Nl", "No"),
    "P": ("Pc", "Pd", "Ps", "Pe", "Pi", "Pf", "Po"),
    "S": ("Sm", "Sc", "Sk", "So"),
    "Z": ("Zs", "Zl", "Zp"),
    "C": ("Cc", "Cf", "Cs", "Co", "Cn"),
}


@lru_cache(maxsize=1)
def _gc_ranges() -> dict:
    """code-point ranges per two-letter General_Category, from one
    pass over all 0x110000 code points of the stdlib's Unicode table
    (~0.5 s, once per process, only when a \\p pattern compiles)."""
    import unicodedata

    cats: dict = {}
    prev = None
    start = 0
    for cp in range(0x110000):
        cat = unicodedata.category(chr(cp))
        if cat != prev:
            if prev is not None:
                cats.setdefault(prev, []).append((start, cp - 1))
            prev = cat
            start = cp
    cats.setdefault(prev, []).append((start, 0x10FFFF))
    return cats


def _ranges_body(ranges) -> str:
    return "".join(
        _py_cp(a) if a == b else f"{_py_cp(a)}-{_py_cp(b)}"
        for a, b in ranges
    )


def _merge_ranges(ranges) -> tuple:
    """Sorted union of inclusive ranges (adjacent runs coalesce)."""
    out: list = []
    for a, b in sorted(ranges):
        if out and a <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return tuple(out)


def _invert_ranges(ranges) -> tuple:
    """Complement over [0, 0x10FFFF] of sorted disjoint ranges —
    the machinery that lets negated sets (\\P{…}, \\D \\W \\S) live
    INSIDE a character class as plain positive ranges (round 10);
    surrogates are included, matching the [^…] form's behavior on
    the lone surrogates Python strings can carry."""
    out: list = []
    nxt = 0
    for a, b in ranges:
        if a > nxt:
            out.append((nxt, a - 1))
        nxt = b + 1
    if nxt <= 0x10FFFF:
        out.append((nxt, 0x10FFFF))
    return tuple(out)


# the ECMAScript \d / \w / \s sets as ranges (complementable forms
# of _CLASS_EXPANSION — same sets, pinned by the existing tests)
_DWS_RANGES = {
    "d": ((0x30, 0x39),),
    "w": ((0x30, 0x39), (0x41, 0x5A), (0x5F, 0x5F), (0x61, 0x7A)),
    "s": ((0x09, 0x0D), (0x20, 0x20), (0xA0, 0xA0),
          (0x1680, 0x1680), (0x2000, 0x200A), (0x2028, 0x2029),
          (0x202F, 0x202F), (0x205F, 0x205F), (0x3000, 0x3000),
          (0xFEFF, 0xFEFF)),
}


@lru_cache(maxsize=128)
def _prop_ranges(name: str) -> tuple:
    """``\\p{name}`` → sorted inclusive code-point ranges.

    Supported: General_Category values (short + long + ``gc=`` /
    ``General_Category=`` forms) via the stdlib Unicode table; the
    table-free binary properties ASCII / Any / Assigned /
    White_Space / ASCII_Hex_Digit / Hex_Digit; and ``Script=`` /
    ``sc=`` for the 28 major scripts in the generated
    ``_script_ranges`` table (JDK UnicodeScript data — see
    tools/gen_script_ranges.py); ``Script_Extensions=`` / ``scx=``
    for the same scripts via the generated ``_scx_ranges`` table
    (``regex``-package UCD data — tools/gen_scx_ranges.py).  Script
    names match ECMAScript's case-sensitive canonical forms (long
    name or ISO 15924 alias: ``Han``/``Hani``, ``Latin``/``Latn``).
    The remaining binary properties (Alphabetic, ID_Start, …) need
    UCD tables this engine does not carry — loud, never
    approximated."""
    prop = name
    if prop.startswith(
        ("Script=", "sc=", "Script_Extensions=", "scx=")
    ):
        from mapreduce_spark.functions import _script_ranges as S

        ext = prop.startswith(("Script_Extensions=", "scx="))
        val = prop.split("=", 1)[1]
        # ECMAScript property values are case-sensitive canonical
        # names; our table keys are the UPPERCASE long names, so the
        # canonical spelling is the title-cased key or a listed alias
        up = val.upper()
        canon = S.ALIASES.get(up, up)
        canonical_spellings = {canon.title()} | {
            al.title() for al, lng in S.ALIASES.items() if lng == canon
        }
        if canon not in S.RANGES or val not in canonical_spellings:
            kind = "Script_Extensions" if ext else "Script"
            raise JSReduceError(
                f"\\p{{{name}}}: script {val!r} is outside the "
                f"generated {kind} table (28 major scripts; names "
                "are case-sensitive canonical forms, e.g. "
                "Script=Han)"
            )
        if ext:
            # round 11: scx ranges generated from the `regex`
            # package's UCD tables (tools/gen_scx_ranges.py)
            from mapreduce_spark.functions import _scx_ranges as X

            return tuple(X.SCX_RANGES[canon])
        return tuple(S.RANGES[canon])
    if prop.startswith("General_Category="):
        prop = prop[len("General_Category="):]
    elif prop.startswith("gc="):
        prop = prop[3:]
    elif "=" in prop:
        raise JSReduceError(
            f"\\p{{{name}}}: only General_Category and Script "
            "key=value forms are inside the subset"
        )
    if prop == "ASCII":
        return ((0x00, 0x7F),)
    if prop == "Any":
        return ((0x00, 0x10FFFF),)
    if prop == "ASCII_Hex_Digit":
        return ((0x30, 0x39), (0x41, 0x46), (0x61, 0x66))
    if prop == "Hex_Digit":
        return ((0x30, 0x39), (0x41, 0x46), (0x61, 0x66),
                (0xFF10, 0xFF19), (0xFF21, 0xFF26), (0xFF41, 0xFF46))
    if prop == "White_Space":
        # Unicode White_Space (PropList.txt): see _UNICODE_WS
        return ((0x09, 0x0D), (0x20, 0x20), (0x85, 0x85),
                (0xA0, 0xA0), (0x1680, 0x1680), (0x2000, 0x200A),
                (0x2028, 0x2029), (0x202F, 0x202F), (0x205F, 0x205F),
                (0x3000, 0x3000))
    if prop == "Assigned":
        cn = _gc_ranges()["Cn"]
        out = []
        nxt = 0
        for a, b in cn:
            if a > nxt:
                out.append((nxt, a - 1))
            nxt = b + 1
        if nxt <= 0x10FFFF:
            out.append((nxt, 0x10FFFF))
        return tuple(out)
    gc = _GC_ALIAS.get(prop, prop)
    cats = _GC_GROUPS.get(gc, (gc,))
    table = _gc_ranges()
    if not all(c in table for c in cats):
        raise JSReduceError(
            f"\\p{{{name}}} is outside the subset (supported: "
            "General_Category values, ASCII, Any, Assigned, "
            "White_Space, Hex_Digit)"
        )
    return _merge_ranges(
        r for c in cats for r in table[c]
    )


def _p_escape(pattern: str, i: int, in_class: bool,
              negated: bool) -> tuple[str, int]:
    """u-mode ``\\p{…}`` / ``\\P{…}`` at ``pattern[i]`` ('\\')."""
    if pattern[i + 2:i + 3] != "{":
        raise JSRuntimeThrow(
            "\\p must be followed by {Property} in a u-mode regex"
        )
    k = pattern.find("}", i + 3)
    if k < 0:
        raise JSRuntimeThrow("unterminated \\p{…} escape")
    rs = _prop_ranges(pattern[i + 3:k])
    if in_class:
        # a negated set inside a class expands to the COMPLEMENT
        # ranges (round 10) — [\P{L}x] is union(not-L, {x}) in JS,
        # which positive ranges express exactly
        body = _ranges_body(_invert_ranges(rs) if negated else rs)
        return body, k + 1
    body = _ranges_body(rs)
    if not body:
        # an empty expansion (e.g. \P{Any}) is VALID never-matching
        # JS — emit a guaranteed-empty construct instead of the
        # un-compilable '[]' / '[^]'
        return ("[\\s\\S]" if negated else "(?!)"), k + 1
    return (f"[^{body}]" if negated else f"[{body}]"), k + 1

_HEX = set("0123456789abcdefABCDEF")
# identity/character escapes a u-mode pattern may legally contain
# (spec AtomEscape/ClassEscape with [U] — everything else is a
# SyntaxError in real JS, and u-mode exists to be strict about it).
# \p/\P and \c are rejected earlier with their own messages.
_U_OK_OUTSIDE = set("^$\\.*+?()[]{}|/dDsSwWbBfnrtv0123456789xuk")
_U_OK_IN_CLASS = set("^$\\.*+?()[]{}|/dDsSwWbfnrtv0xu-")


def _py_cp(cp: int) -> str:
    return f"\\u{cp:04x}" if cp <= 0xFFFF else f"\\U{cp:08x}"


def _u_escape(pattern: str, i: int) -> tuple[str, int]:
    """u-mode ``\\u`` escape at ``pattern[i]`` ('\\'): code-point
    escapes ``\\u{XXXXXX}`` and surrogate-PAIR combination
    ``\\uD8xx\\uDCxx`` → one astral code point (Python strings are
    code-point native, so passing the raw pair through would silently
    never match — the one u-mode construct the non-u translation gets
    WRONG rather than merely loud)."""
    j = i + 2
    if pattern[j:j + 1] == "{":
        k = pattern.find("}", j)
        hexs = pattern[j + 1:k] if k > 0 else ""
        if not hexs or not set(hexs) <= _HEX:
            raise JSRuntimeThrow("invalid \\u{…} escape")
        cp = int(hexs, 16)
        if cp > 0x10FFFF:
            raise JSRuntimeThrow("\\u{…} code point out of range")
        return _py_cp(cp), k + 1
    hexs = pattern[j:j + 4]
    if len(hexs) < 4 or not set(hexs) <= _HEX:
        raise JSRuntimeThrow("invalid \\uXXXX escape (u-mode)")
    cp = int(hexs, 16)
    j += 4
    if 0xD800 <= cp <= 0xDBFF and pattern[j:j + 2] == "\\u":
        lo = pattern[j + 2:j + 6]
        if len(lo) == 4 and set(lo) <= _HEX:
            lo_cp = int(lo, 16)
            if 0xDC00 <= lo_cp <= 0xDFFF:
                cp = 0x10000 + ((cp - 0xD800) << 10) + (lo_cp - 0xDC00)
                j += 6
    return _py_cp(cp), j


def translate(pattern: str, flags: str) -> tuple[str, int]:
    """JS regex source → (python pattern, re flags).

    Raises JSReduceError for flags/constructs outside the subset.

    The ``u`` flag is supported for patterns without ``\\p{…}``/``\\c``
    (which stay loud): Python strings and ``re`` are code-point native,
    so u-mode's core semantic — atoms, classes and quantifiers operate
    on code points, not UTF-16 units — is exactly what this module
    already does; the translation additionally enables ``\\u{…}``
    escapes, combines explicit surrogate-pair escapes into one code
    point, and enforces u-mode's strict identity-escape grammar.
    Known deviation (shared with the non-u ``i`` flag): case folding
    under ``re.ASCII`` is ASCII-only, so exotic i+u foldings (k ↔ K
    KELVIN, ſ ↔ s) do not match — the \\b/\\B word set must stay
    ECMAScript-ASCII, which Python couples to folding.  ``v``
    (ES2024 unicodeSets) is admitted for CLASS-FREE patterns only
    (round 10): every v-vs-u divergence lives in class syntax — set
    operations ``[[…]--[…]]``/``&&``, nested classes, ``\\q{…}``
    string literals, strings-matching properties — so a pattern with
    no ``[`` and no ``\\q`` behaves identically under v and u, and
    translates as u; anything with a class stays loud.  ``y`` is
    behavioral (:class:`JSRegExp`)."""
    refl = re.ASCII  # \b/\B use the ECMAScript [A-Za-z0-9_] word set
    if len(set(flags)) != len(flags):
        # a JS SyntaxError at literal parse → loud at registration
        # (the lexer validates), like any malformed pattern
        raise JSRuntimeThrow(f"duplicate regex flags {flags!r}")
    uflag = "u" in flags
    if "v" in flags:
        if uflag:  # real JS: u and v together are a SyntaxError
            raise JSRuntimeThrow(
                "regex flags 'u' and 'v' cannot be combined"
            )
        if "[" in pattern or "\\q" in pattern:
            raise JSReduceError(
                "v-mode character classes (set operations, \\q{…}) "
                "are outside the subset; class-free v patterns run "
                "with u semantics"
            )
        uflag = True
    if "d" in flags and "(?<" in pattern.replace(
            "(?<=", "").replace("(?<!", ""):
        # .indices.groups must be an OBJECT when named groups exist —
        # our match-array property model can't express that; plain
        # positional indices (the common case) work fine
        raise JSReduceError(
            "the d flag with named capture groups is outside the "
            "subset (.indices.groups)"
        )
    for f in flags:
        if f in ("g", "u", "y", "v", "d"):
            continue  # g/y/d: behavioral (JSRegExp); u/v: here
        if f in _FLAG_MAP:
            refl |= _FLAG_MAP[f]
        else:
            raise JSReduceError(
                f"regex flag {f!r} is outside the subset"
            )
    out: list[str] = []
    i, n = 0, len(pattern)
    in_class = False
    class_start = 0
    while i < n:
        c = pattern[i]
        if c == "\\":
            if i + 1 >= n:
                raise JSRuntimeThrow("regex ends with a lone backslash")
            e = pattern[i + 1]
            if e in "pP":
                if not uflag:
                    # non-u-mode \p is an Annex-B identity escape in
                    # real JS, but a ddoc writing \p{…} almost surely
                    # meant the property — loud beats silently
                    # matching the letter 'p'
                    raise JSReduceError(
                        "\\p{…} property escapes require the u flag "
                        "(and are an identity escape without it — "
                        "add the flag or escape the backslash)"
                    )
                rep, i = _p_escape(pattern, i, in_class, e == "P")
                out.append(rep)
                continue
            if e == "c":
                raise JSReduceError(
                    "\\cX control escapes are outside the subset"
                )
            if e == "u" and uflag:
                rep, i = _u_escape(pattern, i)
                out.append(rep)
                continue
            if in_class:
                if uflag and e not in _U_OK_IN_CLASS:
                    raise JSRuntimeThrow(  # u-mode strict SyntaxError
                        f"invalid class escape \\{e} in a u-mode regex"
                    )
                exp = _CLASS_EXPANSION.get(e)
                if exp is not None:
                    out.append(exp)
                elif e in "DWS":
                    # negated sets INSIDE a class expand to their
                    # complement ranges (round 10) — Python's own
                    # \D\W\S differ in unicode mode, so the exact
                    # ECMAScript sets are inverted here instead
                    out.append(_ranges_body(
                        _invert_ranges(_DWS_RANGES[e.lower()])
                    ))
                else:
                    out.append(pattern[i:i + 2])
            else:
                if uflag and e not in _U_OK_OUTSIDE:
                    raise JSRuntimeThrow(  # u-mode strict SyntaxError
                        f"invalid escape \\{e} in a u-mode regex"
                    )
                exp2 = _OUTSIDE_EXPANSION.get(e)
                if exp2 is not None:
                    out.append(exp2)
                elif e == "k" and pattern[i + 2:i + 3] == "<":
                    j = pattern.find(">", i + 3)
                    if j < 0:
                        raise JSRuntimeThrow("unterminated \\k<name>")
                    out.append(f"(?P={pattern[i + 3:j]})")
                    i = j + 1
                    continue
                else:
                    out.append(pattern[i:i + 2])
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
                # a class whose every member expanded to the empty
                # set (e.g. [\P{Any}]) is valid never-matching JS but
                # would render as the un-compilable '[]' — substitute
                # the guaranteed-empty/guaranteed-full constructs
                body = "".join(out[class_start + 1:])
                neg = body.startswith("^")
                if not body[1 if neg else 0:]:
                    del out[class_start:]
                    out.append("[\\s\\S]" if neg else "(?!)")
                    i += 1
                    continue
            out.append(c)
            i += 1
            continue
        if c == "[":
            if pattern[i + 1:i + 2] == "]":  # JS []: matches nothing
                out.append("(?!)")
                i += 2
                continue
            if pattern[i + 1:i + 3] == "^]":  # JS [^]: matches anything
                out.append("[\\s\\S]")
                i += 3
                continue
            in_class = True
            class_start = len(out)
            out.append(c)
            i += 1
            continue
        if c == "(" and pattern[i + 1:i + 2] == "?":
            nxt = pattern[i + 2:i + 3]
            if nxt == "<" and pattern[i + 3:i + 4] not in ("=", "!"):
                out.append("(?P<")  # named group
                i += 3
                continue
            out.append(c)
            i += 1
            continue
        if c == ".":
            if "s" not in flags:
                # JS '.' excludes ALL LineTerminators (\n \r
                #  ); Python's excludes only \n
                out.append("[^\\n\\r\\u2028\\u2029]")
                i += 1
                continue
            out.append(c)
            i += 1
            continue
        if c == "$":
            if "m" not in flags:
                # JS non-multiline '$' anchors at the TRUE end;
                # Python '$' also matches before a trailing newline —
                # \Z is the faithful form
                out.append("\\Z")
            else:
                # JS multiline '$' anchors before ANY LineTerminator;
                # Python's MULTILINE '$' only before \n
                out.append("(?:$|(?=[\\r\\u2028\\u2029]))")
            i += 1
            continue
        if c == "^" and "m" in flags:
            # JS multiline '^' matches after ANY LineTerminator
            out.append("(?:^|(?<=[\\r\\u2028\\u2029]))")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out), refl


@lru_cache(maxsize=512)
def _compiled(pattern: str, flags: str) -> re.Pattern:
    py, refl = translate(pattern, flags)
    try:
        return re.compile(py, refl)
    except re.error as ex:
        # a malformed pattern is a JS SyntaxError at regex-literal
        # evaluation — a runtime throw upstream tryMap would see
        raise JSRuntimeThrow(f"invalid regular expression: {ex}") \
            from None


def validate(pattern: str, flags: str) -> None:
    """Translate + compile now so out-of-subset constructs fail at
    view registration, not mid-build."""
    _compiled(pattern, flags)


class JSMatchArray(list):
    """A JS regex match result: an Array of [full, ...groups] that
    also carries ``index`` and ``input`` properties — and, for a
    ``d``-flag regex, ``indices`` ([start, end] per group, undefined
    for unmatched groups; round 10)."""

    __slots__ = ("index", "input", "indices")

    def __init__(self, items: list, index: float, input_: str,
                 indices: Any = None) -> None:
        super().__init__(items)
        self.index = index
        self.input = input_
        self.indices = indices


def _groups_list(m: re.Match, undef: Any) -> list:
    row: list[Any] = [m.group(0)]
    for g in m.groups():
        row.append(undef if g is None else g)
    return row


def _indices_list(m: re.Match, undef: Any) -> list:
    """d-flag match indices: [start, end] per group (JS numbers),
    undefined for non-participating groups."""
    out: list[Any] = []
    for i in range(0, (m.re.groups or 0) + 1):
        if m.group(i) is None:
            out.append(undef)
        else:
            out.append([float(m.start(i)), float(m.end(i))])
    return out


class JSRegExp:
    """A JS RegExp object (literal or ``new RegExp``)."""

    def __init__(self, source: str, flags: str = "") -> None:
        if len(set(flags)) != len(flags):
            raise JSRuntimeThrow(
                f"duplicate regex flags {flags!r}"
            )
        self.source = source
        self.flags = flags
        self.global_ = "g" in flags
        self.sticky = "y" in flags
        self.has_indices = "d" in flags
        self.last_index = 0.0
        self.pattern = _compiled(source, flags)

    def _find(self, s: str, pos: int):
        """One spec match step: sticky anchors AT ``pos`` (Python's
        ``match``), otherwise search forward from it."""
        return (self.pattern.match(s, pos) if self.sticky
                else self.pattern.search(s, pos))

    def __repr__(self) -> str:  # JS RegExp.prototype.toString
        return f"/{self.source}/{self.flags}"

    # -- core (spec RegExpBuiltinExec) ----------------------------------
    def exec(self, s: str, undef: Any) -> Any:
        start = 0
        stateful = self.global_ or self.sticky
        if stateful:
            li = self.last_index
            if li != li or li < 0:
                li = 0.0
            start = int(min(li, len(s) + 1))
            if start > len(s):
                self.last_index = 0.0
                return None
        m = self._find(s, start)
        if m is None:
            if stateful:
                self.last_index = 0.0
            return None
        if stateful:
            self.last_index = float(m.end())
        return JSMatchArray(
            _groups_list(m, undef), float(m.start()), s,
            _indices_list(m, undef) if self.has_indices else None,
        )

    def test(self, s: str, undef: Any) -> bool:
        return self.exec(s, undef) is not None

    # -- String.prototype.matchAll --------------------------------------
    def match_all(self, s: str, undef: Any) -> list:
        """Every match as a full exec-style result (spec
        String.prototype.matchAll — the iterator internally clones the
        regex, so ``last_index`` of the original is untouched, but the
        clone INHERITS it, so iteration starts there; empty matches
        advance by one like the spec's AdvanceStringIndex)."""
        out: list = []
        li = self.last_index
        if li != li or li < 0:
            li = 0.0
        pos = int(min(li, len(s) + 1))
        while pos <= len(s):
            m = self._find(s, pos)
            if m is None:
                break
            out.append(
                JSMatchArray(
                    _groups_list(m, undef), float(m.start()), s,
                    _indices_list(m, undef)
                    if self.has_indices else None,
                )
            )
            pos = m.end() + 1 if m.end() == m.start() else m.end()
        return out

    # -- String.prototype.match -----------------------------------------
    def match(self, s: str, undef: Any) -> Any:
        if not self.global_:
            # spec: one RegExpExec — a non-global STICKY regex
            # anchors at (and advances) lastIndex
            if self.sticky:
                return self.exec(s, undef)
            m = self.pattern.search(s)
            if m is None:
                return None
            return JSMatchArray(
                _groups_list(m, undef), float(m.start()), s,
                _indices_list(m, undef) if self.has_indices else None,
            )
        self.last_index = 0.0
        out: list[str] = []
        pos = 0
        while pos <= len(s):
            m = self._find(s, pos)
            if m is None:
                break
            out.append(m.group(0))
            pos = m.end() + 1 if m.end() == m.start() else m.end()
        return out if out else None

    def search(self, s: str) -> float:
        # spec: lastIndex is saved, zeroed, restored — a sticky regex
        # therefore anchors at 0
        m = self._find(s, 0)
        return float(m.start()) if m else -1.0

    # -- String.prototype.replace ---------------------------------------
    def replace(self, s: str, repl: Any, js_str: Callable,
                call: Callable | None, undef: Any) -> str:
        out: list[str] = []
        pos = 0
        last = 0
        if self.global_:
            # spec zeroes lastIndex up front, and the loop's final
            # failing exec leaves it zero
            self.last_index = 0.0
        if self.sticky and not self.global_:
            # spec: one RegExpExec, which for sticky anchors at
            # lastIndex and advances (or zeroes) it
            li = self.last_index
            if li != li or li < 0:
                li = 0.0
            pos = last = int(min(li, len(s) + 1))
            if pos > len(s):
                self.last_index = 0.0
                return s
            out.append(s[:pos])
        while pos <= len(s):
            m = self._find(s, pos)
            if m is None:
                if self.sticky and not self.global_:
                    self.last_index = 0.0
                break
            if self.sticky and not self.global_:
                self.last_index = float(m.end())
            out.append(s[last:m.start()])
            if call is not None:
                # callback: fn(match, p1…, offset, string); JS passes
                # undefined for unmatched groups
                args: list[Any] = [m.group(0)]
                for g in m.groups():
                    args.append(undef if g is None else g)
                args += [float(m.start()), s]
                out.append(js_str(call(repl, args)))
            else:
                out.append(self._expand(m, js_str(repl), s))
            last = m.end()
            if not self.global_:
                break
            pos = m.end() + 1 if m.end() == m.start() else m.end()
        out.append(s[last:])
        return "".join(out)

    @staticmethod
    def _expand(m: re.Match, tmpl: str, s: str) -> str:
        out: list[str] = []
        i, n = 0, len(tmpl)
        while i < n:
            c = tmpl[i]
            if c != "$" or i + 1 >= n:
                out.append(c)
                i += 1
                continue
            d = tmpl[i + 1]
            if d == "$":
                out.append("$")
                i += 2
            elif d == "&":
                out.append(m.group(0))
                i += 2
            elif d == "`":
                out.append(s[:m.start()])
                i += 2
            elif d == "'":
                out.append(s[m.end():])
                i += 2
            elif d == "<":
                j = tmpl.find(">", i + 2)
                if j < 0:
                    out.append(c)
                    i += 1
                    continue
                name = tmpl[i + 2:j]
                if not m.re.groupindex:
                    # JS GetSubstitution: a regex with NO named
                    # captures leaves '$<name>' LITERAL
                    out.append(tmpl[i:j + 1])
                elif name not in m.re.groupindex:
                    # named captures exist but not this one: empty
                    out.append("")
                else:
                    out.append(m.group(name) or "")
                i = j + 1
            elif d.isdigit():
                # longest valid group number, up to two digits (JS)
                ngroups = m.re.groups
                two = tmpl[i + 1:i + 3]
                if len(two) == 2 and two.isdigit() and \
                        1 <= int(two) <= ngroups:
                    g = m.group(int(two))
                    out.append(g or "")
                    i += 3
                elif 1 <= int(d) <= ngroups:
                    g = m.group(int(d))
                    out.append(g or "")
                    i += 2
                else:
                    out.append(c)  # $0 / out-of-range: literal
                    i += 1
            else:
                out.append(c)
                i += 1
        return "".join(out)

    # -- String.prototype.split (spec algorithm) ------------------------
    def split(self, s: str, limit: Any, undef: Any) -> list:
        if limit is undef:
            lim = 4294967295
        else:
            # JS ToUint32: NaN/±Infinity → 0, negatives wrap
            # (split(re, -1) means "no limit" in practice)
            from mapreduce_spark.functions.jscompile import _js_num

            n = _js_num(limit)
            lim = 0 if n != n or math.isinf(n) else \
                int(n) % 4294967296
        if lim == 0:
            return []
        if s == "":
            return [] if self.pattern.search("") else [s]
        out: list[Any] = []
        p = 0  # start of the current un-split chunk
        q = 0  # scan position
        while q < len(s):
            m = self.pattern.match(s, q)  # anchored at q, like the spec
            if m is None or m.end() == p:
                q += 1
                continue
            out.append(s[p:q])
            if len(out) == lim:
                return out
            for g in m.groups():
                out.append(undef if g is None else g)
                if len(out) == lim:
                    return out
            p = q = m.end()
        out.append(s[p:])
        return out

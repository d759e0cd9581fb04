"""Compile CouchDB/PouchDB JS *reduce* source into an engine reduce.

Upstream compiles the ``reduce`` member of a ddoc exactly like the map
member (``[U pouchdb-abstract-mapreduce#evalFunc, #reduceView]``,
SURVEY.md §2 A4/F1) — a real CouchDB design doc carries
``reduce: "function(keys, values, rereduce) {…}"`` as a JS string.
This module closes that parity gap Spark-first, in two tiers:

1. **Builtin lowering** (the fast path): the overwhelmingly common
   bodies are recognized structurally and lowered to the engine's
   JVM-native builtin aggregates — no Python anywhere:

   - ``return sum(values)``                          → ``_sum``
   - ``return values.reduce(function(a,b){return a+b}[, 0])`` → ``_sum``
   - ``return values.length``                        → ``_count``
   - ``if (rereduce) return sum(values);
     else return values.length``  (either order)     → ``_count``
   - ``return Math.min/max.apply(null, values)`` and the canonical
     seeded accumulator loop (round 6)               → ``_min``/``_max``

   (``values.length`` alone is famously rereduce-UNSAFE; CouchDB's own
   docs prescribe the rereduce guard.  Lowering both shapes to
   ``_count`` gives the semantics the author meant, distributed
   correctly.)

2. **Interpretation** (the general path): everything else in the
   subset below runs as a :class:`JSReduceFunction` — a picklable
   Python callable with the ``(keys, values, rereduce)`` contract —
   through ``reduce_custom``'s true partial/final (rereduce) phases,
   Arrow-batched, one call per group per phase.

Interpreted subset (statements): ``var``/``let``/``const``
declarations,
assignment (``= += -= *= /=`` and ``++``/``--`` on variables, object
members and array elements), ``if``/``else``, C-style ``for`` loops,
``return``, expression statements.  Expressions: literals, array and
object literals, function literals (e.g. ``.reduce`` callbacks, with
enclosing-scope capture), member/index access, ``.length``,
``.push()``, ``.concat()``, ``.reduce()``, calls to the CouchDB
builtin helper ``sum()`` and to
``Math.min/max/abs/floor/ceil/round/sqrt/pow`` (including the
``Math.max.apply(null, values)`` variadic-over-array idiom),
arithmetic (JS-coercing ``+`` with string concat), comparisons
(strict, and loose with ES abstract equality), ``&&``/``||``/``!``,
ternary ``?:``.  Anything
outside raises
:class:`JSReduceError` naming the construct — express that reduce as a
Python callable instead (the documented fallback, same contract as the
map side).
"""

from __future__ import annotations

import math
import re
from typing import Any

from mapreduce_spark.errors import QueryParseError
from mapreduce_spark.functions.jscompile import (
    _UNDEF,
    _de_undef,
    _js_add,
    _js_eq,
    _js_loose_eq,
    _js_num,
    _js_rel,
    _js_str,
    _truthy,
)
from mapreduce_spark.functions.jsdate import (
    JSDate,
    construct_date,
    make_day_ms,
    parse_date,
)


class JSReduceError(QueryParseError):
    """JS source uses a construct outside the interpreted subset."""


class JSRuntimeThrow(JSReduceError):
    """A genuine JS *runtime* throw — TypeError (member/call on
    null/undefined, calling a non-function), SyntaxError
    (JSON.parse), or a user ``throw`` statement — as opposed to an
    out-of-subset construct.  The map path catches this to implement
    upstream tryMap (throw → skip the doc's remaining emits); a
    ``try``/``catch`` in the ddoc catches it first; everywhere else
    it propagates like any JSReduceError.

    ``js_value`` is what a catch clause binds: the thrown value for a
    user ``throw`` (any JS value, including null), else an
    Error-shaped ``{name, message}`` dict for engine-raised
    TypeErrors."""

    _NO_VALUE = object()

    def __init__(self, message: str,
                 js_value: Any = _NO_VALUE) -> None:
        super().__init__(message)
        if js_value is JSRuntimeThrow._NO_VALUE:
            self.js_value: Any = {"name": "Error", "message": message}
        else:
            self.js_value = js_value


_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|//[^\n]*|/\*.*?\*/)
  | (?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<str>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
  | (?P<ident>[A-Za-z_$][A-Za-z0-9_$]*)
  | (?P<punct>\+\+|--|\+=|-=|\*=|/=|%=|===|!==|==|!=|<=|>=|&&|\|\|
              |[?\-+*/%(){}\[\],;.:<>!=])
    """,
    re.VERBOSE | re.DOTALL,
)


# tokens after which a '/' starts a REGEX LITERAL, not division: the
# classic JS lexer heuristic — a regex can only appear where an
# operand is expected (start of input, after an operator/open paren/
# comma/…, or after these keywords), never after a value
_REGEX_PREV_KEYWORDS = frozenset(
    "return typeof instanceof in of new delete void case do else "
    "throw".split()
)


def _regex_allowed(prev: tuple[str, str, int] | None) -> bool:
    if prev is None:
        return True
    kind, tok, _ = prev
    if kind == "punct":
        return tok not in (")", "]")
    if kind == "ident":
        return tok in _REGEX_PREV_KEYWORDS
    return False  # after num/str: division


def _lex_regex(src: str, pos: int) -> tuple[str, int]:
    """Lex ``/pattern/flags`` starting at the '/' — returns (token
    text, end offset).  Mirrors the JS lexer: '/' inside a character
    class does not terminate; a newline does (unterminated)."""
    i = pos + 1
    in_class = False
    n = len(src)
    while i < n:
        c = src[i]
        if c == "\\":
            i += 2
            continue
        if c == "\n":
            break
        if c == "[":
            in_class = True
        elif c == "]":
            in_class = False
        elif c == "/" and not in_class:
            j = i + 1
            while j < n and (src[j].isalpha()):
                j += 1
            return src[pos:j], j
        i += 1
    raise JSReduceError(
        f"unterminated regular expression literal at offset {pos}"
    )


_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
            "v": "\v", "0": "\0"}


def _unquote(tok: str) -> str:
    """Decode a JS string literal: standard escapes (\\n, \\t, \\r,
    \\b, \\f, \\v, \\0, \\uXXXX, \\xNN) decode to their characters;
    any other escaped character (\\\\, \\', \\", \\/ …) is itself."""
    body = tok[1:-1]
    out: list[str] = []
    i = 0
    try:
        while i < len(body):
            c = body[i]
            if c != "\\":
                out.append(c)
                i += 1
                continue
            e = body[i + 1]  # tokenizer guarantees a char after '\'
            if e == "u":
                out.append(chr(int(body[i + 2:i + 6], 16)))
                i += 6
            elif e == "x":
                out.append(chr(int(body[i + 2:i + 4], 16)))
                i += 4
            else:
                out.append(_ESCAPES.get(e, e))
                i += 2
    except (ValueError, IndexError):
        raise JSReduceError(
            f"malformed escape sequence in string literal {tok}"
        ) from None
    return "".join(out)


def _tokenize(src: str) -> list[tuple[str, str, int]]:
    out, pos = [], 0
    while pos < len(src):
        if (
            src[pos] == "/"
            and src[pos + 1:pos + 2] not in ("/", "*")
            and _regex_allowed(out[-1] if out else None)
        ):
            tok, end = _lex_regex(src, pos)
            out.append(("regex", tok, pos))
            pos = end
            continue
        m = _TOKEN_RE.match(src, pos)
        if m is None:
            raise JSReduceError(
                f"unrecognized character {src[pos]!r} at offset {pos}"
            )
        pos = m.end()
        if m.lastgroup != "ws":
            out.append((m.lastgroup, m.group(), m.start()))
    return out


# ---------------------------------------------------------------------------
# Parser: map- and reduce-fn source → statement AST — the one JS front
# end: the interpreter runs this AST for reduces and interpreted maps,
# lower_js_reduce lowers it to builtin reduces and jscompile.lower_js_map
# to the compiled map tiers' emit IR
#
# AST nodes (plain tuples, picklable):
#   stmts:  ('var', [(name, expr|None)…]) | ('return', expr|None)
#           | ('if', cond, [stmt], [stmt])  | ('for', init, cond, upd, [stmt])
#           | ('assign', op, target, expr)  | ('expr', expr)
#   exprs:  ('lit', v) | ('name', n) | ('arr', […]) | ('obj', {k: e})
#           | ('member', e, name) | ('index', e, e) | ('call', e, [args])
#           | ('bin', op, l, r) | ('un', op, e) | ('ternary', c, t, f)
#   assign targets: ('name', n) | ('member', e, name) | ('index', e, e)
# ---------------------------------------------------------------------------

_ASSIGN_OPS = ("=", "+=", "-=", "*=", "/=", "%=")


class _Parser:
    def __init__(self, src: str) -> None:
        self.toks = _tokenize(src)
        self.i = 0

    def _peek(self) -> tuple[str, str, int]:
        if self.i >= len(self.toks):
            raise JSReduceError("unexpected end of function source")
        return self.toks[self.i]

    def _next(self) -> tuple[str, str, int]:
        t = self._peek()
        self.i += 1
        return t

    def _expect(self, text: str) -> None:
        kind, tok, off = self._next()
        if tok != text:
            raise JSReduceError(
                f"expected {text!r} but found {tok!r} at offset {off}"
            )

    def _at(self, text: str) -> bool:
        return self.i < len(self.toks) and self.toks[self.i][1] == text

    def _eat(self, text: str) -> bool:
        if self._at(text):
            self.i += 1
            return True
        return False

    # -- function shell -------------------------------------------------
    def parse(self) -> tuple[list[str], list]:
        self._expect("function")
        if self._peek()[0] == "ident" and not self._at("("):
            self._next()  # optional function name
        self._expect("(")
        params: list[str] = []
        while not self._eat(")"):
            kind, tok, off = self._next()
            if kind == "ident":
                params.append(tok)
            elif tok != ",":
                raise JSReduceError(
                    f"unexpected {tok!r} in parameter list at {off}"
                )
        self._expect("{")
        body = self._block()
        return params, body

    def _block(self) -> list:
        out = []
        while not self._eat("}"):
            out.append(self._stmt())
        return out

    def _function_literal(self) -> Any:
        """Body of a function literal, the ``function`` keyword
        already consumed; an optional NAME binds the closure inside
        its own body (named function expression)."""
        fname = None
        if self._peek()[0] == "ident":
            fname = self._next()[1]
        self._expect("(")
        params: list = []
        while not self._eat(")"):
            k2, t2, o2 = self._next()
            if k2 == "ident":
                params.append(t2)
            elif t2 == "[":
                # array-destructured parameter: function ([k, v]) {…}
                # — elisions ([, v], [a, , b]) bind positionally, so
                # slots are tracked as None placeholders
                names: list = []
                expect_name = True
                while not self._eat("]"):
                    k3, t3, o3 = self._next()
                    if k3 == "ident" and expect_name:
                        names.append(t3)
                        expect_name = False
                    elif t3 == ",":
                        if expect_name:
                            names.append(None)  # elision slot
                        expect_name = True
                    else:
                        raise JSReduceError(
                            f"unexpected {t3!r} in destructuring "
                            f"pattern at {o3}"
                        )
                params.append(("destructure", names))
            elif t2 != ",":
                raise JSReduceError(
                    f"unexpected {t2!r} in parameter list at {o2}"
                )
        self._expect("{")
        return ("func", params, self._block(), fname)

    def _stmt_or_block(self) -> list:
        if self._eat("{"):
            return self._block()
        return [self._stmt()]

    # -- statements -----------------------------------------------------
    def _stmt(self) -> Any:
        kind, tok, off = self._peek()
        if tok in ("var", "let", "const"):
            self._next()
            s = ("var", self._var_decls())
            self._eat(";")
            return s
        if tok == "return":
            self._next()
            if self._at(";") or self._at("}"):
                self._eat(";")
                return ("return", None)
            e = self._expr()
            self._eat(";")
            return ("return", e)
        if tok == "if":
            self._next()
            self._expect("(")
            cond = self._expr()
            self._expect(")")
            then = self._stmt_or_block()
            other: list = []
            if self._eat("else"):
                if self._at("if"):
                    other = [self._stmt()]
                else:
                    other = self._stmt_or_block()
            return ("if", cond, then, other)
        if (
            tok == "function"
            and self.i + 1 < len(self.toks)
            and self.toks[self.i + 1][0] == "ident"
        ):
            # statement-level function DECLARATION: bind the name like
            # `var f = function f(){…}`.  (Not hoisted — a
            # use-before-definition throws instead of silently
            # resolving; ddocs define helpers before use.)
            self._next()  # 'function'
            e = self._function_literal()
            return ("var", [(e[3], e)])
        if tok == "throw":
            self._next()
            e = self._expr()
            self._eat(";")
            return ("throw", e)
        if tok == "try":
            self._next()
            self._expect("{")
            block = self._block()
            handler = None
            if self._eat("catch"):
                param = None
                if self._eat("("):
                    k2, p, _o2 = self._next()
                    if k2 == "ident":
                        param = p
                    self._expect(")")
                self._expect("{")
                handler = (param, self._block())
            final = None
            if self._eat("finally"):
                self._expect("{")
                final = self._block()
            if handler is None and final is None:
                raise JSReduceError("try without catch or finally")
            return ("try", block, handler, final)
        if tok == "switch":
            # switch (disc) { case e: stmts… default: stmts… } with
            # strict-equality matching and fall-through until break
            self._next()
            self._expect("(")
            disc = self._expr()
            self._expect(")")
            self._expect("{")
            clauses: list = []
            while not self._eat("}"):
                if self._eat("case"):
                    ce = self._expr()
                    self._expect(":")
                    clauses.append([ce, []])
                elif self._eat("default"):
                    self._expect(":")
                    clauses.append([None, []])
                else:
                    if not clauses:
                        raise JSReduceError(
                            "statement before the first case label "
                            "in switch"
                        )
                    clauses[-1][1].append(self._stmt())
            return ("switch", disc,
                    [(c, list(b)) for c, b in clauses])
        if tok == "while":
            self._next()
            self._expect("(")
            cond = self._expr()
            self._expect(")")
            return ("while", cond, self._stmt_or_block())
        if tok == "do":
            self._next()
            body = self._stmt_or_block()
            if not self._eat("while"):
                raise JSReduceError("do without while")
            self._expect("(")
            cond = self._expr()
            self._expect(")")
            self._eat(";")
            return ("dowhile", body, cond)
        if tok == "break":
            self._next()
            self._eat(";")
            return ("break",)
        if tok == "continue":
            self._next()
            self._eat(";")
            return ("continue",)
        if tok == "for":
            self._next()
            self._expect("(")
            # for-in: `for ([var] k in obj) body` — enumerates object
            # keys in insertion order / array index strings (JS `in`
            # is a reserved word, so the lookahead is unambiguous)
            save = self.i
            if self._peek()[1] in ("var", "let", "const"):
                self._next()
            if (
                self.i + 1 < len(self.toks)
                and self.toks[self.i][0] == "ident"
                and self.toks[self.i + 1][1] in ("in", "of")
            ):
                k = self._next()[1]
                kind = self._next()[1]  # 'in' | 'of'
                obj = self._expr()
                self._expect(")")
                return (
                    "forin" if kind == "in" else "forof",
                    k, obj, self._stmt_or_block(),
                )
            self.i = save
            init: Any = None
            if not self._at(";"):
                if self._at("var") or self._at("let"):
                    self._next()
                    init = ("var", self._var_decls())
                else:
                    init = self._simple_stmt()
            self._expect(";")
            cond = None if self._at(";") else self._expr()
            self._expect(";")
            upd = None if self._at(")") else self._simple_stmt()
            self._expect(")")
            body = self._stmt_or_block()
            return ("for", init, cond, upd, body)
        if tok == ";":
            self._next()
            return ("expr", ("lit", None))
        s = self._simple_stmt()
        self._eat(";")
        return s

    def _var_decls(self) -> list:
        decls = []
        while True:
            kind, name, off = self._next()
            if kind != "ident":
                raise JSReduceError(
                    f"expected variable name, got {name!r} at {off}"
                )
            decls.append((name, self._expr() if self._eat("=") else None))
            if not self._eat(","):
                return decls

    def _simple_stmt(self) -> Any:
        """Assignment / increment / bare expression (no trailing ';')."""
        if self._at("++") or self._at("--"):
            op = self._next()[1]
            t = self._postfix()
            return ("assign", "+=" if op == "++" else "-=",
                    self._as_target(t), ("lit", 1.0))
        e = self._postfix()
        if self.i < len(self.toks) and self.toks[self.i][1] in _ASSIGN_OPS:
            op = self._next()[1]
            return ("assign", op, self._as_target(e), self._expr())
        if self._eat("++"):
            return ("assign", "+=", self._as_target(e), ("lit", 1.0))
        if self._eat("--"):
            return ("assign", "-=", self._as_target(e), ("lit", 1.0))
        # not an assignment after all: let the full expression grammar
        # finish from the already-parsed postfix (binary tail etc.)
        return ("expr", self._binary_tail(e))

    def _as_target(self, e: Any) -> Any:
        if e[0] in ("name", "member", "index"):
            return e
        raise JSReduceError(f"invalid assignment target {e[0]!r}")

    # -- expressions (precedence climbing) ------------------------------
    def _expr(self) -> Any:
        e = self._or()
        if self._eat("?"):
            t = self._expr()
            self._expect(":")
            return ("ternary", e, t, self._expr())
        return e

    def _or(self) -> Any:
        left = self._and()
        while self._eat("||"):
            left = ("bin", "||", left, self._and())
        return left

    def _and(self) -> Any:
        left = self._cmp()
        while self._eat("&&"):
            left = ("bin", "&&", left, self._cmp())
        return left

    def _cmp(self) -> Any:
        left = self._add()
        while self.i < len(self.toks) and self.toks[self.i][1] in (
            "===", "==", "!==", "!=", "<", "<=", ">", ">=",
        ):
            op = self._next()[1]
            left = ("bin", op, left, self._add())
        return left

    def _add(self) -> Any:
        left = self._mul()
        while self.i < len(self.toks) and self.toks[self.i][1] in ("+", "-"):
            op = self._next()[1]
            left = ("bin", op, left, self._mul())
        return left

    def _mul(self) -> Any:
        left = self._unary()
        while self.i < len(self.toks) and self.toks[self.i][1] in (
            "*", "/", "%",
        ):
            op = self._next()[1]
            left = ("bin", op, left, self._unary())
        return left

    def _unary(self) -> Any:
        if self._eat("!"):
            return ("un", "!", self._unary())
        if self._eat("-"):
            return ("un", "-", self._unary())
        if self._eat("+"):
            return ("un", "+", self._unary())
        return self._postfix()

    def _binary_tail(self, e: Any) -> Any:
        """Continue the binary/ternary grammar after a parsed postfix."""
        # mul level
        while self.i < len(self.toks) and self.toks[self.i][1] in (
            "*", "/", "%",
        ):
            op = self._next()[1]
            e = ("bin", op, e, self._unary())
        # add level
        while self.i < len(self.toks) and self.toks[self.i][1] in ("+", "-"):
            op = self._next()[1]
            e = ("bin", op, e, self._mul())
        while self.i < len(self.toks) and self.toks[self.i][1] in (
            "===", "==", "!==", "!=", "<", "<=", ">", ">=",
        ):
            op = self._next()[1]
            e = ("bin", op, e, self._add())
        while self._eat("&&"):
            e = ("bin", "&&", e, self._cmp())
        while self._eat("||"):
            e = ("bin", "||", e, self._and())
        if self._eat("?"):
            t = self._expr()
            self._expect(":")
            return ("ternary", e, t, self._expr())
        return e

    def _postfix(self) -> Any:
        e = self._primary()
        while True:
            if self._eat("."):
                kind, tok, off = self._next()
                if kind != "ident":
                    raise JSReduceError(
                        f"expected member name at offset {off}"
                    )
                e = ("member", e, tok)
            elif self._at("["):
                self._next()
                idx = self._expr()
                self._expect("]")
                e = ("index", e, idx)
            elif self._at("("):
                self._next()
                args = []
                while not self._eat(")"):
                    args.append(self._expr())
                    self._eat(",")
                e = ("call", e, args)
            else:
                return e

    def _primary(self) -> Any:
        kind, tok, off = self._next()
        if kind == "num":
            return ("lit", float(tok))
        if kind == "str":
            return ("lit", _unquote(tok))
        if kind == "regex":
            body, _, flags = tok[1:].rpartition("/")
            from mapreduce_spark.functions.jsregex import validate

            # a malformed regex LITERAL is a JS early SyntaxError (the
            # whole fn fails to parse) and an out-of-subset construct
            # must be loud — both fail HERE, at view registration
            validate(body, flags)
            return ("regexlit", body, flags)
        if kind == "ident":
            if tok == "null":
                return ("lit", None)
            if tok == "true":
                return ("lit", True)
            if tok == "false":
                return ("lit", False)
            if tok == "undefined":
                return ("lit", _UNDEF)
            if tok == "new":
                # new-expression: `new Ctor(args)` (parens optional,
                # JS NewExpression); postfix member/call chains then
                # apply to the CONSTRUCTED object, matching JS
                # precedence for `new Date(x).getTime()`
                k2, t2, o2 = self._next()
                if k2 != "ident":
                    raise JSReduceError(
                        f"expected a constructor name after 'new' "
                        f"at offset {o2}"
                    )
                cargs: list = []
                if self._eat("("):
                    while not self._eat(")"):
                        cargs.append(self._expr())
                        self._eat(",")
                return ("new", t2, cargs)
            if tok == "function":
                return self._function_literal()
            return ("name", tok)
        if tok == "(":
            # parenthesized ASSIGNMENT EXPRESSION — the JS
            # `while ((m = re.exec(s)) !== null)` idiom; backtrack to
            # a plain expression when the '(' doesn't wrap one
            save = self.i
            try:
                tgt = self._postfix()
                if (
                    tgt[0] in ("name", "member", "index")
                    and self.i < len(self.toks)
                    and self.toks[self.i][1] in _ASSIGN_OPS
                ):
                    op = self._next()[1]
                    val = self._expr()
                    self._expect(")")
                    return ("assignx", op, tgt, val)
            except JSReduceError:
                pass
            self.i = save
            e = self._expr()
            self._expect(")")
            return e
        if tok == "[":
            items = []
            while not self._eat("]"):
                items.append(self._expr())
                self._eat(",")
            return ("arr", items)
        if tok == "{":
            obj = {}
            while not self._eat("}"):
                kkind, ktok, koff = self._next()
                if kkind == "str":
                    ktok = _unquote(ktok)
                elif kkind not in ("ident", "num"):
                    raise JSReduceError(
                        f"unsupported object key {ktok!r} at {koff}"
                    )
                self._expect(":")
                obj[ktok] = self._expr()
                self._eat(",")
            return ("obj", obj)
        raise JSReduceError(
            f"unsupported expression {tok!r} at offset {off} — see the "
            "interpreted JS subset; use a Python map or reduce callable "
            "for anything outside it"
        )


# ---------------------------------------------------------------------------
# Interpreter
# ---------------------------------------------------------------------------


class _Return(Exception):
    def __init__(self, value: Any) -> None:
        self.value = value


class _Break(Exception):
    """JS ``break`` — caught by the innermost enclosing loop."""


class _Continue(Exception):
    """JS ``continue`` — caught by the innermost enclosing loop."""


class _Scope:
    """JS scope chain.  ``var`` declarations bind in the innermost
    function scope (``declare``); plain assignment writes to the
    NEAREST enclosing binding — so a callback mutating a captured
    variable updates the outer variable, as JS closures do — falling
    back to the root scope (JS's implicit-global) when unbound."""

    __slots__ = ("local", "parent")

    def __init__(self, local: dict | None = None,
                 parent: "_Scope | None" = None) -> None:
        self.local = local if local is not None else {}
        self.parent = parent

    def __contains__(self, name: str) -> bool:
        s: _Scope | None = self
        while s is not None:
            if name in s.local:
                return True
            s = s.parent
        return False

    def __getitem__(self, name: str) -> Any:
        s: _Scope | None = self
        while s is not None:
            if name in s.local:
                return s.local[name]
            s = s.parent
        raise KeyError(name)

    def __setitem__(self, name: str, value: Any) -> None:
        s: _Scope = self
        while True:
            if name in s.local:
                s.local[name] = value
                return
            if s.parent is None:
                s.local[name] = value  # unbound → root (JS global)
                return
            s = s.parent

    def declare(self, name: str, value: Any) -> None:
        self.local[name] = value

    def shadow(self, name: str, value: Any) -> tuple[bool, Any]:
        """Bind ``name`` in the innermost scope for a catch block,
        returning (had_prior_local_binding, prior_value) for
        ``unshadow``.  Only the innermost dict is saved: an OUTER
        binding of the same name is merely shadowed by the new local
        entry and reappears when it is removed."""
        had = name in self.local
        old = self.local.get(name)
        self.local[name] = value
        return had, old

    def unshadow(self, name: str, had: bool, old: Any) -> None:
        if had:
            self.local[name] = old
        else:
            self.local.pop(name, None)


def _js_to_int(v: Any) -> int:
    """JS ToIntegerOrInfinity over the subset: NaN -> 0, +/-Infinity
    clamps to a sentinel beyond any string/array length (the callers
    bounds-check), truncation toward zero otherwise -- int() on NaN
    raises in Python where JS coerces, so every index/length coercion
    goes through here."""
    x = _js_num(v)
    if x != x:
        return 0
    if math.isinf(x):
        return (1 << 53) if x > 0 else -(1 << 53)
    return int(x)


def _builtin_sum(args: list) -> float | list:
    """CouchDB's map/reduce helper ``sum(values)``: numbers sum
    numerically; arrays sum element-wise (shorter zero-padded) —
    upstream ``pouchdb-mapreduce-utils#sum`` semantics."""
    if len(args) != 1 or not isinstance(args[0], list):
        raise JSReduceError("sum() takes one array argument")
    vals = args[0]
    if any(isinstance(v, list) for v in vals):
        out: list[float] = []
        for v in vals:
            arr = v if isinstance(v, list) else [v]
            for i, x in enumerate(arr):
                x = _js_num(x)
                if i < len(out):
                    out[i] += x
                else:
                    out.append(x)
        return out
    return sum(_js_num(v) for v in vals)


def _js_min(args: list) -> float:
    # JS: Math.min() = Infinity; any NaN operand → NaN
    vals = [_js_num(a) for a in args]
    if any(v != v for v in vals):
        return math.nan
    return min(vals, default=math.inf)


def _js_max(args: list) -> float:
    vals = [_js_num(a) for a in args]
    if any(v != v for v in vals):
        return math.nan
    return max(vals, default=-math.inf)


def _js_intop(fn):
    # JS: Math.floor/ceil/round of NaN/±Infinity return the input
    def op(args: list) -> float:
        x = _js_num(args[0]) if args else math.nan
        if x != x or math.isinf(x):
            return x
        return float(fn(x))

    return op


def _js_sqrt(args: list) -> float:
    x = _js_num(args[0]) if args else math.nan
    if x != x or x < 0:
        return math.nan  # JS: sqrt of a negative is NaN, not an error
    return math.sqrt(x)


def _js_pow(args: list) -> float:
    try:
        r = _js_num(args[0]) ** _js_num(args[1])
    except (OverflowError, ValueError, ZeroDivisionError):
        return math.nan
    if isinstance(r, complex):  # Python promotes (-x)**0.5; JS: NaN
        return math.nan
    return float(r)


_MATH_FNS = {
    "min": _js_min,
    "max": _js_max,
    "abs": lambda args: abs(_js_num(args[0])) if args else math.nan,
    "floor": _js_intop(math.floor),
    "ceil": _js_intop(math.ceil),
    "round": _js_intop(lambda x: math.floor(x + 0.5)),
    "sqrt": _js_sqrt,
    "pow": _js_pow,
}

_LIST_METHODS = frozenset(
    "push concat indexOf join slice reduce map filter forEach "
    "sort reverse every some find findIndex includes lastIndexOf "
    "pop shift unshift toString splice flat reduceRight flatMap "
    "keys values entries fill copyWithin at "
    "findLast findLastIndex toSorted toReversed toSpliced with".split()
)
_STR_METHODS = frozenset(
    "toLowerCase toUpperCase substring substr slice split indexOf "
    "lastIndexOf charAt charCodeAt trim replace concat startsWith "
    "endsWith includes toString match search matchAll padStart "
    "padEnd repeat normalize codePointAt at trimStart trimEnd "
    "replaceAll valueOf".split()
)
# localeCompare is deliberately OUT: its order is locale/ICU-dependent
# (the same non-goal as ICU view collation, SURVEY §1.3-3) — a pinned
# approximation would silently diverge between engines
_STR_METHODS_JS = frozenset(("localeCompare",))
_NUM_METHODS = frozenset(("toFixed", "toString"))


def _js_parse_int(args: list) -> float:
    """JS parseInt: leading-whitespace skip, optional sign, longest
    digit prefix in the given radix (10 default, 16 for 0x), NaN if
    no digits."""
    s = _js_str(args[0]).strip() if args else ""
    r = _js_num(args[1]) if len(args) > 1 else 0.0
    radix = int(r) if r == r and not math.isinf(r) else 0
    # JS: only an ABSENT/0 radix (or explicit 16) auto-detects 0x —
    # parseInt('0x10', 10) parses the base-10 prefix '0' and returns 0
    auto = radix == 0
    if auto:
        radix = 10
    elif radix < 2 or radix > 36:
        return math.nan
    sign = 1
    if s[:1] in "+-":
        sign = -1 if s[0] == "-" else 1
        s = s[1:]
    if radix == 16 and s[:2].lower() == "0x":
        s = s[2:]
    elif auto and s[:2].lower() == "0x":
        radix, s = 16, s[2:]
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"[:radix]
    i = 0
    while i < len(s) and s[i].lower() in digits:
        i += 1
    if i == 0:
        return math.nan
    return float(sign * int(s[:i], radix))


def _js_parse_float(args: list) -> float:
    s = _js_str(args[0]).strip() if args else ""
    m = re.match(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?", s)
    if m is None:
        return math.nan
    return float(m.group(0))


def _exec_block(stmts: list, env: dict) -> None:
    for s in stmts:
        _exec_stmt(s, env)


def _exec_stmt(s: Any, env: "_Scope") -> None:
    tag = s[0]
    if tag == "var":
        for name, e in s[1]:
            env.declare(name, _UNDEF if e is None else _eval(e, env))
    elif tag == "return":
        raise _Return(None if s[1] is None else _eval(s[1], env))
    elif tag == "if":
        if _truthy(_eval(s[1], env)):
            _exec_block(s[2], env)
        else:
            _exec_block(s[3], env)
    elif tag == "for":
        _, init, cond, upd, body = s
        if init is not None:
            _exec_stmt(init, env)
        steps = 0
        while cond is None or _truthy(_eval(cond, env)):
            try:
                _exec_block(body, env)
            except _Break:
                break
            except _Continue:
                pass
            if upd is not None:
                _exec_stmt(upd, env)
            steps += 1
            if steps > 10_000_000:
                raise JSReduceError(
                    "reduce for-loop exceeded 10M iterations (runaway?)"
                )
    elif tag in ("while", "dowhile"):
        cond = s[1] if tag == "while" else s[2]
        body = s[2] if tag == "while" else s[1]
        steps = 0
        first = tag == "dowhile"  # do-while runs the body once first
        while first or _truthy(_eval(cond, env)):
            first = False
            try:
                _exec_block(body, env)
            except _Break:
                break
            except _Continue:
                pass
            steps += 1
            if steps > 10_000_000:
                raise JSReduceError(
                    "while-loop exceeded 10M iterations (runaway?)"
                )
    elif tag == "switch":
        # JS: evaluate case expressions in order until one === the
        # discriminant; execute from there with FALL-THROUGH until
        # break; no match → the default clause (executed in its
        # source position, falling through to later cases)
        disc = _eval(s[1], env)
        clauses = s[2]
        start = None
        for i, (ce, _b) in enumerate(clauses):
            if ce is not None and _js_eq(disc, _eval(ce, env)):
                start = i
                break
        if start is None:
            for i, (ce, _b) in enumerate(clauses):
                if ce is None:
                    start = i
                    break
        if start is not None:
            try:
                for _ce, body in clauses[start:]:
                    _exec_block(body, env)
            except _Break:
                pass
    elif tag == "break":
        raise _Break()
    elif tag == "continue":
        raise _Continue()
    elif tag == "throw":
        # the thrown value is LIVE JS state (a catch binding reads it
        # as-is — Dates keep their methods, undefined stays
        # undefined); only the error MESSAGE is stringified
        val = _eval(s[1], env)
        raise JSRuntimeThrow(f"uncaught JS throw: {_js_str(val)!r}",
                             js_value=val)
    elif tag == "try":
        _, block, handler, final = s
        try:
            try:
                _exec_block(block, env)
            except JSRuntimeThrow as ex:
                # only genuine JS throws are catchable; out-of-subset
                # engine errors (plain JSReduceError) must stay loud
                if handler is None:
                    raise
                param, hblock = handler
                if param is None:
                    _exec_block(hblock, env)
                else:
                    # the catch param is BLOCK-scoped to the handler
                    # (even pre-ES6), while `var` declarations inside
                    # the handler stay function-scoped — so shadow
                    # the param for the handler's duration and
                    # restore the outer binding after, rather than
                    # opening a child scope that would trap vars
                    had, old = env.shadow(param, ex.js_value)
                    try:
                        _exec_block(hblock, env)
                    finally:
                        env.unshadow(param, had, old)
        finally:
            # JS finally runs on fall-through, throw, return, break,
            # and continue alike — Python's finally matches exactly
            if final is not None:
                _exec_block(final, env)
    elif tag == "forin":
        _, k, oexpr, body = s
        obj = _eval(oexpr, env)
        if isinstance(obj, dict):
            # ES OrdinaryOwnPropertyKeys order: integer-like keys
            # numerically first, then insertion order
            from mapreduce_spark.functions.jscompile import (
                es_own_keys,
            )

            keys = es_own_keys(obj)
        elif isinstance(obj, (list, str)):
            keys = [str(i) for i in range(len(obj))]
        else:
            keys = []  # null/undefined/primitives: zero iterations
        env.declare(k, _UNDEF)
        for key in keys:
            env[k] = key
            try:
                _exec_block(body, env)
            except _Break:
                break
            except _Continue:
                continue
    elif tag == "forof":
        # for (x of arr) — the subset's iterables are arrays and
        # strings (its keys()/values()/entries() return materialized
        # arrays, so those iterate here too); anything else is the
        # faithful JS TypeError ("x is not iterable"), a runtime throw
        _, k, oexpr, body = s
        obj = _eval(oexpr, env)
        if isinstance(obj, (list, str)):
            items = list(obj)
        else:
            raise JSRuntimeThrow("for…of target is not iterable")
        env.declare(k, _UNDEF)
        for item in items:
            env[k] = item
            try:
                _exec_block(body, env)
            except _Break:
                break
            except _Continue:
                continue
    elif tag == "assign":
        _, op, target, e = s
        val = _eval(e, env)
        if op != "=":
            cur = _eval(target, env)
            if op == "+=":
                val = _js_add(cur, val)
            elif op == "-=":
                val = _js_num(cur) - _js_num(val)
            elif op == "*=":
                val = _js_num(cur) * _js_num(val)
            elif op == "/=":
                val = _js_div(cur, val)
            elif op == "%=":
                val = _js_mod(cur, val)
        _store(target, val, env)
    elif tag == "expr":
        _eval(s[1], env)
    else:  # pragma: no cover
        raise JSReduceError(f"unsupported statement {tag!r}")


def _store(target: Any, val: Any, env: dict) -> None:
    tag = target[0]
    if tag == "name":
        env[target[1]] = val
        return
    if tag == "member":
        obj = _eval(target[1], env)
        from mapreduce_spark.functions.jsregex import JSRegExp

        if isinstance(obj, JSRegExp) and target[2] == "lastIndex":
            obj.last_index = _js_num(val)
            return
        if isinstance(obj, list):
            if target[2] == "length":
                n = _js_num(val)
                if n != n or math.isinf(n) or n < 0 or n != int(n):
                    # JS RangeError: invalid array length
                    raise JSRuntimeThrow("invalid array length")
                i = int(n)
                if i > (1 << 20):
                    raise JSReduceError(
                        "array length beyond supported size"
                    )
                del obj[i:]
                while len(obj) < i:
                    obj.append(_UNDEF)
                return
            # non-length member write on an array: a JS property,
            # invisible to element iteration and JSON.stringify
            return
        if not isinstance(obj, dict):
            if obj is None or obj is _UNDEF:
                # JS TypeError (both modes) -- a runtime throw
                raise JSRuntimeThrow(
                    f"cannot set member {target[2]!r} on "
                    f"{'undefined' if obj is _UNDEF else 'null'}"
                )
            # sloppy-mode JS: member write on a primitive is a
            # silent no-op (ddocs run non-strict upstream)
            return
        obj[target[2]] = val
        return
    if tag == "index":
        obj = _eval(target[1], env)
        idx = _eval(target[2], env)
        if isinstance(obj, dict):
            obj[_js_str(idx)] = val
            return
        if isinstance(obj, list):
            n = _js_num(idx)
            if n != n or math.isinf(n) or n < 0 or n != int(n):
                # JS: a[NaN]/a[Infinity]/a[-1]/a[1.5] = v writes a
                # PROPERTY, not an element -- invisible to array
                # iteration and JSON.stringify, so a no-op here
                return
            i = int(n)
            if i > (1 << 20):
                raise JSReduceError(
                    "sparse array assignment beyond supported size"
                )
            while len(obj) <= i:
                obj.append(_UNDEF)
            obj[i] = val
            return
    raise JSReduceError("invalid assignment target")


def _js_div(a: Any, b: Any) -> float:
    x, y = _js_num(a), _js_num(b)
    if x != x or y != y:
        return math.nan
    if y == 0:
        if x == 0:
            return math.nan  # 0/0
        return math.copysign(math.inf, x) * math.copysign(1.0, y)
    return x / y


def _js_mod(a: Any, b: Any) -> float:
    x, y = _js_num(a), _js_num(b)
    if y == 0 or x != x or y != y or math.isinf(x):
        # JS: x % 0, NaN operands, and ±Infinity % y are all NaN
        # (Python's fmod raises ValueError on an infinite dividend)
        return math.nan
    if math.isinf(y):
        return x  # finite % ±Infinity = the dividend
    return math.fmod(x, y)


def _eval(e: Any, env: dict) -> Any:
    tag = e[0]
    if tag == "lit":
        return e[1]
    if tag == "name":
        n = e[1]
        if n in env:
            return env[n]
        if n == "Infinity":
            return math.inf
        if n == "NaN":
            return math.nan
        if n in ("Math", "sum", "JSON", "Object", "parseInt",
                 "parseFloat", "isNaN", "isFinite", "String", "Number",
                 "Boolean", "Date"):
            return ("__builtin__", n)
        if n in ("RegExp", "Array", "Error", "Function",
                 "Symbol", "Promise", "Map", "Set", "Proxy",
                 "Reflect", "BigInt", "Intl", "eval", "require"):
            # a REAL JS global the engine cannot run: fail LOUD (a
            # runtime-throw classification would tryMap-skip every
            # doc into a silently wrong view)
            raise JSReduceError(
                f"the {n} global is outside the subset"
            )
        # plain unknown name: JS ReferenceError -- a genuine runtime
        # throw (tryMap skips the doc; reduce errors propagate)
        raise JSRuntimeThrow(f"undefined identifier {n!r} in JS fn")
    if tag == "assignx":
        op, target, rhs = e[1], e[2], e[3]
        val = _eval(rhs, env)
        if op != "=":
            cur = _eval(target, env)
            if op == "+=":
                val = _js_add(cur, val)
            elif op == "-=":
                val = _js_num(cur) - _js_num(val)
            elif op == "*=":
                val = _js_num(cur) * _js_num(val)
            elif op == "/=":
                val = _js_div(cur, val)
            elif op == "%=":
                val = _js_mod(cur, val)
        _store(target, val, env)
        return val
    if tag == "regexlit":
        from mapreduce_spark.functions.jsregex import JSRegExp

        # a fresh object per evaluation, like a JS regex literal —
        # lastIndex state is per-occurrence (the compiled re.Pattern
        # behind it is lru-cached)
        return JSRegExp(e[1], e[2])
    if tag == "new":
        cname, cargs = e[1], e[2]
        if cname == "RegExp":
            from mapreduce_spark.functions.jsregex import JSRegExp

            vals = [_eval(a, env) for a in cargs]
            pat = vals[0] if vals else _UNDEF
            if isinstance(pat, JSRegExp):
                fl = (_js_str(vals[1]) if len(vals) > 1
                      and vals[1] is not _UNDEF else pat.flags)
                return JSRegExp(pat.source, fl)
            src_s = "(?:)" if pat is _UNDEF else _js_str(pat)
            fl = _js_str(vals[1]) if len(vals) > 1 \
                and vals[1] is not _UNDEF else ""
            return JSRegExp(src_s, fl)
        if cname != "Date":
            raise JSReduceError(
                f"new {cname}() is outside the subset"
            )
        if not cargs:
            raise JSReduceError(
                "new Date() with no arguments reads the current "
                "wall clock — a nondeterministic view (incremental "
                "refresh and rebuild would disagree); pass the "
                "doc's timestamp: new Date(doc.ts)"
            )
        vals = [_eval(a, env) for a in cargs]
        return construct_date(vals, _js_num, _js_str)
    if tag == "arr":
        return [_eval(a, env) for a in e[1]]
    if tag == "obj":
        return {k: _eval(v, env) for k, v in e[1].items()}
    if tag == "func":
        fname = e[3] if len(e) > 3 else None
        if fname is None:
            return ("__closure__", e[1], e[2], env)  # env by ref
        # named function expression: the name is in scope INSIDE the
        # body only (JS semantics) — an extra scope link carrying the
        # closure itself
        self_scope: dict = {}
        wrap = _Scope(self_scope, env)
        clo = ("__closure__", e[1], e[2], wrap)
        self_scope[fname] = clo
        return clo
    if tag == "member":
        obj = _eval(e[1], env)
        name = e[2]
        if isinstance(obj, tuple) and obj[:1] == ("__builtin__",):
            return ("__builtin__", f"{obj[1]}.{name}")
        if obj is None or obj is _UNDEF:
            # JS TypeError: only null/undefined throw on member access
            raise JSRuntimeThrow(
                f"cannot read property {name!r} of "
                f"{'undefined' if obj is _UNDEF else 'null'}"
            )
        if name == "length":
            if isinstance(obj, (list, str)):
                return float(len(obj))
            return _UNDEF
        from mapreduce_spark.functions.jsregex import (
            JSMatchArray,
            JSRegExp,
        )

        if isinstance(obj, JSMatchArray) and name in ("index", "input"):
            return obj.index if name == "index" else obj.input
        if isinstance(obj, JSMatchArray) and name == "indices":
            # d-flag match indices (round 10); undefined without d
            return obj.indices if obj.indices is not None else _UNDEF
        if isinstance(obj, JSRegExp):
            if name in ("test", "exec", "toString"):
                return ("__method__", obj, name)
            if name == "source":
                return obj.source
            if name == "flags":
                return obj.flags
            if name == "global":
                return obj.global_
            if name == "ignoreCase":
                return "i" in obj.flags
            if name == "multiline":
                return "m" in obj.flags
            if name == "lastIndex":
                return obj.last_index
            if name == "sticky":
                return "y" in obj.flags
            if name == "unicode":
                return "u" in obj.flags
            if name == "unicodeSets":
                return "v" in obj.flags
            if name == "dotAll":
                return "s" in obj.flags
            if name == "hasIndices":
                return "d" in obj.flags
            return _UNDEF
        if isinstance(obj, list):
            if name in _LIST_METHODS:
                return ("__method__", obj, name)
            # any other name reads as undefined: calling it is a
            # runtime TypeError
            return _UNDEF
        if isinstance(obj, str):
            if name in _STR_METHODS:
                return ("__method__", obj, name)
            if name in _STR_METHODS_JS:
                raise JSReduceError(
                    f"String.{name} is outside the subset"
                )
            return _UNDEF
        if (isinstance(obj, (int, float)) and not isinstance(obj, bool)
                and name in _NUM_METHODS):
            return ("__method__", obj, name)
        if isinstance(obj, JSDate):
            if name in _DATE_METHODS:
                return ("__method__", obj, name)
            if name.startswith(("get", "set", "to")):
                raise JSReduceError(
                    f"Date.prototype.{name} is outside the subset"
                )
            return _UNDEF
        if isinstance(obj, dict):
            if name == "hasOwnProperty":
                return ("__method__", obj, name)
            return obj.get(name, _UNDEF)
        return _UNDEF
    if tag == "index":
        obj = _eval(e[1], env)
        idx = _eval(e[2], env)
        if obj is None or obj is _UNDEF:
            raise JSRuntimeThrow(
                "cannot index "
                f"{'undefined' if obj is _UNDEF else 'null'}"
            )
        if isinstance(obj, (list, str)):
            # JS [] converts the index via ToString: a[NaN]/a[1.5]
            # are PROPERTY reads (undefined), only integer-valued
            # numbers address elements/chars
            n = _js_num(idx)
            if n != n or math.isinf(n) or n != int(n):
                return _UNDEF
            i = int(n)
            return obj[i] if 0 <= i < len(obj) else _UNDEF
        if isinstance(obj, dict):
            return obj.get(_js_str(idx), _UNDEF)
        return _UNDEF
    if tag == "call":
        fn = _eval(e[1], env)
        args = [_eval(a, env) for a in e[2]]
        return _call(fn, args)
    if tag == "bin":
        op = e[1]
        if op == "&&":
            left = _eval(e[2], env)
            return _eval(e[3], env) if _truthy(left) else left
        if op == "||":
            left = _eval(e[2], env)
            return left if _truthy(left) else _eval(e[3], env)
        a, b = _eval(e[2], env), _eval(e[3], env)
        if op == "+":
            return _js_add(a, b)
        if op == "-":
            return _js_num(a) - _js_num(b)
        if op == "*":
            return _js_num(a) * _js_num(b)
        if op == "/":
            return _js_div(a, b)
        if op == "%":
            return _js_mod(a, b)
        if op == "===":
            return _js_eq(a, b)
        if op == "!==":
            return not _js_eq(a, b)
        if op == "==":
            return _js_loose_eq(a, b)
        if op == "!=":
            return not _js_loose_eq(a, b)
        return _js_rel(op, a, b)
    if tag == "un":
        op, v = e[1], _eval(e[2], env)
        if op == "!":
            return not _truthy(v)
        if op == "-":
            return -_js_num(v)
        return _js_num(v)  # unary +
    if tag == "ternary":
        return (_eval(e[2], env) if _truthy(_eval(e[1], env))
                else _eval(e[3], env))
    raise JSReduceError(f"unsupported expression {tag!r}")


def _call(fn: Any, args: list) -> Any:
    if callable(fn) and not isinstance(fn, tuple):
        # host-injected function (emit/log on the map path): takes the
        # evaluated JS argument list, returns a JS value
        return fn(args)
    if isinstance(fn, tuple) and fn[:1] == ("__closure__",):
        _, params, body, captured = fn
        local: dict = {}
        for p in params:
            if isinstance(p, tuple) and p[0] == "destructure":
                for n in p[1]:
                    if n is not None:
                        local[n] = _UNDEF
            else:
                local[p] = _UNDEF
        for i, p in enumerate(params):
            a = args[i] if i < len(args) else _UNDEF
            if isinstance(p, tuple) and p[0] == "destructure":
                # JS array destructuring: a missing argument
                # (undefined), null, or any non-iterable throws a
                # TypeError — including f() with zero args
                if not isinstance(a, (list, str)):
                    raise JSRuntimeThrow(
                        "cannot destructure a non-iterable argument"
                    )
                for j, n in enumerate(p[1]):
                    if n is not None:  # elision slots bind nothing
                        local[n] = a[j] if j < len(a) else _UNDEF
            elif i < len(args):
                local[p] = a
        local.setdefault("arguments", list(args))
        try:
            _exec_block(body, _Scope(local, captured))
        except _Return as r:
            return r.value
        except (_Break, _Continue):
            # illegal break/continue at function top level is a JS
            # SyntaxError — never let it escape into a CALLER's loop
            raise JSReduceError(
                "break/continue outside a loop"
            ) from None
        return _UNDEF  # fell off the end: undefined
    if isinstance(fn, tuple) and fn[:1] == ("__builtin__",):
        name = fn[1]
        if name == "sum":
            return _builtin_sum(args)
        if name.endswith(".apply"):
            # f.apply(thisArg, argsArray) — the classic variadic-over-
            # array idiom (Math.max.apply(null, values))
            arr = (
                list(args[1])
                if len(args) > 1 and isinstance(args[1], list)
                else []
            )
            return _call(("__builtin__", name[:-6]), arr)
        if name.startswith("Math."):
            impl = _MATH_FNS.get(name[5:])
            if impl is None:
                raise JSReduceError(f"{name} is outside the subset")
            return impl(args)
        if name == "parseInt":
            return _js_parse_int(args)
        if name == "parseFloat":
            return _js_parse_float(args)
        if name == "isNaN":
            v = _js_num(args[0]) if args else math.nan
            return v != v
        if name == "isFinite":
            v = _js_num(args[0]) if args else math.nan
            return v == v and not math.isinf(v)
        if name == "String":
            return _js_str(args[0]) if args else ""
        if name == "Number":
            return _js_num(args[0]) if args else 0.0
        if name == "Boolean":
            return _truthy(args[0]) if args else False
        if name == "JSON.stringify":
            import json as _json

            if not args or args[0] is _UNDEF:
                return _UNDEF

            def intify(v):  # JS stringifies integral doubles as ints
                if (isinstance(v, float) and v == int(v)
                        and abs(v) < 1e15):
                    return int(v)
                if isinstance(v, list):
                    return [intify(x) for x in v]
                if isinstance(v, dict):
                    return {k: intify(x) for k, x in v.items()}
                return v

            return _json.dumps(intify(_de_undef(args[0])),
                               separators=(",", ":"))
        if name == "JSON.parse":
            import json as _json

            try:
                return _json.loads(_js_str(args[0]) if args else "")
            except ValueError:
                raise JSRuntimeThrow("JSON.parse: invalid JSON")
        if name in ("Object.keys", "Object.values", "Object.entries"):
            # ES2015 ToObject coercion: arrays/strings yield index
            # keys, other primitives yield [] — only null/undefined
            # throw
            o = args[0] if args else _UNDEF
            if isinstance(o, dict):
                from mapreduce_spark.functions.jscompile import (
                    es_own_keys,
                )

                ks = es_own_keys(o)  # ES property order
                vs = [o[k] for k in ks]
            elif isinstance(o, (list, str)):
                ks = [str(i) for i in range(len(o))]
                vs = list(o)
            elif o is None or o is _UNDEF:
                raise JSRuntimeThrow(f"{name} on null/undefined")
            else:
                ks, vs = [], []
            if name == "Object.keys":
                return ks
            if name == "Object.values":
                return vs
            return [[k, v] for k, v in zip(ks, vs)]
        if name == "Date.parse":
            a = args[0] if args else _UNDEF
            return (parse_date(a) if isinstance(a, str)
                    else parse_date(_js_str(a)))
        if name == "Date.UTC":
            if not args:
                return math.nan
            return make_day_ms(*[_js_num(a) for a in args[:7]])
        if name in ("Date", "Date.now"):
            raise JSReduceError(
                f"{name}() reads the current wall clock — a "
                "nondeterministic view; pass the doc's timestamp "
                "through new Date(value) instead"
            )
        raise JSReduceError(f"{name} is not callable")
    if isinstance(fn, tuple) and fn[:1] == ("__method__",):
        _, obj, name = fn
        if name == "push" and isinstance(obj, list):
            obj.extend(args)
            return float(len(obj))
        if name == "concat" and isinstance(obj, list):
            out = list(obj)
            for a in args:
                out.extend(a) if isinstance(a, list) else out.append(a)
            return out
        if name == "indexOf" and isinstance(obj, list):
            for i, x in enumerate(obj):
                if _js_eq(x, args[0]):
                    return float(i)
            return -1.0
        if name == "join" and isinstance(obj, list):
            sep = _js_str(args[0]) if args else ","
            return sep.join("" if x is None or x is _UNDEF else _js_str(x)
                            for x in obj)
        if name == "slice" and isinstance(obj, list):
            start = _js_to_int(args[0]) if args else 0
            end = _js_to_int(args[1]) if len(args) > 1 else len(obj)
            return obj[start:end]
        if name == "reduce" and isinstance(obj, list):
            # Array.prototype.reduce(callback, [init]); callback gets
            # (acc, cur, idx) — the common hand-rolled-sum idiom
            if not args or not (
                isinstance(args[0], tuple)
                and args[0][:1] == ("__closure__",)
            ):
                raise JSReduceError(
                    ".reduce() requires a function callback"
                )
            cb = args[0]
            items = list(obj)
            if len(args) > 1:
                acc, idx0 = args[1], 0
            elif items:
                acc, idx0 = items.pop(0), 1
            else:
                raise JSReduceError(
                    "reduce of empty array with no initial value"
                )
            for i, x in enumerate(items):
                acc = _call(cb, [acc, x, float(i + idx0)])
            return acc
        if name in ("map", "filter", "forEach") and isinstance(obj, list):
            if not args:
                raise JSReduceError(f".{name}() requires a callback")
            cb = args[0]
            out = []
            for i, x in enumerate(obj):
                r = _call(cb, [x, float(i), obj])
                if name == "map":
                    out.append(r)
                elif name == "filter" and _truthy(r):
                    out.append(x)
            return _UNDEF if name == "forEach" else out
        if name in ("every", "some") and isinstance(obj, list):
            if not args:
                raise JSReduceError(f".{name}() requires a callback")
            for i, x in enumerate(obj):
                t = _truthy(_call(args[0], [x, float(i), obj]))
                if name == "every" and not t:
                    return False
                if name == "some" and t:
                    return True
            return name == "every"  # every([]) true, some([]) false
        if name in ("find", "findIndex") and isinstance(obj, list):
            if not args:
                raise JSReduceError(f".{name}() requires a callback")
            for i, x in enumerate(obj):
                if _truthy(_call(args[0], [x, float(i), obj])):
                    return x if name == "find" else float(i)
            return _UNDEF if name == "find" else -1.0
        if name == "includes" and isinstance(obj, list):
            # SameValueZero: unlike indexOf, NaN matches NaN
            a0 = args[0] if args else _UNDEF
            a0_nan = isinstance(a0, float) and a0 != a0
            return any(
                _js_eq(x, a0)
                or (a0_nan and isinstance(x, float) and x != x)
                for x in obj
            )
        if name == "lastIndexOf" and isinstance(obj, list):
            a0 = args[0] if args else _UNDEF
            for i in range(len(obj) - 1, -1, -1):
                if _js_eq(obj[i], a0):
                    return float(i)
            return -1.0
        if name in ("sort", "toSorted") and isinstance(obj, list):
            # ES2019: stable; undefined elements go LAST without
            # consulting the comparator; default order is ToString
            # (UTF-16); a comparator's NaN result counts as 0.
            # toSorted (ES2023) is the non-mutating twin.
            import functools as _ft

            cb = args[0] if args else None
            defined = [x for x in obj if x is not _UNDEF]
            n_undef = len(obj) - len(defined)
            if cb is None:
                defined.sort(key=_js_str)
            else:
                def cmp(a, b):
                    r = _js_num(_call(cb, [a, b]))
                    if r != r:
                        return 0
                    return -1 if r < 0 else (1 if r > 0 else 0)

                defined.sort(key=_ft.cmp_to_key(cmp))
            if name == "toSorted":
                return defined + [_UNDEF] * n_undef
            obj[:] = defined + [_UNDEF] * n_undef
            return obj
        if name == "reverse" and isinstance(obj, list):
            obj.reverse()
            return obj
        if name == "toReversed" and isinstance(obj, list):
            return list(reversed(obj))  # ES2023: non-mutating
        if name in ("findLast", "findLastIndex") and isinstance(
            obj, list
        ):
            if not args:
                raise JSReduceError(f".{name}() requires a callback")
            for i in range(len(obj) - 1, -1, -1):
                if _truthy(_call(args[0], [obj[i], float(i), obj])):
                    return obj[i] if name == "findLast" else float(i)
            return _UNDEF if name == "findLast" else -1.0
        if name == "with" and isinstance(obj, list):
            # ES2023 Array.prototype.with(index, value): copy with one
            # replacement; negative counts from the end; out of range
            # is a RangeError (unlike assignment, which extends)
            idx = _js_to_int(args[0]) if args else 0
            if idx < 0:
                idx += len(obj)
            if not 0 <= idx < len(obj):
                raise JSRuntimeThrow(
                    f"invalid index {idx} for Array.prototype.with"
                )
            out = list(obj)
            out[idx] = args[1] if len(args) > 1 else _UNDEF
            return out
        if name == "splice" and isinstance(obj, list):
            # Array.prototype.splice(start, deleteCount, …items) —
            # mutates in place, returns the removed elements;
            # negative start counts from the end, both clamp
            n = len(obj)
            if not args:
                return []
            st = _js_to_int(args[0])
            st = max(n + st, 0) if st < 0 else min(st, n)
            if len(args) > 1:
                dc = _js_to_int(args[1])
                dc = max(0, min(dc, n - st))
            else:
                dc = n - st
            removed = obj[st:st + dc]
            obj[st:st + dc] = list(args[2:])
            return removed
        if name == "toSpliced" and isinstance(obj, list):
            # ES2023: the non-mutating splice — same index clamping,
            # returns the RESULT array (not the removed slice)
            n = len(obj)
            if not args:
                return list(obj)
            st = _js_to_int(args[0])
            st = max(n + st, 0) if st < 0 else min(st, n)
            if len(args) > 1:
                dc = _js_to_int(args[1])
                dc = max(0, min(dc, n - st))
            else:
                dc = n - st
            return obj[:st] + list(args[2:]) + obj[st + dc:]
        if name == "flat" and isinstance(obj, list):
            # Array.prototype.flat(depth = 1)
            d = 1
            if args and args[0] is not _UNDEF:
                dn = _js_num(args[0])
                d = 0 if dn != dn else (1 << 30) if math.isinf(dn) \
                    else int(dn)

            def _flat(a: list, depth: int) -> list:
                out: list = []
                for x in a:
                    if isinstance(x, list) and depth > 0:
                        out.extend(_flat(x, depth - 1))
                    else:
                        # flat() drops HOLES only; the subset's arrays
                        # have none, so every element (incl. explicit
                        # undefined) is kept
                        out.append(x)
                return out

            return _flat(obj, d)
        if name == "flatMap" and isinstance(obj, list):
            # Array.prototype.flatMap: map then flatten ONE level
            if not args or not _is_js_callable(args[0]):
                raise JSRuntimeThrow(
                    ".flatMap() requires a function callback"
                )
            out: list = []
            for i, x in enumerate(obj):
                r = _call(args[0], [x, float(i), obj])
                if isinstance(r, list):
                    out.extend(r)
                else:
                    out.append(r)
            return out
        if name in ("keys", "values", "entries") and isinstance(
            obj, list
        ):
            # the subset models these iterators as materialized
            # arrays: its only iteration protocol is for…of (which
            # walks arrays), so the distinction is unobservable except
            # via .next() — which stays a faithful runtime TypeError
            if name == "keys":
                return [float(i) for i in range(len(obj))]
            if name == "values":
                return list(obj)
            return [[float(i), x] for i, x in enumerate(obj)]
        if name == "fill" and isinstance(obj, list):
            # Array.prototype.fill(value, start, end) — in place
            n = len(obj)
            v = args[0] if args else _UNDEF
            st = _js_to_int(args[1]) if len(args) > 1 else 0
            en = (_js_to_int(args[2])
                  if len(args) > 2 and args[2] is not _UNDEF else n)
            st = max(n + st, 0) if st < 0 else min(st, n)
            en = max(n + en, 0) if en < 0 else min(en, n)
            for i in range(st, en):
                obj[i] = v
            return obj
        if name == "copyWithin" and isinstance(obj, list):
            # Array.prototype.copyWithin(target, start, end) — copies
            # inside the array, length never changes
            n = len(obj)
            tg = _js_to_int(args[0]) if args else 0
            st = (_js_to_int(args[1])
                  if len(args) > 1 and args[1] is not _UNDEF else 0)
            en = (_js_to_int(args[2])
                  if len(args) > 2 and args[2] is not _UNDEF else n)
            tg = max(n + tg, 0) if tg < 0 else min(tg, n)
            st = max(n + st, 0) if st < 0 else min(st, n)
            en = max(n + en, 0) if en < 0 else min(en, n)
            piece = obj[st:en][: n - tg]
            obj[tg:tg + len(piece)] = piece
            return obj
        if name == "at" and isinstance(obj, list):
            i = _js_to_int(args[0]) if args else 0
            if i < 0:
                i += len(obj)
            return obj[i] if 0 <= i < len(obj) else _UNDEF
        if name == "reduceRight" and isinstance(obj, list):
            if not args or not _is_js_callable(args[0]):
                raise JSRuntimeThrow(
                    ".reduceRight() requires a function callback"
                )
            cb = args[0]
            items = list(obj)
            if len(args) > 1:
                acc = args[1]
                idx = len(items) - 1
            elif items:
                acc = items[-1]
                idx = len(items) - 2
            else:
                raise JSRuntimeThrow(
                    "reduceRight of empty array with no initial value"
                )
            while idx >= 0:
                acc = _call(cb, [acc, items[idx], float(idx), obj])
                idx -= 1
            return acc
        if name == "pop" and isinstance(obj, list):
            return obj.pop() if obj else _UNDEF
        if name == "shift" and isinstance(obj, list):
            return obj.pop(0) if obj else _UNDEF
        if name == "unshift" and isinstance(obj, list):
            obj[:0] = args
            return float(len(obj))
        if name == "toString" and isinstance(obj, list):
            return ",".join(
                "" if x is None or x is _UNDEF else _js_str(x)
                for x in obj
            )
        if name == "hasOwnProperty" and isinstance(obj, dict):
            return _js_str(args[0] if args else _UNDEF) in obj
        from mapreduce_spark.functions.jsregex import JSRegExp

        if isinstance(obj, JSRegExp):
            if name == "test":
                return obj.test(_js_str(args[0]) if args else
                                "undefined", _UNDEF)
            if name == "exec":
                r = obj.exec(_js_str(args[0]) if args else
                             "undefined", _UNDEF)
                return r if r is not None else None
            if name == "toString":
                return repr(obj)
        if isinstance(obj, JSDate):
            return _call_date_method(obj, name)
        if isinstance(obj, str):
            return _call_str_method(obj, name, args)
        if isinstance(obj, (int, float)) and not isinstance(obj, bool):
            if name == "toFixed":
                n = _js_to_int(args[0]) if args else 0
                x = float(obj)
                if x != x or math.isinf(x):
                    return _js_str(x)
                return f"{x:.{max(0, min(n, 100))}f}"
            if name == "toString":
                return _js_str(obj)
        raise JSReduceError(f".{name}() is outside the subset")
    if fn is _UNDEF or fn is None:
        # JS TypeError ("x is not a function") — a *runtime* throw,
        # e.g. a method looked up on a receiver that lacks it
        raise JSRuntimeThrow("call target is null/undefined")
    # JS TypeError ("x is not a function") for any non-callable
    raise JSRuntimeThrow("call target is not a function")


_DATE_GETTERS = {
    "getTime": "time", "valueOf": "time",
    "getFullYear": "year", "getUTCFullYear": "year",
    "getMonth": "month", "getUTCMonth": "month",
    "getDate": "date", "getUTCDate": "date",
    "getDay": "day", "getUTCDay": "day",
    "getHours": "hours", "getUTCHours": "hours",
    "getMinutes": "minutes", "getUTCMinutes": "minutes",
    "getSeconds": "seconds", "getUTCSeconds": "seconds",
    "getMilliseconds": "milliseconds",
    "getUTCMilliseconds": "milliseconds",
    "getTimezoneOffset": "tzoffset",
}
_DATE_METHODS = frozenset(_DATE_GETTERS) | {
    "toISOString", "toJSON", "toString",
}


def _call_date_method(d: JSDate, name: str) -> Any:
    """Date.prototype getters + serializers (UTC == local — see the
    jsdate module docstring determinism contract)."""
    if name in _DATE_GETTERS:
        return d.get(_DATE_GETTERS[name])
    if name == "toISOString":
        try:
            return d.to_iso()
        except ValueError:  # JS RangeError on an Invalid Date
            raise JSRuntimeThrow(
                "toISOString on an Invalid Date"
            ) from None
    if name == "toJSON":
        return d.to_json_value()
    if name == "toString":
        return str(d)
    raise JSReduceError(
        f"Date.prototype.{name}() is outside the subset"
    )


def _is_js_callable(v: Any) -> bool:
    """True for values the interpreter can _call (host fns, closures)."""
    if isinstance(v, tuple):
        return v[:1] == ("__closure__",)
    return callable(v)


def _call_str_method(s: str, name: str, args: list) -> Any:
    """JS String.prototype methods over the interpreted subset."""
    from mapreduce_spark.functions.jscompile import (
        _js_slice,
        _js_substring,
    )

    a0 = args[0] if args else _UNDEF
    a1 = args[1] if len(args) > 1 else _UNDEF
    if name == "toLowerCase":
        return s.lower()
    if name == "toUpperCase":
        return s.upper()
    if name == "trim":
        return s.strip()
    if name == "toString":
        return s
    if name == "substring":
        return _js_substring(
            s, _js_num(a0) if args else 0.0,
            None if a1 is _UNDEF else _js_num(a1),
        )
    if name == "slice":
        return _js_slice(
            s, _js_num(a0) if args else 0.0,
            None if a1 is _UNDEF else _js_num(a1),
        )
    if name == "substr":
        start = _js_to_int(a0) if args else 0
        if start < 0:
            start = max(0, len(s) + start)
        if a1 is _UNDEF:
            return s[start:]
        ln = _js_to_int(a1)
        return s[start:start + max(0, ln)]
    if name == "split":
        from mapreduce_spark.functions.jsregex import JSRegExp

        if isinstance(a0, JSRegExp):
            return a0.split(s, a1, _UNDEF)
        if a0 is _UNDEF:
            return [s]
        sep = _js_str(a0)
        if sep == "":
            return list(s)
        return s.split(sep)
    if name == "indexOf":
        # JS fromIndex: clamp to [0, len]; NaN -> 0
        start = min(max(_js_to_int(a1), 0), len(s)) \
            if a1 is not _UNDEF else 0
        return float(s.find(_js_str(a0), start))
    if name == "lastIndexOf":
        if a1 is _UNDEF or _js_num(a1) != _js_num(a1):
            return float(s.rfind(_js_str(a0)))
        # JS fromIndex: search starts at most at that position
        end = min(max(_js_to_int(a1), 0), len(s))
        needle = _js_str(a0)
        return float(s.rfind(needle, 0, end + len(needle)))
    if name == "charAt":
        i = _js_to_int(a0) if args else 0
        return s[i] if 0 <= i < len(s) else ""
    if name == "charCodeAt":
        i = _js_to_int(a0) if args else 0
        return float(ord(s[i])) if 0 <= i < len(s) else math.nan
    if name == "replace":
        from mapreduce_spark.functions.jsregex import JSRegExp

        if isinstance(a0, JSRegExp):
            cb = _call if _is_js_callable(a1) else None
            return a0.replace(s, a1 if cb else _js_str(a1) if
                              len(args) > 1 else "undefined",
                              _js_str, cb, _UNDEF)
        # string pattern → replace FIRST occurrence (JS semantics); a
        # function replacement gets (match, offset, string)
        pat = _js_str(a0)
        if _is_js_callable(a1):
            i = s.find(pat)
            if i < 0:
                return s
            rep = _js_str(_call(a1, [pat, float(i), s]))
            return s[:i] + rep + s[i + len(pat):]
        return s.replace(pat, _js_str(a1) if len(args) > 1
                         else "undefined", 1)
    if name == "match":
        from mapreduce_spark.functions.jsregex import JSRegExp

        rx = a0 if isinstance(a0, JSRegExp) else JSRegExp(
            "(?:)" if a0 is _UNDEF else _js_str(a0), ""
        )
        r = rx.match(s, _UNDEF)
        return r if r is not None else None
    if name == "search":
        from mapreduce_spark.functions.jsregex import JSRegExp

        rx = a0 if isinstance(a0, JSRegExp) else JSRegExp(
            "(?:)" if a0 is _UNDEF else _js_str(a0), ""
        )
        return rx.search(s)
    if name == "concat":
        return s + "".join(_js_str(a) for a in args)
    if name == "startsWith":
        pos = min(max(_js_to_int(a1), 0), len(s)) \
            if a1 is not _UNDEF else 0
        return s.startswith(_js_str(a0), pos)
    if name == "endsWith":
        # JS endPosition: the string is considered only up to there
        end = min(max(_js_to_int(a1), 0), len(s)) \
            if a1 is not _UNDEF else len(s)
        return s[:end].endswith(_js_str(a0))
    if name == "includes":
        pos = min(max(_js_to_int(a1), 0), len(s)) \
            if a1 is not _UNDEF else 0
        return _js_str(a0) in s[pos:]
    if name in ("padStart", "padEnd"):
        # spec: ToLength(maxLength); filler repeated then truncated;
        # empty filler → no padding
        tgt = _js_to_int(a0) if args else 0
        fill = " " if a1 is _UNDEF else _js_str(a1)
        if tgt <= len(s) or fill == "":
            return s
        pad = (fill * (-(-(tgt - len(s)) // len(fill))))[: tgt - len(s)]
        return pad + s if name == "padStart" else s + pad
    if name == "repeat":
        cnt = _js_num(a0) if args else 0.0
        if cnt != cnt:
            cnt = 0.0
        if cnt < 0 or math.isinf(cnt):
            raise JSRuntimeThrow("repeat count must be non-negative "
                                 "and finite")  # JS RangeError
        return s * int(cnt)
    if name == "normalize":
        import unicodedata

        form = "NFC" if a0 is _UNDEF else _js_str(a0)
        if form not in ("NFC", "NFD", "NFKC", "NFKD"):
            raise JSRuntimeThrow(  # JS RangeError
                f"invalid normalization form {form!r}"
            )
        return unicodedata.normalize(form, s)
    if name == "at":
        i = _js_to_int(a0) if args else 0
        if i < 0:
            i += len(s)
        return s[i] if 0 <= i < len(s) else _UNDEF
    if name == "trimStart":
        return s.lstrip()
    if name == "trimEnd":
        return s.rstrip()
    if name == "codePointAt":
        i = _js_to_int(a0) if args else 0
        return float(ord(s[i])) if 0 <= i < len(s) else _UNDEF
    if name == "valueOf":
        return s
    if name == "replaceAll":
        from mapreduce_spark.functions.jsregex import JSRegExp

        if isinstance(a0, JSRegExp):
            if not a0.global_:
                raise JSRuntimeThrow(  # JS TypeError
                    "replaceAll must be called with a global RegExp"
                )
            cb = _call if _is_js_callable(a1) else None
            return a0.replace(s, a1 if cb else _js_str(a1)
                              if len(args) > 1 else "undefined",
                              _js_str, cb, _UNDEF)
        pat = _js_str(a0)
        if _is_js_callable(a1):
            out, pos = [], 0
            while True:
                i = s.find(pat, pos)
                if i < 0 or (pat == "" and pos > len(s)):
                    out.append(s[pos:])
                    break
                out.append(s[pos:i])
                out.append(_js_str(_call(a1, [pat, float(i), s])))
                pos = i + len(pat) if pat else i + 1
                if pat == "":
                    out.append(s[i:i + 1])
            return "".join(out)
        return s.replace(pat, _js_str(a1) if len(args) > 1
                         else "undefined")
    if name == "matchAll":
        from mapreduce_spark.functions.jsregex import JSRegExp

        if isinstance(a0, JSRegExp):
            if not a0.global_:
                raise JSRuntimeThrow(  # JS TypeError
                    "matchAll must be called with a global RegExp"
                )
            rx = a0
        else:  # spec: non-RegExp arg → new RegExp(arg, 'g')
            rx = JSRegExp(
                "(?:)" if a0 is _UNDEF else _js_str(a0), "g"
            )
        return rx.match_all(s, _UNDEF)
    raise JSReduceError(f".{name}() is outside the subset")


# ---------------------------------------------------------------------------
# Builtin lowering
# ---------------------------------------------------------------------------


def _is_sum_of(e: Any, values: str) -> bool:
    if e == ("call", ("name", "sum"), [("name", values)]):
        return True
    # values.reduce(function(a, b){ return a + b; }[, 0]) — the
    # hand-rolled sum idiom, equally lowerable to the _sum builtin
    if (
        e[0] == "call"
        and e[1] == ("member", ("name", values), "reduce")
        and e[2]
        and isinstance(e[2][0], tuple)
        and e[2][0][0] == "func"
        and (len(e[2]) == 1 or e[2][1] == ("lit", 0.0))
    ):
        params, body = e[2][0][1], e[2][0][2]
        if len(params) >= 2 and body == [
            ("return", ("bin", "+", ("name", params[0]),
                        ("name", params[1])))
        ]:
            return True
    return False


def _is_len_of(e: Any, values: str) -> bool:
    return e == ("member", ("name", values), "length")


def _only_return(stmts: list) -> Any | None:
    """The returned expression if stmts is exactly one return."""
    if len(stmts) == 1 and stmts[0][0] == "return":
        return stmts[0][1]
    return None


def _is_minmax_apply(e: Any, values: str) -> str | None:
    """``Math.min.apply(null, values)`` (or ``.apply(Math, …)``) →
    '_min'/'_max'."""
    if (
        e[0] == "call"
        and e[1][0] == "member" and e[1][2] == "apply"
        and e[1][1][0] == "member"
        and e[1][1][1] == ("name", "Math")
        and e[1][1][2] in ("min", "max")
        and len(e[2]) == 2
        and e[2][0] in (("lit", None), ("name", "Math"),
                        ("lit", _UNDEF))
        and e[2][1] == ("name", values)
    ):
        return "_min" if e[1][1][2] == "min" else "_max"
    return None


def _is_minmax_loop(body: list, values: str) -> str | None:
    """The canonical min/max accumulator loop → '_min'/'_max':

        var m = values[0];                 // or ±Infinity
        for (var i = 1; i < values.length; i++) {
          if (values[i] < m) { m = values[i]; }   // or >, or swapped
        }
        return m;

    Shape-matched exactly (single decl, canonical header, one guarded
    assignment, trailing ``return m``); anything else interprets.
    """
    if len(body) != 3 or body[0][0] != "var" or len(body[0][1]) != 1:
        return None
    m, init = body[0][1][0]
    if body[2] != ("return", ("name", m)):
        return None
    st = body[1]
    if st[0] != "for":
        return None
    _, finit, fcond, fupd, fbody = st
    # seed values[0] pairs with i starting at 1; an ±Infinity seed
    # pairs with i starting at 0
    seed_elem0 = init == ("index", ("name", values), ("lit", 0.0))
    seed_inf = init in (
        ("name", "Infinity"), ("un", "-", ("name", "Infinity")),
    )
    if not (seed_elem0 or seed_inf):
        return None
    i0 = 1.0 if seed_elem0 else 0.0
    if finit is None or finit[0] != "var" or len(finit[1]) != 1:
        return None
    i, iinit = finit[1][0]
    if iinit != ("lit", i0):
        return None
    if fcond != ("bin", "<", ("name", i),
                 ("member", ("name", values), "length")):
        return None
    if fupd != ("assign", "+=", ("name", i), ("lit", 1.0)):
        return None
    if len(fbody) != 1 or fbody[0][0] != "if" or fbody[0][3]:
        return None
    cond, then = fbody[0][1], fbody[0][2]
    elem = ("index", ("name", values), ("name", i))
    if then != [("assign", "=", ("name", m), elem)]:
        return None
    if cond[0] != "bin" or cond[1] not in ("<", ">"):
        return None
    if cond[2] == elem and cond[3] == ("name", m):
        op = cond[1]                      # values[i] OP m
    elif cond[2] == ("name", m) and cond[3] == elem:
        op = "<" if cond[1] == ">" else ">"  # m OP values[i], flipped
    else:
        return None
    # values[i] < m → keep smaller → min; an Infinity seed must match
    # the direction (+Infinity seeds a min, -Infinity a max)
    lowered = "_min" if op == "<" else "_max"
    if seed_inf:
        neg = init[0] == "un"
        if (lowered == "_min") != (not neg):
            return None
    return lowered


def _is_sum_count_obj(e: Any, values: str) -> bool:
    """``return {sum: sum(values), count: values.length}`` (either key
    order, .reduce-callback sum accepted) — the map branch of the
    canonical CouchDB average accumulator."""
    return (
        e[0] == "obj"
        and set(e[1]) == {"sum", "count"}
        and _is_sum_of(e[1]["sum"], values)
        and _is_len_of(e[1]["count"], values)
    )


_STATS_FIELDS = ("sum", "min", "max", "count", "sumsqr")


def _is_sumsqr_fold(e: Any, values: str) -> bool:
    """The sumsqr member of the canonical CouchDB stats map branch:

        (function() { var s = 0;
           values.forEach(function(v) { s += v * v });
           return s })()

    (the exact IIFE from the CouchDB "Reduce/Rereduce" docs example),
    or the same accumulation as an indexed for loop."""
    if not (
        e[0] == "call" and not e[2]
        and isinstance(e[1], tuple) and e[1][0] == "func"
        and not e[1][1]
    ):
        return False
    body = e[1][2]
    if len(body) != 3 or body[0][0] != "var" or len(body[0][1]) != 1:
        return False
    s, init = body[0][1][0]
    if init != ("lit", 0.0) or body[2] != ("return", ("name", s)):
        return False
    st = body[1]
    # forEach form
    if (
        st[0] == "expr" and st[1][0] == "call"
        and st[1][1] == ("member", ("name", values), "forEach")
        and len(st[1][2]) == 1
        and isinstance(st[1][2][0], tuple) and st[1][2][0][0] == "func"
    ):
        params, fbody = st[1][2][0][1], st[1][2][0][2]
        if not params or len(fbody) != 1:
            return False
        v = ("name", params[0])
        return _is_plus_assign(fbody[0], s, ("bin", "*", v, v))
    # indexed for-loop form
    if st[0] == "for":
        _, finit, fcond, fupd, fbody = st
        if finit is None or finit[0] != "var" or len(finit[1]) != 1:
            return False
        i, iinit = finit[1][0]
        if iinit != ("lit", 0.0):
            return False
        if fcond != ("bin", "<", ("name", i),
                     ("member", ("name", values), "length")):
            return False
        if fupd != ("assign", "+=", ("name", i), ("lit", 1.0)):
            return False
        elem = ("index", ("name", values), ("name", i))
        return len(fbody) == 1 and _is_plus_assign(
            fbody[0], s, ("bin", "*", elem, elem)
        )
    return False


def _is_stats_obj(e: Any, values: str) -> bool:
    """The map branch of the canonical CouchDB custom-stats reduce
    (the exact example in the CouchDB "Reduce/Rereduce" docs):

        return {sum: sum(values), min: Math.min.apply(null, values),
                max: Math.max.apply(null, values),
                count: values.length, sumsqr: <IIFE or for loop>}
    """
    return (
        e[0] == "obj"
        and set(e[1]) == set(_STATS_FIELDS)
        and _is_sum_of(e[1]["sum"], values)
        and _is_minmax_apply(e[1]["min"], values) == "_min"
        and _is_minmax_apply(e[1]["max"], values) == "_max"
        and _is_len_of(e[1]["count"], values)
        and _is_sumsqr_fold(e[1]["sumsqr"], values)
    )


def _is_reduce_fold(e: Any, values: str, field: str,
                    kind: str) -> bool:
    """``values.reduce(function(a, b) { return <acc> }, <seed>)``
    rereduce folds of the canonical stats example:

    - kind 'sum': acc = ``a + b.<field>`` (either order), seed 0
    - kind 'min': acc = ``Math.min(a, b.min)``, seed ``Infinity``
    - kind 'max': acc = ``Math.max(a, b.max)``, seed ``-Infinity``
    """
    if not (
        e[0] == "call"
        and e[1] == ("member", ("name", values), "reduce")
        and len(e[2]) == 2
        and isinstance(e[2][0], tuple) and e[2][0][0] == "func"
    ):
        return False
    params, body = e[2][0][1], e[2][0][2]
    if len(params) < 2:
        return False
    a = ("name", params[0])
    fld = ("member", ("name", params[1]), field)
    ret = _only_return(body)
    if ret is None:
        return False
    if kind == "sum":
        return e[2][1] == ("lit", 0.0) and ret in (
            ("bin", "+", a, fld), ("bin", "+", fld, a)
        )
    seed = (
        ("name", "Infinity") if kind == "min"
        else ("un", "-", ("name", "Infinity"))
    )
    if e[2][1] != seed:
        return False
    callee = ("member", ("name", "Math"), kind)
    return (
        ret[0] == "call" and ret[1] == callee
        and len(ret[2]) == 2 and set(ret[2]) == {a, fld}
    )


def _is_stats_rereduce_obj(e: Any, values: str) -> bool:
    """The rereduce branch of the canonical stats example: per-field
    ``values.reduce`` folds (sum/count/sumsqr additive with seed 0,
    min/max via Math.min/max with ±Infinity seeds)."""
    if e[0] != "obj" or set(e[1]) != set(_STATS_FIELDS):
        return False
    return (
        _is_reduce_fold(e[1]["sum"], values, "sum", "sum")
        and _is_reduce_fold(e[1]["count"], values, "count", "sum")
        and _is_reduce_fold(e[1]["sumsqr"], values, "sumsqr", "sum")
        and _is_reduce_fold(e[1]["min"], values, "min", "min")
        and _is_reduce_fold(e[1]["max"], values, "max", "max")
    )


def _is_plus_assign(st: Any, target: str, e: Any) -> bool:
    """``t += e`` or ``t = t + e``."""
    t = ("name", target)
    return st in (
        ("assign", "+=", t, e),
        ("assign", "=", t, ("bin", "+", t, e)),
        ("assign", "=", t, ("bin", "+", e, t)),
    )


def _is_sum_count_rereduce(body: list, values: str) -> bool:
    """The rereduce branch of the canonical accumulator:

        var s = 0;  var c = 0;        // one or two var statements
        for (var i = 0; i < values.length; i++) {
          s += values[i].sum;         // either order; += or s = s + …
          c += values[i].count;
        }
        return {sum: s, count: c};
    """
    decls: list = []
    idx = 0
    while idx < len(body) and body[idx][0] == "var":
        decls.extend(body[idx][1])
        idx += 1
    if len(decls) != 2 or any(
        init != ("lit", 0.0) for _, init in decls
    ):
        return False
    if idx + 2 != len(body) or body[idx][0] != "for":
        return False
    _, finit, fcond, fupd, fbody = body[idx]
    ret = body[idx + 1]
    if ret[0] != "return" or ret[1][0] != "obj":
        return False
    obj = ret[1][1]
    if set(obj) != {"sum", "count"}:
        return False
    if obj["sum"][0] != "name" or obj["count"][0] != "name":
        return False
    s, c = obj["sum"][1], obj["count"][1]
    if s == c or {s, c} != {n for n, _ in decls}:
        return False
    if finit is None or finit[0] != "var" or len(finit[1]) != 1:
        return False
    i, iinit = finit[1][0]
    if iinit != ("lit", 0.0):
        return False
    if fcond != ("bin", "<", ("name", i),
                 ("member", ("name", values), "length")):
        return False
    if fupd != ("assign", "+=", ("name", i), ("lit", 1.0)):
        return False
    elem = ("index", ("name", values), ("name", i))
    if len(fbody) != 2:
        return False
    adds = {
        (s, ("member", elem, "sum")),
        (c, ("member", elem, "count")),
    }
    for st in fbody:
        for t, e in list(adds):
            if _is_plus_assign(st, t, e):
                adds.discard((t, e))
                break
        else:
            return False
    return not adds


def lower_js_reduce(params: list[str], body: list) -> str | None:
    """Recognize builtin-equivalent bodies → builtin name, else None."""
    values = params[1] if len(params) > 1 else "values"
    rereduce = params[2] if len(params) > 2 else "rereduce"
    ret = _only_return(body)
    if ret is not None:
        if _is_sum_of(ret, values):
            return "_sum"
        if _is_len_of(ret, values):
            # rereduce-unsafe as written; _count is what the author
            # means (CouchDB's docs prescribe exactly this lowering)
            return "_count"
        mm = _is_minmax_apply(ret, values)
        if mm is not None:
            return mm
        # if (rereduce) ? sum(values) : values.length  — ternary form
        if ret[0] == "ternary" and ret[1] == ("name", rereduce):
            if _is_sum_of(ret[2], values) and _is_len_of(ret[3], values):
                return "_count"
    mm = _is_minmax_loop(body, values)
    if mm is not None:
        return mm
    # if (rereduce) {return sum(values)} [else] {return values.length}
    if body and body[0][0] == "if" and body[0][1] == ("name", rereduce):
        then_stmts = body[0][2]
        then_ret = _only_return(then_stmts)
        else_stmts = body[0][3] or body[1:]
        else_ret = _only_return(else_stmts)
        if (
            then_ret is not None and else_ret is not None
            and _is_sum_of(then_ret, values) and _is_len_of(else_ret, values)
        ):
            return "_count"
        # the canonical {sum, count} average accumulator (the single
        # most documented custom reduce in CouchDB) → one JVM agg pass
        if (
            else_ret is not None
            and _is_sum_count_obj(else_ret, values)
            and _is_sum_count_rereduce(then_stmts, values)
        ):
            return "_sum_count"
        # the full canonical stats accumulator — the exact example in
        # the CouchDB "Reduce/Rereduce" docs — → the _stats builtin
        # (one hash agg, map-side partials, no Python).  JSON member
        # ORDER follows _stats (sum,count,min,max,sumsqr) rather than
        # the ddoc's insertion order — order-insignificant JSON, same
        # documented divergence class as _min/_max on non-numbers.
        if (
            then_ret is not None and else_ret is not None
            and _is_stats_obj(else_ret, values)
            and _is_stats_rereduce_obj(then_ret, values)
        ):
            return "_stats"
    return None


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


class JSReduceFunction:
    """A JS reduce source as a picklable ``(keys, values, rereduce)``
    callable, run through ``reduce_custom``'s distributed partial/final
    phases (SURVEY §2 A4/U2).

    ``__repr__`` is the source itself so the registry signature
    (plans/registry.definition_repr) is stable across processes.
    """

    def __init__(self, source: str) -> None:
        self.source = source
        self.params, self.body = _Parser(source).parse()

    def __call__(self, keys: Any, values: Any, rereduce: bool) -> Any:
        local: dict[str, Any] = {}
        names = self.params + ["keys", "values", "rereduce"][len(self.params):]
        for name in names[3:]:
            local[name] = _UNDEF  # extra params: JS binds undefined
        for name, val in zip(names, (keys, values, bool(rereduce))):
            local[name] = val
        # real JS bindings a sandboxed fn still sees: `this` (the
        # sandbox global object — member reads yield undefined) and
        # `arguments`; classifying them as unknown identifiers would
        # ReferenceError-skip silently
        local.setdefault("this", {})
        local.setdefault("arguments",
                         [keys, values, bool(rereduce)])
        try:
            _exec_block(self.body, _Scope(local))
        except _Return as r:
            return _de_undef(r.value)
        except (_Break, _Continue):
            raise JSReduceError(
                "break/continue outside a loop"
            ) from None
        return None  # fell off the end: JS returns undefined → null

    def __repr__(self) -> str:
        return f"JSReduceFunction({self.source!r})"


def looks_like_js_reduce(obj: Any) -> bool:
    """True for a ``"function(keys, values, rereduce) {…}"`` string."""
    return isinstance(obj, str) and obj.lstrip().startswith("function")


def compile_js_reduce(source: str) -> Any:
    """JS reduce source → builtin name (fast path) or JSReduceFunction.

    Builtin lowering keeps the common ddoc shapes fully JVM-side; the
    general interpreter plugs into the engine's true partial/final
    custom-reduce phases.
    """
    params, body = _Parser(source).parse()
    lowered = lower_js_reduce(params, body)
    if lowered is not None:
        return lowered
    fn = JSReduceFunction.__new__(JSReduceFunction)
    fn.source = source
    fn.params, fn.body = params, body
    return fn

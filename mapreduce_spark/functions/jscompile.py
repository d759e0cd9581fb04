"""Compile CouchDB/PouchDB JS map-function source into MapSpec(s).

Upstream design documents define views as JavaScript source strings
(``[U pouchdb-abstract-mapreduce#evalFunc]``, SURVEY.md §2 F1) — every
real CouchDB/PouchDB ddoc is a JS string.  This engine's structured
fast path is the declarative ``MapSpec``; this module compiles the
design-doc subset that covers the overwhelmingly common emit patterns
straight to MapSpec, so a JS-defined view runs fully JVM-side with
predicate pushdown — no JS engine anywhere:

    function (doc) {
      if (doc.status === 'open' && doc.total > 1000) {
        emit([doc.priority, doc.created], doc.total);
      }
      if (doc.status !== 'open') emit(['closed', doc.id], 1);
    }

Supported subset (each maps 1:1 onto a MapSpec capability):

- flat doc field references: ``doc.f`` / ``doc["f"]`` / ``doc._id``;
- literal keys/values: numbers, strings, ``true``/``false``/``null``;
- array keys (``emit([a, b], …)``) and numeric array values;
- linked-document values ``{_id: doc.f}`` (J2);
- guarded emits: ``if``/``else`` (and ``else if`` chains) with
  ``=== == !== != < <= > >=``, ``&&``, ``||``, ``!``, truthiness
  tests, nested ifs; guards (and negated else-guards) compile into
  ``MapSpec.where`` so Catalyst pushes them into the parquet scan;
- arithmetic ``+ - * / %`` on same-kind operands (JS null→0 coercion
  compiled as ``coalesce``; string ``+`` concat with null→``'null'``;
  ``/`` and ``%`` compiled to TRUE IEEE-754 semantics — x/0 → ±Inf,
  0/0 → NaN, x%0 → NaN, x%±Inf → x — with non-finites CARRIED through
  further arithmetic like JS doubles (x / Infinity is 0, not null)
  and folded to JSON null only at the emit boundary, exactly where
  JSON.stringify folds them);
- string methods ``.substring/.slice`` (literal non-negative offsets),
  ``.toLowerCase/.toUpperCase``, ``.indexOf`` (literal needle;
  ``instr()-1``, with the ``=== 0`` / ``>= 0`` / ``=== -1`` idioms
  rewritten to pushable ``startswith``/``contains`` predicates — the
  canonical ``doc._id.indexOf('user:') === 0`` type-scoping guard
  prunes at the scan) and ES6 ``.startsWith/.endsWith/.includes`` —
  a method call on a null field compiles to a ``IS NOT NULL`` guard,
  reproducing upstream tryMap's throw→skip semantics;
- ``doc.f.length`` on string fields (null receiver → NOT NULL guard,
  same throw→skip rule) and ``Math.floor/ceil/abs/sqrt/round/pow``
  (JS ``Math.round`` half-up-toward-+∞ compiled as
  ``floor(x + 0.5)``; sqrt(neg)/pow corners carry real IEEE
  NaN/Infinity).  In GUARD comparisons an Infinity operand compares
  natively like JS; a NaN operand is nulled out (``nanvl``) because
  Spark orders NaN greatest where JS compares it false — both tiers
  agree on every comparison outcome;
- the conditional operator ``c ? a : b`` in keys and values
  (``CASE WHEN``; same-kind branches; branch throw-guards gated on
  the condition — JS evaluates only the taken branch);
- ``log(...)`` calls (upstream sandbox global) discarded when no
  argument can throw (literals, bound names, ``doc.f``, operators);
- multiple emits (one MapSpec per emit, unioned with emit ordinals).

On raw doc sources (functions/jsvariant.py) the same subset also
compiles ``forEach`` / C-style ``for`` / ``for…in`` /
``Object.keys|entries(…).forEach`` loops (one per source) to explode
specs, and nested doc paths to ``'$.a.b'`` extractions; on either
kind of source, single-assignment ``var``/``let``/``const`` locals
substitute their expression.

There is one JS front end: the statement parser the interpreter tier
runs (``jsreduce._Parser``).  :func:`lower_js_map` lowers its AST to
this module's emit IR, and the compiler reads only that IR.  Anything
outside the subset raises :class:`JSCompileError` naming the construct
— the deliberate fallback contract: the engine then runs the view on
the statement interpreter (functions/jsmap.py) instead of silently
mis-compiling.  Assignments, ``return``, nested loops and general
function calls are out of the subset.
"""

from __future__ import annotations

import math
from typing import Any

from mapreduce_spark.errors import QueryParseError


class JSCompileError(QueryParseError):
    """JS source uses a construct outside the compilable subset."""


# ---------------------------------------------------------------------------
# Statement AST → emit IR
# ---------------------------------------------------------------------------

_CMP_OPS = ("===", "==", "!==", "!=", "<", "<=", ">", ">=")


def parse_js_map(source: str) -> list[tuple[list, Any, Any]]:
    """JS map source → emit IR: the statement parser shared with the
    interpreter tier (``jsreduce._Parser``), then :func:`lower_js_map`.
    A source the parser rejects raises :class:`JSCompileError` with
    the parser's message."""
    from mapreduce_spark.functions.jsreduce import JSReduceError, _Parser

    try:
        params, body = _Parser(source).parse()
    except JSReduceError as e:
        raise JSCompileError(str(e)) from e
    return lower_js_map(params, body)


def lower_js_map(params: list, body: list) -> list[tuple[list, Any, Any]]:
    """Lower a parsed map function (``jsreduce._Parser``'s
    ``(params, body)``) to the emit IR ``[(guards, key_ast,
    value_ast), …]`` the compiler consumes.

    ``guards`` is the conjunction (list) of enclosing if-conditions,
    with a ``(mark, field, serial)`` loop marker at the position the
    loop opened (mark: ``foreach`` / ``forloop`` / ``forin``).  IR
    expressions are tuples ``('lit', v) | ('doc', field) |
    ('strlen', field) | ('arr', [ast]) | ('obj', {k: ast}) |
    ('bin', op, l, r) | ('method', recv, name, args) |
    ('math', name, args) | ('newdate', field) |
    ('regexlit', body, flags) | ('ternary', cond, t, f)`` plus the
    loop bindings ``('elem', field) | ('epos',) | ('ekey',)``;
    conditions are ``('cmp', op, l, r) | ('and'|'or', l, r) |
    ('not', c) | ('truthy', ast)``.  Any other shape raises
    :class:`JSCompileError` and the view runs on the interpreter."""
    low = _Lowering(params)
    low.stmts(body, [])
    return low.emits


class _Lowering:
    def __init__(self, params: list) -> None:
        # the doc binds to the first parameter, as jsmap's
        # JSMapFunctionFull binds it
        self.doc = (params or ["doc"])[0]
        self.emits: list[tuple[list, Any, Any]] = []
        # name → IR node: single-assignment aliases (`var v = expr;`
        # substitutes the lowered expression — sound because subset
        # expressions are pure) and loop bindings.  Block-scoped
        # conservatively: a name bound inside an if-arm or loop body
        # is forgotten at the block's end, so the conditionally-
        # assigned / out-of-explode-scope cases fall to the
        # interpreter instead of compiling wrong.  ('pair', field) is
        # an Object.entries callback parameter, usable only as
        # pair[0] / pair[1].
        self.scope: dict[str, Any] = {}
        self.loop: tuple[str, str, int] | None = None
        self.serial = 0

    # -- statements -----------------------------------------------------
    def stmts(self, body: list, guards: list) -> None:
        saved = dict(self.scope)
        try:
            for s in body:
                self.stmt(s, guards)
        finally:
            self.scope = saved

    def stmt(self, s: Any, guards: list) -> None:
        tag = s[0]
        if tag == "var":
            for name, init in s[1]:
                self.bindable(name)
                if name in self.scope:
                    raise JSCompileError(
                        f"redeclaration of {name!r} is outside the "
                        "compiled subset; the interpreter tier runs it"
                    )
                if init is None:
                    raise JSCompileError(
                        f"uninitialized declaration of {name!r} is "
                        "outside the compiled subset (undefined-until-"
                        "assigned); the interpreter tier runs it"
                    )
                self.scope[name] = self.expr(init)
            return
        if tag == "if":
            # else ≡ the negated guard; an `else if` chain is an if
            # statement inside the else arm
            c = self.cond(s[1])
            self.stmts(s[2], guards + [c])
            if s[3]:
                self.stmts(s[3], guards + [("not", c)])
            return
        if tag == "for":
            self.c_for(s, guards)
            return
        if tag == "forin":
            # for (var k in doc.f) { … } — object-key enumeration,
            # compiled to an object-entry explode (jsvariant
            # forin_object_sql).  The emit-order soundness condition
            # (bare `k` must be a key component) is enforced by the
            # compiler, where the emitted keys are visible.
            self.no_nesting()
            field = self.doc_field(s[2], "for-in target")
            self.loop_body("forin", field, {s[1]: ("ekey",)}, s[3],
                           guards)
            return
        if tag == "expr" and s[1] == ("lit", None):
            return  # empty statement
        if tag == "expr" and s[1][0] == "call":
            fn, args = s[1][1], s[1][2]
            if fn == ("name", "emit") and 1 <= len(args) <= 2:
                key = self.expr(args[0])
                value = (self.expr(args[1]) if len(args) == 2
                         else ("lit", None))
                self.emits.append((list(guards), key, value))
                return
            if fn == ("name", "log"):
                # upstream sandbox global (F1): debugging output, no
                # effect on the view — but JS evaluates its arguments,
                # so only arguments that cannot throw are dropped
                for a in args:
                    self.log_arg(a)
                return
            if fn[0] == "member" and fn[2] == "forEach":
                self.foreach(fn[1], args, guards)
                return
        raise JSCompileError(
            f"unsupported {tag!r} statement — the compilable subset is "
            "emit(...), if/else guards, single-assignment declarations, "
            "log() and one forEach / for / for-in loop; the "
            "interpreter tier runs the rest"
        )

    def log_arg(self, e: Any) -> None:
        """Accept a ``log(...)`` argument whose evaluation cannot throw:
        literals, bound names, ``doc.<field>`` at depth 1 and
        operators over them.  A deeper path (``doc.p.x`` throws when
        ``doc.p`` is undefined), a call or an unbound name raises
        :class:`JSCompileError`, and the interpreter tier runs the
        view."""
        tag = e[0]
        if tag == "lit":
            return
        if tag == "name" and (e[1] == self.doc or e[1] in self.scope):
            return
        if tag in ("member", "index") and len(self.doc_path(e) or ()) == 1:
            return
        if tag in ("bin", "un", "ternary"):
            for sub in e[2:] if tag != "ternary" else e[1:]:
                self.log_arg(sub)
            return
        raise JSCompileError(
            "log() arguments beyond literals, bound names, doc.<field> "
            "and operators may throw; the interpreter tier runs them"
        )

    def foreach(self, recv: Any, args: list, guards: list) -> None:
        """``doc.f.forEach(function (x) {…})`` — the canonical
        array-emit ddoc (tag index) — and ``Object.keys`` /
        ``Object.entries(doc.f).forEach(…)``, the modern spelling of
        the for-in idiom: same key space, same ES enumeration order,
        so it compiles to the SAME ('forin', field, serial) explode.
        The one semantic difference — Object.keys(null) THROWS where
        for-in iterates zero times — is unobservable in the compiled
        output: every emit site lives inside the loop, so the doc
        contributes zero rows either way."""
        self.no_nesting()
        if len(args) != 1 or args[0][0] != "func":
            raise JSCompileError(
                ".forEach() compiles only with one function literal "
                "argument; the interpreter tier runs it"
            )
        params, body = args[0][1], args[0][2]
        if (recv[0] == "call" and recv[1][0] == "member"
                and recv[1][1] == ("name", "Object")
                and recv[1][2] in ("keys", "entries")
                and len(recv[2]) == 1):
            m = recv[1][2]
            field = self.doc_field(recv[2][0], f"Object.{m} target")
            if m == "entries" and len(params) == 1 \
                    and isinstance(params[0], tuple):
                # destructured pair: function ([k, v]) {…} — k is the
                # object-entry key, v the value
                names = params[0][1]
                if len(names) != 2 or None in names \
                        or names[0] == names[1]:
                    raise JSCompileError(
                        "unsupported entries destructuring"
                    )
                binds = {names[0]: ("ekey",),
                         names[1]: ("elem", field)}
            else:
                p = self.one_param(params)
                binds = {p: ("pair", field) if m == "entries"
                         else ("ekey",)}
            self.loop_body("forin", field, binds, body, guards)
            return
        field = self.doc_field(recv, "forEach receiver")
        p = self.one_param(params)
        self.loop_body("foreach", field, {p: ("elem", field)}, body,
                       guards)

    def c_for(self, s: Any, guards: list) -> None:
        """``for (var i = 0; i < doc.f.length; i++) { … }`` — the
        pre-ES5 array-emit idiom, compiled to the same posexplode
        shape as ``.forEach()``.  The compiled pattern is strict
        (init 0; bound ``i < doc.f.length`` or ``doc.f.length > i``;
        step ``i++``/``++i``/``i += 1``/``i = i + 1``; no index
        mutation inside) — anything looser runs on the statement
        interpreter, which executes arbitrary C-style loops.  Inside
        the body, bare ``i`` is ('epos',) (the posexplode position)
        and ``doc.f[i]`` is ('elem', f); indexing any OTHER array
        with ``i`` rejects the compile."""
        self.no_nesting()
        _tag, init, test, step, body = s
        if init is not None and init[0] == "var" and len(init[1]) == 1:
            ivar, start = init[1][0]
        elif init is not None and init[0] == "assign" \
                and init[1] == "=" and init[2][0] == "name":
            ivar, start = init[2][1], init[3]
        else:
            raise JSCompileError(
                "for-loops compile only with one index variable; the "
                "interpreter tier runs other initializers"
            )
        if start is None or start[0] != "lit" \
                or type(start[1]) is not float or start[1] != 0:
            raise JSCompileError(
                "for-loops must start at index 0 to compile; the "
                "interpreter tier runs other bounds"
            )
        i = ("name", ivar)
        bound = None
        if test is not None and test[0] == "bin":
            if test[1] == "<" and test[2] == i:
                bound = test[3]
            elif test[1] == ">" and test[3] == i:
                bound = test[2]
        parts = self.doc_path(bound) if bound is not None else None
        if not parts or len(parts) < 2 or parts[-1] != "length":
            raise JSCompileError(
                "for-loop bounds must be i < doc.<field>.length to "
                "compile; the interpreter tier runs other bounds"
            )
        if step not in (("assign", "+=", i, ("lit", 1.0)),
                        ("assign", "=", i, ("bin", "+", i, ("lit", 1.0)))):
            raise JSCompileError(
                "only i++ / ++i / i += 1 / i = i + 1 for-loop steps "
                "compile; the interpreter tier runs other steps"
            )
        self.loop_body("forloop", ".".join(parts[:-1]),
                       {ivar: ("epos",)}, body, guards)

    def no_nesting(self) -> None:
        if self.loop is not None:
            raise JSCompileError(
                "nested loops are outside the compiled subset"
            )

    def loop_body(self, mark: str, field: str, binds: dict, body: list,
                  guards: list) -> None:
        for name in binds:
            self.bindable(name)
        self.loop = (mark, field, self.serial)
        self.serial += 1
        saved = self.scope
        self.scope = {**saved, **binds}
        try:
            self.stmts(body, guards + [self.loop])
        finally:
            self.loop = None
            self.scope = saved

    def bindable(self, name: Any) -> None:
        if not isinstance(name, str) \
                or name in (self.doc, "emit", "log"):
            raise JSCompileError(
                f"binding {name!r} is outside the compiled subset; the "
                "interpreter tier runs it"
            )

    @staticmethod
    def one_param(params: list) -> str:
        if len(params) != 1 or not isinstance(params[0], str):
            raise JSCompileError(
                "forEach callbacks with index/array parameters are "
                "outside the compiled subset"
            )
        return params[0]

    # -- expressions ----------------------------------------------------
    def doc_path(self, e: Any) -> list[str] | None:
        """``doc.a["b"].c`` → ['a', 'b', 'c'] (``[]`` for bare doc);
        None when ``e`` is not a static doc path."""
        parts: list[str] = []
        while e[0] in ("member", "index"):
            if e[0] == "member":
                parts.append(e[2])
            elif e[2][0] == "lit" and isinstance(e[2][1], str):
                parts.append(e[2][1])
            else:
                return None
            e = e[1]
        return parts[::-1] if e == ("name", self.doc) else None

    def doc_field(self, e: Any, what: str) -> str:
        parts = self.doc_path(e)
        if not parts:
            raise JSCompileError(
                f"{what} is not a doc field; the interpreter tier "
                "runs it"
            )
        return ".".join(parts)

    def cond(self, e: Any) -> Any:
        if e[0] == "bin" and e[1] in ("&&", "||"):
            return ("and" if e[1] == "&&" else "or",
                    self.cond(e[2]), self.cond(e[3]))
        if e[0] == "un" and e[1] == "!":
            return ("not", self.cond(e[2]))
        if e[0] == "bin" and e[1] in _CMP_OPS:
            return ("cmp", e[1], self.expr(e[2]), self.expr(e[3]))
        return ("truthy", self.expr(e))

    def expr(self, e: Any) -> Any:
        tag = e[0]
        if (tag == "lit" and e[1] is not _UNDEF) or tag == "regexlit":
            return e
        if tag == "un" and e[1] == "-" and e[2][0] == "lit" \
                and type(e[2][1]) is float:
            return ("lit", -e[2][1])
        if tag == "name":
            node = self.scope.get(e[1])
            if node is None or node[0] == "pair":
                raise JSCompileError(
                    f"identifier {e[1]!r} is outside the compiled "
                    "subset (doc field references, loop variables, "
                    "single-assignment locals, Math.<fn>() calls and "
                    "literals compile)"
                )
            return node
        if tag in ("member", "index"):
            return self.access(e)
        if tag == "call" and e[1][0] == "member":
            recv, name = e[1][1], e[1][2]
            args = [self.expr(a) for a in e[2]]
            if recv == ("name", "Math") and "Math" not in self.scope:
                return ("math", name, args)
            return ("method", self.expr(recv), name, args)
        if tag == "new" and e[1] == "Date" and len(e[2]) == 1:
            # new Date(doc.<tsfield>) followed by a getter call
            # (compiled by _Compiler._date_getter)
            arg = self.expr(e[2][0])
            if arg[0] == "doc":
                return ("newdate", arg[1])
        if tag == "arr":
            return ("arr", [self.expr(a) for a in e[1]])
        if tag == "obj":
            return ("obj", {k: self.expr(v) for k, v in e[1].items()})
        if tag == "ternary":
            return ("ternary", self.cond(e[1]), self.expr(e[2]),
                    self.expr(e[3]))
        if tag == "bin" and e[1] in ("+", "-", "*", "/", "%"):
            return ("bin", e[1], self.expr(e[2]), self.expr(e[3]))
        raise JSCompileError(
            f"unsupported {tag!r} expression — outside the compiled "
            "subset; the interpreter tier runs it"
        )

    def access(self, e: Any) -> Any:
        """Member/index access: a static doc path (``.length`` on it
        is the string length), ``doc.f[i]`` / ``doc.f[k]`` (the
        current element of the loop's own array/object) or an
        Object.entries pair's ``e[0]`` / ``e[1]``."""
        parts = self.doc_path(e)
        if parts:
            if len(parts) >= 2 and parts[-1] == "length":
                return ("strlen", ".".join(parts[:-1]))
            # nested paths carry as a dotted name: the typed compiler
            # rejects them (flat parquet columns), the variant
            # compiler (raw JSON docs) maps them to a '$.a.b' path
            return ("doc", ".".join(parts))
        if e[0] == "index":
            base, idx = e[1], e[2]
            bound = self.scope.get(idx[1]) if idx[0] == "name" else None
            base_path = self.doc_path(base)
            if bound in (("epos",), ("ekey",)) and base_path:
                field = ".".join(base_path)
                if field != self.loop[1]:
                    raise JSCompileError(
                        f"doc.{field}[{idx[1]}] indexes a different "
                        f"array/object than the loop's doc.{self.loop[1]}"
                        " — outside the compiled subset; the "
                        "interpreter tier runs it"
                    )
                return ("elem", field)
            pair = (self.scope.get(base[1]) if base[0] == "name"
                    else None)
            if pair is not None and pair[0] == "pair" \
                    and idx[0] == "lit" and type(idx[1]) is float \
                    and idx[1] in (0.0, 1.0):
                return ("ekey",) if idx[1] == 0 else ("elem", pair[1])
        raise JSCompileError(
            "member access outside a static doc path (or the loop's "
            "own element) is outside the compiled subset; the "
            "interpreter tier runs it"
        )


# ---------------------------------------------------------------------------
# AST → MapSpec
# ---------------------------------------------------------------------------

_ISO_SQL = 'date_format({col}, "yyyy-MM-dd\'T\'HH:mm:ss")'


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


_REGEX_SPECIALS = set("\\.^$*+?()[]{}|")


def _literal_regex(pat: str, flags: str) -> tuple[str, str, bool]:
    """Classify an anchored-literal JS regex: ('exact'|'prefix'|
    'suffix'|'contains', literal, case_insensitive).  Anything else
    (other flags, any special char in the body) raises JSCompileError
    → the interpreter tier (functions/jsregex.py) runs the full regex.

    The bare ``u`` flag is admitted (round 8): on a special-free
    literal body u-mode changes nothing — Spark's UTF8String
    startswith/contains compare code points exactly like u-mode —
    while ``g`` stays excluded even here (test() on a g-regex is
    STATEFUL: alternating results via lastIndex).

    ``i`` is admitted too (round 8) and compiles to a JVM
    ``rlike '(?i)…'`` predicate instead of sinking the whole view to
    the interpreter tier: Java's default CASE_INSENSITIVE folds
    US-ASCII ONLY — bit-exactly the ECMAScript non-u-mode
    Canonicalize for ASCII patterns, and the same deviation contract
    the interpreter pins with ``re.IGNORECASE | re.ASCII``
    (jsregex.py module docstring).  ``lower()``/``upper()`` rewrites
    would NOT be exact: full-Unicode folding matches 'İ'/'K' where
    JS does not."""
    if any(f not in "ui" for f in flags) or \
            len(set(flags)) != len(flags):
        # duplicates (/a/ii) are a JS SyntaxError — fall back to the
        # interpreter tier, whose lexer validates and stays loud
        raise JSCompileError(
            "regex flags are outside the compiled subset"
        )
    body = pat
    prefix = body.startswith("^")
    if prefix:
        body = body[1:]
    suffix = body.endswith("$")
    if suffix:
        body = body[:-1]
    if any(c in _REGEX_SPECIALS for c in body):
        raise JSCompileError(
            "only anchored-literal regex patterns compile; the "
            "interpreter tier runs the rest"
        )
    mode = {(True, True): "exact", (True, False): "prefix",
            (False, True): "suffix",
            (False, False): "contains"}[(prefix, suffix)]
    return mode, body, "i" in flags


def _regex_pred_sql(mode: str, lit: str, recv: str,
                    ci: bool = False) -> str:
    if ci:
        # Java regex via rlike: (?i) is ASCII-only by default (the
        # exact JS non-u folding); \A/\z are the absolute anchors
        # (Java's $ would also match before a trailing \n); \Q…\E
        # quotes the literal (special-free by construction, but
        # quoting is free).  Backslashes double for the SQL-literal
        # parser.
        rx = "(?i)"
        if mode in ("exact", "prefix"):
            rx += r"\A"
        rx += "\\Q" + lit + "\\E"
        if mode in ("exact", "suffix"):
            rx += r"\z"
        return f"({recv} RLIKE {_sql_str(rx.replace(chr(92), chr(92) * 2))})"
    p = _sql_str(lit)
    if mode == "exact":
        return f"({recv} = {p})"
    if mode == "prefix":
        return f"startswith({recv}, {p})"
    if mode == "suffix":
        return f"endswith({recv}, {p})"
    return f"contains({recv}, {p})"


def _sql_num(v: float) -> str:
    """JS number literal → SQL.  A bare ``0.5`` in Spark SQL text is
    DECIMAL(1,1), so literal-vs-literal arithmetic would run in
    decimal (``0.5 / 3`` → 0.166667, scale 6) instead of JS IEEE-754
    doubles; the explicit double cast (constant-folded by Catalyst,
    so comparisons stay pushable literals) keeps every compiled
    expression in double arithmetic."""
    return f"cast({float(v)!r} as double)"


class _Compiler:
    def __init__(self, table: str, schema,
                 variant_types: dict[str, str] | None = None,
                 variant_iso: set[str] | None = None) -> None:
        from mapreduce_spark.sources.docs import TABLES

        self.table = table
        self.t = TABLES[table]
        # variant mode (functions/jsvariant.py): raw doc sources have
        # one dynamic doc_json column; field kinds come from sampled
        # inference and extraction is drift-guarded variant_get SQL.
        # variant_iso: string fields whose sampled values are all
        # strict-ISO — eligible for compiled new Date() bucketing
        self.variant_types = variant_types
        self.variant_iso = variant_iso or set()
        self.types = (
            {}
            if schema is None
            else {f.name: f.dataType.simpleString() for f in schema}
        )
        # null-guards accumulated while compiling ONE emit: a JS method
        # call on null THROWS, and upstream tryMap turns a throwing map
        # fn into a skipped doc.  Each entry is ``(ctx, guard_sql)``:
        # ``ctx`` (SQL or None) is the short-circuit context gating
        # whether the site is EVALUATED at all — the right side of
        # ``&&`` runs only when the left was truthy, of ``||`` only
        # when it was falsy — so a guard contributes `NOT ctx OR
        # guard` (no requirement when the site is never reached).
        self.pending_guards: list[tuple[str | None, str]] = []
        self._guard_ctx: list[str] = []
        # ToNumber-context SQL for ternary nodes, keyed by AST node
        # id: JS applies ToNumber(null)=0 PER TAKEN BRANCH, so a
        # ternary consumed as a numeric operand coalesces each
        # field/literal branch individually instead of treating the
        # whole CASE as a computed (non-finite-encoding) expression
        self._tonum: dict[int, str] = {}

    def _push_guard(self, sql: str) -> None:
        ctx = " AND ".join(self._guard_ctx) if self._guard_ctx else None
        self.pending_guards.append((ctx, sql))

    # -- computed expressions (arithmetic + string methods) -------------

    _STR_METHODS = ("substring", "slice", "toLowerCase", "toUpperCase",
                    "indexOf", "startsWith", "endsWith", "includes")

    _DATE_GETTER_SQL = {
        # JS getter → SQL over a (coalesced) timestamp ts; UTC == the
        # pinned session timezone, so both variants compile the same.
        # Spark dayofweek is Sunday=1, JS getDay is Sunday=0.
        "getFullYear": "year({ts})", "getUTCFullYear": "year({ts})",
        "getMonth": "(month({ts}) - 1)",        # JS month INDEX
        "getUTCMonth": "(month({ts}) - 1)",
        "getDate": "day({ts})", "getUTCDate": "day({ts})",
        "getDay": "(dayofweek({ts}) - 1)",
        "getUTCDay": "(dayofweek({ts}) - 1)",
        "getHours": "hour({ts})", "getUTCHours": "hour({ts})",
        "getMinutes": "minute({ts})", "getUTCMinutes": "minute({ts})",
        "getSeconds": "second({ts})", "getUTCSeconds": "second({ts})",
    }

    def _date_getter(self, field: str, name: str,
                     args: list) -> tuple[str, str]:
        """``new Date(doc.ts).getUTCFullYear()`` and friends over a
        TYPED timestamp column → plain JVM date functions (pushdown-
        and partition-prune-friendly — the Spark-idiomatic date
        bucketing).  The interpreter sees the doc-space rendered ISO
        string (second precision, UTC), so only getters invariant
        under second-truncation compile; getTime / getMilliseconds /
        the serializers interpret.  A NULL column is JS null →
        ToNumber 0 → the epoch (so the receiver coalesces), matching
        ``new Date(null)``."""
        if args:
            raise JSCompileError(f"Date {name}() takes no arguments")
        kind, sql = self.field(field)
        if kind == "str" and self.variant_types is not None \
                and field in self.variant_iso:
            # raw-doc ISO string (sampled all-ISO): parse JVM-side
            # with a drift guard — a non-ISO tail value raises and the
            # engine falls back to the interpreter (JS would produce
            # an Invalid Date → NaN getters; the interpreter
            # reproduces that exactly)
            from mapreduce_spark.functions.jsvariant import (
                DRIFT_MARK,
                ISO_RE,
            )

            err = (
                f"raise_error('[{DRIFT_MARK}] doc.{field} is not a "
                "valid strict-ISO date string — interpreter tier "
                "required')"
            )
            # shape guard (regex) + validity guard (try_cast: a
            # shape-valid '2024-13-45' is a JS Invalid Date → NaN
            # getters, which only the interpreter reproduces)
            sql = (
                f"(CASE WHEN {sql} IS NULL THEN "
                "cast(NULL as timestamp) "
                f"WHEN NOT {sql} RLIKE '{ISO_RE}' THEN {err} "
                f"WHEN try_cast({sql} as timestamp) IS NULL THEN {err} "
                f"ELSE cast({sql} as timestamp) END)"
            )
            kind = "iso"
        if kind != "iso":
            raise JSCompileError(
                f"new Date(doc.{field}) over a {kind} field is "
                "outside the compiled subset (typed timestamp "
                "columns only); the interpreter tier runs it"
            )
        tpl = self._DATE_GETTER_SQL.get(name)
        if tpl is None:
            if name == "getTimezoneOffset":
                return "num", "cast(0.0 as double)"
            raise JSCompileError(
                f"Date.prototype.{name}() is outside the compiled "
                "subset; the interpreter tier runs it"
            )
        ts = f"coalesce({sql}, timestamp '1970-01-01 00:00:00')"
        return "num", f"cast({tpl.format(ts=ts)} as double)"

    def _num_operand(self, ast: Any, sql: str) -> str:
        """Numeric operand SQL with JS ToNumber(null)=0 applied to
        SOURCE nulls only.  Computed sub-expressions keep SQL null
        propagation: their null encodes a folded non-finite (JS would
        carry Infinity/NaN forward and JSON-stringify to null).
        Ternaries use their per-branch ToNumber form (cached during
        ``computed``): the taken branch decides the coalescing, so
        ``c ? 3 : doc.n`` over null ``doc.n`` is 0, not null."""
        if id(ast) in self._tonum:
            return self._tonum[id(ast)]
        return (
            f"coalesce({sql}, 0.0)"
            if ast[0] in ("doc", "lit", "elem", "epos")
            else sql
        )

    def computed(self, ast: Any) -> tuple[str, str]:
        """('bin'|'method'|…) AST → (kind, sql) with JS semantics."""
        tag = ast[0]
        if tag == "lit":
            v = ast[1]
            if isinstance(v, bool) or v is None:
                raise JSCompileError(
                    "booleans/null are not compilable inside computed "
                    "expressions"
                )
            if isinstance(v, (int, float)):
                return "num", _sql_num(v)
            return "str", _sql_str(v)
        if tag == "doc":
            kind, sql = self.field(ast[1])
            if kind == "iso":  # doc space renders ISO strings
                return "str", _ISO_SQL.format(col=sql)
            return kind, sql
        if tag == "elem":
            return self.elem_ref(ast)
        if tag == "epos":
            return self.epos_ref()
        if tag == "ekey":
            return self.ekey_ref()
        if tag == "bin":
            op, l, r = ast[1], ast[2], ast[3]
            (lk, ls) = self.computed(l)
            (rk, rs) = self.computed(r)
            if op == "+" and lk == rk == "str":
                # JS `+` does string concat only when an operand IS a
                # string after ToPrimitive: null + 'a' → 'nulla', but
                # null + null → numeric 0.  Concat is therefore
                # compiled only when one side is statically
                # non-null — a literal, or a method result (null
                # receivers are throw-guarded away).  Two nullable
                # fields could both be null at runtime, flipping the
                # RESULT KIND per row; that stays on the interpreter.
                def _nonnull_str(a: Any) -> bool:
                    # ekey: object keys are non-null strings
                    return a[0] in ("lit", "method", "ekey")

                if not (_nonnull_str(l) or _nonnull_str(r)):
                    raise JSCompileError(
                        "string + between two nullable fields is "
                        "outside the compiled subset (JS null + null "
                        "is numeric 0, not 'nullnull'); the "
                        "interpreter tier runs it exactly"
                    )
                return "str", (
                    f"concat(coalesce({ls}, 'null'), "
                    f"coalesce({rs}, 'null'))"
                )
            if lk == rk == "num":
                # JS arithmetic coerces null to 0 (never throws) — but
                # ONLY source nulls (doc fields / literals).  A null
                # coming out of a computed sub-expression is a folded
                # non-finite (by-zero division, sqrt(neg), pow
                # overflow): JS would propagate Infinity/NaN through
                # further arithmetic and stringify the result to null,
                # so SQL null-propagation (x + NULL = NULL) is the
                # faithful compilation and coalescing it to 0 would
                # diverge.
                l0, r0 = self._num_operand(l, ls), self._num_operand(
                    r, rs
                )
                if op in ("+", "-", "*"):
                    return "num", f"({l0} {op} {r0})"
                if op == "/":
                    # True IEEE-754 division, carried through: JS x/0
                    # → ±Infinity (sign from both operands, -0.0
                    # divisor detected via its string form), 0/0 →
                    # NaN.  Non-finites flow onward like JS doubles —
                    # x / Infinity is 0, NOT null — and fold to JSON
                    # null only at the emit boundary
                    # (mapphase.fold_nonfinite), exactly where
                    # JSON.stringify folds them.  Spark's `/` can't
                    # produce them itself (zero divisor → NULL/error),
                    # so the zero-divisor case is constructed.
                    return "num", (
                        f"(CASE WHEN {r0} = 0 THEN "
                        f"(CASE WHEN {l0} = 0 OR isnan({l0}) "
                        "THEN cast('NaN' as double) "
                        f"WHEN ({l0} > 0) = (NOT startswith("
                        f"cast({r0} as string), '-')) "
                        "THEN cast('Infinity' as double) "
                        "ELSE cast('-Infinity' as double) END) "
                        f"ELSE {l0} / {r0} END)"
                    )
                if op == "%":
                    # JS remainder: sign of the dividend (Spark/Java
                    # match for finite operands); the IEEE corners are
                    # constructed — x % 0 and Inf % x → NaN, finite x
                    # % ±Infinity → x — and carried like division
                    inf = "cast('Infinity' as double)"
                    return "num", (
                        f"(CASE WHEN {r0} = 0 OR abs({l0}) = {inf} "
                        "THEN cast('NaN' as double) "
                        f"WHEN abs({r0}) = {inf} THEN {l0} "
                        f"ELSE {l0} % {r0} END)"
                    )
            raise JSCompileError(
                f"operator {op!r} between {lk} and {rk} operands is "
                "outside the subset (same-kind operands only; JS "
                "mixed-type coercion differs from SQL)"
            )
        if tag == "ternary":
            # JS evaluates ONLY the taken branch, so each branch's
            # throw-guards are gated on the condition's truth value
            # via the same short-circuit context machinery as &&/||
            c_sql = f"({self.cond(ast[1])})"
            c_true = f"COALESCE({c_sql}, false)"
            self._guard_ctx.append(c_true)
            try:
                tk, ts = self.computed(ast[2])
            finally:
                self._guard_ctx.pop()
            self._guard_ctx.append(f"(NOT {c_true})")
            try:
                fk, fs = self.computed(ast[3])
            finally:
                self._guard_ctx.pop()
            if tk != fk:
                raise JSCompileError(
                    f"ternary branches of different kinds ({tk} vs "
                    f"{fk}) are outside the compilable subset"
                )
            if tk == "num":
                # per-branch ToNumber form for numeric consumers (see
                # _num_operand) — built here where branch SQL exists
                self._tonum[id(ast)] = (
                    f"(CASE WHEN {c_true} "
                    f"THEN {self._num_operand(ast[2], ts)} "
                    f"ELSE {self._num_operand(ast[3], fs)} END)"
                )
            return tk, (
                f"(CASE WHEN {c_true} THEN {ts} ELSE {fs} END)"
            )
        if tag == "strlen":
            kind, sql = self.field(ast[1])
            if kind == "iso":
                # rendered ISO strings have a fixed 19-char form —
                # but JS null.length still throws, so the null guard
                # applies exactly as on plain string fields
                self._push_guard(f"({sql} IS NOT NULL)")
                return "num", "19.0"
            if kind != "str":
                raise JSCompileError(
                    f".length on a {kind} field is outside the subset "
                    "(string length only)"
                )
            # JS: null.length throws → tryMap skips the doc
            self._push_guard(f"({sql} IS NOT NULL)")
            return "num", f"cast(length({sql}) as double)"
        if tag == "math":
            name, args = ast[1], ast[2]
            compiled = []
            for a in args:
                k, s = self.computed(a)
                if k != "num":
                    raise JSCompileError(
                        f"Math.{name}() over a {k} operand is outside "
                        "the subset"
                    )
                compiled.append(self._num_operand(a, s))
            n = len(compiled)
            if name in ("floor", "ceil", "abs", "sqrt", "round") \
                    and n == 1:
                x = compiled[0]

                def ieee(int_sql: str) -> str:
                    # Spark's floor/ceil(double) return BIGINT, so a
                    # non-finite input would overflow to ±Long.MIN
                    # and a finite |x| ≥ 2^63 saturates — JS passes
                    # NaN/±Infinity through unchanged, and every
                    # double with |x| ≥ 2^53 is already integral, so
                    # both cases return x itself
                    return (
                        f"(CASE WHEN isnan({x}) OR abs({x}) >= "
                        f"cast(9007199254740992.0 as double) THEN {x} "
                        f"ELSE {int_sql} END)"
                    )

                if name == "floor":
                    return "num", ieee(f"cast(floor({x}) as double)")
                if name == "ceil":
                    return "num", ieee(f"cast(ceil({x}) as double)")
                if name == "abs":
                    return "num", f"abs({x})"
                if name == "sqrt":
                    # IEEE: sqrt(negative) = NaN, carried (folds to
                    # JSON null at the emit boundary)
                    return "num", f"sqrt({x})"
                # JS Math.round: half-up toward +Infinity (round(-2.5)
                # = -2) — Spark's round() is half-away-from-zero, so
                # compile the definition instead
                return "num", ieee(f"cast(floor({x} + 0.5) as double)")
            if name == "pow" and n == 2:
                # Java/Spark power() IS IEEE Math.pow = JS semantics;
                # NaN/Infinity corners (neg^frac, overflow, 0^neg)
                # carry like JS doubles and fold at the emit boundary
                return "num", f"power({compiled[0]}, {compiled[1]})"
            raise JSCompileError(
                f"Math.{name}() with {n} argument(s) is outside the "
                "compilable subset (floor/ceil/abs/sqrt/round/pow)"
            )
        if tag == "method":
            base, name, args = ast[1], ast[2], ast[3]
            if base[0] == "elem":
                # a null ELEMENT's method throw skips the doc's
                # REMAINING emits in JS (earlier elements stand) —
                # a per-row filter cannot reproduce that partial-doc
                # semantic, so direct element receivers interpret.
                # Computed receivers built FROM the element (concat
                # etc.) are non-null by construction and compile.
                raise JSCompileError(
                    f".{name}() directly on a forEach element is "
                    "outside the compiled subset (null-element throw "
                    "semantics); the interpreter tier runs it"
                )
            if base[0] == "newdate":
                return self._date_getter(base[1], name, args)
            if base[0] == "regexlit":
                # /pat/.test(s): anchored-literal patterns only →
                # pushable startswith/endswith/contains/equality; JS
                # coerces a null argument via ToString ('null')
                if name != "test" or len(args) != 1:
                    raise JSCompileError(
                        f"RegExp.prototype.{name} is outside the "
                        "compiled subset (the interpreter runs it)"
                    )
                mode, lit, ci = _literal_regex(base[1], base[2])
                ak, asql = self.computed(args[0])
                if ak != "str":
                    raise JSCompileError(
                        f".test() over a {ak} argument is outside "
                        "the compiled subset"
                    )
                if args[0][0] in ("doc", "elem"):
                    asql = f"coalesce({asql}, 'null')"
                return "bool", _regex_pred_sql(mode, lit, asql, ci)
            if (
                name == "match"
                and len(args) == 1
                and args[0][0] == "regexlit"
            ):
                # s.match(/pat/): array-or-null in JS — compiled ONLY
                # for truthiness/null-comparison consumption (kind
                # 'matchbool'); key/value positions reject the kind
                # and fall back to the interpreter
                mode, lit, ci = _literal_regex(args[0][1], args[0][2])
                bk, bs = self.computed(base)
                if bk != "str":
                    raise JSCompileError(
                        f".match() on a {bk} receiver is outside the "
                        "compiled subset"
                    )
                if base[0] == "doc":
                    # JS: null.match() throws → tryMap skips the doc
                    self._push_guard(f"({bs} IS NOT NULL)")
                return "matchbool", _regex_pred_sql(mode, lit, bs, ci)
            bk, bs = self.computed(base)
            if bk != "str" or name not in self._STR_METHODS:
                raise JSCompileError(
                    f".{name}() on a {bk} receiver is outside the "
                    "compilable subset"
                )
            if base[0] == "doc":
                # JS: null.method() throws → tryMap skips the doc
                self._push_guard(f"({bs} IS NOT NULL)")
            if name == "toLowerCase":
                if args:
                    raise JSCompileError("toLowerCase() takes no args")
                return "str", f"lower({bs})"
            if name == "toUpperCase":
                if args:
                    raise JSCompileError("toUpperCase() takes no args")
                return "str", f"upper({bs})"
            if name in ("indexOf", "startsWith", "endsWith",
                        "includes"):
                # literal search string only (the ddoc idiom:
                # doc._id.indexOf('user:') === 0 type-scoping)
                if len(args) != 1 or args[0][0] != "lit" \
                        or not isinstance(args[0][1], str):
                    raise JSCompileError(
                        f".{name}() supports exactly one literal "
                        "string argument"
                    )
                pat = _sql_str(args[0][1])
                if name == "indexOf":
                    # JS 0-based, -1 for absent ≡ instr()-1 (1-based,
                    # 0 for absent); cmp() rewrites the === 0 /
                    # >= 0 / === -1 idioms to pushable
                    # startswith/contains predicates
                    return "num", (
                        f"cast(instr({bs}, {pat}) - 1 as double)"
                    )
                fn = {"startsWith": "startswith",
                      "endsWith": "endswith",
                      "includes": "contains"}[name]
                return "bool", f"{fn}({bs}, {pat})"
            # substring/slice with literal non-negative offsets (the
            # common prefix/infix idiom); negative/swapped/dynamic
            # args are out of the subset
            lits = []
            for a in args:
                if a[0] != "lit" or not isinstance(a[1], (int, float)) \
                        or a[1] < 0 or a[1] != int(a[1]):
                    raise JSCompileError(
                        f".{name}() supports literal non-negative "
                        "integer offsets only"
                    )
                lits.append(int(a[1]))
            if len(lits) == 1:
                return "str", f"substr({bs}, {lits[0] + 1})"
            if len(lits) == 2 and lits[0] <= lits[1]:
                return "str", (
                    f"substr({bs}, {lits[0] + 1}, {lits[1] - lits[0]})"
                )
            raise JSCompileError(
                f".{name}() expects (start[, end]) with start <= end"
            )
        raise JSCompileError(
            f"unsupported computed expression {tag!r}"
        )

    def elem_ref(self, ast: Any) -> tuple[str, str]:
        """forEach element / for-in entry value → (elem kind, guarded
        extraction SQL) over the explode output column
        (jsvariant.elem_value_sql — the guard is identical: entry
        values drift-check per row exactly like array elements)."""
        if self.variant_types is None:
            raise JSCompileError(
                "forEach over a typed table is outside the compiled "
                "subset (raw doc sources only); the Python map path "
                "runs it"
            )
        f = ast[1]
        kind = self.variant_types.get(f)
        if kind is None or ":" not in kind \
                or kind.split(":", 1)[1] == "any":
            raise JSCompileError(
                f"doc.{f} has no inferred element kind in the "
                "sampled corpus"
            )
        from mapreduce_spark.functions.jsvariant import elem_value_sql

        ekind = kind.split(":", 1)[1]
        return ekind, elem_value_sql(f, ekind)

    def ekey_ref(self) -> tuple[str, str]:
        """for-in loop variable → the object-entry key column (always
        a non-null JS string — JSON object keys may be empty but
        never null)."""
        if self.variant_types is None:
            raise JSCompileError(
                "a compiled for-in over a typed table is outside "
                "the compiled subset (raw doc sources only); the "
                "Python map path runs it"
            )
        from mapreduce_spark.functions.jsvariant import EKEY_COL

        return "str", EKEY_COL

    def epos_ref(self) -> tuple[str, str]:
        """for-loop index variable → the posexplode position column
        (always a non-null, non-NaN JS number)."""
        if self.variant_types is None:
            raise JSCompileError(
                "a compiled for-loop over a typed table is outside "
                "the compiled subset (raw doc sources only); the "
                "Python map path runs it"
            )
        from mapreduce_spark.functions.jsvariant import EPOS_COL

        return "num", f"cast({EPOS_COL} as double)"

    def field(self, name: str) -> tuple[str, str]:
        """doc field → (kind, raw-SQL expr) in the doc space."""
        if name == "_id":
            args = ", ".join(self.t.pk)
            fmt = self.t.id_format.replace("'", "''")
            return "str", f"format_string('{fmt}', {args})"
        if name in ("_rev", "_deleted"):
            raise JSCompileError(
                f"doc.{name} is engine metadata and not compilable"
            )
        if self.variant_types is not None:
            from mapreduce_spark.functions.jsvariant import (
                variant_field_sql,
            )

            kind = self.variant_types.get(name)
            if kind is None:
                raise JSCompileError(
                    f"doc.{name} has no inferred scalar kind in the "
                    "sampled corpus"
                )
            return kind, variant_field_sql(name, kind)
        dt = self.types.get(name)
        if dt is None:
            raise JSCompileError(
                f"doc.{name} does not exist on table {self.table!r} "
                f"(fields: {sorted(self.types)})"
            )
        if dt == "string":
            return "str", name
        if dt in ("double", "float", "int", "bigint", "smallint",
                  "tinyint") or dt.startswith("decimal"):
            return "num", name
        if dt in ("timestamp", "date", "timestamp_ntz"):
            return "iso", name
        if dt == "boolean":
            return "bool", name
        raise JSCompileError(
            f"doc.{name} has type {dt} — not compilable as a key/value"
        )

    # -- key ------------------------------------------------------------
    def key_component(self, ast: Any) -> tuple:
        tag = ast[0]
        if tag == "lit":
            v = ast[1]
            if v is None:
                return ("null", "null")
            if isinstance(v, bool):
                return ("bool", "true" if v else "false")
            if isinstance(v, (int, float)):
                return ("num", _sql_num(v))
            return ("str", _sql_str(v))
        if tag == "doc":
            return self.field(ast[1])
        if tag == "elem":
            return self.elem_ref(ast)
        if tag == "epos":
            return self.epos_ref()
        if tag == "ekey":
            return self.ekey_ref()
        if tag in ("bin", "method", "strlen", "math", "ternary"):
            kind, sql = self.computed(ast)
            if kind not in ("num", "str", "bool", "iso"):
                raise JSCompileError(
                    f"a {kind} expression is not a compilable key "
                    "component (e.g. .match() returns an array)"
                )
            return kind, sql
        raise JSCompileError(
            f"unsupported key component {tag!r} (scalars, doc fields "
            "and computed expressions only; arrays cannot nest)"
        )

    def key(self, ast: Any) -> Any:
        if ast[0] == "arr":
            return [self.key_component(a) for a in ast[1]]
        return self.key_component(ast)

    # -- value ----------------------------------------------------------
    def value(self, ast: Any) -> Any:
        tag = ast[0]
        if tag == "lit":
            v = ast[1]
            if v is None:
                return None
            if isinstance(v, bool):
                return ("bool", "true" if v else "false")
            if isinstance(v, (int, float)):
                return ("num", _sql_num(v))
            return ("str", _sql_str(v))
        if tag == "doc":
            kind, sql = self.field(ast[1])
            if kind == "iso":
                return ("str", _ISO_SQL.format(col=sql))
            return (kind, sql)
        if tag == "elem":
            return self.elem_ref(ast)
        if tag == "epos":
            return self.epos_ref()
        if tag == "ekey":
            return self.ekey_ref()
        if tag in ("bin", "method", "strlen", "math", "ternary"):
            kind, sql = self.computed(ast)
            if kind not in ("num", "str", "bool"):
                raise JSCompileError(
                    f"a {kind} expression is not a compilable emitted "
                    "value (e.g. .match() returns an array)"
                )
            return kind, sql
        if tag == "arr":
            exprs = []
            for a in ast[1]:
                if a[0] == "lit" and isinstance(a[1], (int, float)) \
                        and not isinstance(a[1], bool):
                    exprs.append(_sql_num(a[1]))
                elif a[0] == "doc":
                    kind, sql = self.field(a[1])
                    if kind != "num":
                        raise JSCompileError(
                            "value arrays must be numeric (CouchDB _sum "
                            f"shape); doc.{a[1]} is {kind}"
                        )
                    exprs.append(sql)
                elif a[0] == "elem":
                    kind, sql = self.elem_ref(a)
                    if kind != "num":
                        raise JSCompileError(
                            "value arrays must be numeric (CouchDB "
                            f"_sum shape); the element is {kind}"
                        )
                    exprs.append(sql)
                elif a[0] == "epos":
                    exprs.append(self.epos_ref()[1])
                elif a[0] in ("bin", "method", "strlen", "math",
                              "ternary"):
                    kind, sql = self.computed(a)
                    if kind != "num":
                        raise JSCompileError(
                            "value arrays must be numeric (CouchDB "
                            f"_sum shape); element is {kind}"
                        )
                    exprs.append(sql)
                else:
                    raise JSCompileError(
                        "value arrays may contain numbers, numeric doc "
                        "fields and numeric computed expressions only"
                    )
            return ("num_arr", exprs)
        if tag == "obj":
            obj = ast[1]
            if set(obj) == {"_id"} and obj["_id"][0] == "doc":
                kind, sql = self.field(obj["_id"][1])
                if kind == "str":
                    return ("link", sql)
            if "_id" in obj:
                # upstream treats ANY object value carrying _id as a
                # linked document; only the pure {_id: doc.field}
                # shape compiles — the interpreter tier handles the
                # mixed form with full link semantics
                raise JSCompileError(
                    "object values containing _id are linked "
                    "documents; only {_id: doc.<string field>} "
                    "compiles"
                )
            # flat object value of compilable scalars (the common
            # {total: doc.x, count: 1} accumulator-feed shape)
            members = []
            for mname, a in obj.items():
                mv = self.value(a)
                if mv is None:
                    members.append((mname, ("null", "null")))
                elif mv[0] in ("num", "str", "bool"):
                    members.append((mname, mv))
                else:
                    raise JSCompileError(
                        "object value members must be scalars "
                        f"(member {mname!r} is {mv[0]})"
                    )
            return ("obj", members)
        raise JSCompileError(f"unsupported value expression {tag!r}")

    # -- guards ----------------------------------------------------------
    def cond(self, ast: Any) -> str:
        tag = ast[0]
        if tag == "and":
            # JS && short-circuits: the right side (and any throwing
            # method site in it) is EVALUATED only when the left was
            # truthy — record that as the guard context so a null
            # receiver on the right doesn't impose its guard on docs
            # that never reach it (coalesce: SQL NULL left ≡ JS falsy)
            ls = self.cond(ast[1])
            self._guard_ctx.append(f"COALESCE(({ls}), false)")
            try:
                rs = self.cond(ast[2])
            finally:
                self._guard_ctx.pop()
            return f"({ls}) AND ({rs})"
        if tag == "or":
            # JS || evaluates the right side only when the left was
            # FALSY (NULL included)
            ls = self.cond(ast[1])
            self._guard_ctx.append(f"(NOT COALESCE(({ls}), false))")
            try:
                rs = self.cond(ast[2])
            finally:
                self._guard_ctx.pop()
            return f"({ls}) OR ({rs})"
        if tag == "not":
            # null-safe: JS `!undefined` is true, but SQL NOT(NULL) is
            # NULL (row dropped) — coalesce the inner condition to
            # false first so a missing/null field lands in the negated
            # branch exactly like the JS interpreter path (and the
            # compiled else-guard ≡ JS else)
            return f"NOT COALESCE(({self.cond(ast[1])}), false)"
        if tag == "truthy":
            kind, sql = self._operand(ast[1])
            if kind in ("bool", "matchbool"):
                return f"({sql})"
            if kind == "num":
                # JS Boolean(NaN) is FALSE, but Spark NaN <> 0 is
                # true — null a computed NaN out first (doc fields
                # are JSON numbers, never NaN)
                if ast[1][0] not in ("doc", "lit", "elem", "epos"):
                    sql = f"nanvl({sql}, cast(null as double))"
                return f"({sql} IS NOT NULL AND {sql} <> 0)"
            if kind == "str":
                return f"({sql} IS NOT NULL AND {sql} <> '')"
            return f"({sql} IS NOT NULL)"
        if tag == "cmp":
            op, l, r = ast[1], ast[2], ast[3]
            idiom = self._indexof_idiom(op, l, r)
            if idiom is not None:
                return idiom
            sql_op = {"===": "=", "==": "=", "!==": "<>", "!=": "<>",
                      "<": "<", "<=": "<=", ">": ">", ">=": ">="}[op]
            # null comparisons → IS [NOT] NULL
            for a, b in ((l, r), (r, l)):
                if b == ("lit", None):
                    if op not in ("===", "==", "!==", "!="):
                        raise JSCompileError(
                            "null is only comparable with equality"
                        )
                    k, sql = self._operand(a)
                    if k == "matchbool":
                        # s.match(/re/) === null ⟺ no match (the
                        # predicate is boolean, never SQL NULL — the
                        # null-receiver case is throw-guarded away)
                        if op in ("!==", "!="):
                            return f"COALESCE(({sql}), false)"
                        return f"(NOT COALESCE(({sql}), false))"
                    neg = "NOT " if op in ("!==", "!=") else ""
                    return f"({sql} IS {neg}NULL)"
            (lk, ls), (rk, rs) = self._operand(l), self._operand(r)
            if {lk, rk} not in ({"num"}, {"str"}, {"bool"},
                                {"iso", "str"}, {"iso"}):
                raise JSCompileError(
                    f"comparison between {lk} and {rk} operands is not "
                    "compilable (JS coercion is out of the subset)"
                )
            if "iso" in (lk, rk):  # compare in ISO-string space
                ls = _ISO_SQL.format(col=ls) if lk == "iso" else ls
                rs = _ISO_SQL.format(col=rs) if rk == "iso" else rs

            def _cmpable(a: Any, sql: str) -> str:
                # Spark ORDERS NaN as the greatest double and treats
                # NaN = NaN as true; JS NaN compares false to
                # everything.  Computed operands carry real IEEE
                # non-finites now — null a NaN out at RELATIONAL
                # sites (NULL compares falsy; real JS nulls never
                # reach a relational un-coalesced).
                if lk == rk == "num" and a[0] not in ("doc", "lit",
                                                      "elem", "epos"):
                    return f"nanvl({sql}, cast(null as double))"
                return sql

            computed_num = lk == rk == "num" and (
                l[0] not in ("doc", "lit", "elem", "epos")
                or r[0] not in ("doc", "lit", "elem", "epos")
            )
            # JS null comparison semantics vs SQL three-valued logic:
            # - `null !== lit` is TRUE in JS, but SQL `<>` yields NULL
            #   and drops the row → inequality always compiles
            #   null-safe (NOT <=>)
            # - `null === null` is TRUE in JS → equality between two
            #   FIELDS compiles null-safe (<=>); against a literal the
            #   plain `=` already matches JS (both falsy on null) and
            #   stays pushable as EqualTo
            # - a COMPUTED numeric side may carry NaN, which equals
            #   NOTHING in JS (not even itself) while Spark's <=>
            #   would both match NaN<=>NaN and conflate a nanvl'd NaN
            #   with a true null — so equality over computed numbers
            #   guards with isnan() on the RAW operands instead
            if computed_num and op in ("===", "==", "!==", "!="):
                eq = (
                    f"(coalesce(NOT (isnan({ls}) OR isnan({rs})), "
                    f"true) AND ({ls} <=> {rs}))"
                )
                if op in ("!==", "!="):
                    return f"(NOT {eq})"
                return eq
            if op in ("!==", "!="):
                return f"(NOT ({ls} <=> {rs}))"
            if op in ("===", "==") and l[0] != "lit" and r[0] != "lit":
                return f"({ls} <=> {rs})"
            ls, rs = _cmpable(l, ls), _cmpable(r, rs)
            # - relational over NUMBERS coerces null to 0 in JS
            #   (ToNumber).  With a literal side the null outcome is
            #   known at compile time: fold it to a pushable
            #   `x op lit [OR x IS NULL]`; field-vs-field coalesces
            #   source nulls (a computed operand's NaN is nulled by
            #   _cmpable; its Infinity compares natively like JS)
            if lk == rk == "num" and op in ("<", "<=", ">", ">="):
                import operator as _op

                py = {"<": _op.lt, "<=": _op.le,
                      ">": _op.gt, ">=": _op.ge}[op]

                def _litval(a):
                    return (
                        float(a[1])
                        if a[0] == "lit"
                        and isinstance(a[1], (int, float))
                        and not isinstance(a[1], bool)
                        else None
                    )

                rl, rr = _litval(l), _litval(r)
                if l[0] in ("doc", "elem") and rr is not None:
                    base = f"({ls} {sql_op} {rs})"
                    return (f"({base} OR {ls} IS NULL)"
                            if py(0.0, rr) else base)
                if r[0] in ("doc", "elem") and rl is not None:
                    base = f"({ls} {sql_op} {rs})"
                    return (f"({base} OR {rs} IS NULL)"
                            if py(rl, 0.0) else base)
                ls = _cmpable(l, self._num_operand(l, ls))
                rs = _cmpable(r, self._num_operand(r, rs))
            if lk != "num" and op in ("<", "<=", ">", ">="):
                # STRING-space relational (str / rendered-iso): two JS
                # strings compare lexically — SQL matches — but a null
                # field flips JS to NUMERIC comparison (ToNumber(null)
                # = 0 vs ToNumber(other)).  Against a LITERAL the null
                # outcome folds at compile time into a pushable
                # `x op lit [OR x IS NULL]` (only numeric-looking
                # literals like '' or '12' can make it true — NaN
                # comparisons are false, matching the plain SQL drop).
                # A nullable field against a runtime string (another
                # field, a method result) cannot be folded: the
                # interpreter tier runs it exactly.
                import math as _math
                import operator as _op

                py = {"<": _op.lt, "<=": _op.le,
                      ">": _op.gt, ">=": _op.ge}[op]

                def _slit(a):
                    return (
                        a[1]
                        if a[0] == "lit" and isinstance(a[1], str)
                        else None
                    )

                sides = ((l, ls, r, rs, lambda t: py(0.0, t)),
                         (r, rs, l, ls, lambda t: py(t, 0.0)))
                for fld, fsql, other, osql, null_out in sides:
                    if fld[0] != "doc":
                        continue
                    lit = _slit(other)
                    if lit is None:
                        raise JSCompileError(
                            "relational between a nullable string "
                            "field and a runtime string is outside "
                            "the compiled subset (JS null compares "
                            "numerically); the interpreter tier runs "
                            "it exactly"
                        )
                    t = _js_num(lit)
                    base = f"({ls} {sql_op} {rs})"
                    if not _math.isnan(t) and null_out(t):
                        return f"({base} OR {fsql} IS NULL)"
                    return base
            return f"({ls} {sql_op} {rs})"
        raise JSCompileError(f"unsupported condition {tag!r}")

    def _indexof_idiom(self, op: str, l: Any, r: Any) -> str | None:
        """``x.indexOf(lit) === 0`` and friends → pushable
        startswith/contains predicates.

        The generic path compiles indexOf to ``instr()-1`` — correct
        but opaque to parquet pushdown; the canonical CouchDB
        type-scoping guard (``doc._id.indexOf('user:') === 0``)
        becomes a ``StartsWith`` the scan can prune on.  Shapes
        outside the table (e.g. ``> 0``) return None and take the
        generic numeric comparison."""

        def is_idx(a: Any) -> bool:
            return (
                a[0] == "method" and a[2] == "indexOf"
                and len(a[3]) == 1 and a[3][0][0] == "lit"
                and isinstance(a[3][0][1], str)
            )

        def lit01(a: Any) -> bool:
            return (
                a[0] == "lit"
                and isinstance(a[1], (int, float))
                and not isinstance(a[1], bool)
                and float(a[1]) in (0.0, -1.0)
            )

        if is_idx(l) and lit01(r):
            m, n = l, float(r[1])
        elif is_idx(r) and lit01(l):
            m, n = r, float(l[1])
            op = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}.get(
                op, op
            )
        else:
            return None
        shape = {
            ("===", 0.0): "pre", ("==", 0.0): "pre",
            ("!==", 0.0): "npre", ("!=", 0.0): "npre",
            (">=", 0.0): "has", (">", -1.0): "has",
            ("!==", -1.0): "has", ("!=", -1.0): "has",
            ("===", -1.0): "nhas", ("==", -1.0): "nhas",
            ("<", 0.0): "nhas", ("<=", -1.0): "nhas",
        }.get((op, n))
        if shape is None:
            return None
        bk, bs = self.computed(m[1])
        if bk != "str":
            raise JSCompileError(
                f".indexOf() on a {bk} receiver is outside the "
                "compilable subset"
            )
        if m[1][0] == "doc":
            # JS: null.indexOf() throws → tryMap skips the doc
            self._push_guard(f"({bs} IS NOT NULL)")
        pat = _sql_str(m[3][0][1])
        return {
            "pre": f"startswith({bs}, {pat})",
            "npre": f"(NOT startswith({bs}, {pat}))",
            "has": f"contains({bs}, {pat})",
            "nhas": f"(NOT contains({bs}, {pat}))",
        }[shape]

    def _operand(self, ast: Any) -> tuple[str, str]:
        if ast[0] == "doc":
            return self.field(ast[1])
        if ast[0] == "elem":
            return self.elem_ref(ast)
        if ast[0] == "epos":
            return self.epos_ref()
        if ast[0] == "ekey":
            return self.ekey_ref()
        if ast[0] in ("bin", "method", "strlen", "math", "ternary"):
            return self.computed(ast)
        if ast[0] == "lit":
            v = ast[1]
            if isinstance(v, bool):
                return "bool", ("true" if v else "false")
            if isinstance(v, (int, float)):
                return "num", _sql_num(v)
            if isinstance(v, str):
                return "str", _sql_str(v)
        raise JSCompileError(
            f"unsupported comparison operand {ast!r}"
        )


def compile_js_map(source: str, table: str, schema) -> Any:
    """JS map-function source → MapSpec (or list of MapSpecs) over a
    typed table: :func:`parse_js_map`, then :func:`compile_map_ir`."""
    return compile_map_ir(parse_js_map(source), table, schema)


def compile_map_ir(emits: list, table: str, schema,
                   variant_types: dict[str, str] | None = None,
                   variant_iso: set[str] | None = None) -> Any:
    """Emit IR (:func:`lower_js_map`) → MapSpec (or list of MapSpecs).

    ``schema``: the RAW table schema (``load_table(...).schema``) —
    field kinds (str/num/iso/bool) are inferred from it, mirroring the
    doc-space conversion in ``sources.docs.as_docs``.  With
    ``variant_types`` (raw doc sources, functions/jsvariant.py) the
    schema is ignored and fields extract via drift-guarded
    ``variant_get`` SQL instead.

    Raises :class:`JSCompileError` (a QueryParseError) for any
    construct outside the subset — see module docstring.
    """
    from mapreduce_spark.operators.mapphase import MapSpec

    if not emits:
        raise JSCompileError(
            "map function contains no emit() call — a view with no "
            "emits indexes nothing"
        )
    # array-emit (forEach) views: every emit site must live inside
    # ONE forEach statement — mixed inside/outside (or two loops)
    # makes per-doc emit ordinals depend on the array LENGTH of
    # earlier loops, which a static MapSpec cannot express.  The
    # single-loop case compiles to posexplode with
    # emit_ord = element_pos * n_sites + site (order-equivalent to
    # the interpreter's dense per-doc ordinal for the (key, id,
    # emit_ord) collation — only relative order matters).
    marks = [
        next((g for g in guards
              if isinstance(g, tuple)
              and g[0] in ("foreach", "forloop", "forin")), None)
        for guards, _k, _v in emits
    ]
    foreach_field: str | None = None
    forin = False
    if any(m is not None for m in marks):
        if not all(m is not None for m in marks) \
                or len({m[2] for m in marks}) != 1:
            raise JSCompileError(
                "emits both inside and outside a forEach (or across "
                "two forEach loops) are outside the compiled subset "
                "(data-dependent emit ordinals); the interpreter "
                "tier runs it"
            )
        if variant_types is None:
            raise JSCompileError(
                "forEach over a typed table is outside the compiled "
                "subset (raw doc sources only); the Python map path "
                "runs it"
            )
        foreach_field = marks[0][1]
        forin = marks[0][0] == "forin"
    if forin:
        # Soundness condition for the object-entry explode: variant
        # dictionary order (lexicographic) differs from JS property
        # order (integer-like keys numerically first, then insertion
        # order), so the compiled tier is only order-equivalent when
        # collation TIES across iterations are impossible — i.e. the
        # bare loop key (unique per doc) is itself a key component.
        # Anything else (constant keys, transformed keys) runs on the
        # interpreter, which iterates in true JS order.
        def _bare_ekey(k: Any) -> bool:
            return k == ("ekey",) or (
                isinstance(k, tuple) and k[0] == "arr"
                and any(a == ("ekey",) for a in k[1])
            )

        if not all(_bare_ekey(key_ast) for _g, key_ast, _v in emits):
            raise JSCompileError(
                "for-in emits compile only when the loop key is "
                "itself a key component (emit order across object "
                "keys is otherwise observable); the interpreter "
                "tier runs it"
            )
    c = _Compiler(table, schema, variant_types=variant_types,
                  variant_iso=variant_iso)
    specs = []
    # A JS throw (method call on a null field) aborts ALL remaining
    # emits of the doc — upstream tryMap semantics — so each emit's
    # method-null guards also carry into every LATER emit, conditioned
    # on the guard site actually being evaluated (an emit whose if-
    # conds are false never evaluates its key/value, hence never
    # throws).
    carried: list[str] = []

    def _where_conjunct(ctx: str | None, g: str) -> str:
        # for THIS emit: the guard must hold only when its site is
        # actually evaluated (&&/|| short-circuit context)
        return g if ctx is None else f"(NOT ({ctx}) OR {g})"

    def _survive_conjunct(prior: list[str], ctx: str | None,
                          g: str) -> str:
        # for LATER emits: the doc dies iff the site was reached AND
        # threw.  Reached iff all prior if-conds were JS-truthy (NULL
        # counts as falsy — hence the COALESCE; SQL NOT(NULL) would
        # wrongly drop the row) and the short-circuit context held.
        reach = list(prior)
        if ctx is not None:
            reach.append(ctx)
        if not reach:
            return g
        return (
            f"(NOT COALESCE(({' AND '.join(reach)}), false) OR {g})"
        )

    def _elem_dependent(ctx: str | None, gsql: str) -> bool:
        from mapreduce_spark.functions.jsvariant import (
            EKEY_COL,
            ELEM_COL,
            EPOS_COL,
        )

        both = gsql + (ctx or "")
        return (ELEM_COL in both or EPOS_COL in both
                or EKEY_COL in both)

    n_sites = len(emits)
    for site, (guards, key_ast, value_ast) in enumerate(emits):
        conds: list[str] = []     # doc-level WHERE conjuncts
        econds: list[str] = []    # element-level (post-explode)
        survive: list[str] = []   # throw-free conjuncts for later emits
        prior: list[str] = []     # if-conds evaluated before a site
        in_elem = False           # past the forEach marker
        body_throws = False       # throw guards arising inside the loop
        for g in guards:
            if isinstance(g, tuple) \
                    and g[0] in ("foreach", "forloop", "forin"):
                in_elem = True
                continue
            c.pending_guards = []
            cg = f"({c.cond(g)})"
            mg = list(dict.fromkeys(c.pending_guards))
            for ctx, gsql in mg:
                if _elem_dependent(ctx, gsql):
                    # a throw for element i kills elements > i too —
                    # a per-row filter cannot reproduce that partial-
                    # array semantic
                    raise JSCompileError(
                        "an element-dependent throw site inside "
                        "forEach is outside the compiled subset; the "
                        "interpreter tier runs it"
                    )
                body_throws = body_throws or in_elem
                (econds if in_elem else conds).append(
                    _where_conjunct(ctx, gsql)
                )
                # a throw at this site kills later emits — but only
                # when the site is actually reached
                survive.append(_survive_conjunct(prior, ctx, gsql))
            prior.append(cg)
            (econds if in_elem else conds).append(cg)
        c.pending_guards = []
        key = c.key(key_ast)
        value = c.value(value_ast)
        mg = list(dict.fromkeys(c.pending_guards))
        for ctx, gsql in mg:
            if foreach_field is not None:
                if _elem_dependent(ctx, gsql):
                    raise JSCompileError(
                        "an element-dependent throw site inside "
                        "forEach is outside the compiled subset; the "
                        "interpreter tier runs it"
                    )
                body_throws = True
                econds.append(_where_conjunct(ctx, gsql))
            else:
                conds.append(_where_conjunct(ctx, gsql))
            survive.append(_survive_conjunct(prior, ctx, gsql))
        if body_throws and n_sites > 1:
            # a doc-constant throw at one site still truncates the
            # OTHER sites' element loops mid-array in JS; only the
            # single-site shape filters identically
            raise JSCompileError(
                "a throw site inside a multi-emit forEach body is "
                "outside the compiled subset; the interpreter tier "
                "runs it"
            )
        all_conds = list(dict.fromkeys(carried + conds))
        if foreach_field is None:
            specs.append(
                MapSpec(table, key, value,
                        where=" AND ".join(all_conds)
                        if all_conds else None)
            )
        else:
            from mapreduce_spark.functions.jsvariant import (
                forin_object_sql,
                variant_array_sql,
            )

            econds = list(dict.fromkeys(econds))
            explode = (
                (forin_object_sql(foreach_field), n_sites, site,
                 "obj")
                if forin
                else (variant_array_sql(foreach_field), n_sites,
                      site)
            )
            specs.append(
                MapSpec(
                    table, key, value,
                    where=" AND ".join(all_conds)
                    if all_conds else None,
                    explode=explode,
                    explode_where=" AND ".join(econds)
                    if econds else None,
                )
            )
        carried = list(dict.fromkeys(carried + survive))
    # size backstop: the IEEE CASE templates repeat each operand up
    # to 3×, so a pathologically deep arithmetic chain grows the
    # compiled SQL ~3^depth — past a sane bound the interpreter tier
    # is both correct and cheaper than Catalyst parsing megabytes of
    # expression text
    for spec in specs:
        kparts = (
            [sql for _, sql in spec.key]
            if isinstance(spec.key, list) else [spec.key[1]]
        )
        total = sum(map(len, kparts)) + len(spec.where or "") + (
            len(str(spec.value[1])) if spec.value else 0
        ) + len(spec.explode_where or "") + (
            len(spec.explode[0]) if spec.explode else 0
        )
        if total > 200_000:
            raise JSCompileError(
                "compiled expression exceeds the size bound (deeply "
                "nested arithmetic); the interpreter tier runs it"
            )
    return specs[0] if len(specs) == 1 else specs


def looks_like_js(obj: Any) -> bool:
    """True for a ('table', 'function(doc) {…}') JS map definition."""
    return (
        isinstance(obj, (tuple, list))
        and len(obj) == 2
        and isinstance(obj[0], str)
        and isinstance(obj[1], str)
        and obj[1].lstrip().startswith("function")
    )


# ---------------------------------------------------------------------------
# JS value helpers shared with the interpreters (jsreduce, jsmap)
# ---------------------------------------------------------------------------

class _Undefined:
    """JS ``undefined`` sentinel.  A pickle-stable singleton: compiled
    reduce ASTs containing the ``undefined`` literal ship to executors
    inside closures, and identity checks (``is _UNDEF``) must survive
    the round-trip — a plain ``object()`` deserializes to a NEW
    instance and silently breaks them."""

    _inst = None

    def __new__(cls):
        if cls._inst is None:
            cls._inst = super().__new__(cls)
        return cls._inst

    def __reduce__(self):
        return (_Undefined, ())

    def __repr__(self) -> str:  # pragma: no cover
        return "undefined"


_UNDEF = _Undefined()  # JS `undefined` (absent doc field)


def _js_substring(s: str, i: float, j: float | None) -> str:
    # JS String.prototype.substring: NaN/negative → 0, clamp to
    # length, swapped args swap back
    n = len(s)
    a = 0 if i != i else max(0, min(int(i), n))
    b = n if j is None else (0 if j != j else max(0, min(int(j), n)))
    if a > b:
        a, b = b, a
    return s[a:b]


def _js_slice(s: str, i: float, j: float | None) -> str:
    # JS String.prototype.slice: negatives count from the end
    n = len(s)
    a = int(i) if i == i else 0
    b = n if j is None else (int(j) if j == j else 0)
    if a < 0:
        a = max(0, n + a)
    if b < 0:
        b = max(0, n + b)
    a, b = min(a, n), min(b, n)
    return s[a:b] if a < b else ""


def es_own_keys(obj: dict) -> list:
    """Own enumerable keys in ES OrdinaryOwnPropertyKeys order --
    the order JS for-in / Object.keys observe: canonical array-index
    keys ('0', '1', ..., no leading zeros, < 2^32-1) ascending
    NUMERICALLY first, then the remaining string keys in insertion
    order.  Python dicts preserve JSON insertion order, so only the
    integer-like keys need hoisting."""
    def _index_key(k) -> bool:
        return (
            isinstance(k, str) and k.isascii() and k.isdigit()
            and (k == "0" or not k.startswith("0"))
            and int(k) < 2 ** 32 - 1
        )

    idx = sorted((k for k in obj if _index_key(k)), key=int)
    taken = set(idx)
    return idx + [k for k in obj if k not in taken]


def _js_num(v: Any) -> float:
    """JS ToNumber over the subset's value space (NaN for the rest)."""
    import math

    if hasattr(v, "js_number_value"):  # JSDate: the time value
        return v.js_number_value()
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, (int, float)):
        return float(v)
    if v is None:
        return 0.0
    if isinstance(v, str):
        s = v.strip()
        if not s:
            return 0.0
        try:
            return float(s)
        except ValueError:
            return math.nan
    return math.nan  # undefined, arrays, objects


def _js_str(v: Any) -> str:
    """JS ToString over the subset's value space."""
    if v is _UNDEF:
        return "undefined"
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e21:
            return str(int(v))
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, list):
        return ",".join("" if x is None or x is _UNDEF else _js_str(x)
                        for x in v)
    if isinstance(v, dict):
        return "[object Object]"
    return str(v)


def _js_add(a: Any, b: Any) -> Any:
    # a Date's ToPrimitive DEFAULT hint is string (the one JS object
    # where `date + x` concatenates), unlike its number-hinted
    # relational comparisons
    if hasattr(a, "to_json_value"):
        a = _js_str(a)
    if hasattr(b, "to_json_value"):
        b = _js_str(b)
    if isinstance(a, str) or isinstance(b, str):
        return _js_str(a) + _js_str(b)
    return _js_num(a) + _js_num(b)


def _truthy(v: Any) -> bool:
    if v is _UNDEF or v is None or v is False:
        return False
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return v != 0 and v == v  # 0 and NaN are falsy
    if isinstance(v, str):
        return v != ""
    return True  # arrays/objects are truthy, even empty


def _js_eq(a: Any, b: Any) -> bool:
    """Strict equality (===) over the subset's value space."""
    if a is _UNDEF or b is _UNDEF:
        return a is b
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return isinstance(a, bool) and isinstance(b, bool) and a is b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    if isinstance(a, str) and isinstance(b, str):
        return a == b
    return a is b  # non-primitives: JS reference equality


def _js_loose_eq(a: Any, b: Any) -> bool:
    """Abstract equality (==) over the subset's value space: null and
    undefined equal each other and nothing else; booleans, and
    strings compared with numbers, go through ToNumber; an object
    compared with a primitive goes through ToPrimitive (its string
    form); two objects compare by reference."""
    a_nullish = a is None or a is _UNDEF
    b_nullish = b is None or b is _UNDEF
    if a_nullish or b_nullish:
        return a_nullish and b_nullish
    if isinstance(a, bool):
        a = 1.0 if a else 0.0
    if isinstance(b, bool):
        b = 1.0 if b else 0.0
    a_obj = not isinstance(a, (int, float, str))
    b_obj = not isinstance(b, (int, float, str))
    if a_obj and b_obj:
        return a is b
    if a_obj:
        a = _js_str(a)
    if b_obj:
        b = _js_str(b)
    if isinstance(a, str) and isinstance(b, str):
        return a == b
    return _js_num(a) == _js_num(b)


def _js_rel(op: str, a: Any, b: Any) -> bool:
    """JS abstract relational comparison: two strings compare
    lexically (UTF-16 code units ≈ Python str compare for the BMP);
    everything else goes through ToNumber — null → 0, booleans → 0/1,
    undefined/non-numeric strings → NaN, and any NaN makes the
    comparison False.  (Round 6: previously null operands were
    blanket-False, which diverged from both JS and the compiled
    path's ToNumber(null)=0 relational folding.)"""
    if isinstance(a, str) and isinstance(b, str):
        x, y = a, b
    else:
        x, y = _js_num(a), _js_num(b)
        if x != x or y != y:  # NaN never compares
            return False
    if op == "<":
        return x < y
    if op == ">":
        return x > y
    if op == "<=":
        return x <= y
    return x >= y


def _de_undef(v: Any) -> Any:
    """Emit boundary: undefined → null as a scalar and inside arrays;
    object members holding undefined are DROPPED (JSON.stringify
    semantics).  NaN/±Infinity → null, exactly as JSON.stringify (and
    collate.py's key rule) produce — never the non-standard
    'NaN'/'Infinity' JSON tokens.  Numbers widen to float — JS numbers
    are doubles, and this keeps a ddoc's view identical whether it ran
    the interpreted or the MapSpec-compiled path (which casts to
    double JVM-side)."""
    if v is _UNDEF:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return float(v)
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, list):
        return [_de_undef(x) for x in v]
    if isinstance(v, dict):
        return {k: _de_undef(x) for k, x in v.items() if x is not _UNDEF}
    if hasattr(v, "to_json_value"):
        # JSDate: toJSON() at every serialization boundary — emit keys
        # (pouchdb-collate normalizeKey: Date → date.toJSON()), emit
        # values and reduce returns (JSON.stringify calls toJSON)
        return v.to_json_value()
    if hasattr(v, "last_index"):
        # JSRegExp: JSON.stringify(/re/) is '{}' — no own enumerable
        # properties — and normalizeKey treats it the same way
        return {}
    return v


def compile_js_map_fn(source: str):
    """JS map source → the statement-level interpreted map fn
    (functions/jsmap.py — var/for/closures, split/parseInt/JSON/…).

    A source the statement parser rejects is a user error at
    ``put_design``: its :class:`JSReduceError` re-raises as
    :class:`JSCompileError` (a ``QueryParseError``) with the parser's
    message, which names the offending token.  A
    :class:`JSRuntimeThrow` propagates unchanged.
    """
    from mapreduce_spark.functions.jsmap import JSMapFunctionFull
    from mapreduce_spark.functions.jsreduce import (
        JSReduceError,
        JSRuntimeThrow,
    )

    try:
        return JSMapFunctionFull(source)
    except JSRuntimeThrow:
        raise
    except JSReduceError as e:
        raise JSCompileError(str(e)) from e

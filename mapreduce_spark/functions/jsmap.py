"""General interpreted JS *map* functions (F1 fallback tier).

Upstream evaluates a design doc's map source as arbitrary JavaScript
(``[U pouchdb-abstract-mapreduce#evalFunc]``, SURVEY.md §2 F1).  This
engine parses every map source with one front end, the statement
parser ``jsreduce._Parser``, and runs it on one of two tiers, fastest
first:

1. ``jscompile.compile_js_map`` — the structural compiler: it lowers
   the parsed AST to an emit IR (``jscompile.lower_js_map``) and
   compiles common map shapes to typed MapSpecs executed entirely
   JVM-side (guards pushed into the parquet scan); on raw doc sources
   the same IR compiles to drift-guarded Variant expressions
   (``jsvariant.compile_js_map_variant``).
2. **This module** — the statement-level interpreter shared with
   ``jsreduce`` (var/let/const, if/else, C-style for, assignments,
   function literals with closure capture, arithmetic incl. ``/`` and
   ``%``, string/array/Math/JSON/parseInt builtins, and a
   deterministic JS ``Date`` — ``new Date(value)``, UTC-pinned
   getters, ``Date.parse``/``Date.UTC``; see functions/jsdate.py).
   Anything the lowering or the compiler rejects — ``.split()``,
   reassigned variables, nested loops, accumulator objects, date
   bucketing — runs here over Arrow-batched doc dicts, on ANY table
   (typed or raw); ``jscompile.compile_js_map_fn`` builds it.
   Out-of-subset constructs still raise loud
   :class:`~mapreduce_spark.functions.jsreduce.JSReduceError` rather
   than silently mis-indexing.

Throw semantics match upstream tryMap: a JS *runtime* throw (member
access or method call on null/undefined, ``JSON.parse`` syntax error)
skips the doc's remaining emits; emits made before the throw stand.
"""

from __future__ import annotations

from typing import Any, Callable

from mapreduce_spark.functions.jscompile import _UNDEF, _de_undef
from mapreduce_spark.functions.jsreduce import (
    JSReduceError,
    JSRuntimeThrow,
    _Break,
    _Continue,
    _exec_block,
    _Parser,
    _Return,
    _Scope,
)


class JSMapFunctionFull:
    """A JS map source interpreted with full statement semantics.

    Picklable ``(doc, emit)`` callable for the Arrow-batched Python
    map path (``operators.mapphase.build_view_python_on``).  ``emit``
    and ``log`` are injected into the root scope as host functions;
    extra declared parameters bind ``undefined`` like JS.

    ``__repr__`` is the source itself so the registry signature
    (plans/registry.definition_repr) stays stable across processes.
    """

    def __init__(self, source: str) -> None:
        self.source = source
        self.params, self.body = _Parser(source).parse()

    def __call__(self, doc: dict, emit: Callable) -> None:
        def _emit(args: list) -> Any:
            key = _de_undef(args[0]) if args else None
            value = _de_undef(args[1]) if len(args) > 1 else None
            emit(key, value)
            return _UNDEF

        local: dict[str, Any] = {
            "emit": _emit,
            "log": lambda args: _UNDEF,  # upstream sandbox global
        }
        names = self.params or ["doc"]
        for extra in names[1:]:
            local[extra] = _UNDEF
        local[names[0]] = doc
        # JS bindings the sandbox provides (see JSReduceFunction)
        local.setdefault("this", {})
        local.setdefault("arguments", [doc])
        try:
            _exec_block(self.body, _Scope(local))
        except _Return:
            pass  # a map fn's return value is ignored
        except (_Break, _Continue):
            raise JSReduceError(
                "break/continue outside a loop"
            ) from None
        except JSRuntimeThrow:
            # upstream tryMap: the throw skips the doc's remaining
            # emits (earlier emits stand), never the build
            return

    def __repr__(self) -> str:
        return f"JSMapFunctionFull({self.source!r})"


def compile_js_map_full(source: str) -> JSMapFunctionFull:
    """JS map source → statement-level interpreted map fn."""
    return JSMapFunctionFull(source)

"""Compile JS design-doc map functions over RAW doc sources to JVM
Variant expressions (Spark 4 ``parse_json`` / ``variant_get``).

Upstream runs arbitrary JS per document (`[U pouchdb-abstract-
mapreduce#evalFunc]`); the reference's raw doc model is schema-less
JSON.  Until round 6 every JS view over a ``DocTable.raw_json`` source
ran the per-doc Python interpreter — the single most expensive residual
Python cost on a 100 TB build path.  This module moves the common
subset JVM-side:

1. **Sampled type inference** — one tiny Spark job over ≤10k live docs
   computes ``schema_of_variant_agg(variant_get(v, '$.f'))`` for each
   doc field the JS source references.  Unambiguous scalar merges
   (STRING / numeric / BOOLEAN / VOID) become compile kinds; anything
   mixed (VARIANT), structured (OBJECT/ARRAY) or absent falls back to
   the interpreter tier — a compile miss is never a user error.

2. **Guarded field extraction** — every compiled field reference is

       CASE WHEN variant_get(V,'$.f') IS NULL           -- JS undefined
              THEN raise_error('[MR_RAW_DRIFT] …')
            WHEN schema_of_variant(variant_get(V,'$.f')) not in <kinds>
              THEN raise_error('[MR_RAW_DRIFT] …')       -- type drift
            ELSE variant_get(V, '$.f', '<sql type>') END

   The guards exist because typed ``variant_get`` silently COERCES
   across kinds (number 1 → '1', string '1.5' → 1.5) — a silent
   wrong answer — and because JS ``undefined`` (absent field) and
   ``null`` (JSON null) diverge in ToNumber / ``=== null`` / string-
   concat contexts.  Raising on *every* divergence keeps the compiled
   tier exactly equal to the interpreter on the docs it accepts, and
   the engine catches the raise and transparently re-runs the build on
   the interpreter tier (same registry signature, see VariantJSView).

3. **Sample validation build** — before accepting the compiled form,
   the specs are evaluated over the same ≤10k-doc sample with a noop
   write; a raise here (sparse field, mixed type the agg sample
   missed) rejects the compile up front instead of aborting a full
   100 TB build.

Scale: the inference + validation jobs are O(sample), not O(table);
the accepted compiled build is pure JVM (parse_json + variant_get +
the JVM collation encoders) with zero Python workers — plan-asserted
in tests/test_variant.py.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any

from mapreduce_spark.functions.jscompile import JSCompileError

SAMPLE_DOCS = 10_000

# identifier-safe JSON-path component (anything else interprets: the
# variant path quoting rules for exotic member names are not worth
# auditing against JS semantics)
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

_KIND_OF_DDL = {
    "STRING": "str",
    "BOOLEAN": "bool",
    "BIGINT": "num",
    "INT": "num",
    "SMALLINT": "num",
    "TINYINT": "num",
    "FLOAT": "num",
    "DOUBLE": "num",
    # all-null field: 'num' is the faithful JS default — arithmetic
    # sees ToNumber(null)=0, method receivers guard-skip, emit
    # positions render null; a string comparison against it simply
    # fails to compile (kind mismatch) and interprets
    "VOID": "num",
}

# runtime schema guard per kind: the set of schema_of_variant() DDL
# strings the typed extraction may legally see (VOID = JSON null)
_GUARD_SQL = {
    "num": (
        "({sov} IN ('BIGINT','INT','SMALLINT','TINYINT','FLOAT',"
        "'DOUBLE','VOID') OR startswith({sov}, 'DECIMAL'))"
    ),
    "str": "({sov} IN ('STRING','VOID'))",
    "bool": "({sov} IN ('BOOLEAN','VOID'))",
}

_SQL_TYPE = {"num": "double", "str": "string", "bool": "boolean"}

DRIFT_MARK = "MR_RAW_DRIFT"


def _ddl_kind(ddl: str | None) -> str | None:
    if ddl is None:
        return None
    if ddl.startswith("DECIMAL"):
        return "num"
    return _KIND_OF_DDL.get(ddl)


def _arr_kind(ddl: str | None) -> str | None:
    """ARRAY<scalar> DDL → 'arr:<kind>' for forEach-consumed fields.

    A top-level VOID (field sampled always-null) is accepted as
    'arr:num': ``null.forEach`` throws in JS (tryMap skips the doc)
    and the compiled NULL-array cast explodes to zero rows — the same
    outcome.  ARRAY<VARIANT> (mixed element kinds), nested arrays and
    object elements reject the compile (interpreter tier)."""
    if ddl is None:
        return None
    if ddl == "VOID":
        return "arr:num"
    if not (ddl.startswith("ARRAY<") and ddl.endswith(">")):
        return None
    inner = _ddl_kind(ddl[6:-1])
    if inner is None:
        return None
    return f"arr:{inner}"


VDOC_COL = "_vdoc"

# the posexplode output columns every exploded MapSpec references
# (operators/mapphase.py build path); '_mr_' prefixed to stay clear
# of raw table columns.  Array explodes bind (EPOS, ELEM); object-
# entry explodes (JS for-in, MapSpec explode kind 'obj') bind all
# three — EKEY is the entry key string (the for-in loop variable)
EPOS_COL = "_mr_epos"
ELEM_COL = "_mr_elem"
EKEY_COL = "_mr_ekey"


def variant_field_sql(name: str, kind: str,
                      var_col: str = VDOC_COL) -> str:
    """Guarded typed extraction of one doc field (module docstring §2).

    References the PRE-PARSED variant column ``_vdoc`` (materialized
    once per row by ``with_vdoc`` in the consumers), not a textual
    ``parse_json(doc_json)``: the guard shape evaluates the doc up to
    3× per field, and relying on codegen subexpression elimination to
    share the parse is fragile — the moment an expression falls off
    the codegen path (as the fused build's Generate did, PLANS.md
    round-7 lesson #1) every textual copy re-parses.  A dedicated
    Project survives CollapseProject because the parse is non-cheap
    and multiply-referenced, so the plan carries exactly ONE
    parse_json per row (plan-asserted in tests/test_variant.py)."""
    vg = f"variant_get({var_col}, '$.{name}')"
    sov = f"schema_of_variant({vg})"
    guard = _GUARD_SQL[kind].format(sov=sov)
    return (
        f"(CASE WHEN {vg} IS NULL THEN "
        f"raise_error('[{DRIFT_MARK}] doc.{name} is absent "
        f"(JS undefined) — interpreter tier required') "
        f"WHEN NOT {guard} THEN "
        f"raise_error('[{DRIFT_MARK}] doc.{name} drifted from "
        f"inferred kind {kind} — interpreter tier required') "
        f"ELSE variant_get({var_col}, '$.{name}', "
        f"'{_SQL_TYPE[kind]}') END)"
    )


def variant_array_sql(name: str, var_col: str = VDOC_COL) -> str:
    """Array extraction of a forEach-consumed doc field.

    No guards needed here — the typed cast is self-policing:
    a null/absent field casts to SQL NULL (posexplode → zero rows,
    exactly JS ``null.forEach`` throw → tryMap skip), and a non-array
    scalar raises INVALID_VARIANT_CAST, which ``is_drift_error``
    classifies and the engine retries on the interpreter tier."""
    return f"variant_get({var_col}, '$.{name}', 'array<variant>')"


def forin_object_sql(name: str, var_col: str = VDOC_COL) -> str:
    """Entry extraction of a for-in-consumed doc field, as a
    ``map<string, variant>`` whose posexplode yields
    ``(pos, key, value)`` — the JS ``for (k in doc.f)`` iteration
    space, type-dispatched per row to the exact JS semantics:

    - object  → its entries (``cast(variant AS map)``);
    - array   → index-string keys ``'0'..'n-1'`` (JS enumerates array
      indices as strings);
    - null / absent / number / boolean → SQL NULL → zero Generate
      rows (JS for-in over these iterates zero times, never throws);
    - string  → drift ``raise_error``: JS enumerates character
      indices, which only the interpreter tier reproduces per-row.

    Map entry ORDER is the variant dictionary order (lexicographic by
    key), not JS insertion order — sound because the compiler only
    accepts for-in emits whose key contains the bare loop variable
    (jscompile), making collation ties across iterations impossible;
    see PLANS.md "for-in object-entry tier"."""
    vg = f"variant_get({var_col}, '$.{name}')"
    sov = f"schema_of_variant({vg})"
    return (
        f"(CASE WHEN {vg} IS NULL THEN NULL "
        f"WHEN {sov} LIKE 'OBJECT%' THEN "
        f"cast({vg} AS map<string, variant>) "
        f"WHEN {sov} LIKE 'ARRAY%' THEN map_from_entries(transform("
        f"cast({vg} AS array<variant>), "
        f"(x, i) -> struct(cast(i AS string), x))) "
        f"WHEN {sov} = 'STRING' THEN "
        f"raise_error('[{DRIFT_MARK}] doc.{name} is a string — JS "
        f"for-in enumerates character indices; interpreter tier "
        f"required') "
        f"ELSE NULL END)"
    )


def _object_value_ddls(ddl: str) -> list[str] | None:
    """Top-level value DDLs of an ``OBJECT<name: TYPE, …>`` schema
    string, or None when ``ddl`` is not an OBJECT.  Field names may be
    backtick-quoted (with ```` `` ```` escaping) and may contain
    ``,``/``:``/``<``; values nest (``OBJECT<…>``/``ARRAY<…>``), so
    the split tracks ``<>`` depth and backtick state."""
    if not (ddl.startswith("OBJECT<") and ddl.endswith(">")):
        return None
    body = ddl[len("OBJECT<"):-1]
    if not body.strip():
        return []
    entries: list[str] = []
    depth, tick, cur = 0, False, []
    i = 0
    while i < len(body):
        c = body[i]
        if tick:
            if c == "`":
                if i + 1 < len(body) and body[i + 1] == "`":
                    cur.append("``")
                    i += 2
                    continue
                tick = False
        elif c == "`":
            tick = True
        elif c in "<(":
            depth += 1
        elif c in ">)":
            depth -= 1
        elif c == "," and depth == 0:
            entries.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(c)
        i += 1
    entries.append("".join(cur))
    vals: list[str] = []
    for e in entries:
        # first ':' at depth 0 outside backticks separates name: TYPE
        depth, tick = 0, False
        for j, c in enumerate(e):
            if tick:
                tick = c != "`"
            elif c == "`":
                tick = True
            elif c in "<(":
                depth += 1
            elif c in ">)":
                depth -= 1
            elif c == ":" and depth == 0:
                vals.append(e[j + 1:].strip())
                break
        else:
            return None  # malformed entry
    return vals


def _obj_kind(ddl: str | None, need_value: bool) -> str | None:
    """for-in receiver DDL → 'obj:<kind>' compile kind, or None.

    ``need_value`` is whether the source reads ``doc.f[k]`` — when it
    does not, any enumerable shape compiles ('obj:any'); when it
    does, every top-level entry value must merge to ONE scalar kind
    (VOID — JSON null — is compatible with any, like array elements).
    STRING rejects (character-index enumeration is interpreter-only);
    scalar kinds compile to zero iterations (faithful JS)."""
    if ddl is None:
        return None
    if ddl == "STRING":
        return None
    if ddl == "VOID":
        return "obj:num"
    if ddl == "VARIANT":
        # mixed shapes across docs: the runtime CASE dispatches each
        # row exactly (strings drift loudly), so enumeration-only
        # sources compile; reading doc.f[k] needs one kind — reject
        return None if need_value else "obj:any"
    vals = _object_value_ddls(ddl)
    if vals is None:
        if ddl.startswith("ARRAY<") and ddl.endswith(">"):
            if not need_value:
                return "obj:any"
            ak = _arr_kind(ddl)
            return None if ak is None else "obj:" + ak.split(":", 1)[1]
        # remaining scalars (numbers, booleans): zero iterations
        return "obj:num" if _ddl_kind(ddl) is not None else None
    if not need_value:
        return "obj:any"
    kinds = {_ddl_kind(v) for v in vals if v != "VOID"}
    if None in kinds:
        return None
    if not kinds:
        return "obj:num"  # all entries JSON null (or empty object)
    if len(kinds) > 1:
        return None
    return "obj:" + kinds.pop()


def elem_value_sql(name: str, kind: str,
                   elem_col: str = ELEM_COL) -> str:
    """Guarded typed extraction of one array ELEMENT (the forEach
    callback parameter).  Same drift contract as scalar fields
    (``variant_field_sql``) minus the absence arm — an element always
    exists; a JSON-null element is VOID and casts to SQL NULL, which
    the emit boundary renders as the JS ``null`` key/value.  The kind
    guard exists because the typed cast silently COERCES across kinds
    (variant 1 → '1') where JS would emit the number itself."""
    sov = f"schema_of_variant({elem_col})"
    guard = _GUARD_SQL[kind].format(sov=sov)
    return (
        f"(CASE WHEN NOT {guard} THEN "
        f"raise_error('[{DRIFT_MARK}] an element of doc.{name} "
        f"drifted from inferred kind {kind} — interpreter tier "
        f"required') "
        f"ELSE cast({elem_col} as {_SQL_TYPE[kind]}) END)"
    )


@dataclass
class VariantJSView:
    """A raw-source JS map fn compiled to Variant MapSpec(s).

    ``__repr__`` matches the interpreter tier's ``(table, fn)`` repr
    exactly (``fallback_repr``, captured from the interpreter object
    this source would otherwise become), so the registry signature —
    upstream: md5 of the SOURCE, [U pouchdb-abstract-mapreduce
    #createView] — is identical across tiers and a runtime drift
    fallback swaps tiers under the SAME persisted view.
    """

    table: str
    source: str
    specs: Any  # MapSpec | list[MapSpec]
    fallback_repr: str = ""

    def __repr__(self) -> str:
        return self.fallback_repr


# strict ISO-8601 subset the compiled tier accepts for new Date()
# over a raw STRING field: date-only (JS: UTC midnight) or full
# seconds-or-millis timestamps, optional 'Z' (the pinned-UTC session
# makes zoneless == Z).  Deliberately backslash-free — it is embedded
# in SQL string literals
ISO_RE = ("^[0-9]{4}-[0-9]{2}-[0-9]{2}"
          "(T[0-9]{2}:[0-9]{2}:[0-9]{2}([.][0-9]{1,6})?Z?)?$")


def _ir_nodes(emits: list):
    """Every node of an emit IR (jscompile.lower_js_map) — guards and
    loop markers, keys, values — depth first, in source order."""
    def walk(a: Any):
        if isinstance(a, tuple):
            yield a
            for x in a[1:]:
                yield from walk(x)
        elif isinstance(a, list):
            for x in a:
                yield from walk(x)
        elif isinstance(a, dict):
            for x in a.values():
                yield from walk(x)

    for guards, key_ast, value_ast in emits:
        yield from walk([*guards, key_ast, value_ast])


def _fields_tagged(emits: list, tags: tuple[str, ...]) -> list[str]:
    return list(dict.fromkeys(
        n[1] for n in _ir_nodes(emits) if n[0] in tags
    ))


def date_consumed_fields(emits: list) -> list[str]:
    """Doc fields consumed by ``new Date(doc.f)`` in an emit IR."""
    return _fields_tagged(emits, ("newdate",))


def iso_string_fields(df, fields: list[str]) -> set[str]:
    """Subset of ``fields`` whose every non-null sampled value matches
    the strict ISO form — eligible for compiled date bucketing.  One
    tiny agg over ≤SAMPLE_DOCS live docs."""
    from pyspark.sql import functions as F

    if not fields:
        return set()
    d = df
    if "_deleted" in d.columns:
        d = d.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    d = _body_notnull(d).limit(SAMPLE_DOCS)
    vsrc = _src_vexpr(df)
    aggs = []
    for i, f in enumerate(fields):
        vg = (f"try_variant_get({vsrc}, '$.{f}', "
              "'string')")
        aggs.append(F.expr(
            f"count(CASE WHEN {vg} IS NOT NULL AND "
            f"NOT {vg} RLIKE '{ISO_RE}' THEN 1 END)"
        ).alias(f"bad{i}"))
        aggs.append(F.expr(f"count({vg})").alias(f"ok{i}"))
    row = d.agg(*aggs).collect()[0]
    return {
        f for i, f in enumerate(fields)
        if row[f"bad{i}"] == 0 and row[f"ok{i}"] > 0
    }



def _src_vexpr(df) -> str:
    """SQL text of the parsed doc variant for a raw frame: the stored
    VARIANT column when the table was shredded at ingest
    (sources.docs.shred_raw_table), else a parse of the JSON string."""
    return ("doc_var" if "doc_var" in df.columns
            else "parse_json(doc_json)")


def _body_notnull(df):
    from pyspark.sql import functions as F

    col = "doc_var" if "doc_var" in df.columns else "doc_json"
    return df.filter(F.col(col).isNotNull())


def referenced_doc_fields(emits: list) -> list[str] | None:
    """Doc fields an emit IR references outside loop receivers, or
    None when it has no emits."""
    if not emits:
        return None
    return _fields_tagged(emits, ("doc", "strlen", "newdate"))


def foreach_fields(emits: list) -> list[str]:
    """Doc fields consumed as forEach / C-style for receivers
    (array-emit views) — marked ('foreach'|'forloop', field, serial)
    in the emit guard lists."""
    return _fields_tagged(emits, ("foreach", "forloop"))


def forin_fields(emits: list) -> tuple[list[str], set[str]]:
    """Doc fields consumed as for-in receivers — marked
    ('forin', field, serial) in the emit guard lists — plus the
    subset whose entry VALUES the source reads (``doc.f[k]``,
    lowered to ('elem', field) nodes)."""
    fields = _fields_tagged(emits, ("forin",))
    read = {n[1] for n in _ir_nodes(emits)
            if n[0] == "elem" and n[1] in fields}
    return fields, read


def infer_variant_types(
    df, fields: list[str], arr_fields: list[str] | None = None,
    obj_fields: list[str] | None = None,
    obj_value_read: set[str] | None = None,
) -> dict[str, str] | None:
    """Sampled per-field kind inference (module docstring §1).

    One aggregate job over ≤SAMPLE_DOCS live docs of ``df`` (raw
    schema, ``doc_json`` column).  Returns {field: kind} or None when
    any referenced field is unmappable (mixed/structured/absent) or
    the sample is empty.

    ``arr_fields``: fields consumed as forEach receivers (array-emit
    views) — these infer as 'arr:<elem kind>' via ``_arr_kind`` and
    reject on mixed-element / nested shapes.  ``obj_fields``: fields
    consumed as for-in receivers — 'obj:<entry kind>' via
    ``_obj_kind`` (``obj_value_read`` is the subset whose entry
    values the source actually reads; the rest accept any enumerable
    shape).  A field used in more than one of the three roles rejects
    the compile outright (the data cannot satisfy both contracts)."""
    from pyspark.sql import functions as F

    arr_fields = list(arr_fields or [])
    obj_fields = list(obj_fields or [])
    obj_value_read = set(obj_value_read or ())
    roles = (set(fields), set(arr_fields), set(obj_fields))
    if (roles[0] & roles[1]) or (roles[0] & roles[2]) \
            or (roles[1] & roles[2]):
        return None
    if not fields and not arr_fields and not obj_fields:
        return {}
    for f in fields + arr_fields + obj_fields:
        if f == "_id":
            # _id is never an array/object receiver
            if f in arr_fields or f in obj_fields:
                return None
            continue
        if f in ("_rev", "_deleted"):
            return None
        # nested paths arrive dotted (doc.a.b → 'a.b'); every segment
        # must be identifier-safe for the '$.a.b' extraction path
        if not all(_IDENT.match(seg) for seg in f.split(".")):
            return None
    probe = [f for f in fields if f != "_id"] + arr_fields + obj_fields
    arr_set = set(arr_fields)
    obj_set = set(obj_fields)
    if not probe:
        return {}
    d = df
    if "_deleted" in d.columns:
        d = d.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    d = _body_notnull(d).limit(SAMPLE_DOCS)
    vsrc = _src_vexpr(df)
    aggs = [
        F.expr(
            "schema_of_variant_agg("
            f"variant_get({vsrc}, '$.{f}'))"
        ).alias(f"t{i}")
        for i, f in enumerate(probe)
    ]
    # presence: missing fields are SQL NULL (JSON null is a variant
    # null, counted) — a field absent from EVERY sampled doc has no
    # evidence of a kind (schema_of_variant_agg still says VOID), so
    # it rejects the compile rather than guessing
    aggs += [
        F.count(
            F.expr(f"variant_get({vsrc}, '$.{f}')")
        ).alias(f"p{i}")
        for i, f in enumerate(probe)
    ]
    aggs.append(F.count(F.lit(1)).alias("n"))
    row = d.agg(*aggs).collect()[0]
    if row["n"] == 0:
        return None
    out: dict[str, str] = {}
    for i, f in enumerate(probe):
        ddl = row[f"t{i}"]
        if f in arr_set:
            kind = _arr_kind(ddl)
        elif f in obj_set:
            kind = _obj_kind(ddl, f in obj_value_read)
        else:
            kind = _ddl_kind(ddl)
        if kind is None or row[f"p{i}"] == 0:
            return None
        out[f] = kind
    return out


def compile_js_map_variant(spark, sf_dir: str, table: str,
                           source: str) -> VariantJSView:
    """JS raw-source map fn → VariantJSView (or JSCompileError).

    Orchestrates: one parse (shared with the interpreter tier this
    view falls back to) → lowering → sampled inference → compile
    (jscompile subset with variant field extraction) → sample
    validation build.  Any miss raises JSCompileError so the caller
    falls back to the interpreter tier."""
    from mapreduce_spark.functions.jscompile import (
        compile_js_map_fn,
        compile_map_ir,
        lower_js_map,
    )
    from mapreduce_spark.operators.mapphase import (
        build_view_structured_on,
    )
    from mapreduce_spark.sources.docs import load_table

    interp = compile_js_map_fn(source)
    emits = lower_js_map(interp.params, interp.body)
    fields = referenced_doc_fields(emits)
    if fields is None:
        raise JSCompileError("map function contains no emit() call")
    arr_fields = foreach_fields(emits)
    obj_fields, obj_value_read = forin_fields(emits)
    df = load_table(spark, sf_dir, table)
    if "doc_json" not in df.columns and "doc_var" not in df.columns:
        raise JSCompileError(
            f"table {table!r} has no doc_json/doc_var column"
        )
    kinds = infer_variant_types(df, fields, arr_fields,
                                obj_fields, obj_value_read)
    if kinds is None:
        raise JSCompileError(
            "referenced doc fields are not unambiguous scalars (or "
            "scalar-element arrays) in the sampled corpus (mixed / "
            "structured / absent)"
        )
    date_fields = [
        f for f in date_consumed_fields(emits)
        if kinds.get(f) == "str"
    ]
    iso_ok = iso_string_fields(df, date_fields)
    specs = compile_map_ir(emits, table, None, variant_types=kinds,
                           variant_iso=iso_ok)
    # validation build over the same bounded sample: evaluates every
    # compiled expression (noop sink reads all columns), so a sparse
    # or mixed-typed field the inference agg tolerated raises HERE,
    # not halfway into a full build
    d = df
    if "_deleted" in d.columns:
        from pyspark.sql import functions as F

        d = d.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    d = _body_notnull(d).limit(SAMPLE_DOCS)
    try:
        for spec in specs if isinstance(specs, list) else [specs]:
            built = build_view_structured_on(d, spec)
            built.write.format("noop").mode("overwrite").save()
    except Exception as e:  # Py4J error classes vary; match by text
        if is_drift_error(e):
            raise JSCompileError(
                "sampled docs violate the inferred field contract "
                "(sparse or mixed-typed field); interpreter tier runs "
                "this source"
            )
        raise
    return VariantJSView(table, source, specs,
                         fallback_repr=repr((table, interp)))


def is_drift_error(exc: BaseException) -> bool:
    """True when a Spark job failure is a raw-doc contract violation
    (our raise_error sentinel, or variant_get's own cast error)."""
    s = str(exc)
    return DRIFT_MARK in s or "INVALID_VARIANT_CAST" in s

"""Map phase: documents → view index DataFrame.

Reference semantics (SURVEY.md §2 P1, U1; upstream
``pouchdb-abstract-mapreduce/src/index.js#updateView`` emit closure):
a user map function runs once per non-deleted doc and ``emit(key,
value)``s 0..N rows; keys are normalized; a throwing map fn skips that
doc (logged, not fatal).

Two execution paths, Spark-first:

1. **Structured fast path** (``MapSpec``, ``build_view_structured_on``):
   when the map function is expressible as column expressions — which
   covers every declared fixture view — the whole build is JVM-side,
   the collation encoding included (``functions/encode.py`` Column
   expressions).
   Filters in ``MapSpec.where`` reference *raw* parquet columns, so
   Catalyst pushes them into the scan; unused columns are pruned.
   This is the 100 TB path: no Python row loop anywhere.

2. **Generic Python path** (``build_view_python_on``): arbitrary Python
   ``f(doc, emit)`` over ``mapInPandas`` — one Arrow batch of docs in,
   0..N view rows out.  The per-doc ``try`` mirrors the reference's
   ``tryMap`` (a throwing map fn skips the doc, logged).

Both run on the partitions of the frame they are given: the engine
sizes it the same way for every tier (plans/sizing.py).  Both produce
the same VIEW_SCHEMA, the engine's materialized-view layout (SURVEY.md
§1.1 "materialized view index"):

    id             doc id of the emitting document
    emit_ord       ordinal of the emit within its doc (dup-key emits)
    key_enc        order-preserving collation encoding — THE sort/range
                   /group column; binary-comparable, parquet-stats-friendly
    key_json       canonical JSON of the normalized key
    key_parts_enc  per-element encodings when the key is an array
                   (group_level = prefix-concat of N parts, pure JVM)
    key_parts_json per-element JSON when the key is an array
    value_json     JSON of the emitted value
    value_num      value as double when numeric (native-agg fast lane)
    value_num_arr  value as array<double> when numeric array (_sum arrays)
    value_link_id  value['_id'] when the value is a linked-doc object
                   (SURVEY.md §2 J2) — precomputed join key
"""

from __future__ import annotations

import json
import logging
import math
from dataclasses import dataclass
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_spark.collate import (
    normalize_key,
    to_indexable_string,
)
from mapreduce_spark.functions.encode import (
    enc_component_col,
    enc_key_cols,
    json_scalar_col,
)
from mapreduce_spark.sources.docs import (
    ISO_FMT,
    as_docs,
    doc_id_col,
    doc_records,
)

log = logging.getLogger("mapreduce_spark.map")

VIEW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("emit_ord", T.IntegerType(), False),
        T.StructField("key_enc", T.StringType(), False),
        T.StructField("key_json", T.StringType(), False),
        T.StructField("key_parts_enc", T.ArrayType(T.StringType()), True),
        T.StructField("key_parts_json", T.ArrayType(T.StringType()), True),
        T.StructField("value_json", T.StringType(), True),
        T.StructField("value_num", T.DoubleType(), True),
        T.StructField("value_num_arr", T.ArrayType(T.DoubleType()), True),
        T.StructField("value_link_id", T.StringType(), True),
    ]
)

# a key component: (kind, column-expression-string)
# kind: 'null' | 'bool' | 'num' | 'str' | 'iso'
Component = tuple


@dataclass(frozen=True)
class MapSpec:
    """Declarative map function over one source table (structured path).

    key:   one Component, or a list of Components for an array key.
    value: None, or ('num', expr) | ('num_arr', [exprs]) | ('str', expr)
           | ('bool', expr) | ('link', expr) where 'link' yields the
           linked doc id string (emitted value {'_id': <expr>}).
    where: optional SQL predicate over RAW table columns (pushed down).

    explode: array-emit views (JS ``doc.f.forEach(... emit ...)``,
    functions/jscompile.py): ``(array_sql, n_sites, site)`` — the
    build posexplodes ``array_sql`` into ``(_mr_epos, _mr_elem)``
    columns that key/value/explode_where expressions may reference,
    with ``emit_ord = _mr_epos * n_sites + site`` (order-equivalent
    to the interpreter's dense per-doc ordinal — collation only needs
    relative order).  The 4-tuple form ``(map_sql, n_sites, site,
    'obj')`` is the object-entry explode (JS ``for (k in doc.f)``):
    ``map_sql`` yields ``map<string, variant>`` and the posexplode
    additionally binds ``_mr_ekey`` (the entry key string).
    ``explode_where``: element-level conjuncts, applied post-explode
    (Catalyst re-pushes doc-only conjuncts below the Generate on its
    own).
    """

    table: str
    key: Any
    value: Any = None
    where: str | None = None
    explode: tuple | None = None
    explode_where: str | None = None

    def __repr__(self) -> str:
        # registry signatures are md5(repr(spec)) — keep the exact
        # pre-explode textual form for non-exploded specs so adding
        # these fields does not invalidate every persisted view
        base = (
            f"MapSpec(table={self.table!r}, key={self.key!r}, "
            f"value={self.value!r}, where={self.where!r}"
        )
        if self.explode is None and self.explode_where is None:
            return base + ")"
        return (
            base + f", explode={self.explode!r}, "
            f"explode_where={self.explode_where!r})"
        )

    def key_components(self) -> tuple[list[Component], bool]:
        if isinstance(self.key, list):
            return self.key, True
        return [self.key], False


def fold_nonfinite(c: Column) -> Column:
    """NaN/±Infinity → null at the EMIT boundary — the key rule
    (collate normalize: NaN/±Inf → null) and JSON.stringify's value
    rule in one place.  Compiled JS arithmetic carries real IEEE
    non-finites through intermediate expressions (x / Infinity is 0,
    not null), so the fold happens here, where a number becomes a
    stored key/value — exactly where JS folds it."""
    return F.when(
        F.isnan(c) | (F.abs(c) == F.lit(float("inf"))), F.lit(None)
    ).otherwise(c)


def _comp_cols(comp: Component) -> tuple[Column, Column]:
    """(enc_col, json_col) for one component over the raw table."""
    kind = comp[0]
    if kind == "null":
        return F.lit("1"), F.lit("null")
    expr = F.expr(comp[1])
    if kind == "iso":
        expr = F.date_format(expr, ISO_FMT)
        kind = "str"
    if kind == "num":
        expr = fold_nonfinite(expr.cast("double"))
    return enc_component_col(expr, kind), json_scalar_col(expr, kind)


def _spec_sql_texts(spec: MapSpec) -> list[str]:
    """Every raw-SQL string a MapSpec evaluates (keys, value, where)."""
    texts: list[str] = []

    def walk(v: Any) -> None:
        if isinstance(v, str):
            texts.append(v)
        elif isinstance(v, (list, tuple)):
            for x in v:
                walk(x)
        elif isinstance(v, dict):
            for x in v.values():
                walk(x)

    comps, _ = spec.key_components()
    for c in comps:
        walk(c[1:])
    if spec.value is not None:
        walk(spec.value[1:])
    if spec.where:
        texts.append(spec.where)
    if spec.explode is not None:
        texts.append(spec.explode[0])
    if spec.explode_where:
        texts.append(spec.explode_where)
    return texts


def spec_needs_vdoc(spec: MapSpec) -> bool:
    """True when any of the spec's expressions reads the pre-parsed
    variant column (variant-tier compiled raw-JS views)."""
    from mapreduce_spark.functions.jsvariant import VDOC_COL

    return any(VDOC_COL in t for t in _spec_sql_texts(spec))


def with_vdoc(df: DataFrame) -> DataFrame:
    """Materialize the parsed doc Variant ONCE per row.

    Variant-tier expressions reference ``_vdoc`` several times (null
    guard, kind guard, typed extraction — ×N fields); parsing in a
    dedicated Project below them keeps exactly one parse_json per row
    in the plan regardless of codegen path (CollapseProject will not
    inline a non-cheap multiply-referenced alias)."""
    from mapreduce_spark.functions.jsvariant import VDOC_COL

    if VDOC_COL in df.columns:
        return df
    if "doc_var" in df.columns:
        # VARIANT-stored body (sources.docs.shred_raw_table): already
        # parsed at ingest — zero parse_json in the build plan, and
        # with a shredded store the field extractions read real
        # parquet columns
        return df.withColumn(VDOC_COL, F.col("doc_var"))
    return df.withColumn(VDOC_COL, F.expr("parse_json(doc_json)"))


def build_view_structured_on(df: DataFrame, spec: MapSpec) -> DataFrame:
    """MapSpec over an arbitrary raw-schema DataFrame (base table or a
    changes batch — the incremental path, SURVEY §2 M1)."""
    if spec_needs_vdoc(spec):
        df = with_vdoc(df)
    if spec.where:
        df = df.filter(spec.where)
    if spec.explode is not None:
        from mapreduce_spark.functions.jsvariant import (
            EKEY_COL,
            ELEM_COL,
            EPOS_COL,
        )

        if len(spec.explode) == 4:  # object-entry explode (for-in)
            # the map CASE stays INLINE in the Generate, like the
            # forEach array expr: projecting it to a column first
            # looks cleaner but lets InferFiltersFromGenerate add a
            # `size(col) > 0` predicate that predicate-pushdown then
            # substitutes through the _vdoc Project — re-inlining the
            # whole CASE (12 parse_json per row) into the scan
            # Filter.  Inline generator children are exempt from that
            # rule (attribute-only), keeping the parse-once contract
            # (plan-asserted in tests/test_variant.py).  The inline
            # map-typed Generate falls off WholeStageCodegen, but
            # one interpreted CASE per doc row is far cheaper than
            # the 12 extra parse_json the pushed filter costs
            df = df.select(
                "*",
                F.posexplode(F.expr(spec.explode[0])).alias(
                    EPOS_COL, EKEY_COL, ELEM_COL
                ),
            )
        else:
            # one Generate per doc row: a NULL array (absent/null
            # field) yields zero rows — exactly JS null.forEach's
            # throw → tryMap doc skip; an empty array emits nothing,
            # like forEach
            df = df.select(
                "*",
                F.posexplode(F.expr(spec.explode[0])).alias(
                    EPOS_COL, ELEM_COL
                ),
            )
        if spec.explode_where:
            df = df.filter(spec.explode_where)
    cols = spec_output_columns(spec)
    return df.select(
        *[c.alias(n) for n, c in cols.items()]
    )


def spec_output_columns(spec: MapSpec) -> dict[str, Column]:
    """VIEW_SCHEMA output columns of one MapSpec as expressions over
    the RAW table — shared by the single-view map (filter + select,
    WHERE pushed into the scan) and the multi-view ddoc frame of a
    first build or a refresh (engine._fused_frame: per-view CASE guards
    over ONE scan)."""
    comps, is_array = spec.key_components()
    encs, jsons = zip(*[_comp_cols(c) for c in comps])
    key_enc = enc_key_cols(list(encs), as_array=is_array)
    if is_array:
        key_json = F.concat(
            F.lit("["), F.concat_ws(",", *jsons), F.lit("]")
        )
        parts_enc = F.array(*encs)
        parts_json = F.array(*jsons)
    else:
        key_json = jsons[0]
        parts_enc = F.lit(None).cast("array<string>")
        parts_json = F.lit(None).cast("array<string>")

    null_s = F.lit(None).cast("string")
    value_json, value_num = null_s, F.lit(None).cast("double")
    value_num_arr = F.lit(None).cast("array<double>")
    value_link_id = null_s
    v = spec.value
    if v is not None:
        vkind = v[0]
        if vkind == "num":
            vc = fold_nonfinite(F.expr(v[1]).cast("double"))
            value_num = vc
            value_json = json_scalar_col(vc, "num")
        elif vkind == "num_arr":
            arr = F.array(
                *[fold_nonfinite(F.expr(e).cast("double"))
                  for e in v[1]]
            )
            value_num_arr = arr
            value_json = F.to_json(arr)
        elif vkind == "str":
            vc = F.expr(v[1]).cast("string")
            value_json = json_scalar_col(vc, "str")
        elif vkind == "bool":
            vc = F.expr(v[1]).cast("boolean")
            value_json = json_scalar_col(vc, "bool")
        elif vkind == "link":
            vc = F.expr(v[1]).cast("string")
            value_link_id = vc
            value_json = F.concat(
                F.lit('{"_id":'), json_scalar_col(vc, "str"), F.lit("}")
            )
        elif vkind == "obj":
            # flat object value {name: scalar, …} — JS member order
            # preserved (JSON.stringify order); members are
            # (name, (kind, sql)) with kind num/str/bool/null.
            # Escaping rides json_scalar_col (Jackson); null member
            # values render as JSON null like JS
            parts: list[Column] = [F.lit("{")]
            for i, (mname, (mk, mexpr)) in enumerate(v[1]):
                if i:
                    parts.append(F.lit(","))
                parts.append(F.lit(json.dumps(mname) + ":"))
                if mk == "null":
                    parts.append(F.lit("null"))
                else:
                    mc = F.expr(mexpr)
                    if mk == "num":
                        mc = fold_nonfinite(mc.cast("double"))
                    parts.append(json_scalar_col(mc, mk))
            parts.append(F.lit("}"))
            value_json = F.concat(*parts)
        else:
            raise ValueError(f"unknown value kind {vkind!r}")

    if spec.explode is not None:
        from mapreduce_spark.functions.jsvariant import EPOS_COL

        _arr, n_sites, site = spec.explode[:3]
        emit_ord = (
            F.col(EPOS_COL) * F.lit(int(n_sites)) + F.lit(int(site))
        ).cast("int")
    else:
        emit_ord = F.lit(0)
    return {
        "id": doc_id_col(spec.table),
        "emit_ord": emit_ord,
        "key_enc": key_enc,
        "key_json": key_json,
        "key_parts_enc": parts_enc,
        "key_parts_json": parts_json,
        "value_json": value_json,
        "value_num": value_num,
        "value_num_arr": value_num_arr.cast("array<double>"),
        "value_link_id": value_link_id,
    }


# ---------------------------------------------------------------------------
# Generic Python map path
# ---------------------------------------------------------------------------

def _json_sanitize(v: Any) -> Any:
    """JSON.stringify parity: NaN/±Inf → null (inside values)."""
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, (list, tuple)):
        return [_json_sanitize(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_sanitize(x) for k, x in v.items()}
    return v


def value_nums(value: Any) -> tuple[float | None, list[float] | None]:
    """(value_num, value_num_arr) of a sanitized value — a number, or a
    non-empty array of numbers — for the native aggregates."""
    def is_num(x: Any) -> bool:
        return isinstance(x, (int, float)) and not isinstance(x, bool)

    if is_num(value):
        return float(value), None
    if isinstance(value, list) and value and all(map(is_num, value)):
        return None, [float(x) for x in value]
    return None, None


def emit_to_view_row(doc_id: str, ord_: int, key: Any, value: Any) -> dict:
    """One emit → one VIEW_SCHEMA row (dict). Pure Python, reused by the
    incremental maintainer and tests."""
    nk = normalize_key(key)
    key_enc = to_indexable_string(nk)
    key_json = json.dumps(nk, separators=(",", ":"), ensure_ascii=False)
    if isinstance(nk, list):
        parts_enc = [to_indexable_string(e) for e in nk]
        parts_json = [
            json.dumps(e, separators=(",", ":"), ensure_ascii=False)
            for e in nk
        ]
    else:
        parts_enc = None
        parts_json = None

    value = _json_sanitize(value)
    value_json = (
        None
        if value is None
        else json.dumps(value, separators=(",", ":"), ensure_ascii=False)
    )
    value_num, value_num_arr = value_nums(value)
    value_link_id = None
    if isinstance(value, dict) and isinstance(value.get("_id"), str):
        value_link_id = value["_id"]
    return {
        "id": doc_id,
        "emit_ord": ord_,
        "key_enc": key_enc,
        "key_json": key_json,
        "key_parts_enc": parts_enc,
        "key_parts_json": parts_json,
        "value_json": value_json,
        "value_num": value_num,
        "value_num_arr": value_num_arr,
        "value_link_id": value_link_id,
    }


def map_docs_to_rows(
    docs: list[dict], map_fn: Callable[[dict, Callable], None]
) -> list[dict]:
    """Run the map function over doc dicts (tryMap semantics)."""
    out: list[dict] = []
    for doc in docs:
        if doc.get("_deleted"):
            continue
        emits: list[tuple[Any, Any]] = []

        def emit(key: Any, value: Any = None) -> None:
            emits.append((key, value))

        try:
            map_fn(doc, emit)
        except Exception as exc:  # tryMap: skip doc, log, not fatal
            from mapreduce_spark.functions.jscompile import (
                JSCompileError,
            )
            from mapreduce_spark.functions.jsreduce import (
                JSReduceError,
                JSRuntimeThrow,
            )

            if isinstance(
                exc, (JSReduceError, JSCompileError)
            ) and not isinstance(exc, JSRuntimeThrow):
                # NOT a JS throw: the interpreter hit a construct the
                # engine cannot run (.sort(), .match(), …).  tryMap-
                # swallowing it would build a silently-empty/partial
                # view; upstream would have indexed these docs, so
                # fail the build loud instead.
                raise
            log.warning("map fn failed on doc %s: %s", doc.get("_id"), exc)
            continue
        for i, (k, v) in enumerate(emits):
            out.append(emit_to_view_row(doc["_id"], i, k, v))
    return out


def build_view_python_on(
    df: DataFrame, table: str, map_fn: Callable[[dict, Callable], None]
) -> DataFrame:
    """Python map path over an arbitrary raw-schema DataFrame, on
    ``df``'s own partitions (the engine sizes them, plans/sizing.py)."""
    docs = as_docs(df, table)
    col_order = [f.name for f in VIEW_SCHEMA.fields]
    # resolve the DocTable driver-side: user-registered tables are not
    # in the executors' (freshly imported) registry
    from mapreduce_spark.sources.docs import TABLES

    t = TABLES[table]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = map_docs_to_rows(doc_records(pdf, t), map_fn)
            if rows:
                yield pd.DataFrame(rows, columns=col_order)

    return docs.mapInPandas(run, VIEW_SCHEMA)

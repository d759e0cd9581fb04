"""Reduce phase: one dispatch, ``reduce_rows``, for every reduce read —
builtin names as native Catalyst aggregates, custom functions as a
two-phase (rereduce-capable) aggregation.  ``query_reduced`` calls it
for range and ``keys=`` reads alike.

Reference semantics (SURVEY.md §2 A1-A8, U2, U3; upstream
``pouchdb-abstract-mapreduce/src/index.js#reduceView``, ``builtInReduce``):

- ``_count``  row count per group;
- ``_sum``    numbers OR arrays of numbers element-wise (CouchDB
              compatible); non-numeric input → BuiltInError;
- ``_stats``  {sum, count, min, max, sumsqr};
- custom ``f(keys, values, rereduce)``: the reference's local adapter
  only ever calls it once per group with ``rereduce=false``; OUR engine
  runs a real distributed partial(+map-side combine) → final rereduce,
  a deliberate, documented semantic strengthening (reduce fns must be
  rereduce-safe — exactly the contract CouchDB documents);
- extensions: ``_approx_count_distinct`` (CouchDB has it, PouchDB does
  not) → native ``approx_count_distinct`` over the key; ``_min``,
  ``_max`` and ``_sum_count``, the lowering targets of common JS
  reduces (functions/jsreduce.py).

The builtins are one table, ``_BUILTINS``: each name's aggregates,
ending in one REDUCED_SCHEMA projection of one of three shapes —
scalar (``_count``, ``_approx_count_distinct``, ``_min``, ``_max``,
``_sum`` over numbers), object (``_stats``, ``_sum_count``) or array
(``_sum`` over arrays).  They never leave the JVM: they compile to
whole-stage-codegen'd hash aggregates with map-side partial
aggregation — Spark's automatic partial/final split is the distributed
analog of rereduce (SURVEY §4 X9/X10).  Array ``_sum`` avoids a
posexplode+regroup double shuffle by summing per-position with
``element_at`` after one cheap max-size lookup, keeping a single
shuffle.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_spark.errors import BuiltInError
from mapreduce_spark.operators.mapphase import _json_sanitize, value_nums

_TERM = "\x00"

REDUCED_SCHEMA = T.StructType(
    [
        T.StructField("gk_enc", T.StringType(), False),
        T.StructField("key_json", T.StringType(), False),
        T.StructField("value_json", T.StringType(), True),
        T.StructField("value_num", T.DoubleType(), True),
        T.StructField("value_num_arr", T.ArrayType(T.DoubleType()), True),
    ]
)


# The builtins as one table: name → its aggregates over ``value_num``,
# keyed by output name.  A lone ``value_num`` aggregate is a scalar
# result; ``_stats`` and ``_sum_count`` are objects with one JSON field
# per aggregate, in order; ``_sum`` over arrays is the third shape (see
# ``_sum_array_aggs``).
#
# ``_min``/``_max`` are engine extensions (like
# ``_approx_count_distinct``) and the lowering targets for JS
# ``Math.min/max.apply(null, values)`` and the canonical min/max
# for-loop; ``_sum_count`` lowers the canonical JS ``{sum: sum(values),
# count: values.length}`` average accumulator (functions/jsreduce.py).
# They read numeric values only: non-numeric rows carry a null
# ``value_num``, which the JVM aggregate ignores — the documented
# divergence from JS NaN poisoning, same class as the
# ``values.length`` → ``_count`` lowering.
_BUILTINS: dict[str, Callable[[Column], dict[str, Column]]] = {
    "_sum": lambda v: {"value_num": F.sum(v)},
    "_count": lambda v: {"value_num": F.count(F.lit(1)).cast("double")},
    "_stats": lambda v: {
        "sum": F.sum(v), "count": F.count(v).cast("double"),
        "min": F.min(v), "max": F.max(v), "sumsqr": F.sum(v * v),
    },
    "_approx_count_distinct": lambda v: {
        "value_num": F.approx_count_distinct("key_enc").cast("double"),
    },
    "_min": lambda v: {"value_num": F.min(v)},
    "_max": lambda v: {"value_num": F.max(v)},
    "_sum_count": lambda v: {
        "sum": F.sum(v), "count": F.count(v).cast("double"),
    },
}


def check_reduce(reduce_def: Any) -> None:
    """Unknown '_'-prefixed builtin → BuiltInError (upstream parity)."""
    if isinstance(reduce_def, str) and reduce_def.startswith("_"):
        if reduce_def not in _BUILTINS:
            raise BuiltInError(f"{reduce_def} is not a supported reduce function")
    elif reduce_def is not None and not callable(reduce_def):
        raise BuiltInError(f"invalid reduce function: {reduce_def!r}")


def group_key_cols(grouped: bool,
                   group_level: int | None) -> tuple[Column, Column]:
    """(gk_enc, gk_json) grouping expressions over VIEW_SCHEMA columns.

    ``grouped=False`` is the global reduce: one group whose key is null
    (SURVEY §2 A7).  group_level=N on an array key groups by
    ``key[:N]`` — thanks to the prefix-compositional encoding this is a
    pure-JVM concat of the first N element encodings (SURVEY §2 A6).
    Non-array keys group by the key itself; group_level=None means
    exact-key grouping (group=true).
    """
    if not grouped:
        return F.lit("1"), F.lit("null")
    if group_level is None:
        return F.col("key_enc"), F.col("key_json")
    n = group_level
    parts = F.col("key_parts_enc")
    gk_enc = F.when(
        parts.isNotNull(),
        F.concat(
            F.lit("5"),
            F.concat_ws("", F.slice(parts, 1, n)) if n > 0 else F.lit(""),
            F.lit(_TERM),
        ),
    ).otherwise(F.col("key_enc"))
    pj = F.col("key_parts_json")
    gk_json = F.when(
        pj.isNotNull(),
        F.concat(
            F.lit("["),
            F.concat_ws(",", F.slice(pj, 1, n)) if n > 0 else F.lit(""),
            F.lit("]"),
        ),
    ).otherwise(F.col("key_json"))
    return gk_enc, gk_json


def reduce_rows(
    rows: DataFrame,
    reduce_def: Any,
    *,
    grouped: bool,
    group_level: int | None,
    value_hint: tuple | None = None,
    observed_width: int | None = None,
) -> DataFrame:
    """Reduce ``rows`` (VIEW_SCHEMA) → REDUCED_SCHEMA, one row per group:
    a callable runs ``reduce_custom``, a builtin name its aggregates.

    ``value_hint``: static value-shape info from the view definition —
    ``('num',)`` or ``('num_arr', width)``.  With a hint, ``_sum`` skips
    its runtime array-shape probe (a full-view scan at 100 TB) AND the
    per-row value guard (MapSpec views are numeric by construction).

    ``observed_width``: the registry-persisted max array width recorded
    at materialization time (engine stats) for dynamic Python views —
    skips the probe scan but KEEPS the value guard (a Python map fn can
    emit anything; error parity must still hold at execution).
    """
    if callable(reduce_def):
        return reduce_custom(rows, reduce_def, grouped=grouped,
                             group_level=group_level)
    if reduce_def not in _BUILTINS:
        raise BuiltInError(f"{reduce_def} is not a supported reduce function")
    width = 0
    if reduce_def == "_sum":
        if value_hint is None:
            rows = _guard_sum_values(rows)
        width = _sum_width(rows, value_hint, observed_width)
    aggs = (_sum_array_aggs(width) if width > 0
            else _BUILTINS[reduce_def](F.col("value_num")))
    gk_enc, gk_json = group_key_cols(grouped, group_level)
    agg = rows.groupBy(
        gk_enc.alias("gk_enc"), gk_json.alias("key_json")
    ).agg(*[c.alias(n) for n, c in aggs.items()])
    fields = [F.col(n) for n in aggs]
    null_num = F.lit(None).cast("double")
    null_arr = F.lit(None).cast("array<double>")
    if width > 0:  # array
        num, arr = null_num, F.array(*fields)
        value_json = F.to_json(arr)
    elif list(aggs) == ["value_num"]:  # scalar
        num, arr = F.col("value_num"), null_arr
        value_json = _num_json(num)
    else:  # object
        num, arr = null_num, null_arr
        value_json = F.to_json(F.struct(*fields))
    return agg.select(
        "gk_enc",
        "key_json",
        value_json.alias("value_json"),
        num.alias("value_num"),
        arr.alias("value_num_arr"),
    )


def _sum_array_aggs(width: int) -> dict[str, Column]:
    """``_sum`` over arrays: one sum per position.  A scalar value v
    counts as [v] (CouchDB sum() parity); ``try_element_at`` zero-pads
    shorter arrays (plain element_at ERRORS on out-of-bounds under ANSI
    mode, Spark 4's default)."""
    v = F.col("value_num")
    eff = F.coalesce(
        F.col("value_num_arr"), F.when(v.isNotNull(), F.array(v))
    )
    return {
        f"_s{i}": F.sum(
            F.coalesce(F.try_element_at(eff, F.lit(i + 1)), F.lit(0.0))
        )
        for i in range(width)
    }


def _guard_sum_values(rows: DataFrame) -> DataFrame:
    """Upstream builtin_reduce_error semantics for dynamic views: a
    `_sum` over a non-number/non-array value must error at execution,
    not silently skip.  assert_true is a codegen'd per-row check,
    riding the value_num column so pruning can't drop it (assert_true
    returns null on success → the when() is a pass-through).
    Structured MapSpec views are numeric by construction and never
    take this path (they carry a value_hint)."""
    # an emitted null value is NOT valid: upstream sum() throws
    # builtin_reduce_error for any non-number/non-array, null included
    valid = (
        F.col("value_num").isNotNull()
        | F.col("value_num_arr").isNotNull()
    )
    guard = F.assert_true(
        valid,
        F.concat(
            F.lit(
                "builtin_reduce_error: _sum requires numbers or "
                "arrays of numbers, got "
            ),
            F.coalesce(F.col("value_json"), F.lit("null")),
        ),
    )
    return rows.withColumn(
        "value_num", F.when(guard.isNull(), F.col("value_num"))
    )


def _num_json(c: Column) -> Column:
    j = F.to_json(F.array(c))
    return j.substr(F.lit(2), F.length(j) - 2)


def _sum_width(rows: DataFrame, value_hint: tuple | None,
               observed_width: int | None) -> int:
    """Array width of a ``_sum``; ≤ 0 sums numbers only.

    CouchDB semantics (upstream ``pouchdb-mapreduce-utils#sum``): mixed
    numbers+arrays treat a number as [number]; shorter arrays are
    zero-padded.  Implemented as per-position ``element_at`` sums after
    a static width hint from the view definition, the registry's
    materialization-time observed width, or — last resort, temporary
    dynamic views only — one arity probe scan.  Avoids posexplode +
    double shuffle either way.
    """
    if value_hint is not None:
        return value_hint[1] if value_hint[0] == "num_arr" else -1
    if observed_width is not None:
        return observed_width
    # unpersisted dynamic views: probe array arity (one column-pruned
    # scan); persisted views never reach here — the registry records
    # the width at materialization time
    probe = rows.agg(F.max(F.size("value_num_arr")).alias("w")).collect()[0]
    return probe["w"] if probe["w"] is not None else -1


# ---------------------------------------------------------------------------
# Custom Python reduce: two-phase partial/final with real rereduce
# ---------------------------------------------------------------------------

def reduce_custom(
    rows: DataFrame,
    reduce_fn: Callable,
    *,
    grouped: bool,
    group_level: int | None,
) -> DataFrame:
    """Distributed custom reduce (SURVEY §2 A4/U2).

    Phase 1 (map-side combine): within each Arrow batch, group and call
    ``reduce_fn(keys, values, rereduce=False)`` with keys=[[key, id]…].
    Phase 2 (final): shuffle the partials by group key and call
    ``reduce_fn(None, partials, rereduce=True)``.  The final result
    takes the emit rule (NaN/±Infinity → null) and the emit's numeric
    value columns.
    """
    gk_enc, gk_json = group_key_cols(grouped, group_level)
    staged = rows.select(
        gk_enc.alias("gk_enc"),
        gk_json.alias("key_json"),
        F.col("key_json").alias("row_key_json"),
        F.col("id"),
        F.col("value_json"),
    )

    partial_schema = T.StructType(
        [
            T.StructField("gk_enc", T.StringType(), False),
            T.StructField("key_json", T.StringType(), False),
            T.StructField("partial_json", T.StringType(), True),
        ]
    )

    def phase1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            # group on key_json alone (gk_enc is a function of it):
            # pandas compares object strings only up to the first NUL,
            # and an array key's encoding has one after every element,
            # so grouping on gk_enc gives every key that shares a first
            # element the same label
            for kj, grp in pdf.groupby("key_json", sort=False):
                gk = grp["gk_enc"].iloc[0]
                keys = [
                    [json.loads(k), i]
                    for k, i in zip(grp["row_key_json"], grp["id"])
                ]
                values = [
                    None if v is None else json.loads(v)
                    for v in grp["value_json"]
                ]
                part = reduce_fn(keys, values, False)
                out.append(
                    {
                        "gk_enc": gk,
                        "key_json": kj,
                        "partial_json": json.dumps(
                            part, separators=(",", ":"), ensure_ascii=False
                        ),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in partial_schema])

    partials = staged.mapInPandas(phase1, partial_schema)

    def phase2(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = [json.loads(p) for p in pdf["partial_json"]]
        final = _json_sanitize(reduce_fn(None, vals, True))
        num, arr = value_nums(final)
        return pd.DataFrame(
            [
                {
                    "gk_enc": pdf["gk_enc"].iloc[0],
                    "key_json": pdf["key_json"].iloc[0],
                    "value_json": json.dumps(
                        final, separators=(",", ":"), ensure_ascii=False
                    ),
                    "value_num": num,
                    "value_num_arr": arr,
                }
            ]
        )

    return partials.groupBy("gk_enc", "key_json").applyInPandas(
        phase2, REDUCED_SCHEMA
    )

"""Reduce phase: builtin reductions as native Catalyst aggregates +
custom Python reduce as a two-phase (rereduce-capable) aggregation.

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
- extension: ``_approx_count_distinct`` (CouchDB has it, PouchDB does
  not) → native ``approx_count_distinct`` over the value.

Builtins never leave the JVM: they compile to whole-stage-codegen'd
hash aggregates with map-side partial aggregation — Spark's automatic
partial/final split is the distributed analog of rereduce (SURVEY §4
X9/X10).  Array ``_sum`` avoids a posexplode+regroup double shuffle by
summing per-position with ``element_at`` after one cheap max-size
lookup, keeping a single shuffle.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_spark.errors import BuiltInError

BUILTIN_NAMES = ("_sum", "_count", "_stats", "_approx_count_distinct",
                 "_min", "_max", "_sum_count")

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


def check_reduce(reduce_def: Any) -> None:
    """Unknown '_'-prefixed builtin → BuiltInError (upstream parity)."""
    if isinstance(reduce_def, str) and reduce_def.startswith("_"):
        if reduce_def not in BUILTIN_NAMES:
            raise BuiltInError(f"{reduce_def} is not a supported reduce function")
    elif reduce_def is not None and not callable(reduce_def):
        raise BuiltInError(f"invalid reduce function: {reduce_def!r}")


def group_key_cols(group_level: int | None) -> tuple[Column, Column]:
    """(gk_enc, gk_json) grouping expressions over VIEW_SCHEMA columns.

    group_level=N on an array key groups by ``key[:N]`` — thanks to the
    prefix-compositional encoding this is a pure-JVM concat of the first
    N element encodings (SURVEY §2 A6).  Non-array keys group by the key
    itself; group_level=None means exact-key grouping (group=true).
    """
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


def reduce_builtin(
    rows: DataFrame,
    name: str,
    *,
    grouped: bool,
    group_level: int | None,
    value_hint: tuple | None = None,
    observed_width: int | None = None,
) -> DataFrame:
    """Builtin reduce → REDUCED_SCHEMA DataFrame (one row per group).

    ``value_hint``: static value-shape info from the view definition —
    ``('num',)`` or ``('num_arr', width)``.  With a hint, ``_sum`` skips
    its runtime array-shape probe (a full-view scan at 100 TB) AND the
    per-row value guard (MapSpec views are numeric by construction).

    ``observed_width``: the registry-persisted max array width recorded
    at materialization time (engine stats) for dynamic Python views —
    skips the probe scan but KEEPS the value guard (a Python map fn can
    emit anything; error parity must still hold at execution).
    """
    if name == "_sum" and value_hint is None:
        rows = _guard_sum_values(rows)
    if grouped:
        gk_enc, gk_json = group_key_cols(group_level)
    else:  # global reduce: single group, key = null (SURVEY §2 A7)
        gk_enc, gk_json = F.lit("1"), F.lit("null")
    g = rows.groupBy(
        gk_enc.alias("gk_enc"), gk_json.alias("key_json")
    )

    null_arr = F.lit(None).cast("array<double>")
    if name == "_count":
        agg = g.agg(F.count(F.lit(1)).cast("double").alias("value_num"))
        return agg.select(
            "gk_enc",
            "key_json",
            _num_json(F.col("value_num")).alias("value_json"),
            "value_num",
            null_arr.alias("value_num_arr"),
        )
    if name == "_approx_count_distinct":
        agg = g.agg(
            F.approx_count_distinct("key_enc").cast("double").alias(
                "value_num"
            )
        )
        return agg.select(
            "gk_enc",
            "key_json",
            _num_json(F.col("value_num")).alias("value_json"),
            "value_num",
            null_arr.alias("value_num_arr"),
        )
    if name == "_stats":
        v = F.col("value_num")
        agg = g.agg(
            F.sum(v).alias("s"),
            F.count(v).cast("double").alias("c"),
            F.min(v).alias("mn"),
            F.max(v).alias("mx"),
            F.sum(v * v).alias("sq"),
        )
        stats = F.struct(
            F.col("s").alias("sum"),
            F.col("c").alias("count"),
            F.col("mn").alias("min"),
            F.col("mx").alias("max"),
            F.col("sq").alias("sumsqr"),
        )
        return agg.select(
            "gk_enc",
            "key_json",
            F.to_json(stats).alias("value_json"),
            F.lit(None).cast("double").alias("value_num"),
            null_arr.alias("value_num_arr"),
        )
    if name == "_sum_count":
        # engine extension: the lowering target for the canonical JS
        # {sum: sum(values), count: values.length} average accumulator
        # (functions/jsreduce.py) — a _stats subset, one hash agg with
        # map-side partials.  Numeric values only (same documented
        # divergence class as _min/_max: the interpreter would throw
        # on non-numbers where the JVM agg skips nulls).
        v = F.col("value_num")
        agg = g.agg(
            F.sum(v).alias("s"),
            F.count(v).cast("double").alias("c"),
        )
        sc = F.struct(
            F.col("s").alias("sum"),
            F.col("c").alias("count"),
        )
        return agg.select(
            "gk_enc",
            "key_json",
            F.to_json(sc).alias("value_json"),
            F.lit(None).cast("double").alias("value_num"),
            null_arr.alias("value_num_arr"),
        )
    if name in ("_min", "_max"):
        # engine extension (like _approx_count_distinct) and the
        # lowering target for JS ``Math.min/max.apply(null, values)``
        # and the canonical min/max for-loop (functions/jsreduce.py).
        # Numeric values only: non-numeric rows carry a null value_num,
        # which the JVM aggregate ignores — the documented divergence
        # from JS NaN poisoning, same class as the values.length →
        # _count lowering.
        v = F.col("value_num")
        agg = g.agg(
            (F.min(v) if name == "_min" else F.max(v)).alias("value_num")
        )
        return agg.select(
            "gk_enc",
            "key_json",
            _num_json(F.col("value_num")).alias("value_json"),
            "value_num",
            null_arr.alias("value_num_arr"),
        )
    if name == "_sum":
        return _reduce_sum(rows, g, value_hint, observed_width)
    raise BuiltInError(f"{name} is not a supported reduce function")


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


def _reduce_sum(rows: DataFrame, grouped, value_hint=None,
                observed_width=None) -> DataFrame:
    """_sum over numbers and/or element-wise arrays, single shuffle.

    CouchDB semantics (upstream ``pouchdb-mapreduce-utils#sum``): mixed
    numbers+arrays treat a number as [number]; shorter arrays are
    zero-padded.  Implemented as per-position ``element_at`` sums after
    a static width hint from the view definition, the registry's
    materialization-time observed width, or — last resort, temporary
    dynamic views only — one arity probe scan.  Avoids posexplode +
    double shuffle either way.
    """
    null_arr = F.lit(None).cast("array<double>")
    if value_hint is not None:
        width = value_hint[1] if value_hint[0] == "num_arr" else -1
    elif observed_width is not None:
        width = observed_width
    else:
        # unpersisted dynamic views: probe array arity (one
        # column-pruned scan); persisted views never reach here — the
        # registry records the width at materialization time
        probe = rows.agg(
            F.max(F.size("value_num_arr")).alias("w")
        ).collect()[0]
        width = probe["w"] if probe["w"] is not None else -1
    if width is None or width <= 0:
        agg = grouped.agg(F.sum("value_num").alias("value_num"))
        return agg.select(
            "gk_enc",
            "key_json",
            _num_json(F.col("value_num")).alias("value_json"),
            "value_num",
            null_arr.alias("value_num_arr"),
        )
    # array path: scalar value v counts as [v] (CouchDB sum() parity)
    eff = F.coalesce(
        F.col("value_num_arr"),
        F.when(F.col("value_num").isNotNull(), F.array(F.col("value_num"))),
    )
    # try_element_at: shorter arrays zero-pad (plain element_at ERRORS
    # on out-of-bounds under ANSI mode, Spark 4's default)
    sums = [
        F.sum(
            F.coalesce(F.try_element_at(eff, F.lit(i + 1)), F.lit(0.0))
        ).alias(f"_s{i}")
        for i in range(width)
    ]
    agg = grouped.agg(*sums)
    arr = F.array(*[F.col(f"_s{i}") for i in range(width)])
    return agg.select(
        "gk_enc",
        "key_json",
        F.to_json(arr).alias("value_json"),
        F.lit(None).cast("double").alias("value_num"),
        arr.alias("value_num_arr"),
    )


# ---------------------------------------------------------------------------
# Custom Python reduce: two-phase partial/final with real rereduce
# ---------------------------------------------------------------------------

def reduce_custom(
    rows: DataFrame,
    reduce_fn: Callable,
    *,
    grouped: bool,
    group_level: int | None,
    salt_partials: int | None = None,
) -> DataFrame:
    """Distributed custom reduce (SURVEY §2 A4/U2).

    Phase 1 (map-side combine): within each Arrow batch, group and call
    ``reduce_fn(keys, values, rereduce=False)`` with keys=[[key, id]…].
    Phase 2 (final): shuffle the partials by group key and call
    ``reduce_fn(None, partials, rereduce=True)``.

    ``salt_partials=N``: insert a salted intermediate rereduce — group
    partials by (key, hash % N) and fold before the final fold.  Use
    when one group dominates the corpus (a hot key at 100 TB produces
    one partial per Arrow batch; the salt tier fans that fold across N
    tasks instead of one).  Requires a rereduce-safe fn, which the
    contract already demands.
    """
    if grouped:
        gk_enc, gk_json = group_key_cols(group_level)
    else:
        gk_enc, gk_json = F.lit("1"), F.lit("null")
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
        final = reduce_fn(None, vals, True)
        fj = json.dumps(final, separators=(",", ":"), ensure_ascii=False)
        num = (
            float(final)
            if isinstance(final, (int, float))
            and not isinstance(final, bool)
            else None
        )
        arr = None
        if isinstance(final, list) and final and all(
            isinstance(x, (int, float)) and not isinstance(x, bool)
            for x in final
        ):
            arr = [float(x) for x in final]
        return pd.DataFrame(
            [
                {
                    "gk_enc": pdf["gk_enc"].iloc[0],
                    "key_json": pdf["key_json"].iloc[0],
                    "value_json": fj,
                    "value_num": num,
                    "value_num_arr": arr,
                }
            ]
        )

    if salt_partials:
        salt_schema = T.StructType(
            [
                T.StructField("gk_enc", T.StringType(), False),
                T.StructField("key_json", T.StringType(), False),
                T.StructField("partial_json", T.StringType(), True),
            ]
        )

        def fold_salted(pdf: pd.DataFrame) -> pd.DataFrame:
            vals = [json.loads(p) for p in pdf["partial_json"]]
            part = reduce_fn(None, vals, True)
            return pd.DataFrame(
                [
                    {
                        "gk_enc": pdf["gk_enc"].iloc[0],
                        "key_json": pdf["key_json"].iloc[0],
                        "partial_json": json.dumps(
                            part, separators=(",", ":"),
                            ensure_ascii=False,
                        ),
                    }
                ]
            )

        salted = partials.withColumn(
            "_salt", F.pmod(F.xxhash64("partial_json"),
                            F.lit(salt_partials))
        )
        partials = salted.groupBy(
            "gk_enc", "key_json", "_salt"
        ).applyInPandas(
            lambda pdf: fold_salted(pdf.drop(columns=["_salt"])),
            salt_schema,
        )

    return partials.groupBy("gk_enc", "key_json").applyInPandas(
        phase2, REDUCED_SCHEMA
    )

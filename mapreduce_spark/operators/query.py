"""View query: range scan, multi-key lookup, ordering, pagination,
reduce orchestration, doc joins.

Spark re-expression of upstream ``pouchdb-abstract-mapreduce/src/
index.js#queryView`` / ``#reduceView`` (SURVEY.md §2 S2, P3-P7, O1-O3,
A5-A8, J1/J2 and §3 stage 6-8):

- All bounds are encoded driver-side into string constants, so the
  range scan is ``key_enc >= lit AND key_enc <= lit`` — Catalyst pushes
  both into the Parquet reader and row-group min/max stats prune files,
  the distributed analog of the reference's sorted-KV range scan.
- ``descending`` swaps the *roles* of startkey/endkey (caller passes
  them reversed, upstream parity) and flips the sort.
- ``keys=[...]`` joins against a broadcast inline table carrying the
  request ordinal, preserving request order and duplicating repeated
  keys (upstream keys path).
- Top-k (descending+limit) compiles to Spark's TakeOrderedAndProject;
  skip/limit use native offset/limit.
- ``include_docs`` is a left equi-join on ``coalesce(value_link_id,
  id)`` — linked documents (J2) and plain include_docs (J1) in one join.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_spark.collate import MAX_ENC, to_indexable_string
from mapreduce_spark.plans.spec import UNSET, QueryOptions
from mapreduce_spark.operators.reduce import reduce_rows

# Small-result sort fusion (VERDICT r10 #1): when registry stats bound
# the sorted result set at or below this many rows, the global orderBy
# (a range exchange whose partitioner runs an extra bounds-sampling
# job) is replaced with a single-partition sortWithinPartitions — one
# Spark job fewer per query, and one exchange fewer on the reduce path.
# The gate input is a static estimate — an exact row count for map
# queries, an HLL distinct-key estimate (±~5%) for grouped reduces —
# so a view that would be big at 100 TB takes the scalable global-sort
# plan; both plan shapes are CORRECT, the estimate only picks the
# cheaper one, so HLL error can never produce a wrong answer.
FUSED_SORT_MAX_ROWS = 1_000_000


def fused_sort(rows: DataFrame, order: list[Column],
               bound: int | None, *, narrow: bool = False) -> DataFrame:
    """Globally-sorted ``rows`` — fused to one partition when ``bound``
    (a static row-count estimate; see module note) is small enough.

    ``narrow=True`` uses ``coalesce(1)`` — correct ONLY when the child
    is already one partition (a view the engine assembled in one
    task), where it is free, or when an exchange sits below the
    operators it merges (the reduce path's final aggregate, a doc join
    over a one-task view), where it merges post-shuffle partitions
    without collapsing upstream scan parallelism.  The default
    ``repartition(1)`` keeps scans/joins parallel at the cost of the
    one exchange the global sort needed anyway."""
    if bound is not None and 0 <= bound <= FUSED_SORT_MAX_ROWS:
        one = rows.coalesce(1) if narrow else rows.repartition(1)
        return one.sortWithinPartitions(*order)
    return rows.orderBy(*order)


def asc_order() -> list[Column]:
    return [F.col("key_enc"), F.col("id"), F.col("emit_ord")]


def desc_order() -> list[Column]:
    return [c.desc() for c in asc_order()]


def row_order(descending: bool) -> list[Column]:
    return desc_order() if descending else asc_order()


def range_filter(opts: QueryOptions) -> Column | None:
    """startkey/endkey/key → pushdown-friendly predicate on key_enc.

    ``startkey_docid``/``endkey_docid`` refine the boundary at the
    docid level (the index key is ``(key, docid)``, CouchDB duplicate-
    key pagination).  The coarse single-column bound on ``key_enc`` is
    kept as an explicit conjunct so it still reaches the Parquet
    reader as a pushed filter; the docid tie-break — which mixes two
    columns and cannot push — only re-examines rows AT the boundary
    key, so its residual cost is O(duplicate run), not O(scan).
    """
    preds: list[Column] = []
    k = F.col("key_enc")
    if opts.key is not UNSET:
        return k == F.lit(to_indexable_string(opts.key))
    lo = hi = UNSET
    lo_docid = hi_docid = UNSET
    lo_incl = hi_incl = True
    if not opts.descending:
        lo, hi = opts.startkey, opts.endkey
        lo_docid, hi_docid = opts.startkey_docid, opts.endkey_docid
        hi_incl = opts.inclusive_end
    else:
        # descending: startkey is the HIGH end (upstream parity);
        # the docid options travel with their key option
        lo, hi = opts.endkey, opts.startkey
        lo_docid, hi_docid = opts.endkey_docid, opts.startkey_docid
        lo_incl = opts.inclusive_end
    if lo is not UNSET:
        b = F.lit(to_indexable_string(lo))
        if lo_docid is UNSET:
            preds.append(k >= b if lo_incl else k > b)
        else:
            d = F.lit(lo_docid)
            tie = F.col("id") >= d if lo_incl else F.col("id") > d
            preds.append((k >= b) & ((k > b) | tie))
    if hi is not UNSET:
        b = F.lit(to_indexable_string(hi))
        if hi_docid is UNSET:
            preds.append(k <= b if hi_incl else k < b)
        else:
            d = F.lit(hi_docid)
            tie = F.col("id") <= d if hi_incl else F.col("id") < d
            preds.append((k <= b) & ((k < b) | tie))
    if not preds:
        return None
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def scan_rows(view: DataFrame, opts: QueryOptions) -> DataFrame:
    """Filtered (but not yet ordered/paginated) view rows."""
    pred = range_filter(opts)
    return view.filter(pred) if pred is not None else view


def query_map(view: DataFrame, opts: QueryOptions,
              rows_bound: int | None = None,
              narrow: bool = False) -> DataFrame:
    """Map-query path: ordered rows with skip/limit applied.

    ``rows_bound``: static upper bound on the view's row count
    (registry stats) — enables small-result sort fusion; ``narrow``:
    ``view`` is one partition (see ``fused_sort``).  Queries with a
    ``limit`` keep ``orderBy`` so Catalyst plans
    TakeOrderedAndProject (already a single job)."""
    if opts.keys is not UNSET:
        rows = _keys_lookup(view, opts.keys, opts.descending,
                            rows_bound if opts.limit is None else None,
                            narrow)
    else:
        rows = scan_rows(view, opts)
        if opts.sorted:
            order = row_order(opts.descending)
            if opts.limit is None:
                rows = fused_sort(rows, order, rows_bound, narrow=narrow)
            else:
                rows = rows.orderBy(*order)
        # sorted=False: storage order — no global Sort/TakeOrdered in
        # the plan; skip/limit slice an unspecified (but filtered)
        # subset, CouchDB parity for its performance escape hatch
    return _paginate(rows, opts)


def _keys_lookup(view: DataFrame, keys: list, descending: bool,
                 rows_bound: int | None = None,
                 narrow: bool = False) -> DataFrame:
    """Multi-key fetch preserving request order & duplicates (P5).

    Two-step shape so the point lookups stay index-like at scale:
    (1) an ``isin`` filter over the encoded keys — this is what reaches
    the parquet reader as ``In(key_enc, …)`` and prunes row groups of
    the sorted view; (2) a broadcast join against an all-literal inline
    table (``inline`` of struct literals → LocalTableScan, no Python
    RDD) carrying the request ordinal, which re-introduces request
    order and duplicate keys.
    """
    encs, keys_df = _request_keys(view, keys)
    rows = (
        view.filter(F.col("key_enc").isin(encs))
        .join(
            F.broadcast(keys_df),
            F.col("key_enc") == F.col("_key_enc"),
            "inner",
        )
        .drop("_key_enc")
    )
    order = [F.col("_key_ord")] + row_order(descending)
    # _key_ord is kept so callers can re-establish request order after a
    # doc join; the engine's final column selection drops it.
    return fused_sort(rows, order, rows_bound, narrow=narrow)


def _request_keys(view: DataFrame,
                  keys: list) -> tuple[list[str], DataFrame]:
    """The ``isin`` list of a keys= request (its distinct encodings,
    sorted) and its request-ordinal table (``_key_ord``, ``_key_enc``):
    an all-literal inline table, so a LocalTableScan, no Python RDD."""
    pairs = [(i, to_indexable_string(k)) for i, k in enumerate(keys)]
    keys_df = view.sparkSession.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_key_ord"),
                        F.lit(e).alias("_key_enc"),
                    )
                    for i, e in pairs
                ]
            )
        )
    )
    return sorted({e for _, e in pairs}), keys_df


def _paginate(rows: DataFrame, opts: QueryOptions) -> DataFrame:
    if opts.skip:
        rows = rows.offset(opts.skip)
    if opts.limit is not None:
        rows = rows.limit(opts.limit)
    return rows


def query_reduced(
    view: DataFrame, opts: QueryOptions, reduce_def: Any,
    value_hint: tuple | None = None,
    observed_width: int | None = None,
    keys_bound: int | None = None,
) -> DataFrame:
    """Reduce-query path: filter → group/global reduce → order → slice.

    With ``keys`` (validated to require group=true): upstream groups
    the per-key fetches as consecutive runs, so the result is one
    reduced row per REQUESTED key, in request order, duplicates
    repeated, absent keys omitted — re-established here by joining the
    grouped rows back to the request-ordinal table.
    """
    keyed = opts.keys is not UNSET
    if keyed:
        encs, keys_df = _request_keys(view, opts.keys)
        rows = view.filter(F.col("key_enc").isin(encs))
    else:
        rows = scan_rows(view, opts)
    red = reduce_rows(
        rows,
        reduce_def,
        grouped=opts.is_grouped,
        group_level=opts.group_level,
        value_hint=value_hint,
        observed_width=observed_width,
    )
    if keyed:
        # request order unconditionally: upstream processes `keys` in
        # the order given regardless of descending (matching
        # _keys_lookup); ≤ len(keys) result rows by construction, so
        # always fused
        red = red.join(
            F.broadcast(keys_df), red["gk_enc"] == keys_df["_key_enc"]
        )
        order, bound = [F.col("_key_ord")], len(opts.keys)
    else:
        order = [
            F.col("gk_enc").desc() if opts.descending else F.col("gk_enc")
        ]
        # grouped output is bounded by the view's distinct-key count
        # (group_level truncation only merges groups); a global reduce
        # is exactly one row
        bound = keys_bound if opts.is_grouped else 1
    # ``narrow=True``: the coalesce(1) sits directly above the
    # aggregation exchange, so map-side partial aggregation and scan
    # parallelism are untouched — only the (tiny) final aggregate, the
    # keys= broadcast join and the sort run single-task, dropping the
    # sort's range exchange AND its bounds-sampling job from the plan.
    if keyed or opts.limit is None:
        red = fused_sort(red, order, bound, narrow=True)
    else:
        red = red.orderBy(*order)
    return _paginate(red, opts).drop("gk_enc", "_key_enc", "_key_ord")


def attach_docs(rows: DataFrame, docs: DataFrame,
                *, prune: str = "none") -> DataFrame:
    """include_docs / linked-docs join (J1/J2).

    ``docs`` must have columns (_id STRING, doc_json STRING).  Left join:
    a missing/deleted target doc yields doc_json null (upstream parity).
    Broadcast is left to AQE: the docs side is a full table at scale, so
    a sort-merge/shuffled-hash join on the doc id is the right default;
    dimension-sized docs tables go broadcast automatically.

    ``prune`` shrinks the docs side to the matched ids first — the
    point-doc-fetch shape of the reference (S3: read index rows, fetch
    those docs) instead of a full docs shuffle:

    - ``'broadcast'``: the id set is statically bounded (a small
      ``limit`` was already applied) — hint the semi-join build side.
    - ``'adaptive'``: bounded by the predicate but not statically
      (``key=``/``keys=`` with no limit) — same semi-join with NO
      hint: AQE measures the matched-id set at runtime and broadcasts
      when small, degrading to a shuffled semi for a pathological hot
      key.  One plan, zero extra driver-side probe jobs.
    - ``'none'``: plain left join.
    """
    join_key = F.coalesce(F.col("value_link_id"), F.col("id"))
    rows = rows.withColumn("_doc_key", join_key)
    if prune != "none":
        need = rows.select(F.col("_doc_key").alias("_id"))
        if prune == "broadcast":
            # no .distinct(): the semi join dedups anyway, and the
            # build side is statically bounded small — dropping the
            # distinct removes one exchange (and its Spark job)
            need = F.broadcast(need)
        else:
            # adaptive: the distinct shrinks the shuffle AQE measures
            # to decide broadcast-vs-shuffled semi at runtime
            need = need.distinct()
        docs = docs.join(need, "_id", "left_semi")
    out = rows.join(docs, rows["_doc_key"] == docs["_id"], "left")
    return out.drop("_doc_key", "_id")

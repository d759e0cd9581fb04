"""Engine: the public API surface of the PySpark map/reduce view engine.

Mirrors the reference's whole entry-point surface (SURVEY.md §2):

    db.query(fun, opts)  → Engine.query(fun, **opts) -> QueryResult
    db.viewCleanup()     → Engine.view_cleanup()

with ``fun`` one of 'ddoc/view', 'view' (shorthand), a temporary view
definition (MapSpec / (table, python_fn) / {'map':…, 'reduce':…}), and
opts the validated QueryOptions set (reduce, group, group_level, key,
keys, startkey, endkey, inclusive_end, descending, limit, skip,
include_docs, stale, …).

Query lifecycle (SURVEY.md §3 "Spark lifecycle"): validate → resolve
view → refresh (incremental, unless stale) → assemble the LSM view →
DataFrame pipeline: pushdown range filter on key_enc → optional
group/reduce → order → offset/limit → optional doc join → envelope.

Incremental maintenance (M1/M2/X2): the materialized view is a base
(key-sorted Parquet, written with its per-doc emit counts) plus an
ordered stack of
(tombstone, delta) layers; each refresh maps only changed docs,
tombstones their previous emits by doc id, and appends a layer;
compaction folds layers into a new base version.  ``last_seq`` in the
registry is the exactly-once checkpoint (atomic JSON rename).  At 100 TB
this mirrors an LSM / lakehouse MERGE: refresh cost is O(changes), the
read path adds only broadcast anti-joins against small tombstone sets,
and compaction restores pristine range-pruned scans.  A view whose
registry row counts stay under ``sizing.ONE_TASK_VIEW_MAX_ROWS`` is
instead assembled in one task with a window over tombstone batches — no
exchange, no broadcast — for reads and compaction alike
(``_assemble_view``).
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import tempfile
from concurrent.futures import ThreadPoolExecutor
from contextlib import ExitStack
from dataclasses import dataclass
from typing import Any, Callable

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_spark.errors import (
    BuiltInError,
    NotFoundError,
    QueryParseError,
)
from mapreduce_spark.operators.mapphase import (
    VIEW_SCHEMA,
    MapSpec,
    build_view_python_on,
    build_view_structured_on,
)
from mapreduce_spark.operators.query import (
    attach_docs,
    fused_sort,
    query_map,
    query_reduced,
    row_order,
)
from mapreduce_spark.operators.reduce import check_reduce
from mapreduce_spark.plans import sizing
from mapreduce_spark.plans.registry import Registry, signature
from mapreduce_spark.plans.spec import UNSET, QueryOptions, options_from
from mapreduce_spark.sources.docs import (
    TABLES,
    as_docs,
    doc_id_col,
    doc_json_frame,
    load_table,
)

log = logging.getLogger("mapreduce_spark.engine")

# Change batches of at most this many docs semi-join the count metadata
# against a broadcast of their ids; larger ones shuffle instead (the
# build side must fit executor memory).
_BROADCAST_MAX_IDS = 10_000_000


def observed(obs: Observation) -> dict | None:
    """``Observation.get``, tolerating a metrics row that never
    materialized.

    When the observed batch is EMPTY and the plan holds a shuffle above
    the CollectMetrics node (the interpreted map path's repartition, a
    raw table's latest-per-id window), AQE's empty-relation propagation
    can eliminate the whole subtree — CollectMetrics included — so the
    listener never receives a row and ``Observation.get`` trips a JVM
    ``GenericRowWithSchema`` assertion.  That state is observable ONLY
    for an empty input (a non-empty scan always executes the metrics
    node), so callers treat ``None`` as "zero rows seen"."""
    try:
        return obs.get
    except Exception as e:  # Py4JJavaError wrapping the Scala assert
        if "java.lang.AssertionError" in str(e):
            return None
        raise

MAP_RESULT_COLS = [
    "id", "key_json", "value_json", "value_num", "value_num_arr",
]
REDUCED_RESULT_COLS = ["key_json", "value_json", "value_num",
                       "value_num_arr"]


@dataclass
class ViewDef:
    """In-memory view definition: map + reduce + source table."""

    map_def: Any  # MapSpec | list[MapSpec] | (table, python_fn)
    reduce_def: Any = None  # None | '_sum' | '_count' | … | callable

    @property
    def table(self) -> str:
        m = self.map_def
        if isinstance(m, MapSpec):
            return m.table
        if isinstance(m, list):
            return m[0].table
        if hasattr(m, "specs"):  # VariantJSView (compiled raw JS)
            return m.table
        return m[0]

    @property
    def _spec_list(self) -> list | None:
        """MapSpec list when the view is statically structured
        (MapSpec / list of MapSpecs / VariantJSView), else None."""
        m = self.map_def
        if hasattr(m, "specs"):
            m = m.specs
        specs = m if isinstance(m, list) else [m]
        if all(isinstance(s, MapSpec) for s in specs):
            return specs
        return None

    @property
    def _fusable_specs(self) -> list | None:
        """Specs eligible for the fused one-scan ddoc frame: exploded
        (array-emit forEach) specs change row multiplicity per view,
        which the shared emit-array explode cannot express — they
        build/refresh per-view (still fully JVM)."""
        specs = self._spec_list
        if specs is None or any(s.explode is not None for s in specs):
            return None
        return specs

    @property
    def sig(self) -> str:
        return signature(self.map_def, self.reduce_def)

    @property
    def sum_statically_invalid(self) -> bool:
        """True when a structured view emits values that fail the
        upstream ``_sum`` contract BY CONSTRUCTION: any MapSpec with a
        str/bool/obj/link value or no value at all.  These emit
        value_num/value_num_arr as literal-NULL columns, which lets
        Catalyst fold the per-row runtime guard away (when(guard,
        NULL) → NULL, per union branch too) — so the error must be
        static.  Deliberately conservative for multi-emit views: the
        error fires even if the offending emit's where-guard happens
        to match zero docs (upstream would lazily succeed there).
        Dynamic Python/interpreted views return False — their values
        are real columns and the runtime guard handles parity."""
        specs = self._spec_list
        if specs is None:
            return False
        return any(
            s.value is None or s.value[0] not in ("num", "num_arr")
            for s in specs
        )

    @property
    def value_hint(self) -> tuple | None:
        """Static value-shape hint for _sum (('num',) | ('num_arr', w)).

        Derivable only for structured MapSpec views; Python map fns are
        dynamic → None (runtime probe).  Mixed number/array emits widen
        to the max array width (CouchDB sum: a number counts as [n])."""
        specs = self._spec_list
        if specs is None:
            return None
        widths: list[int] = []
        for s in specs:
            if s.value is None:
                return None
            vk = s.value[0]
            if vk == "num":
                widths.append(0)
            elif vk == "num_arr":
                widths.append(len(s.value[1]))
            else:
                return None
        w = max(widths)
        return ("num_arr", w) if w > 0 else ("num",)


class QueryResult:
    """Result envelope: {total_rows, offset, rows} (SURVEY §2 P7)."""

    def __init__(self, df: DataFrame, *, offset: int = 0,
                 total_rows_df: DataFrame | None = None,
                 total_rows_value: int | None = None,
                 reduced: bool = False,
                 update_seq: int | None = None) -> None:
        self.df = df
        self.offset = offset
        self.reduced = reduced
        self._total_df = total_rows_df
        self._total_value = total_rows_value
        # seq the index was built at, when requested (update_seq=True
        # query option; upstream update_seq parity)
        self.update_seq = update_seq

    @property
    def total_rows(self) -> int | None:
        """Total rows in the (unfiltered) view.  Persisted views answer
        from registry statistics maintained at materialization time —
        zero Spark jobs, like the reference's index metadata; only
        unpersisted temporary views fall back to a count job."""
        if self._total_value is not None:
            return self._total_value
        if self._total_df is None:
            return None
        return self._total_df.count()

    def rows(self) -> list[dict]:
        """Collect as reference-shaped row dicts (tests / small results)."""
        out = []
        for r in self.df.collect():
            d = r.asDict()
            row = {"key": json.loads(d["key_json"])}
            row["value"] = (
                json.loads(d["value_json"])
                if d.get("value_json") is not None
                else None
            )
            if "id" in d:
                row["id"] = d["id"]
            if "doc_json" in d:
                row["doc"] = (
                    json.loads(d["doc_json"])
                    if d["doc_json"] is not None
                    else None
                )
            out.append(row)
        return out


class Engine:
    """A PySpark-native CouchDB-style map/reduce view engine."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        storage_dir: str | None = None,
        *,
        compact_after: int = 8,
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.storage_dir = storage_dir or tempfile.mkdtemp(
            prefix="mrviews-"
        )
        self.registry = Registry(self.storage_dir)
        self.compact_after = compact_after
        self._defs: dict[str, ViewDef] = {}

    # ------------------------------------------------------------------
    # design docs
    # ------------------------------------------------------------------

    def put_design(self, ddoc: str, views: dict[str, dict]) -> None:
        """Register views: {name: {'map': …, 'reduce': …}}.

        ``map`` accepts a MapSpec / list of MapSpecs, a ``(table,
        python_fn)`` tuple, or — upstream design-doc parity (F1) — a
        ``(table, "function(doc) {…}")`` JS source pair, compiled to
        MapSpec(s) so JS views run the structured JVM path."""
        reg_views = {}
        for name, v in views.items():
            red = self._normalize_reduce(v.get("reduce"))
            check_reduce(red)
            vd = ViewDef(self._normalize_map(v["map"]), red)
            self._defs[vd.sig] = vd
            reg_views[name] = {"sig": vd.sig}
        self.registry.put_design(ddoc, reg_views)

    def _normalize_map(self, m: Any, *,
                       allow_variant: bool = True) -> Any:
        """Compile JS map sources; pass every other form through.

        Typed tables compile to MapSpec(s) (JVM path, guards pushed
        into the scan) when the source fits the compilable subset;
        out-of-subset sources (``.split()``, loops,
        ``parseInt``, accumulator objects …) fall back to the
        statement-level interpreter over Arrow-batched doc dicts —
        upstream runs arbitrary JS (`[U pouchdb-abstract-
        mapreduce#evalFunc]`), so a compile miss must never be a user
        error.  Raw doc sources compile to drift-guarded Variant
        expressions (functions/jsvariant.py) when sampled inference
        types every referenced field — at 100 TB the per-doc Python
        interpreter is the costliest residual on the build path — and
        interpret otherwise; a contract violation mid-build falls back
        transparently (same signature, see update_view).  Temporary
        views skip the variant tier (``allow_variant=False``): their
        result DataFrame is evaluated by the CALLER, so a drift raise
        there could not be caught and retried engine-side."""
        from mapreduce_spark.functions.jscompile import (
            JSCompileError,
            compile_js_map,
            compile_js_map_fn,
            looks_like_js,
        )

        if looks_like_js(m):
            table, src = m
            t = TABLES.get(table)
            if t is not None and t.raw_json:
                if allow_variant:
                    from mapreduce_spark.functions.jsvariant import (
                        compile_js_map_variant,
                    )

                    try:
                        return compile_js_map_variant(
                            self.spark, self.sf_dir, table, src
                        )
                    except JSCompileError as ce:
                        log.info(
                            "raw-source JS map stays on the "
                            "interpreter tier (%s)", ce,
                        )
                return (table, compile_js_map_fn(src))
            schema = self._load_table(table).schema
            try:
                return compile_js_map(src, table, schema)
            except JSCompileError as ce:
                log.info(
                    "JS map does not fit the compiled subset (%s); "
                    "running interpreted", ce,
                )
                return (table, compile_js_map_fn(src))
        return m

    def _normalize_reduce(self, r: Any) -> Any:
        """Compile a JS reduce source string (upstream ddoc parity, F1/
        A4); pass builtin names / Python callables / None through.

        The common shapes (``sum(values)``, ``values.length``, the
        rereduce-guarded count) lower to JVM-native builtins; the rest
        of the subset runs interpreted through the distributed
        partial/final custom-reduce phases."""
        from mapreduce_spark.functions.jsreduce import (
            compile_js_reduce,
            looks_like_js_reduce,
        )

        if looks_like_js_reduce(r):
            return compile_js_reduce(r)
        return r

    def build_views(self, names: list[str],
                    max_parallel: int = 4) -> None:
        """Materialize several views concurrently.

        Independent views contend only for cluster slots, so building
        them from driver threads lets the Spark scheduler interleave
        their stages (the per-view registry lock still serializes
        same-view builds).  This is the deployment shape for "refresh
        all design docs" — wall time ≈ slowest view, not the sum.
        """
        self._run_pooled(max_parallel,
                         [(self.update_view, n) for n in names])

    def _run_pooled(self, max_parallel: int, tasks: list[tuple]) -> list:
        """Run each ``(fn, *args)`` of ``tasks`` on a thread pool and
        return the results in order.  Every task runs with the calling
        thread's Spark local properties, so its jobs carry the caller's
        job group and description.  Each task gets its own copy: Spark
        sets per-query properties on a thread while a query runs."""
        with ThreadPoolExecutor(max_workers=max_parallel) as ex:
            futs = [
                ex.submit(inheritable_thread_target(self.spark)(fn), *args)
                for fn, *args in tasks
            ]
            return [f.result() for f in futs]

    def _ddoc_groups(
        self, ddoc: str
    ) -> tuple[list[list[tuple[str, ViewDef]]], list[str]]:
        """Split a design doc's views for ``refresh_ddoc``: ``groups``
        of two or more fusable ``(name, ViewDef)`` pairs over one table,
        built or not, and the names of every other view in ``rest``.
        Identical definitions share one index (registry contract), so
        each is listed once."""
        by_table: dict[str, list[tuple[str, ViewDef]]] = {}
        rest: list[str] = []
        seen_sigs: set[str] = set()
        for name, sig in self.registry.design_views(ddoc).items():
            if sig in seen_sigs:
                continue
            seen_sigs.add(sig)
            vdef = self._defs.get(sig)
            if vdef is not None and vdef._fusable_specs is not None:
                by_table.setdefault(vdef.table, []).append(
                    (f"{ddoc}/{name}", vdef)
                )
            else:
                rest.append(f"{ddoc}/{name}")
        groups = [g for g in by_table.values() if len(g) > 1]
        rest += [g[0][0] for g in by_table.values() if len(g) == 1]
        return groups, rest

    def build_ddoc(self, ddoc: str, max_parallel: int = 4) -> None:
        """Materialize ALL views of a design doc: ``refresh_ddoc``."""
        self.refresh_ddoc(ddoc, max_parallel)

    def refresh_ddoc(self, ddoc: str, max_parallel: int = 4,
                     to_seq: int | None = None) -> None:
        """Build or refresh ALL views of a design doc from ONE source
        scan per table where possible (SURVEY §2 M1; upstream updates a
        ddoc's views as one group, [U pouchdb-abstract-mapreduce#
        updateView], CouchDB couch_mrview).  At 100 TB the scan
        dominates, so K per-view scans are K−1 wasted passes, on the
        first build and on every changes batch alike.

        Structured views (MapSpec / compiled-JS, incl. the variant
        tier) over the SAME table fuse into one ``_update`` whatever
        their built state: the unbuilt ones first-build from one scan,
        the built ones refresh from one changes scan, and views with
        unequal ``last_seq`` still share it.  Everything else —
        interpreted or exploded views, a table's only view — takes the
        per-view ``update_view`` path, as does the whole group on a
        raw-doc contract drift.  Table groups and per-view updates are
        independent jobs, overlapped on the scheduler like
        ``build_views``."""
        groups, rest = self._ddoc_groups(ddoc)

        def run_group(group: list[tuple[str, ViewDef]]) -> list[str]:
            """Update one table's views; returns the names needing the
            per-view fallback (raw-doc contract drift)."""
            try:
                self._update([v for _, v in group], to_seq=to_seq)
                return []
            except Exception as e:
                from mapreduce_spark.functions.jsvariant import (
                    is_drift_error,
                )

                if not is_drift_error(e):
                    raise
                log.warning(
                    "fused ddoc update hit a raw-doc contract drift; "
                    "falling back to per-view updates: %s",
                    str(e)[:200],
                )
                return [n for n, _ in group]

        done = self._run_pooled(
            max_parallel,
            [(run_group, g) for g in groups]
            + [(self.update_view, n, None, to_seq) for n in rest],
        )
        fallback = [n for names in done[:len(groups)] for n in names]
        if fallback:
            self._run_pooled(
                max_parallel,
                [(self.update_view, n, None, to_seq) for n in fallback],
            )

    def _fused_frame(self, vdefs: list[ViewDef],
                     src: DataFrame, *,
                     view_guards: list | None = None,
                     extra_entries: list | None = None) -> DataFrame:
        """One-scan frame of every view's emits, tagged ``_vw`` (the
        vdef ordinal).  Each (view, emit-site) contributes a CASE-
        guarded struct per source row; nulls (guard false) drop after
        ONE explode — all JVM, no union (a union would re-instance the
        scan per branch: Spark does not CSE across union children).

        ``view_guards[i]`` (optional) ANDs an extra Column into every
        emit of view i — ``_refresh_frame`` uses it for the per-view
        ``seq > last_seq_i`` bound and the not-deleted filter.
        ``extra_entries`` appends pre-built (possibly guarded) struct
        Columns to the emit array — the refresh's ``_vw = -1``
        changed-doc sentinel rides the same scan this way.  ``src``
        arrives sized (``_map_input``)."""
        from mapreduce_spark.operators.mapphase import (
            spec_needs_vdoc,
            spec_output_columns,
            with_vdoc,
        )

        if any(
            spec_needs_vdoc(s) for v in vdefs for s in v._spec_list
        ):
            src = with_vdoc(src)
        entries = []
        for i, vdef in enumerate(vdefs):
            for j, spec in enumerate(vdef._spec_list):
                cols = spec_output_columns(spec)
                cols["emit_ord"] = F.lit(j)
                struct = F.struct(
                    F.lit(i).alias("_vw"),
                    *[cols[f.name].cast(f.dataType).alias(f.name)
                      for f in VIEW_SCHEMA.fields],
                )
                guard = (
                    F.expr(spec.where) if spec.where else F.lit(True)
                )
                if view_guards is not None:
                    guard = guard & view_guards[i]
                entries.append(F.when(guard, struct))
        entries.extend(extra_entries or [])
        # compute the emit array in its OWN projection and explode the
        # materialized column: inlining the array into the Generate
        # evaluates the full encode expression tree on the Generate's
        # (non-codegen) path — measured 2.6× slower at sf0.1
        return (
            src.select(F.array(*entries).alias("_emits"))
            .select(F.explode("_emits").alias("r"))
            .filter(F.col("r").isNotNull())
            .select("r.*")
        )

    def view_cleanup(self) -> dict:
        res = self.registry.view_cleanup()
        for sig in res["removed"]:
            self._defs.pop(sig, None)
        return res

    # ------------------------------------------------------------------
    # query
    # ------------------------------------------------------------------

    def query(self, fun: Any, *, doc_tables: list[str] | None = None,
              **opts: Any) -> QueryResult:
        return self.query_batch(fun, [opts], doc_tables=doc_tables)[0]

    def query_batch(self, fun: Any, queries: list[dict], *,
                    doc_tables: list[str] | None = None
                    ) -> list[QueryResult]:
        """CouchDB multi-query (`POST …/_view` body ``{queries:[…]}``):
        run several option sets against ONE view in one call.

        The Spark win over N separate ``query()`` calls: the refresh
        (at most one maintenance pass, not N) and the LSM view assembly
        are shared — every sub-query's plan branches off the same
        assembled frame, so a persisted index is consulted exactly the
        way the reference serves a batched request.  Each sub-query
        keeps fully independent options (range, grouping, pagination,
        include_docs), and all option sets are validated up front so a
        malformed entry fails the whole batch before any work
        (upstream parity: the request is rejected as a unit)."""
        vdef, persisted = self._resolve(fun)
        check_reduce(vdef.reduce_def)
        has_reduce = vdef.reduce_def is not None
        olist = [
            options_from(q).validated(has_reduce=has_reduce)
            for q in queries
        ]

        last_seq: int | None = None
        stats: dict | None = None
        one = False
        if persisted:
            # only the default staleness mode refreshes before the read;
            # stale='ok' and stale='update_after' both serve the current
            # index immediately (upstream parity — update_after refreshes
            # once, after the response is assembled, see below)
            if any(o.stale is None for o in olist):
                self.update_view(vdef)
            entry = self.registry.get_view(vdef.sig)
            # one decision per batch, from registry row counts (stats
            # are None after a crashed compaction)
            one = sizing.one_task_view(entry)
            view = self._assemble_view(vdef.sig, one)
            stats = (entry or {}).get("stats")
            last_seq = entry["last_seq"] if entry else 0
        else:
            view = self._build(vdef, self._source_df(vdef))[0]

        results = [
            self._run_query(
                vdef, view, o, stats,
                last_seq if o.update_seq else None, doc_tables, one,
            )
            for o in olist
        ]
        if persisted and any(o.stale == "update_after" for o in olist):
            self.update_view(vdef)  # refresh after; lazy dfs stay valid
        return results

    def _run_query(self, vdef: ViewDef, view: DataFrame,
                   o: QueryOptions, stats: dict | None,
                   upd_seq: int | None,
                   doc_tables: list[str] | None,
                   one: bool) -> QueryResult:
        """One sub-query over the assembled ``view``.  ``one``: the view
        was assembled in one task (``_assemble_view``), so a map
        query's fused sorts — over the view, and over its doc join —
        coalesce instead of paying a ``repartition(1)`` exchange."""
        will_reduce = (
            vdef.reduce_def is not None if o.reduce is None else o.reduce
        )
        if will_reduce:
            if vdef.reduce_def == "_sum" and vdef.sum_statically_invalid:
                # structured views emit value_num/value_num_arr as
                # LITERAL NULL columns when the value kind is not
                # numeric, and Catalyst folds the runtime value guard
                # away with them (when(guard, NULL) → NULL) — so the
                # upstream builtin_reduce_error must be raised here,
                # before any job, from the static value kinds
                raise BuiltInError(
                    "builtin_reduce_error: _sum requires numbers or "
                    "arrays of numbers"
                )
            red = query_reduced(
                view, o, vdef.reduce_def, value_hint=vdef.value_hint,
                observed_width=(
                    stats.get("sum_w") if stats is not None else None
                ),
                keys_bound=(
                    stats.get("keys") if stats is not None else None
                ),
            )
            res = QueryResult(
                red.select(*REDUCED_RESULT_COLS),
                offset=o.skip,
                reduced=True,
                update_seq=upd_seq,
            )
        else:
            rows_bound = stats.get("rows") if stats is not None else None
            rows = query_map(view, o, rows_bound=rows_bound, narrow=one)
            keep_ord = "_key_ord" in rows.columns
            if o.include_docs:
                docs = self._docs_for_join(
                    [vdef.table] + (doc_tables or []),
                    conflicts=o.conflicts,
                    attachments=o.attachments,
                )
                # an applied limit statically bounds the id set we'd
                # broadcast; key=/keys= lookups WITHOUT a limit are
                # bounded by the predicate but not statically, so the
                # prune decision is left to AQE at runtime (no extra
                # driver-side cardinality-probe job — a hot key
                # matching millions degrades to the shuffled semi,
                # which is correct at that size)
                if o.limit is not None and o.limit <= 10_000:
                    prune = "broadcast"
                elif rows_bound is not None and rows_bound <= 100_000:
                    # the id set is bounded by the (small) view itself:
                    # static broadcast skips the AQE measurement
                    # round-trip; past 100k ids the broadcast fan-out
                    # cost at cluster scale outweighs it → adaptive
                    prune = "broadcast"
                elif o.key is not UNSET or o.keys is not UNSET:
                    prune = "adaptive"
                else:
                    prune = "none"
                rows = attach_docs(rows, docs, prune=prune)
                if o.sorted or keep_ord:
                    order = (
                        [F.col("_key_ord")] if keep_ord else []
                    ) + row_order(o.descending)
                    # post-join row count ≤ index rows (left join on a
                    # unique doc id); an applied limit tightens it
                    b = rows_bound
                    if o.limit is not None:
                        b = o.limit if b is None else min(b, o.limit)
                    rows = fused_sort(rows, order, b, narrow=one)
                cols = MAP_RESULT_COLS + ["doc_json"]
            else:
                cols = MAP_RESULT_COLS
            res = QueryResult(
                rows.select(*cols),
                offset=o.skip,
                total_rows_df=view,
                total_rows_value=(
                    stats["rows"] if stats is not None else None
                ),
                update_seq=upd_seq,
            )
        return res

    def explain(self, fun: Any, *, mode: str = "formatted",
                doc_tables: list[str] | None = None,
                **opts: Any) -> str:
        """The physical plan of a query, without executing it.

        Spark-first observability parity with ``EXPLAIN``: lets users
        verify the properties this engine promises — range predicates
        reaching the parquet scan as PushedFilters, broadcast
        semi-join doc fetches, partial aggregation below the exchange
        — for THEIR view and options.  ``mode``: 'simple' |
        'extended' | 'codegen' | 'cost' | 'formatted'."""
        opts.setdefault("stale", "ok")  # observational: never refresh
        res = self.query(fun, doc_tables=doc_tables, **opts)
        jvm = self.spark.sparkContext._jvm
        return jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
            .explainString(res.df._jdf.queryExecution(), mode)

    def info(self, view_name: str) -> dict:
        """View-index metadata (CouchDB ``GET _design/…/_info``
        ``view_index`` shape): signature, update_seq, sizes, layer
        depth.  Answers purely from the registry + a directory walk —
        zero Spark jobs."""
        vdef, _ = self._resolve(view_name)
        entry = self.registry.get_view(vdef.sig)
        built = entry is not None and (
            entry["base"] is not None or entry["layers"]
        )
        file_bytes = 0
        if built:
            vdir = self.registry.view_dir(vdef.sig)
            for root, _dirs, files in os.walk(vdir):
                for f in files:
                    try:
                        file_bytes += os.path.getsize(
                            os.path.join(root, f)
                        )
                    except OSError:
                        pass
        stats = (entry or {}).get("stats") or {}
        return {
            "signature": vdef.sig,
            # ddoc language: javascript when the map runs on the
            # statement interpreter, whose repr is
            # ``JSMapFunctionFull(<source>)`` — a Variant view's repr
            # copies it (VariantJSView.fallback_repr); MapSpec views,
            # compiled-from-JS ones too, report "query" (the
            # Mango-style declarative class); Python callables report
            # python
            "language": (
                "javascript"
                if "JSMapFunctionFull(" in repr(vdef.map_def)
                else "query" if isinstance(
                    vdef.map_def, (MapSpec, list)
                )
                else "python"
            ),
            "update_seq": entry["last_seq"] if entry else 0,
            "sizes": {
                "file": file_bytes,
                "active": stats.get("rows", 0) if built else 0,
            },
            "updater_running": False,  # update_view is synchronous
            "compact_running": False,
            "layer_count": len(entry["layers"]) if entry else 0,
            "compacted_version": (
                entry["base_version"] if entry else 0
            ),
        }

    def _resolve(self, fun: Any) -> tuple[ViewDef, bool]:
        if isinstance(fun, str):
            ddoc, _, view = fun.partition("/")
            if not view:
                ddoc, view = fun, fun
            sig = self.registry.resolve(ddoc, view)
            if sig is None or sig not in self._defs:
                raise NotFoundError(
                    "missing_named_view",
                    reason=f"ddoc {ddoc!r} has no view {view!r}",
                )
            return self._defs[sig], True
        # temporary view (S7): ephemeral, never persisted
        if isinstance(fun, dict):
            return ViewDef(
                self._normalize_map(fun["map"], allow_variant=False),
                self._normalize_reduce(fun.get("reduce"))), False
        if isinstance(fun, (MapSpec, list, tuple)):
            return ViewDef(
                self._normalize_map(fun, allow_variant=False)), False
        raise QueryParseError(f"cannot resolve view from {fun!r}")

    # ------------------------------------------------------------------
    # build / refresh / assemble
    # ------------------------------------------------------------------

    def _source_df(self, vdef: ViewDef, *, since: int | None = None,
                   to_seq: int | None = None) -> DataFrame:
        """Raw-schema source rows (the changes-feed scan, S1).

        The exact seq filter applies always; for composite seq
        expressions a conservative single-column bound
        (DocTable.seq_lo_pred/seq_hi_pred) is layered on top so the
        scan gets parquet row-group pruning — without it an
        incremental refresh of a multi-column-seq table reads the
        whole table at 100 TB (arithmetic predicates never reach
        PushedFilters)."""
        t = TABLES[vdef.table]
        df = self._load_table(vdef.table)
        if since is not None:
            df = df.filter(F.expr(t.seq_expr).cast("long") > since)
            if t.seq_lo_pred:
                df = df.filter(
                    F.expr(t.seq_lo_pred.format(seq=int(since)))
                )
        if to_seq is not None:
            df = df.filter(F.expr(t.seq_expr).cast("long") <= to_seq)
            if t.seq_hi_pred:
                df = df.filter(
                    F.expr(t.seq_hi_pred.format(seq=int(to_seq)))
                )
        return df

    def _pre_map(self, t: Any, raw_df: DataFrame) -> DataFrame:
        """Doc-space normalization before any map fn sees a row.

        A raw source is a changes LOG: several versions of a doc may
        coexist (edits append, deletes are tombstone rows).  CouchDB's
        by-seq indexer sees each doc once at its latest rev, so
        collapse to latest-per-_id before mapping — one shuffle on
        _id, the inherent cost of log compaction (fixture tables are
        snapshots: exactly one row per pk, no collapse needed).
        Applies per refresh batch too: two edits of one doc in a batch
        emit only the newer.  Deleted docs never reach a map fn."""
        raw_df = self._collapse_latest(t, raw_df)
        if "_deleted" in raw_df.columns:
            raw_df = raw_df.filter(
                ~F.coalesce(F.col("_deleted"), F.lit(False))
            )
        return raw_df

    def _collapse_latest(self, t: Any, raw_df: DataFrame) -> DataFrame:
        """Latest row per ``_id`` for changes-log tables (KEEPING
        deleted-doc tombstone rows — ``_refresh_frame`` needs their ids
        for tombstoning even though they never reach a map fn)."""
        if t.raw_json:
            w = Window.partitionBy("_id").orderBy(
                F.expr(t.seq_expr).cast("long").desc()
            )
            raw_df = (
                raw_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        return raw_df

    def _map_input(self, src: DataFrame,
                   prep: Callable[[DataFrame], DataFrame]
                   ) -> tuple[DataFrame, int]:
        """A map phase's input: ``prep`` (the latest-per-``_id``
        collapse) over ``src``, sized by ``sizing.scan_width``; returns
        the rows and that width.  One task (width 1): the scan is
        coalesced below ``prep``, so the collapse, the map and the write
        above share one partition with no exchange on any tier.  A
        spread (width > 1) repartitions above ``prep``; width 0 keeps
        the scan's partitions."""
        width = sizing.scan_width(src)
        src = prep(src.coalesce(1) if width == 1 else src)
        return (src.repartition(width) if width > 1 else src), width

    def _build(self, vdef: ViewDef,
               raw_df: DataFrame) -> tuple[DataFrame, int]:
        """Run the map phase over raw-schema rows (non-deleted only);
        returns the emit rows and their ``sizing.scan_width`` (1: one
        task's).  Every tier takes the same sizing (``_map_input``)."""
        t = TABLES[vdef.table]
        raw_df, width = self._map_input(
            raw_df, lambda df: self._pre_map(t, df)
        )
        m = vdef.map_def
        if hasattr(m, "specs"):  # VariantJSView: compiled raw JS
            m = m.specs
        if isinstance(m, MapSpec):
            return build_view_structured_on(raw_df, m), width
        if isinstance(m, list):
            out = None
            for i, spec in enumerate(m):
                d = build_view_structured_on(raw_df, spec)
                if spec.explode is None:
                    d = d.withColumn("emit_ord", F.lit(i))
                out = d if out is None else out.unionByName(d)
            return out, width
        table, fn = m
        return build_view_python_on(raw_df, table, fn), width

    def update_view(self, vdef_or_name: Any,
                    changes: DataFrame | None = None,
                    to_seq: int | None = None) -> None:
        """Incremental view refresh (M1): map changed docs, tombstone
        their previous emits, append a (tomb, delta) layer; full build
        on first touch; compact when the layer stack grows.  The
        ``_update`` of one view.

        Variant-compiled raw-JS views (functions/jsvariant.py) are
        drift-guarded: a doc violating the sampled field contract
        raises mid-build, and the refresh transparently retries on the
        interpreter tier — the signature is source-derived and
        identical across tiers, so the persisted view (layers already
        written by the compiled tier are value-identical on the docs
        it accepted) simply continues under the swapped map fn."""
        vdef = (
            vdef_or_name
            if isinstance(vdef_or_name, ViewDef)
            else self._resolve(vdef_or_name)[0]
        )
        try:
            return self._update([vdef], changes, to_seq)
        except Exception as e:
            from mapreduce_spark.functions.jsvariant import (
                VariantJSView,
                is_drift_error,
            )

            m = vdef.map_def
            if not (isinstance(m, VariantJSView) and is_drift_error(e)):
                raise
            log.warning(
                "raw-doc contract drift in view %s; retrying this "
                "refresh on the interpreter tier: %s",
                vdef.sig, str(e)[:200],
            )
            from mapreduce_spark.functions.jscompile import (
                compile_js_map_fn,
            )

            vdef.map_def = (m.table, compile_js_map_fn(m.source))
            return self._update([vdef], changes, to_seq)

    def _update(self, vdefs: list[ViewDef],
                changes: DataFrame | None = None,
                to_seq: int | None = None) -> None:
        """Build or refresh K ≥ 1 views over one table as one group
        (``update_view``: one view; ``refresh_ddoc``: a table's fusable
        views).  Under the views' locks it splits them by built state:
        the unbuilt ones take ``_first_build``, the built ones
        ``_refresh``, so a view another caller built since the group
        was formed simply refreshes.  ``changes`` (``update_view``'s,
        so K = 1) replaces the source scan with the caller's batch."""
        sigs = [v.sig for v in vdefs]
        with ExitStack() as held:
            # sorted + deduped: the per-sig lock is non-reentrant, and
            # one order keeps overlapping groups from deadlocking
            for sig in sorted(set(sigs)):
                held.enter_context(self.registry.view_lock(sig))
            entries = [self.registry.ensure_view(s) for s in sigs]
            built = [e["base"] is not None or bool(e["layers"])
                     for e in entries]
            for state, step in ((False, self._first_build),
                                (True, self._refresh)):
                sub = [i for i, b in enumerate(built) if b == state]
                if sub:
                    step([vdefs[i] for i in sub], [entries[i] for i in sub],
                         changes, to_seq)

    def _first_build(self, vdefs: list[ViewDef], entries: list[dict],
                     changes: DataFrame | None,
                     to_seq: int | None) -> None:
        """Write every view's first base from ONE scan of ``changes``,
        or of the source up to ``to_seq``, and commit its ``last_seq``.

        The map frame is the one step that depends on K: one view takes
        ``_build`` (every tier, WHERE pushed into the scan), more take
        ``_fused_frame`` (per-emit CASE guards replace the pushed-down
        WHERE: the scan must read rows other views keep anyway).  The
        seq checkpoint piggybacks on the scan (observe = zero extra
        pass; ``max`` is idempotent under the range path's re-runs of
        the scan, so the CollectMetrics accumulator stays correct)."""
        t = TABLES[vdefs[0].table]
        src = changes if changes is not None else self._source_df(
            vdefs[0], to_seq=to_seq
        )
        obs = Observation()
        src = src.observe(
            obs, F.max(F.expr(t.seq_expr).cast("long")).alias("mx")
        )
        if len(vdefs) == 1:
            frame, width = self._build(vdefs[0], src)
            frame = frame.withColumn("_vw", F.lit(0))
        else:
            src, width = self._map_input(
                src, lambda df: self._pre_map(t, df)
            )
            frame = self._fused_frame(vdefs, src)
        # above the one-task limit the range path's counts aggregation
        # and sampling pass each re-run the frame.  Cache its rows when
        # re-running is expensive: a map that ``_map_input`` spread, and
        # on the scan's own partitions the Python interpreter path (it
        # multiplies the dominant cost; measured 10.2 s → ~6 s for the
        # sf0.1 interpreted fixture view) or the fused frame (≈ Σ view
        # sizes of emit rows).  A single structured encode on its scan
        # splits re-runs a cheap columnar scan; the persist would only
        # spend memory on it.
        m = vdefs[0].map_def
        heavy = len(vdefs) > 1 or (isinstance(m, tuple) and callable(m[1]))
        cache = width > 1 or (width == 0 and heavy)
        if cache:
            frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            self._write_bases(
                frame, [(v.sig, e) for v, e in zip(vdefs, entries)],
                width == 1,
            )
        finally:
            if cache:
                frame.unpersist()
        mx = int((observed(obs) or {}).get("mx") or 0)
        for vdef, entry in zip(vdefs, entries):
            entry["last_seq"] = mx
            self.registry.set_view(vdef.sig, entry)

    def _refresh(self, vdefs: list[ViewDef], entries: list[dict],
                 changes: DataFrame | None, to_seq: int | None) -> None:
        """Append a (delta, lcounts) layer to every view the batch
        changed, from ONE write of ``_refresh_frame`` over ``changes``
        or the changes since the oldest ``last_seq``: the write lays out
        each view's delta (``_vw`` = i) beside the changed ids
        (``_vw`` = -1), and the probe (did anything change? the new
        checkpoint seq, each view's changed-id count and their [lo, hi]
        for ``_write_lcounts``' pruning, the delta stats) rides it as
        one Observation, so no piece of the refresh re-reads the source.
        ``_append_layer`` then reads each view's ids from that small
        file and commits its layer."""
        last_seqs = [int(e["last_seq"]) for e in entries]
        since = None if changes is not None else min(last_seqs)
        src = changes if changes is not None else self._source_df(
            vdefs[0], since=since, to_seq=to_seq
        )
        frame = self._refresh_frame(vdefs, src, last_seqs)
        is_id = F.col("_vw") == -1
        metrics = [F.max(F.when(is_id, F.col("value_num"))).alias("mx")]
        for i, ls in enumerate(last_seqs):
            vw = F.col("_vw") == i
            # explicit changes frames are the caller's batch as-is
            # (tombstone regardless of seq)
            changed = is_id if since is None else (
                is_id & (F.col("value_num") > ls)
            )
            metrics += [
                F.count(F.when(vw, 1)).alias(f"rows{i}"),
                F.max(F.when(vw, F.size("value_num_arr"))).alias(f"w{i}"),
                F.approx_count_distinct(F.when(vw, F.col("key_enc")))
                .alias(f"keys{i}"),
                F.count(F.when(changed, 1)).alias(f"n{i}"),
                F.min(F.when(changed, F.col("id"))).alias(f"lo{i}"),
                F.max(F.when(changed, F.col("id"))).alias(f"hi{i}"),
            ]
        obs = Observation()
        tmp = tempfile.mkdtemp(prefix="refresh-",
                               dir=self.registry.storage_dir)
        try:
            (
                frame.observe(obs, *metrics)
                .write.partitionBy("_vw").mode("overwrite").parquet(tmp)
            )
            m = observed(obs)
            if m is None:  # empty batch folded away (see observed())
                return
            ns = [int(m[f"n{i}"] or 0) for i in range(len(vdefs))]
            for i, (vdef, entry) in enumerate(zip(vdefs, entries)):
                if not ns[i]:
                    continue
                batch = entry["next_batch"]
                self._take_part(
                    os.path.join(tmp, f"_vw={i}"),
                    os.path.join(self.registry.view_dir(vdef.sig),
                                 f"delta-{batch}"),
                )
                ids = self.spark.read.schema(
                    "id string, value_num double"
                ).parquet(os.path.join(tmp, "_vw=-1"))
                if since is not None and last_seqs[i] > since:
                    # a later checkpoint than the scan's start
                    ids = ids.filter(F.col("value_num") > last_seqs[i])
                # the view with the oldest checkpoint counts every id
                # row: max(ns) bounds the rows of the ids file
                self._append_layer(
                    vdef.sig, entry, batch, ids.select("id"), max(ns),
                    (m[f"lo{i}"], m[f"hi{i}"]), int(m["mx"] or 0),
                    {k: m[f"{k}{i}"] for k in ("rows", "w", "keys")},
                )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def _refresh_frame(self, vdefs: list[ViewDef], src: DataFrame,
                       last_seqs: list[int]) -> DataFrame:
        """A refresh's write frame over ``src``: view i's emits tagged
        ``_vw`` = i, and ``_vw`` = -1 rows holding each changed doc's id
        and its seq in ``value_num`` (deleted docs included: they
        tombstone without emitting).

        One view: ``_build``'s emits (every tier, WHERE pushed into the
        scan) beside one id row per source row.  More: ``_fused_frame``
        over the latest-per-``_id`` collapse of the one scan, each
        view's emits guarded by not-deleted ∧ ``seq > last_seq_i`` (so
        views at unequal checkpoints share the scan), with one id
        sentinel per doc in the same emit array."""
        t = TABLES[vdefs[0].table]
        seq = F.expr(t.seq_expr).cast("long")
        if len(vdefs) == 1:
            emits, width = self._build(vdefs[0], src)
            ids = src.select(doc_id_col(t.name).alias("id"),
                             seq.cast("double").alias("value_num"),
                             F.lit(-1).alias("_vw"))
            frame = emits.withColumn("_vw", F.lit(0)).unionByName(
                ids, allowMissingColumns=True
            )
            # _build coalesced the emit branch below its collapse; this
            # folds the id branch's scan splits into that task
            return frame.coalesce(1) if width == 1 else frame
        collapsed, _ = self._map_input(
            src,
            lambda df: self._collapse_latest(t, df.withColumn("_fseq", seq)),
        )
        live = F.lit(True)
        if "_deleted" in collapsed.columns:
            live = ~F.coalesce(F.col("_deleted"), F.lit(False))
        guards = [live & (F.col("_fseq") > ls) for ls in last_seqs]
        id_cols = {
            "id": doc_id_col(t.name),
            "emit_ord": F.lit(0),
            "key_enc": F.lit(""),
            "key_json": F.lit("null"),
            "value_num": F.col("_fseq").cast("double"),
        }
        sentinel = F.struct(
            F.lit(-1).alias("_vw"),
            *[
                id_cols.get(f.name, F.lit(None))
                .cast(f.dataType).alias(f.name)
                for f in VIEW_SCHEMA.fields
            ],
        )
        return self._fused_frame(
            vdefs, collapsed, view_guards=guards, extra_entries=[sentinel],
        )

    def _take_part(self, part: str, dest: str,
                   schema: Any = VIEW_SCHEMA) -> None:
        """Move a partitioned write's partition ``part`` to ``dest``,
        replacing whatever a crashed attempt left there; an empty
        ``schema`` file when the write produced no such partition (no
        changed doc emitted, or a view whose guards matched nothing)."""
        shutil.rmtree(dest, ignore_errors=True)
        if os.path.isdir(part):
            os.rename(part, dest)
        else:
            self.spark.createDataFrame(
                [], schema
            ).write.mode("overwrite").parquet(dest)

    def _append_layer(self, sig: str, entry: dict, batch: int,
                      ids: DataFrame, n: int, bounds: tuple, mx: int,
                      delta: dict) -> None:
        """Commit a refresh batch whose ``delta-<batch>`` is written:
        its ``lcounts-<batch>`` file (emit counts and tombstone ids,
        ``_write_lcounts``), the layer, ``last_seq`` and stats, then a
        full compaction (``_compact``) once the stack reaches
        ``compact_after``.

        ``ids`` are the batch's changed doc ids (duplicates allowed,
        possibly filtered from a larger file), ``n`` bounds the rows
        ``ids`` scans, ``bounds`` = their (min, max) and ``delta`` =
        the delta write's observed (rows, w, keys).  The layer records
        ``rows`` (delta rows) and ``n`` (bounds its lcounts rows): with
        ``base_rows`` they bound what later writes scan
        (``sizing.registry_rows``).

        A refresh that is about to compact skips the superseded-row
        count: ``_compact`` re-observes exact stats, so the layer is
        recorded with ``stats=None`` (unknown; readers fall back to a
        count) rather than a row total that omits the rows this batch
        supersedes — a crash before the compaction lands leaves an
        honest registry.  So does a refresh of a base with no counts
        file (storage written before bases carried one): the next
        compaction writes both, and exact stats."""
        vdir = self.registry.view_dir(sig)
        compacts = len(entry["layers"]) + 1 >= self.compact_after
        counted = entry["base"] is None or entry.get("counts")
        prev = None if compacts or not counted else entry.get("stats")
        delta_rows = int(delta["rows"] or 0)
        removed = self._write_lcounts(
            entry, vdir, batch, ids, n, bounds, delta_rows,
            prior=prev is not None,
        )
        entry["layers"].append(
            {"batch": batch, "delta": f"delta-{batch}",
             "lcounts": f"lcounts-{batch}", "rows": delta_rows, "n": n}
        )
        entry["next_batch"] = batch + 1
        entry["last_seq"] = max(entry["last_seq"], mx)
        entry["stats"] = None if prev is None else {
            "rows": prev["rows"] + delta_rows - removed,
            # max over live pieces; exact width is re-observed at every
            # compaction (see _compact)
            "sum_w": max(
                prev["sum_w"],
                int(delta["w"]) if delta["w"] is not None else -1,
            ),
            # additive distinct-key upper bound (deletes only shrink
            # the distinct set); compaction re-observes the exact
            # layout and tightens it
            "keys": (
                prev["keys"] + int(delta["keys"] or 0)
                if prev.get("keys") is not None else None
            ),
        }
        self.registry.set_view(sig, entry)
        if compacts:
            self._compact(sig, entry)

    # ------------------------------------------------------------------
    # base writes: every base version lands with its per-doc counts
    # ------------------------------------------------------------------

    def _write_bases(self, frame: DataFrame,
                     views: list[tuple[str, dict]], one: bool) -> None:
        """Write the next base version of every view in ``views``
        (``(sig, entry)``; view ``i``'s rows are ``frame``'s with
        ``_vw`` = i) and point each entry at it, in memory: the caller
        sets ``last_seq`` if it moves and commits with ``set_view``.

        It lays out, per view, ``base-v<N+1>`` sorted by (key_enc, id)
        so Parquet row-group min/max stats give index-like range pruning
        (X1/X3), and ``counts-base-v<N+1>``, the per-doc emit counts
        (id, n) sorted by id so a refresh's superseded-row lookup prunes
        by id (``_count_pieces``; the reference keeps the same per-doc
        emit bookkeeping in its index metadata).  A base carries an
        all-null ``n`` column, and a counts file may carry all-null view
        columns; every reader projects its own schema.

        ``one`` (the caller's map or fold already runs in one task,
        ``sizing.scan_width`` / ``sizing.one_task_view``): ONE write of
        one task lays out both — a ``count(*)`` window by (``_vw``, id)
        and one explode of [view row, counts row on each id's first row]
        feed one sort, so the plan has no exchange and runs ``frame`` once.
        Otherwise the bases are range-partitioned by key (the
        partitioner's sampling pass re-runs ``frame``, so a caller whose
        frame is costly to recompute persists it first), then an
        id-only pass per view over the files just written aggregates
        its counts (``_write_base_counts``).  Folding that aggregation into the range write (a union
        under the one exchange) cost more executor CPU (sf0.1 lineitem,
        local[4], median of 3): first build 16.8 vs 11.5 s, compaction
        12.3 vs 5.8 s.

        The entry's stats are observed on the write itself: exact row
        count, max ``value_num_arr`` width, and an HLL distinct-key
        ESTIMATE (default rsd ≈5%, not a bound in either direction)
        that feeds only the small-result sort-fusion gate
        (operators/query.fused_sort), which picks between two CORRECT
        plans.  On the range path the observation sits above the
        exchange, so the sampling pass never double-counts.  The
        superseded base, counts and layers become garbage: GC is
        deferred (``vacuum``) so lazy DataFrames handed out before the
        write stay valid."""
        cols = VIEW_SCHEMA.fieldNames()
        rows = frame.select(
            "_vw", *cols, F.lit(0).alias("_c"),
            F.lit(None).cast("long").alias("n"),
        )
        if one:
            by_id = Window.partitionBy("_vw", "id").orderBy("emit_ord")
            rows = rows.coalesce(1).select(
                "*",
                F.count(F.lit(1)).over(by_id.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )).alias("_n"),
                F.row_number().over(by_id).alias("_rn"),
            )
            count_row = {"_vw": F.col("_vw"), "id": F.col("id"),
                         "_c": F.lit(1), "n": F.col("_n")}
            counts = F.when(F.col("_rn") == 1, F.struct(*[
                count_row.get(f.name, F.lit(None)).cast(f.dataType)
                .alias(f.name)
                for f in rows.schema.fields if f.name not in ("_n", "_rn")
            ]))
            view = F.struct(*[
                F.col(c) for c in rows.columns if c not in ("_n", "_rn")
            ])
            out = (
                rows.select(F.explode(F.array(view, counts)).alias("r"))
                .filter(F.col("r").isNotNull())
                .select("r.*")
            )
        else:
            out = rows.repartitionByRange("_vw", "key_enc", "id")
        obs = Observation()
        metrics = []
        for i in range(len(views)):
            vw = (F.col("_vw") == i) & (F.col("_c") == 0)
            metrics += [
                F.count(F.when(vw, 1)).alias(f"rows{i}"),
                F.max(F.when(vw, F.size("value_num_arr"))).alias(f"w{i}"),
                F.approx_count_distinct(F.when(vw, F.col("key_enc")))
                .alias(f"keys{i}"),
            ]
        tmp = tempfile.mkdtemp(prefix="bases-",
                               dir=self.registry.storage_dir)
        try:
            out = out.observe(obs, *metrics)
            if one or len(views) > 1:
                (
                    out.sortWithinPartitions("_vw", "_c", "key_enc", "id",
                                             "emit_ord")
                    .write.partitionBy("_vw", "_c").mode("overwrite")
                    .parquet(tmp)
                )
            else:
                # one view's range write needs no partition columns: its
                # sort then leads with key_enc, whose prefix decides most
                # comparisons (a constant _vw first forces a full row
                # comparison on each)
                (
                    out.drop("_vw", "_c")
                    .sortWithinPartitions("key_enc", "id", "emit_ord")
                    .write.mode("overwrite")
                    .parquet(os.path.join(tmp, "_vw=0", "_c=0"))
                )
            # None: an empty frame folded away (see observed())
            m = observed(obs) or {}
            if not one:
                self._write_base_counts(tmp, [
                    (i, int(m.get(f"rows{i}") or 0))
                    for i in range(len(views))
                ])
            for i, (sig, entry) in enumerate(views):
                vdir = self.registry.view_dir(sig)
                os.makedirs(vdir, exist_ok=True)
                version = entry["base_version"] + 1
                base_rel = f"base-v{version}"
                part = os.path.join(tmp, f"_vw={i}")
                self._take_part(os.path.join(part, "_c=0"),
                                os.path.join(vdir, base_rel), VIEW_SCHEMA)
                self._take_part(os.path.join(part, "_c=1"),
                                os.path.join(vdir, f"counts-{base_rel}"),
                                "id string, n long")
                old = [entry["base"], entry.get("counts")]
                for l in entry["layers"]:
                    old += [l["delta"], l["lcounts"]]
                rows_i = int(m.get(f"rows{i}") or 0)
                w = m.get(f"w{i}")
                entry.update(
                    base=base_rel, base_version=version,
                    counts=f"counts-{base_rel}", layers=[],
                    base_rows=rows_i,
                    stats={"rows": rows_i,
                           "sum_w": int(w) if w is not None else -1,
                           "keys": int(m.get(f"keys{i}") or 0)},
                    garbage=entry.get("garbage", [])
                    + [rel for rel in old if rel],
                )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def _write_base_counts(self, tmp: str,
                           rows: list[tuple[int, int]]) -> None:
        """The range path's counts pass (``_write_bases``): for each
        view (``(_vw, rows)`` pairs) read the id column of the base just
        written under ``tmp`` and write its (id, n) counts beside it,
        id-sorted.  A base of at most ``sizing.ONE_FILE_MAX_ROWS`` rows
        is counted by one task with no exchange (``sizing.one_task``), a
        larger one range-partitioned by id."""
        for i, n in rows:
            if not n:
                continue
            ids = self.spark.read.schema("id string").parquet(
                os.path.join(tmp, f"_vw={i}", "_c=0")
            )
            one = sizing.one_task(n, sizing.ONE_FILE_MAX_ROWS)
            if one:
                ids = ids.coalesce(1)
            counts = ids.groupBy("id").agg(
                F.count(F.lit(1)).cast("long").alias("n")
            )
            if not one:
                counts = counts.repartitionByRange("id")
            counts.sortWithinPartitions("id").write.mode(
                "overwrite"
            ).parquet(os.path.join(tmp, f"_vw={i}", "_c=1"))

    # ------------------------------------------------------------------
    # per-doc emit-count metadata (O(changes) refresh accounting)
    # ------------------------------------------------------------------

    def _count_pieces(self, entry: dict, vdir: str) -> list:
        """(id, n, _rk) live emit counts per piece, oldest first: the
        base counts file (``_write_bases``) at rank 0, each layer's
        lcounts at rank = its batch number.  The newest piece holding a
        doc has its live emit count."""
        if entry["base"] is None:
            base = self.spark.createDataFrame([], "id string, n long")
        else:
            base = self.spark.read.schema("id string, n long").parquet(
                os.path.join(vdir, entry["counts"])
            )
        pieces = [base.withColumn("_rk", F.lit(0).cast("long"))]
        for l in entry["layers"]:
            pieces.append(
                self.spark.read.schema("id string, n long")
                .parquet(os.path.join(vdir, l["lcounts"]))
                .withColumn("_rk", F.lit(l["batch"]).cast("long"))
            )
        return pieces

    def _write_lcounts(self, entry: dict, vdir: str, batch: int,
                       ids: DataFrame, n: int, bounds: tuple,
                       delta_rows: int, prior: bool) -> int:
        """Write ``lcounts-<batch>``, the batch's (id, n) file, and
        return the rows the batch supersedes (0 unless ``prior``).

        ONE file serves two roles: the n ≥ 0 per-doc emit counts
        (later refreshes look up superseded rows in O(changes) instead
        of scanning the view) and the doc-id tombstone set — the
        tombstone ids are exactly its id column (n = 0 rows are
        deletes / no-longer-emitting docs), and every tombstone reader
        projects ``schema("id string")`` so column pruning never
        materializes n.

        One aggregation computes both: (changed ids, n=0) ∪ (delta
        rows, n=1) ∪ (prior count pieces, n=0) → groupBy(id) gives the
        new count ``sum(n)`` and the live pre-batch count ``prev`` =
        the newest piece's n; ``Σ prev`` rides the write as an
        Observation.  Duplicate ids only add zeros.  When the rows it
        scans (``n`` ids, ``delta_rows``, the pieces'
        ``sizing.registry_rows``) add up to at most
        ``sizing.ONE_FILE_MAX_ROWS``, it aggregates in one task with no
        exchange (``sizing.one_task``); otherwise the scans run in
        parallel, and a batch of at most that many ids still writes
        one file.  With ``prior`` the pieces are first
        cut to the batch's [lo, hi] (parquet row-group pruning on the
        id-sorted counts files) and semi-joined to the changed ids
        map-side, so the aggregation input stays O(changes × layer
        depth).  The semi-join broadcasts the ids: an ``isin`` of k
        literal ids costs O(k) in plan compile (measured 0.7 s at 1k
        ids, 50 s at 100k, PLANS.md round 7) while the broadcast stays
        flat; past ``_BROADCAST_MAX_IDS`` it shuffles instead."""
        lo, hi = bounds
        pc = "struct<_rk:long,pn:long>"
        parts = [
            ids.select("id", F.lit(0).cast("long").alias("n"),
                       F.lit(None).cast(pc).alias("_pc")),
            self.spark.read.schema(VIEW_SCHEMA)
            .parquet(os.path.join(vdir, f"delta-{batch}"))
            .select("id", F.lit(1).cast("long").alias("n"),
                    F.lit(None).cast(pc).alias("_pc")),
        ]
        scanned = [n, delta_rows]
        if prior and lo is not None:
            scanned.append(sizing.registry_rows(entry, "n"))
            pieces = self._count_pieces(entry, vdir)
            allc = pieces[0]
            for p in pieces[1:]:
                allc = allc.unionByName(p)
            allc = allc.filter(F.col("id").between(lo, hi)).join(
                F.broadcast(ids) if n <= _BROADCAST_MAX_IDS else ids,
                "id", "left_semi",
            )
            parts.append(allc.select(
                "id", F.lit(0).cast("long").alias("n"),
                F.struct("_rk", F.col("n").alias("pn")).alias("_pc"),
            ))
        lc = parts[0]
        for p in parts[1:]:
            lc = lc.unionByName(p)
        one = sizing.one_task(
            None if None in scanned else sum(scanned),
            sizing.ONE_FILE_MAX_ROWS,
        )
        if one:
            # typical refresh: one task, no exchange, one small file
            lc = lc.coalesce(1)
        lc = lc.groupBy("id").agg(
            F.sum("n").cast("long").alias("n"),
            F.max("_pc").getField("pn").alias("prev"),
        )
        obs = Observation()
        lc = lc.observe(obs, F.sum("prev").alias("removed"))
        if not one and n <= sizing.ONE_FILE_MAX_ROWS:
            lc = lc.coalesce(1)
        lc.select("id", "n").write.mode("overwrite").parquet(
            os.path.join(vdir, f"lcounts-{batch}")
        )
        return int((observed(obs) or {}).get("removed") or 0)

    def _compact(self, sig: str, entry: dict) -> None:
        """Fold base+layers into a new base version and its counts
        (X7 auto_compaction, ``_write_bases``).

        The fold scans the base and every delta: their registry row
        counts pick one plan for the assembly and the write
        (``sizing.one_task_view``), so a small fold is one task."""
        one = sizing.one_task_view(entry)
        self._write_bases(
            self._assemble_view(sig, one).withColumn("_vw", F.lit(0)),
            [(sig, entry)], one,
        )
        self.registry.set_view(sig, entry)

    def compact(self, view_name_or_sig: str) -> dict:
        """Full compaction on demand (CouchDB ``POST _compact/<ddoc>``
        parity): fold base+layers into one fresh sorted base version,
        the fold a refresh runs once the stack reaches
        ``compact_after``.  Returns {"base_version": new}."""
        sig = (
            view_name_or_sig
            if view_name_or_sig in (self.registry._read()["views"])
            else self._resolve(view_name_or_sig)[0].sig
        )
        with self.registry.view_lock(sig):
            entry = self.registry.get_view(sig)
            if entry is None or (entry["base"] is None
                                 and not entry["layers"]):
                raise NotFoundError("no_base_to_compact", reason=sig)
            self._compact(sig, entry)
            return {"base_version": entry["base_version"]}

    def vacuum(self, sig: str | None = None) -> None:
        """Delete storage versions orphaned by compaction."""
        state = self.registry._read()
        sigs = [sig] if sig else list(state["views"])
        for s in sigs:
            entry = state["views"].get(s)
            if not entry:
                continue
            vdir = self.registry.view_dir(s)
            for rel in entry.get("garbage", []):
                shutil.rmtree(os.path.join(vdir, rel), ignore_errors=True)
            entry["garbage"] = []
            self.registry.set_view(s, entry)

    def _assemble_view(self, sig: str,
                       one: bool | None = None) -> DataFrame:
        """Effective view = ((base ⊖ t1) ⊕ d1) ⊖ t2 ⊕ d2 … — a row of
        the base (batch 0) or of delta ``b`` survives unless a
        strictly later tombstone (batch > b) holds its id.

        Two plans, picked by ``one`` (None: ``sizing.one_task_view`` of
        the registry entry):

        - one task: base, deltas and tombstone ids unioned and
          coalesced to ONE partition; ``max(tombstone batch)`` over a
          window by id keeps exactly the rows no later tombstone holds.
          A window's single child satisfies its distribution, so the
          plan has no exchange and no broadcast.  For views of at most
          ``sizing.ONE_TASK_VIEW_MAX_ROWS`` scanned rows
          (``sizing.registry_rows``).
        - parallel: each piece anti-joined against a broadcast of the
          strictly-later tombstone ids (per-batch changed-doc ids, so
          small), one broadcast job per piece.  Larger views and
          storage without registry row counts."""
        entry = self.registry.get_view(sig)
        vdir = self.registry.view_dir(sig)
        if entry is None or (entry["base"] is None and not entry["layers"]):
            return self.spark.createDataFrame([], VIEW_SCHEMA)
        if one is None:
            one = sizing.one_task_view(entry)
        # schemas are static (VIEW_SCHEMA / id-only tombstones): passing
        # them explicitly skips parquet footer inference — otherwise
        # every assemble runs a schema-read job before any query work
        read_view = self.spark.read.schema(VIEW_SCHEMA).parquet
        if entry["base"]:
            base = read_view(os.path.join(vdir, entry["base"]))
        else:
            base = self.spark.createDataFrame([], VIEW_SCHEMA)
        layers = entry["layers"]
        if not one:
            if not layers:
                return base
            # every tombstone is later than the base (batches count
            # from 1); a delta only loses ids to strictly later ones
            tombs = self._tomb_ids(entry, vdir)
            out = base.join(
                F.broadcast(tombs.select("id")), "id", "left_anti"
            )
            for l in layers:
                later = tombs.filter(F.col("_tb") > l["batch"])
                out = out.unionByName(
                    read_view(os.path.join(vdir, l["delta"])).join(
                        F.broadcast(later.select("id")), "id", "left_anti"
                    )
                )
            return out
        if not layers:
            return base.coalesce(1)
        out = base.withColumn("_b", F.lit(0))
        for l in layers:
            out = out.unionByName(
                read_view(os.path.join(vdir, l["delta"]))
                .withColumn("_b", F.lit(l["batch"]))
            )
        out = out.unionByName(
            self._tomb_ids(entry, vdir), allowMissingColumns=True
        ).coalesce(1)
        out = out.withColumn(
            "_lt", F.max("_tb").over(Window.partitionBy("id"))
        )
        return out.filter(
            F.col("_b").isNotNull()
            & (F.coalesce(F.col("_lt"), F.lit(-1)) <= F.col("_b"))
        ).select(*VIEW_SCHEMA.fieldNames())

    def _tomb_ids(self, entry: dict, vdir: str) -> DataFrame:
        """Every layer's tombstone ids, ``_tb`` = the layer's batch."""
        tombs = None
        for l in entry["layers"]:
            t = self.spark.read.schema("id string").parquet(
                os.path.join(vdir, l["lcounts"])
            ).withColumn("_tb", F.lit(l["batch"]))
            tombs = t if tombs is None else tombs.unionByName(t)
        return tombs

    # ------------------------------------------------------------------
    # docs join side (J1/J2)
    # ------------------------------------------------------------------

    def _load_table(self, name: str) -> DataFrame:
        """A fresh read of the raw table — cheap per query because
        :func:`load_table` caches the footer SCHEMA per path (the
        part that costs a Spark job) while re-listing files, so
        appended changes-feed batches stay visible."""
        return load_table(self.spark, self.sf_dir, name)

    def _docs_for_join(self, tables: list[str],
                       *, conflicts: bool = False,
                       attachments: bool = False) -> DataFrame:
        """(_id, doc_json) across the tables reachable by this query.

        Rebuilt per query (driver-side plan construction, zero jobs —
        the schema cache in ``load_table`` removes the per-query
        footer-inference job) so appended source batches are never
        served stale."""
        out = None
        for tbl in dict.fromkeys(tables):
            t = TABLES[tbl]
            d = as_docs(self._load_table(tbl), tbl)
            dj = doc_json_frame(
                d, conflicts=conflicts, attachments=attachments,
                # declared-unique pk ⇒ unique _id ⇒ no duplicate-id
                # collapse exchange on the doc-fetch side
                unique_id=t.pk_unique and not t.raw_json,
            )
            out = dj if out is None else out.unionByName(dj)
        return out

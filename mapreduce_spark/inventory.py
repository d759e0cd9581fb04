"""The declared query inventory (SURVEY.md §2.1 Q1-Q20) + DuckDB oracles.

Each query exercises the engine through its PUBLIC API against the
driver's testdata and returns a DataFrame whose column names/types
exactly match the paired oracle SQL (the driver compares row-count +
schema + order-insensitive value-hash).

Two execution modes share one implementation (``Inventory``):

- **cold / temporary** (driver correctness runs): each module-level
  ``qNN(spark, sf_dir)`` builds its view on the fly (S7 semantics);
- **warm / persisted** (bench): one shared Engine with all fixture
  views materialized to sorted Parquet; queries run ``stale='ok'``
  against the persisted index — the reference's steady-state shape.

Floating-point note: aggregate sums of non-integral doubles differ
between Spark (tree/partial aggregation) and DuckDB (sequential) in the
last few ulps, so both sides round those aggregates with a per-query
fixed scale chosen so that scale >> accumulated fp error at sf ≤ 0.1
(e.g. sum(o_totalprice) ~ 2e9 at sf0.01, fp noise ~1e-3 → ROUND(x, 0)).
Integral-valued sums (l_quantity) are exact in IEEE-754 and compared
unrounded.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_spark.engine import Engine, QueryResult
from mapreduce_spark.errors import (
    BuiltInError,
    NotFoundError,
    QueryParseError,
)
from mapreduce_spark.operators.mapphase import MapSpec

# ---------------------------------------------------------------------------
# Fixture views (FIXTURES.md "View fixtures")
# ---------------------------------------------------------------------------


def reduce_max(keys, values, rereduce):
    """Custom rereduce-safe max (SURVEY §2 A4/U2, Q14)."""
    return max(values)


def map_mixed_keys(doc, emit):
    """Q15: key cycles null/bool/number/string/array by doc_id % 5 —
    exercises cross-type collation + the generic Python map path."""
    m = int(doc["doc_id"]) % 5
    if m == 0:
        emit(None, None)
    elif m == 1:
        emit(int(doc["n_chars"]) % 2 == 0, None)
    elif m == 2:
        emit(doc["n_chars"], None)
    elif m == 3:
        emit(doc["lang"], None)
    else:
        emit([doc["lang"], doc["n_chars"]], None)


VIEW_DEFS: dict[str, dict] = {
    "flag_count": {
        "map": MapSpec("lineitem", ("str", "l_returnflag")),
        "reduce": "_count",
    },
    "flag_status_qty": {
        "map": MapSpec(
            "lineitem",
            [("str", "l_returnflag"), ("str", "l_linestatus")],
            ("num", "l_quantity"),
        ),
        "reduce": "_sum",
    },
    "prio_stats": {
        "map": MapSpec("orders", ("str", "o_orderpriority"),
                       ("num", "o_totalprice")),
        "reduce": "_stats",
    },
    "orderdate": {
        "map": MapSpec("orders", ("iso", "o_orderdate"),
                       ("num", "o_totalprice"))
    },
    "brand_price": {
        "map": MapSpec("part", ("str", "p_brand"),
                       ("num", "p_retailprice"))
    },
    "mktsegment": {"map": MapSpec("customer", ("str", "c_mktsegment"))},
    "cust_nation": {"map": MapSpec("customer", ("num", "c_nationkey"))},
    "order_cust_link": {
        "map": MapSpec(
            "orders",
            ("num", "o_orderkey"),
            ("link", "format_string('customer:%06d', o_custkey)"),
        )
    },
    "event_arr": {
        "map": MapSpec("events", ("str", "event_type"),
                       ("num_arr", ["1.0", "value"])),
        "reduce": "_sum",
    },
    "event_max": {
        "map": MapSpec("events", ("str", "event_type"), ("num", "value")),
        "reduce": reduce_max,
    },
    "event_hourly": {
        "map": MapSpec(
            "events",
            [
                ("str", "event_type"),
                ("num", "year(ts)"),
                ("num", "month(ts)"),
                ("num", "day(ts)"),
                ("num", "hour(ts)"),
            ],
            ("num", "value"),
        ),
        "reduce": "_sum",
    },
    "supp_part": {
        "map": MapSpec("lineitem",
                       [("num", "l_suppkey"), ("num", "l_partkey")]),
        "reduce": "_count",
    },
    "mixed_keys": {"map": ("documents", map_mixed_keys)},
    # semi-structured: events.props is a JSON string; the map extracts
    # a field through Spark 4 Variant (parse_json + variant_get) —
    # the SURVEY §1.1 doc-body mapping exercised in the structured path
    "props_k": {
        "map": MapSpec(
            "events",
            ("str", "event_type"),
            ("num", "variant_get(parse_json(props), '$.k', 'double')"),
        ),
        "reduce": "_sum",
    },
    # multi-emit: one doc → two view rows (emit_ord 0/1)
    "brand_and_type": {
        "map": [
            MapSpec("part", ("str", "p_brand"),
                    ("num", "p_retailprice")),
            MapSpec("part", ("str", "p_type"),
                    ("num", "p_retailprice")),
        ]
    },
    # MapSpec.where: the map fn's guard clause (P1's filter aspect)
    # — pushed into the parquet scan of the BASE table at build time
    "hiqty_flag": {
        "map": MapSpec("lineitem", ("str", "l_returnflag"),
                       ("num", "l_extendedprice"),
                       where="l_quantity > 45"),
        "reduce": "_count",
    },
    "nation_tmp": {
        "map": MapSpec("nation", ("num", "n_regionkey"),
                       ("str", "n_name"))
    },
    # upstream design-doc parity (F1): the map fn is a JS SOURCE STRING,
    # compiled to MapSpecs (functions/jscompile.py) — guards become
    # pushed-down scan predicates, both emits union with emit ordinals
    "js_orders": {
        "map": (
            "orders",
            """
            function (doc) {
              if (doc.o_orderstatus === 'O' && doc.o_totalprice > 150000) {
                emit([doc.o_orderpriority, doc.o_orderdate],
                     doc.o_totalprice);
              }
              if (doc.o_orderstatus !== 'O') {
                emit(['closed', doc.o_orderkey], 1);
              }
            }
            """,
        ),
        "reduce": "_sum",
    },
    # full upstream ddoc parity (F1/A4): BOTH members are JS source.
    # The reduce is the CouchDB-documented rereduce-safe accumulator
    # shape — outside the builtin-lowering subset, so it runs through
    # the INTERPRETED path (functions/jsreduce.py) wired into
    # reduce_custom's true partial/final phases.
    "js_custom_stats": {
        "map": (
            "orders",
            """
            function (doc) {
              if (doc.o_orderstatus !== 'P') {
                emit([doc.o_orderstatus, doc.o_orderpriority],
                     doc.o_totalprice);
              }
            }
            """,
        ),
        "reduce": """
            function (keys, values, rereduce) {
              if (rereduce) {
                var s = 0;
                var c = 0;
                var m = Infinity;
                for (var i = 0; i < values.length; i++) {
                  s += values[i].sum;
                  c += values[i].count;
                  if (values[i].min < m) { m = values[i].min; }
                }
                return {sum: s, count: c, min: m};
              } else {
                return {sum: sum(values), count: values.length,
                        min: Math.min.apply(null, values)};
              }
            }
        """,
    },
    # F1 fallback tier (round 6): this ddoc uses constructs OUTSIDE
    # the MapSpec compiler's subset (var, .split(), / and %), so the
    # engine routes it through the statement-level interpreter
    # (functions/jsmap.py) over Arrow-batched doc dicts of the TYPED
    # part table — upstream parity for arbitrary-JS design docs
    # ([U pouchdb-abstract-mapreduce#evalFunc]).
    "js_interp": {
        "map": (
            "events",
            """
            function (doc) {
              var w = doc.event_type.split(/r/);
              var d = new Date(doc.ts);
              var lat = 0;
              if (w.length > 1 &&
                  /^\\p{Script=Latin}+$/u.test(w[1])) { lat = 1; }
              emit([w[0], d.getUTCDate(), d.getUTCDay(), lat],
                   doc.value / 100);
            }
            """,
        ),
        "reduce": "_sum",
    },
    # F1 compiled tier, round-6 widened subset: division, Math.floor
    # bucketing, string .length and % ALL compile to JVM expressions
    # (try_divide / floor / length / try_mod) — q36 pins this ddoc to
    # the compiled path (MapSpec, no Python) under the DuckDB gate.
    "js_math": {
        "map": (
            "orders",
            """
            function (doc) {
              emit([Math.floor(doc.o_totalprice / 10000),
                    doc.o_orderpriority.length],
                   Math.round(doc.o_totalprice) % 100);
            }
            """,
        ),
        "reduce": "_sum",
    },
}


def _j(path: str, typ: str | None = None):
    c = F.get_json_object(F.col("key_json"), path)
    return c.cast(typ) if typ else c


# ---------------------------------------------------------------------------
# tier witnesses (round 12, VERDICT r11 #6)
# ---------------------------------------------------------------------------
# The tagged inventory rows owe their COVERAGE claims to which tier
# actually executes: q28/q36 prove the compiled MapSpec path, q35 the
# statement interpreter, q33 the interpreted JS reduce, q31 all three
# raw-source tiers (asserted inside _raw_source_env).  Widening a
# compile tier can silently STEAL a witness — round 11's var-alias
# widening compiled q31's old interpreter source and the theft was
# only caught by hand.  Each witness below is asserted at QUERY TIME
# (so the driver contract run fails loud) and pinned by
# tests/test_spine.py::test_tier_witnesses.

TIER_WITNESSES: dict[str, tuple[str, str]] = {
    "js_orders": ("q28", "mapspec"),
    "js_math": ("q36", "mapspec"),
    "js_interp": ("q35", "interpreted"),
}

REDUCE_WITNESSES: dict[str, str] = {
    "js_custom_stats": "q33",  # must stay on the JS reduce interpreter
}


def assert_tier_witness(engine: "Engine", view: str) -> None:
    """Fail loud if ``view`` no longer executes on the tier its
    inventory row claims to witness (see TIER_WITNESSES)."""
    exp = TIER_WITNESSES.get(view)
    if exp is not None:
        q, tier = exp
        m = engine._normalize_map(VIEW_DEFS[view]["map"])
        specs = m if isinstance(m, list) else [m]
        if tier == "mapspec":
            ok = all(isinstance(s, MapSpec) for s in specs)
        else:  # "interpreted": (table, python callable) pair
            ok = (
                isinstance(m, tuple) and len(m) == 2
                and callable(m[1])
            )
        # explicit raise, not `assert`: python -O strips asserts and
        # would silently disable the exact fail-loud guarantee
        if not ok:
            raise AssertionError(
                f"{q} tier witness lost: view '{view}' now "
                f"normalizes to {type(m).__name__}, expected {tier} "
                f"— a compile-tier widening stole the witness; "
                f"mutate the source back out of the subset (see "
                f"_raw_source_env's alias-mutation precedent)"
            )
    q33 = REDUCE_WITNESSES.get(view)
    if q33 is not None:
        from mapreduce_spark.functions.jsreduce import (
            JSReduceFunction,
        )

        r = engine._normalize_reduce(VIEW_DEFS[view].get("reduce"))
        if not isinstance(r, JSReduceFunction):
            raise AssertionError(
                f"{q33} reduce witness lost: '{view}' reduce now "
                f"lowers to {r!r} instead of the JS reduce "
                f"interpreter"
            )


_RAW_ENV_CACHE: dict[tuple, "Engine"] = {}


def _raw_source_env(spark: SparkSession, sf_dir: str) -> "Engine":
    """One-time per (session, sf_dir): materialize documents as a raw
    (_id, seq, doc_json) export, register it, and build a persisted
    JS-ddoc view over it (q31's environment)."""
    import tempfile

    from mapreduce_spark.sources.docs import (
        raw_doc_table,
        register_table,
    )

    key = (id(spark), sf_dir)
    if key in _RAW_ENV_CACHE:
        return _RAW_ENV_CACHE[key]
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.format_string("documents:%06d", "doc_id").alias("_id"),
        F.col("doc_id").cast("long").alias("seq"),
        F.to_json(
            F.struct(
                F.format_string("documents:%06d", "doc_id").alias("_id"),
                F.col("lang"),
                F.col("n_chars").cast("double").alias("n_chars"),
            )
        ).alias("doc_json"),
    )
    sf2 = tempfile.mkdtemp(prefix="rawsf-")
    raw.write.mode("overwrite").parquet(f"{sf2}/rawdocs.parquet")
    register_table(raw_doc_table("rawdocs"))
    # shredded-VARIANT copy of the SAME export (round 12, VERDICT r11
    # #5): q31's 'v' tag queries it through the identical compiled
    # source, so the driver's value-hash oracle covers the variant
    # layout — shredded ≡ string ≡ DuckDB, in one contract row
    # (DuckDB itself cannot read VARIANT parquet, so the layout is
    # oracled THROUGH the engine rather than read directly)
    import os as _os

    from mapreduce_spark.sources.docs import shred_raw_table

    _vtmp = tempfile.mkdtemp(prefix="rawvar-")
    _p = shred_raw_table(spark, sf2, "rawdocs", _vtmp)
    _os.rename(_p, f"{sf2}/rawdocs_v.parquet")
    register_table(raw_doc_table("rawdocs_v"))
    eng = Engine(spark, sf2, tempfile.mkdtemp(prefix="rawv-"))
    # two tiers of the SAME semantics, both value-checked by q31:
    # by_lang pins the INTERPRETER (an assignment is outside the
    # compiled subset — the arbitrary-JS witness), by_lang_c the
    # VARIANT-COMPILED tier (functions/jsvariant.py: pure-JVM build,
    # the 100 TB raw-source path)
    # the alias MUTATION keeps this source on the statement
    # interpreter (round 11 compiles single-assignment `var`, so the
    # old bare-var witness would now compile); the guard is
    # vacuously false on the fixture (lang is never null), so the
    # semantics stay ≡ `l !== 'en'`
    js_interp = ("function(doc){ var l = doc.lang; "
                 "if (doc.lang === null) { l = 'none'; } "
                 "if (!/^en$/.test(l)) { emit(l, doc.n_chars); } }")
    js_compiled = ("function(doc){ if (doc.lang !== 'en') "
                   "{ emit(doc.lang, doc.n_chars); } }")
    eng.put_design("rawddoc", {
        "by_lang": {"map": ("rawdocs", js_interp), "reduce": "_sum"},
        "by_lang_c": {"map": ("rawdocs", js_compiled),
                      "reduce": "_sum"},
        # same compiled source over the shredded-VARIANT layout —
        # the 'v' oracle leg
        "by_lang_v": {"map": ("rawdocs_v", js_compiled),
                      "reduce": "_sum"},
    })
    from mapreduce_spark.functions.jsvariant import VariantJSView

    tiers = {
        name: type(eng._defs[eng.registry.resolve("rawddoc", name)]
                   .map_def)
        for name in ("by_lang", "by_lang_c", "by_lang_v")
    }
    # explicit raises (python -O strips asserts; these ARE the q31
    # witness gate the contract run depends on)
    expected = {
        "by_lang": (tuple, "interpreter"),
        "by_lang_c": (VariantJSView, "compiled"),
        "by_lang_v": (VariantJSView, "shredded-layout"),
    }
    for name, (typ, label) in expected.items():
        if tiers[name] is not typ:
            raise AssertionError(
                f"q31 {label} witness lost: {name} is "
                f"{tiers[name].__name__}"
            )
    # and the 'v' leg really reads a VARIANT-stored body, not a
    # re-parsed string
    from mapreduce_spark.sources.docs import load_table as _lt

    if "doc_var" not in _lt(spark, sf2, "rawdocs_v").columns:
        raise AssertionError("rawdocs_v lost its VARIANT layout")
    eng.build_ddoc("rawddoc")
    _RAW_ENV_CACHE[key] = eng
    return eng


_CONF_ENV_CACHE: dict[tuple, "Engine"] = {}


def _conflict_source_env(spark: SparkSession, sf_dir: str) -> "Engine":
    """One-time per (session, sf_dir): a TYPED doc table derived from
    ``documents`` carrying a deterministic ``_conflicts`` column
    (every 7th doc has one open conflict rev ``'2-' + md5(_id)``) —
    the J3 fixture (q34).  The conflict rev is recomputable in any
    engine with md5, so the DuckDB oracle derives the same values."""
    import tempfile

    from mapreduce_spark.sources.docs import DocTable, register_table

    key = (id(spark), sf_dir)
    if key in _CONF_ENV_CACHE:
        return _CONF_ENV_CACHE[key]
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("lang"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.array(
                F.concat(
                    F.lit("2-"),
                    F.md5(F.format_string("documents:%06d", "doc_id")),
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_conflicts"),
    )
    sf2 = tempfile.mkdtemp(prefix="confsf-")
    raw.write.mode("overwrite").parquet(f"{sf2}/confdocs.parquet")
    register_table(
        DocTable("confdocs", "documents:%06d", ("doc_id",), "doc_id")
    )
    eng = Engine(spark, sf2, tempfile.mkdtemp(prefix="confv-"))
    eng.put_design(
        "conf", {"by_id": {"map": MapSpec("confdocs", ("num", "doc_id"))}}
    )
    eng.update_view("conf/by_id")
    _CONF_ENV_CACHE[key] = eng
    return eng


class Inventory:
    """Q1-Q20 against one engine; persisted-warm or temporary-cold."""

    def __init__(self, spark: SparkSession, sf_dir: str,
                 engine: Engine | None = None, warm: bool = False) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.warm = warm and engine is not None
        self.engine = engine or Engine(
            spark, sf_dir, tempfile.mkdtemp(prefix="mrq-")
        )
        if self.warm:
            self.engine.put_design("bench", VIEW_DEFS)

    def materialize(self) -> None:
        """Build every fixture view's persisted index (the cold half):
        structured views over a shared table fuse into one scan
        (engine.build_ddoc), the rest build concurrently."""
        assert self.warm
        self.engine.build_ddoc("bench", max_parallel=4)

    def _q(self, view: str, **opts) -> QueryResult:
        if self.warm:
            return self.engine.query(f"bench/{view}", stale="ok", **opts)
        return self.engine.query(VIEW_DEFS[view], **opts)

    # -- queries ---------------------------------------------------------

    def q01(self):
        res = self._q("flag_count", group=True)
        return res.df.select(
            _j("$").alias("l_returnflag"),
            F.col("value_num").cast("long").alias("cnt"),
        )

    def q02(self):
        """group_level=2 AND group_level=1 over the same view, unioned
        under a ``lvl`` tag — one oracle row value-checks both A6
        shapes (50-row driver budget; the level-1 probe was q03)."""
        l2 = self._q("flag_status_qty", group_level=2).df.select(
            _j("$[0]").alias("l_returnflag"),
            _j("$[1]").alias("l_linestatus"),
            F.col("value_num").alias("sum_qty"),
        )
        l1 = self._q("flag_status_qty", group_level=1).df.select(
            _j("$[0]").alias("l_returnflag"),
            F.lit(None).cast("string").alias("l_linestatus"),
            F.col("value_num").alias("sum_qty"),
        )
        return l2.withColumn("lvl", F.lit(2)).unionAll(
            l1.withColumn("lvl", F.lit(1))
        )

    def q04(self):
        res = self._q("flag_status_qty")  # global reduce (A7)
        return res.df.select(
            F.col("key_json").alias("k_json"),
            F.round(F.col("value_num"), 0).alias("sum_qty"),
        )

    def q05(self):
        res = self._q("prio_stats", group=True)
        vj = F.col("value_json")
        g = lambda p: F.get_json_object(vj, p).cast("double")  # noqa: E731
        return res.df.select(
            _j("$").alias("o_orderpriority"),
            F.round(g("$.sum"), 0).alias("sum_p"),
            g("$.count").cast("long").alias("count_p"),
            g("$.min").alias("min_p"),
            g("$.max").alias("max_p"),
            F.round(g("$.sumsqr"), -2).alias("sumsqr_p"),
        )

    def _orderdate_cols(self, df: DataFrame) -> DataFrame:
        return df.select(
            F.col("id"),
            _j("$").alias("k"),
            F.col("value_num").alias("v"),
        )

    def q06(self):
        res = self._q("orderdate", startkey="1995-01-01",
                      endkey="1995-12-31")
        return self._orderdate_cols(res.df)

    def q07(self):
        res = self._q(
            "orderdate",
            startkey="1996-01-01",
            endkey="1995-01-01",
            descending=True,
            limit=100,
        )
        return self._orderdate_cols(res.df)

    def q08(self):
        res = self._q("orderdate", endkey="1995-06-30",
                      inclusive_end=False)
        return self._orderdate_cols(res.df)

    def q09(self):
        res = self._q("brand_price",
                      keys=["Brand#13", "Brand#42", "Brand#13"])
        return res.df.select(
            F.col("id"),
            _j("$").alias("k"),
            F.col("value_num").alias("v"),
        )

    def q10(self):
        res = self._q("mktsegment", limit=20, skip=35)
        total = res.total_rows  # P7 envelope folded into the result
        return res.df.select(
            F.col("id"),
            _j("$").alias("k"),
            F.lit(total).cast("long").alias("total_rows"),
            F.lit(res.offset).cast("long").alias("off"),
        )

    def q11(self):
        res = self._q("cust_nation", key=7, include_docs=True)
        d = lambda p: F.get_json_object(F.col("doc_json"), p)  # noqa: E731
        return res.df.select(
            F.col("id"),
            _j("$", "double").alias("k"),
            d("$._rev").alias("rev"),
            d("$.c_custkey").cast("double").alias("c_custkey"),
            d("$.c_name").alias("c_name"),
            d("$.c_acctbal").cast("double").alias("c_acctbal"),
            d("$.c_mktsegment").alias("c_mktsegment"),
        )

    def q12(self):
        res = self._q(
            "order_cust_link",
            include_docs=True,
            limit=50,
            doc_tables=["customer"],
        )
        d = lambda p: F.get_json_object(F.col("doc_json"), p)  # noqa: E731
        return res.df.select(
            F.col("id"),
            _j("$", "double").alias("k"),
            d("$._id").alias("doc_id"),
            d("$._rev").alias("rev"),
            d("$.c_name").alias("c_name"),
            d("$.c_acctbal").cast("double").alias("c_acctbal"),
        )

    def q13(self):
        res = self._q("event_arr", group=True)
        return res.df.select(
            _j("$").alias("event_type"),
            F.element_at("value_num_arr", 1).cast("long").alias("cnt"),
            F.round(F.element_at("value_num_arr", 2), 2).alias("sum_v"),
        )

    def q14(self):
        res = self._q("event_max", group=True)
        return res.df.select(
            _j("$").alias("event_type"),
            F.col("value_num").alias("max_v"),
        )

    def q15(self):
        res = self._q("mixed_keys")
        return res.df.select(
            F.col("id"), F.col("key_json").alias("k_json")
        )

    def _hourly_cols(self, df: DataFrame) -> DataFrame:
        return df.select(
            _j("$[0]").alias("event_type"),
            _j("$[1]", "double").alias("y"),
            _j("$[2]", "double").alias("m"),
            _j("$[3]", "double").alias("d"),
            _j("$[4]", "double").alias("h"),
            F.round(F.col("value_num"), 3).alias("sum_v"),
        )

    def q16(self):
        """group_level=5 over the full view PLUS the range-bounded
        variant (startkey/endkey on a grouped reduce, P3×A6), unioned
        under a ``scope`` tag — one oracle row value-checks both
        (round 6: the driver records at most 50 rows, so same-view
        probes share a row instead of displacing other operators)."""
        full = self._hourly_cols(
            self._q("event_hourly", group_level=5).df
        )
        wk1 = self._hourly_cols(
            self._q(
                "event_hourly",
                group_level=5,
                startkey=["purchase", 2024, 1, 1],
                endkey=["purchase", 2024, 1, 8, {}],
            ).df
        )
        return full.withColumn("scope", F.lit("all")).unionAll(
            wk1.withColumn("scope", F.lit("wk1"))
        )

    def q17(self):
        # S7 temporary view: always ephemeral, even in warm mode
        res = self.engine.query(VIEW_DEFS["nation_tmp"], reduce=False)
        return res.df.select(
            F.col("id"),
            _j("$", "double").alias("n_regionkey"),
            F.get_json_object(F.col("value_json"), "$").alias("n_name"),
        )

    def q18(self):
        """Incremental == rebuild metamorphic query (M1/M2).

        Build Q2's view from a PERTURBED first batch (seq ≤ s0, some
        quantities shifted), then apply a correcting second batch via
        the incremental path (tombstone + delta).  The final answer
        must equal the plain Q2 oracle over the true table."""
        from mapreduce_spark.sources.docs import load_table

        eng = Engine(self.spark, self.sf_dir,
                     tempfile.mkdtemp(prefix="mrq18-"))
        eng.put_design("inc", {"q2": VIEW_DEFS["flag_status_qty"]})
        raw = load_table(self.spark, self.sf_dir, "lineitem")
        seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast(
            "long"
        )
        s0 = int(raw.agg(F.max(seq)).collect()[0][0] * 0.6)
        batch1 = raw.filter(seq <= s0).withColumn(
            "l_quantity",
            F.when(
                F.col("l_orderkey") % 97 == 0, F.col("l_quantity") + 77.0
            ).otherwise(F.col("l_quantity")),
        )
        eng.update_view("inc/q2", changes=batch1)
        batch2 = raw.filter(
            (seq > s0) | ((seq <= s0) & (F.col("l_orderkey") % 97 == 0))
        )
        eng.update_view("inc/q2", changes=batch2)
        res = eng.query("inc/q2", group_level=2, stale="ok")
        return res.df.select(
            _j("$[0]").alias("l_returnflag"),
            _j("$[1]").alias("l_linestatus"),
            F.col("value_num").alias("sum_qty"),
        )

    def q19(self):
        """Post-reduce pagination (A8) in BOTH directions over the
        same supp_part group_level=1 reduce, merged under a ``dir``
        tag (round-6 oracle-budget repack; desc half was q27) — one
        oracle row value-checks A8 asc and A8×O2 desc."""

        def _rows(**kw):
            res = self._q("supp_part", group_level=1, **kw)
            return res.df.select(
                _j("$[0]", "double").alias("l_suppkey"),
                F.col("value_num").cast("long").alias("cnt"),
            )

        asc = _rows(skip=2, limit=5)
        desc = _rows(descending=True, skip=3, limit=4)
        return asc.withColumn("dir", F.lit("asc")).unionAll(
            desc.withColumn("dir", F.lit("desc"))
        )

    def q21(self):
        """keys + group=true on a reduce view (P5×A5): one reduced row
        per REQUESTED key, request order, duplicates repeated."""
        res = self._q(
            "flag_count", keys=["R", "N", "R"], group=True
        )
        return res.df.select(
            _j("$").alias("l_returnflag"),
            F.col("value_num").cast("long").alias("cnt"),
        )

    def q23(self):
        """Variant JSON extraction in the map (events.props '$.k'),
        grouped _sum — SURVEY §1.1 semi-structured doc bodies."""
        res = self._q("props_k", group=True)
        return res.df.select(
            _j("$").alias("event_type"),
            F.round(F.col("value_num"), 0).alias("sum_k"),
        )

    def q24(self):
        """descending + inclusive_end=false: the exclusive bound is
        the LOW end when descending (upstream role swap)."""
        res = self._q(
            "orderdate",
            startkey="1995-12-31",
            endkey="1995-01-01",
            descending=True,
            inclusive_end=False,
            limit=200,
        )
        return self._orderdate_cols(res.df)

    def q25(self):
        """Multi-emit view: one part doc emits (brand, price) and
        (type, price); collation-ordered map scan."""
        res = self._q("brand_and_type", startkey="Brand#11",
                      endkey="Brand#23")
        return res.df.select(
            F.col("id"),
            _j("$").alias("k"),
            F.col("value_num").alias("v"),
        )

    def q26(self):
        """Filtered map fn (MapSpec.where → scan pushdown at build)."""
        res = self._q("hiqty_flag", group=True)
        return res.df.select(
            _j("$").alias("l_returnflag"),
            F.col("value_num").cast("long").alias("cnt"),
        )

    def q22(self):
        """group_level=0 ≡ no grouping: one global row, key null
        (SURVEY §2 A6 note; CouchDB semantics)."""
        res = self._q("flag_status_qty", group_level=0)
        return res.df.select(
            F.col("key_json").alias("k_json"),
            F.round(F.col("value_num"), 0).alias("sum_qty"),
        )

    def q20(self):
        """Error-contract cases (V1) surfaced as data so the oracle can
        check them: each row = (check_name, raised error class)."""
        eng = self.engine
        out = []

        def attempt(name, fn):
            try:
                fn()
                out.append((name, "NO_ERROR"))
            except (QueryParseError, NotFoundError, BuiltInError) as e:
                out.append((name, type(e).__name__))

        attempt(
            "group_level_negative",
            lambda: eng.query(VIEW_DEFS["mktsegment"], group_level=-1),
        )
        attempt(
            "keys_with_group_level",
            lambda: eng.query(VIEW_DEFS["flag_count"], keys=["A"],
                              group_level=1),
        )
        attempt(
            "keys_reduce_without_group",
            lambda: eng.query(VIEW_DEFS["flag_count"], keys=["A"]),
        )
        attempt(
            "bad_builtin",
            lambda: eng.query(
                {"map": VIEW_DEFS["mktsegment"]["map"],
                 "reduce": "_nope"},
                group=True,
            ),
        )
        attempt(
            "bad_update_mode",
            lambda: eng.query(VIEW_DEFS["mktsegment"],
                              update="eventually"),
        )
        attempt(
            "docid_not_string",
            lambda: eng.query(VIEW_DEFS["mktsegment"],
                              startkey="A", startkey_docid=7),
        )
        attempt("missing_view", lambda: eng.query("nosuch/view"))
        return self.spark.createDataFrame(
            out, "check_name string, error string"
        )

    def q28(self):
        """View defined from a JS design-doc source string (F1),
        grouped at level 1: per-priority totals of big open orders +
        one 'closed' bucket counting non-open orders."""
        assert_tier_witness(self.engine, "js_orders")
        res = self._q("js_orders", group_level=1)
        return res.df.select(
            _j("$[0]").alias("k"),
            F.round(F.col("value_num"), 0).alias("sum_v"),
        )

    def q29(self):
        """Duplicate-key pagination via startkey_docid/endkey_docid:
        the index key is (key, docid), so the docid options place both
        range boundaries INSIDE runs of equal keys — resuming a paged
        scan of the heavily-duplicated mktsegment view mid-segment."""
        res = self._q(
            "mktsegment",
            startkey="BUILDING", startkey_docid="customer:000750",
            endkey="HOUSEHOLD", endkey_docid="customer:000400",
        )
        return res.df.select(F.col("id"), _j("$").alias("k"))

    def q30(self):
        """CouchDB multi-query batch (POST …/_view {queries:[…]}):
        three independent option sets — grouped reduce, reduce=false
        range scan, reduce=false point lookup with limit — served from
        ONE refresh + ONE assembled view (engine.query_batch), results
        concatenated with the sub-query ordinal (upstream response
        order)."""
        batch = [
            {"group": True},
            {"reduce": False, "startkey": "N", "endkey": "R",
             "inclusive_end": False},
            {"reduce": False, "key": "R", "limit": 5},
        ]
        if self.warm:
            rs = self.engine.query_batch(
                "bench/flag_count",
                [dict(q, stale="ok") for q in batch],
            )
        else:
            rs = self.engine.query_batch(VIEW_DEFS["flag_count"], batch)
        outs = []
        for i, r in enumerate(rs):
            d = r.df
            idc = (
                F.col("id") if "id" in d.columns
                else F.lit(None).cast("string")
            )
            outs.append(
                d.select(
                    F.lit(i).cast("long").alias("q_ord"),
                    idc.alias("id"),
                    _j("$").alias("k"),
                    F.col("value_num").cast("long").alias("v"),
                )
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    def q31(self):
        """Raw CouchDB-style source + JS design doc, end to end: the
        documents table re-materialized as a raw (_id, seq, doc_json)
        export, registered via register_table(raw_doc_table(…)),
        queried through BOTH raw-JS tiers as PERSISTED ddoc views —
        the full PouchDB-switchover path under the driver's value-hash
        check.  Row tag 'i' is the INTERPRETED tier (a source that
        reassigns a variable, outside the compiled subset — the
        arbitrary-JS witness); tag 'c' is the VARIANT-COMPILED tier
        (functions/jsvariant.py: drift-guarded parse_json/variant_get
        expressions, zero Python in the build plan — the 100 TB
        path); tag 'v' (round 12) is the same compiled source over a
        ``shred_raw_table`` VARIANT-stored copy of the export, which
        puts the shredded LAYOUT under the DuckDB value-hash oracle
        (DuckDB cannot read VARIANT parquet directly, so the layout
        is oracled through the engine).  Identical values under all
        three tags IS the tier- and layout-equivalence check.  The raw export and the materialized views
        are cached per (session, sf_dir), so repeated invocations
        (bench warm runs) measure the persisted read path, not
        re-ingestion."""
        eng = _raw_source_env(self.spark, self.sf_dir)
        outs = []
        for tag, view in (("i", "rawddoc/by_lang"),
                          ("c", "rawddoc/by_lang_c"),
                          ("v", "rawddoc/by_lang_v")):
            res = eng.query(view, stale="ok", group=True)
            outs.append(res.df.select(
                F.lit(tag).alias("src"),
                _j("$").alias("lang"),
                F.col("value_num").alias("sum_chars"),
            ))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    def q32(self):
        """Descending scan whose END boundary is an exact (key, docid)
        pair excluded by inclusive_end=false — the subtlest docid-
        refinement case: every row of the boundary key ABOVE the docid
        stays, the pair itself and everything below it goes."""
        res = self._q(
            "mktsegment",
            startkey="MACHINERY", endkey="FURNITURE",
            endkey_docid="customer:000500", inclusive_end=False,
            descending=True,
        )
        return res.df.select(F.col("id"), _j("$").alias("k"))

    def q33(self):
        """Full JS design doc (map AND reduce as JS source, F1/A4):
        the interpreted rereduce-safe ``{sum, count, min}`` accumulator
        runs through the distributed partial/final custom-reduce
        phases; grouped at level 2.  The ``min`` member (loop-tracked
        on rereduce, ``Math.min.apply`` on map) deliberately keeps the
        body one field beyond the ``_sum_count`` builtin lowering, so
        this row pins the INTERPRETER tier every round (the lowered
        tier has its own plan-assert + property tests)."""
        assert_tier_witness(self.engine, "js_custom_stats")
        res = self._q("js_custom_stats", group_level=2)
        vj = F.col("value_json")
        return res.df.select(
            _j("$[0]").alias("o_orderstatus"),
            _j("$[1]").alias("o_orderpriority"),
            F.round(
                F.get_json_object(vj, "$.sum").cast("double"), 0
            ).alias("sum_p"),
            F.get_json_object(vj, "$.count").cast("double").cast("long")
            .alias("cnt"),
            F.get_json_object(vj, "$.min").cast("double")
            .alias("min_p"),
        )

    def q34(self):
        """J3 conflicts surfacing end to end: include_docs with
        ``conflicts=True`` over a doc table whose every 7th doc carries
        one open conflict rev — the joined doc JSON keeps a non-empty
        ``_conflicts`` array and OMITS the member for conflict-free
        docs (CouchDB shape)."""
        eng = _conflict_source_env(self.spark, self.sf_dir)
        res = eng.query("conf/by_id", include_docs=True, conflicts=True,
                        stale="ok")
        dj = F.col("doc_json")
        return res.df.select(
            F.col("id"),
            F.get_json_object(dj, "$._conflicts[0]").alias("conf_rev"),
            F.get_json_object(dj, "$.lang").alias("lang"),
        )

    def q35(self):
        """F1 fallback tier: an out-of-compiled-subset JS ddoc (var,
        ``.split(/r/)`` — a REGEX separator, round-7 jsregex —
        ``new Date`` bucketing with UTC getters, ``/``, and a
        ``\\p{Script=Latin}`` u-mode property class, round 10) on a
        TYPED table, interpreted by functions/jsmap.py and reduced by
        the JVM ``_sum`` — grouped word × day-of-month × day-of-week
        × latin-flag value totals under the DuckDB gate (DuckDB's RE2
        evaluates the same script property independently)."""
        assert_tier_witness(self.engine, "js_interp")
        res = self._q("js_interp", group=True)
        return res.df.select(
            _j("$[0]").alias("word"),
            _j("$[1]", "double").alias("dom"),
            _j("$[2]", "double").alias("dow"),
            _j("$[3]", "double").alias("lat"),
            F.round(F.col("value_num"), 2).alias("sum_v"),
        )

    def q36(self):
        """F1 compiled tier (round-6 subset): Math.floor bucketing,
        division, ``%`` and string ``.length`` in one ddoc — asserted
        compiled (MapSpec: no Python evaluation) and value-checked
        against DuckDB."""
        assert_tier_witness(self.engine, "js_math")
        res = self._q("js_math", group=True)
        return res.df.select(
            _j("$[0]", "double").alias("bucket"),
            _j("$[1]", "double").alias("plen"),
            F.col("value_num").alias("sum_v"),
        )

    def all_queries(self) -> dict[str, callable]:
        return {
            n: getattr(self, n)
            for n in (
                "q01 q02 q04 q05 q06 q07 q08 q09 q10 q11 q12 q13 "
                "q14 q15 q16 q17 q18 q19 q20 q21 q22 q23 q24 q25 "
                "q26 q28 q29 q30 q31 q32 q33 q34 q35 q36"
            ).split()
        }


# ---------------------------------------------------------------------------
# module-level driver-facing callables (cold / temporary mode)
# ---------------------------------------------------------------------------

def _mk(name: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return getattr(Inventory(spark, sf_dir), name)()

    run.__name__ = name
    return run


QUERIES = {
    n: _mk(n)
    for n in (
        "q01 q02 q04 q05 q06 q07 q08 q09 q10 q11 q12 q13 q14 q15 "
        "q16 q17 q18 q19 q20 q21 q22 q23 q24 q25 q26 q28 q29 "
        "q30 q31 q32 q33 q34 q35 q36"
    ).split()
}

# also export as module attributes (``from …inventory import q02``)
globals().update(QUERIES)


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect, runs on the same parquet views)
# ---------------------------------------------------------------------------

def _iso(c: str) -> str:
    return f"strftime({c}, '%Y-%m-%dT%H:%M:%S')"


ORACLE_SQL: dict[str, str] = {
    "q01": (
        "SELECT l_returnflag, count(*)::BIGINT AS cnt "
        "FROM lineitem GROUP BY 1"
    ),
    "q02": (
        "SELECT l_returnflag, l_linestatus, "
        "sum(l_quantity::DOUBLE) AS sum_qty, 2::INT AS lvl "
        "FROM lineitem GROUP BY 1, 2 "
        "UNION ALL "
        "SELECT l_returnflag, NULL AS l_linestatus, "
        "sum(l_quantity::DOUBLE) AS sum_qty, 1::INT AS lvl "
        "FROM lineitem GROUP BY 1"
    ),
    "q04": (
        "SELECT 'null' AS k_json, "
        "ROUND(sum(l_quantity::DOUBLE), 0) AS sum_qty FROM lineitem"
    ),
    "q05": (
        "SELECT o_orderpriority, "
        "ROUND(sum(o_totalprice::DOUBLE), 0) AS sum_p, "
        "count(o_totalprice)::BIGINT AS count_p, "
        "min(o_totalprice::DOUBLE) AS min_p, "
        "max(o_totalprice::DOUBLE) AS max_p, "
        "ROUND(sum(o_totalprice::DOUBLE * o_totalprice::DOUBLE), -2) "
        "AS sumsqr_p FROM orders GROUP BY 1"
    ),
    "q06": (
        f"SELECT printf('orders:%09d', o_orderkey) AS id, "
        f"{_iso('o_orderdate')} AS k, o_totalprice::DOUBLE AS v "
        f"FROM orders WHERE {_iso('o_orderdate')} >= '1995-01-01' "
        f"AND {_iso('o_orderdate')} <= '1995-12-31'"
    ),
    "q07": (
        f"SELECT printf('orders:%09d', o_orderkey) AS id, "
        f"{_iso('o_orderdate')} AS k, o_totalprice::DOUBLE AS v "
        f"FROM orders WHERE {_iso('o_orderdate')} <= '1996-01-01' "
        f"AND {_iso('o_orderdate')} >= '1995-01-01' "
        f"ORDER BY k DESC, id DESC LIMIT 100"
    ),
    "q08": (
        f"SELECT printf('orders:%09d', o_orderkey) AS id, "
        f"{_iso('o_orderdate')} AS k, o_totalprice::DOUBLE AS v "
        f"FROM orders WHERE {_iso('o_orderdate')} < '1995-06-30'"
    ),
    "q09": (
        "SELECT printf('part:%06d', p_partkey) AS id, p_brand AS k, "
        "p_retailprice::DOUBLE AS v FROM part WHERE p_brand='Brand#13' "
        "UNION ALL "
        "SELECT printf('part:%06d', p_partkey), p_brand, "
        "p_retailprice::DOUBLE FROM part WHERE p_brand='Brand#42' "
        "UNION ALL "
        "SELECT printf('part:%06d', p_partkey), p_brand, "
        "p_retailprice::DOUBLE FROM part WHERE p_brand='Brand#13'"
    ),
    "q10": (
        "SELECT printf('customer:%06d', c_custkey) AS id, "
        "c_mktsegment AS k, "
        "(SELECT count(*) FROM customer)::BIGINT AS total_rows, "
        "35::BIGINT AS off "
        "FROM customer ORDER BY k, id LIMIT 20 OFFSET 35"
    ),
    "q11": (
        "SELECT printf('customer:%06d', c_custkey) AS id, "
        "c_nationkey::DOUBLE AS k, "
        "'1-' || md5(printf('customer:%06d', c_custkey) || ':' || "
        "c_custkey::BIGINT::VARCHAR) AS rev, "
        "c_custkey::DOUBLE AS c_custkey, "
        "c_name, c_acctbal::DOUBLE AS c_acctbal, c_mktsegment "
        "FROM customer WHERE c_nationkey = 7"
    ),
    "q12": (
        "SELECT printf('orders:%09d', o_orderkey) AS id, "
        "o_orderkey::DOUBLE AS k, "
        "printf('customer:%06d', c_custkey) AS doc_id, "
        "'1-' || md5(printf('customer:%06d', c_custkey) || ':' || "
        "c_custkey::BIGINT::VARCHAR) AS rev, c_name, "
        "c_acctbal::DOUBLE AS c_acctbal "
        "FROM orders JOIN customer ON c_custkey = o_custkey "
        "ORDER BY o_orderkey LIMIT 50"
    ),
    "q13": (
        "SELECT event_type, count(*)::BIGINT AS cnt, "
        "ROUND(sum(value::DOUBLE), 2) AS sum_v "
        "FROM events GROUP BY 1"
    ),
    "q14": (
        "SELECT event_type, max(value::DOUBLE) AS max_v "
        "FROM events GROUP BY 1"
    ),
    "q15": (
        "SELECT printf('documents:%06d', doc_id) AS id, "
        "CASE doc_id % 5 "
        "WHEN 0 THEN 'null' "
        "WHEN 1 THEN CASE WHEN n_chars % 2 = 0 THEN 'true' "
        "ELSE 'false' END "
        "WHEN 2 THEN to_json(n_chars::DOUBLE) "
        "WHEN 3 THEN to_json(lang) "
        "ELSE '[' || to_json(lang) || ',' || to_json(n_chars::DOUBLE) "
        "|| ']' END AS k_json FROM documents"
    ),
    "q16": (
        "WITH g AS (SELECT event_type, "
        "EXTRACT(year FROM ts)::DOUBLE AS y, "
        "EXTRACT(month FROM ts)::DOUBLE AS m, "
        "EXTRACT(day FROM ts)::DOUBLE AS d, "
        "EXTRACT(hour FROM ts)::DOUBLE AS h, "
        "ROUND(sum(value::DOUBLE), 3) AS sum_v "
        "FROM events GROUP BY 1, 2, 3, 4, 5) "
        "SELECT *, 'all' AS scope FROM g "
        "UNION ALL "
        "SELECT *, 'wk1' AS scope FROM g "
        "WHERE event_type = 'purchase' AND y = 2024 AND m = 1 "
        "AND d BETWEEN 1 AND 8"
    ),
    "q17": (
        "SELECT printf('nation:%02d', n_nationkey) AS id, "
        "n_regionkey::DOUBLE AS n_regionkey, n_name FROM nation"
    ),
    "q18": (
        "SELECT l_returnflag, l_linestatus, "
        "sum(l_quantity::DOUBLE) AS sum_qty "
        "FROM lineitem GROUP BY 1, 2"
    ),
    "q19": (
        "SELECT * FROM ("
        "SELECT l_suppkey::DOUBLE AS l_suppkey, "
        "count(*)::BIGINT AS cnt, 'asc' AS dir "
        "FROM lineitem GROUP BY 1 ORDER BY 1 OFFSET 2 LIMIT 5) "
        "UNION ALL SELECT * FROM ("
        "SELECT l_suppkey::DOUBLE, count(*)::BIGINT, 'desc' "
        "FROM lineitem GROUP BY 1 ORDER BY 1 DESC OFFSET 3 LIMIT 4)"
    ),
    "q23": (
        "SELECT event_type, "
        "ROUND(sum(json_extract(props, '$.k')::DOUBLE), 0) AS sum_k "
        "FROM events GROUP BY 1"
    ),
    "q24": (
        f"SELECT printf('orders:%09d', o_orderkey) AS id, "
        f"{_iso('o_orderdate')} AS k, o_totalprice::DOUBLE AS v "
        f"FROM orders WHERE {_iso('o_orderdate')} <= '1995-12-31' "
        f"AND {_iso('o_orderdate')} > '1995-01-01' "
        f"ORDER BY k DESC, id DESC LIMIT 200"
    ),
    "q25": (
        "SELECT printf('part:%06d', p_partkey) AS id, p_brand AS k, "
        "p_retailprice::DOUBLE AS v FROM part "
        "WHERE p_brand >= 'Brand#11' AND p_brand <= 'Brand#23' "
        "UNION ALL "
        "SELECT printf('part:%06d', p_partkey), p_type, "
        "p_retailprice::DOUBLE FROM part "
        "WHERE p_type >= 'Brand#11' AND p_type <= 'Brand#23'"
    ),
    "q26": (
        "SELECT l_returnflag, count(*)::BIGINT AS cnt FROM lineitem "
        "WHERE l_quantity > 45 GROUP BY 1"
    ),
    "q22": (
        "SELECT 'null' AS k_json, "
        "ROUND(sum(l_quantity::DOUBLE), 0) AS sum_qty FROM lineitem"
    ),
    "q21": (
        "SELECT 'R' AS l_returnflag, count(*)::BIGINT AS cnt "
        "FROM lineitem WHERE l_returnflag = 'R' "
        "UNION ALL SELECT 'N', count(*)::BIGINT "
        "FROM lineitem WHERE l_returnflag = 'N' "
        "UNION ALL SELECT 'R', count(*)::BIGINT "
        "FROM lineitem WHERE l_returnflag = 'R'"
    ),
    "q20": (
        "SELECT * FROM (VALUES "
        "('group_level_negative', 'QueryParseError'), "
        "('keys_with_group_level', 'QueryParseError'), "
        "('keys_reduce_without_group', 'QueryParseError'), "
        "('bad_builtin', 'BuiltInError'), "
        "('bad_update_mode', 'QueryParseError'), "
        "('docid_not_string', 'QueryParseError'), "
        "('missing_view', 'NotFoundError')"
        ") t(check_name, error)"
    ),
    "q29": (
        "SELECT id, k FROM ("
        "SELECT printf('customer:%06d', c_custkey) AS id, "
        "c_mktsegment AS k FROM customer) "
        "WHERE (k > 'BUILDING' OR (k = 'BUILDING' "
        "AND id >= 'customer:000750')) "
        "AND (k < 'HOUSEHOLD' OR (k = 'HOUSEHOLD' "
        "AND id <= 'customer:000400'))"
    ),
    "q32": (
        "SELECT id, k FROM ("
        "SELECT printf('customer:%06d', c_custkey) AS id, "
        "c_mktsegment AS k FROM customer) "
        "WHERE k <= 'MACHINERY' "
        "AND (k > 'FURNITURE' OR (k = 'FURNITURE' "
        "AND id > 'customer:000500'))"
    ),
    "q31": (
        # three tags, one semantics: 'i' interpreter on JSON strings,
        # 'c' variant-compiled on JSON strings, 'v' variant-compiled
        # on the shredded-VARIANT layout — matching all three against
        # the same relational truth proves tier AND layout equivalence
        "SELECT 'i' AS src, lang, sum(n_chars::DOUBLE) AS sum_chars "
        "FROM documents WHERE lang <> 'en' GROUP BY 2 "
        "UNION ALL "
        "SELECT 'c' AS src, lang, sum(n_chars::DOUBLE) AS sum_chars "
        "FROM documents WHERE lang <> 'en' GROUP BY 2 "
        "UNION ALL "
        "SELECT 'v' AS src, lang, sum(n_chars::DOUBLE) AS sum_chars "
        "FROM documents WHERE lang <> 'en' GROUP BY 2"
    ),
    "q30": (
        "SELECT 0::BIGINT AS q_ord, NULL::VARCHAR AS id, "
        "l_returnflag AS k, count(*)::BIGINT AS v "
        "FROM lineitem GROUP BY 3 "
        "UNION ALL "
        "SELECT 1::BIGINT, printf('lineitem:%09d-%d', l_orderkey, "
        "l_linenumber), l_returnflag, NULL::BIGINT FROM lineitem "
        "WHERE l_returnflag >= 'N' AND l_returnflag < 'R' "
        "UNION ALL "
        "SELECT 2::BIGINT, id, k, v FROM ("
        "SELECT printf('lineitem:%09d-%d', l_orderkey, l_linenumber) "
        "AS id, l_returnflag AS k, NULL::BIGINT AS v FROM lineitem "
        "WHERE l_returnflag = 'R' ORDER BY id LIMIT 5)"
    ),
    "q28": (
        "WITH rows_ AS ("
        "SELECT o_orderpriority AS k, o_totalprice::DOUBLE AS v "
        "FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 150000 "
        "UNION ALL "
        "SELECT 'closed' AS k, 1.0 AS v "
        "FROM orders WHERE o_orderstatus <> 'O') "
        "SELECT k, ROUND(sum(v), 0) AS sum_v FROM rows_ GROUP BY k"
    ),
    "q33": (
        "SELECT o_orderstatus, o_orderpriority, "
        "ROUND(sum(o_totalprice::DOUBLE), 0) AS sum_p, "
        "count(*)::BIGINT AS cnt, "
        "min(o_totalprice::DOUBLE) AS min_p "
        "FROM orders WHERE o_orderstatus <> 'P' GROUP BY 1, 2"
    ),
    "q34": (
        "SELECT printf('documents:%06d', doc_id) AS id, "
        "CASE WHEN doc_id % 7 = 0 THEN "
        "'2-' || md5(printf('documents:%06d', doc_id)) "
        "ELSE NULL END AS conf_rev, "
        "lang FROM documents"
    ),
    "q35": (
        "SELECT string_split(event_type, 'r')[1] AS word, "
        "day(ts)::DOUBLE AS dom, dayofweek(ts)::DOUBLE AS dow, "
        "CASE WHEN len(string_split(event_type, 'r')) > 1 AND "
        "regexp_full_match(string_split(event_type, 'r')[2], "
        "'\\p{Latin}+') THEN 1 ELSE 0 END::DOUBLE AS lat, "
        "ROUND(SUM(value::DOUBLE / 100), 2) AS sum_v "
        "FROM events GROUP BY 1, 2, 3, 4"
    ),
    "q36": (
        "SELECT FLOOR(o_totalprice / 10000) AS bucket, "
        "length(o_orderpriority)::DOUBLE AS plen, "
        "SUM(fmod(FLOOR(o_totalprice + 0.5), 100)) AS sum_v "
        "FROM orders GROUP BY 1, 2"
    ),
}

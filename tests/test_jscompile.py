"""JS design-doc compilation (F1): the common-subset compiler must
produce MapSpecs equal in behavior to hand-written ones, and reject
out-of-subset constructs with a clear error."""

import os

import pytest

from mapreduce_spark.engine import Engine
from mapreduce_spark.functions.jscompile import (
    JSCompileError,
    compile_js_map,
    looks_like_js,
)
from mapreduce_spark.operators.mapphase import MapSpec


@pytest.fixture(scope="module")
def orders_schema(spark, sf_dir):
    from mapreduce_spark.sources.docs import load_table

    return load_table(spark, sf_dir, "orders").schema


def test_simple_field_emit(orders_schema):
    spec = compile_js_map(
        "function(doc) { emit(doc.o_orderpriority, doc.o_totalprice); }",
        "orders", orders_schema,
    )
    assert spec == MapSpec("orders", ("str", "o_orderpriority"),
                           ("num", "o_totalprice"))


def test_array_key_guard_and_literals(orders_schema):
    spec = compile_js_map(
        """function(doc) {
             if (doc.o_orderstatus === 'O' && doc.o_totalprice > 10) {
               emit([doc.o_orderpriority, 'x', 2, null], 1);
             }
           }""",
        "orders", orders_schema,
    )
    assert spec.key == [("str", "o_orderpriority"), ("str", "'x'"),
                        ("num", "cast(2.0 as double)"),
                        ("null", "null")]
    assert spec.value == ("num", "cast(1.0 as double)")
    assert "o_orderstatus = 'O'" in spec.where
    assert "o_totalprice > cast(10.0 as double)" in spec.where


def test_multi_emit_and_doc_id_and_link(orders_schema):
    specs = compile_js_map(
        """function(doc) {
             emit(doc._id, null);
             emit(doc.o_orderkey, {_id: doc.o_orderpriority});
           }""",
        "orders", orders_schema,
    )
    assert isinstance(specs, list) and len(specs) == 2
    assert specs[0].key == (
        "str", "format_string('orders:%09d', o_orderkey)"
    )
    assert specs[1].value == ("link", "o_orderpriority")


def test_timestamp_fields_compile_to_iso(orders_schema):
    spec = compile_js_map(
        """function(doc) {
             if (doc.o_orderdate >= '1995-01-01') {
               emit(doc.o_orderdate, null);
             }
           }""",
        "orders", orders_schema,
    )
    assert spec.key == ("iso", "o_orderdate")
    assert "date_format(o_orderdate" in spec.where


@pytest.mark.parametrize(
    "src, hint",
    [
        ("function(doc) { for (var i;;) emit(1, 1); }", "for"),
        # `var x = <expr>` compiles since round 11 (single-assignment
        # alias); MUTATION of the alias is still outside the subset
        ("function(doc) { var x = 1; x = 2; emit(x, 1); }", "x"),
        ("function(doc) { emit(doc.a.b, 1); }", "nested"),
        ("function(doc) { emit(doc.o_orderpriority / 2, 1); }",
         "/ on a str operand"),
        ("function(doc) { emit(doc.o_orderkey + 'x', 1); }",
         "mixed-type +"),
        ("function(doc) { emit(doc.o_orderpriority.substring(0-2), 1); }",
         "non-literal offset"),
        ("function(doc) { }", "no emit"),
        ("function(doc) { emit(doc.nope, 1); }", "does not exist"),
    ],
)
def test_unsupported_constructs_raise(orders_schema, src, hint):
    with pytest.raises(JSCompileError):
        compile_js_map(src, "orders", orders_schema)


def test_arithmetic_and_string_methods_compile(spark, sf_dir,
                                               tmp_path):
    """Round 5 (late): `+ - *` and substring/slice/toLowerCase/
    toUpperCase compile to JVM expressions — in keys, values AND
    guards — with JS null semantics (arithmetic coalesces null to 0;
    a method on a null field becomes a NOT NULL guard = tryMap's
    throw→skip)."""
    import pyspark.sql.functions as F

    eng = Engine(spark, sf_dir, str(tmp_path))
    js = {
        "map": (
            "orders",
            """function(doc) {
                 if (doc.o_orderpriority.substring(0, 1) === '1') {
                   emit(doc.o_orderpriority.toLowerCase(),
                        doc.o_totalprice * 0.1 + 5);
                 }
               }""",
        ),
        "reduce": "_sum",
    }
    got = {r["key"]: round(r["value"], 4)
           for r in eng.query(js, group=True).rows()}
    raw = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want = {
        r["k"]: round(r["v"], 4)
        for r in raw.filter(
            F.expr("substr(o_orderpriority, 1, 1) = '1'")
        )
        .groupBy(F.lower("o_orderpriority").alias("k"))
        .agg(F.sum(F.col("o_totalprice") * 0.1 + 5).alias("v"))
        .collect()
    }
    assert got == want and got
    # string concat key with a computed suffix
    js2 = {"map": ("orders",
                   "function(doc){ emit('p:' + doc.o_orderpriority, "
                   "1); }"),
           "reduce": "_count"}
    keys = {r["key"] for r in eng.query(js2, group=True).rows()}
    assert keys == {
        "p:" + r["o_orderpriority"]
        for r in raw.select("o_orderpriority").distinct().collect()
    }


def test_division_and_modulo_compile(spark, sf_dir, tmp_path):
    """Round 6 (late): `/` and `%` compile to constructed IEEE-754
    expressions — x/0 → ±Infinity, 0/0 and x%0 → NaN, carried through
    further arithmetic like JS doubles and folded to JSON null only
    at the emit boundary — and JS remainder keeps the dividend's
    sign."""
    import pyspark.sql.functions as F

    eng = Engine(spark, sf_dir, str(tmp_path))
    js = {
        "map": (
            "part",
            """function(doc) {
                 emit([doc.p_type, doc.p_size % 5],
                      doc.p_retailprice / 100);
               }""",
        ),
        "reduce": "_sum",
    }
    got = {
        (r["key"][0], r["key"][1]): round(r["value"], 6)
        for r in eng.query(js, group=True).rows()
    }
    raw = spark.read.parquet(f"{sf_dir}/part.parquet")
    want = {
        (r["t"], float(r["b"])): round(r["v"], 6)
        for r in raw.groupBy(
            F.col("p_type").alias("t"),
            (F.col("p_size").cast("double") % 5).alias("b"),
        )
        .agg(F.sum(F.col("p_retailprice") / 100).alias("v"))
        .collect()
    }
    assert got == want and got

    # the ddoc stays inside the COMPILED subset (MapSpec, no Python)
    from mapreduce_spark.operators.mapphase import MapSpec

    spec = eng._normalize_map(
        ("part", "function(doc){ emit(doc.p_size % 5, "
                 "doc.p_retailprice / doc.p_size); }")
    )
    assert isinstance(spec, MapSpec)
    assert "%" in spec.key[1]
    assert "/" in spec.value[1]

    # IEEE corners carried in the RAW expressions (x/0 → ±Inf, 0/0
    # and x%0 → NaN, x/±Inf → 0), folded to null only at the emit
    # boundary (mapphase.fold_nonfinite) — JSON.stringify semantics;
    # JS remainder keeps the dividend's sign
    import math

    from mapreduce_spark.operators.mapphase import fold_nonfinite

    spec2 = compile_js_map(
        "function(doc){ emit([doc.p_retailprice / doc.p_size, "
        "doc.p_retailprice % doc.p_size, "
        "doc.p_retailprice / (doc.p_retailprice / doc.p_size)], "
        "null); }",
        "part", spark.read.parquet(f"{sf_dir}/part.parquet").schema,
    )
    corners = spark.createDataFrame(
        [(1.0, 0.0), (0.0, 0.0), (-7.0, 2.0), (7.0, -2.0),
         (-1.0, 0.0)],
        "p_retailprice double, p_size double",
    )
    ksqls = [s for _, s in spec2.key]
    raw = corners.select(
        *[F.expr(s).alias(f"k{i}") for i, s in enumerate(ksqls)]
    ).collect()
    inf = float("inf")
    assert raw[0]["k0"] == inf                     # 1/0 → +Inf
    assert math.isnan(raw[1]["k0"])                # 0/0 → NaN
    assert math.isnan(raw[0]["k1"])                # x % 0 → NaN
    assert (raw[2]["k0"], raw[2]["k1"]) == (-3.5, -1.0)
    assert (raw[3]["k0"], raw[3]["k1"]) == (-3.5, 1.0)
    assert raw[4]["k0"] == -inf                    # -1/0 → -Inf
    assert raw[0]["k2"] == 0.0                     # x / Inf → 0 (JS!)
    assert raw[4]["k2"] == 0.0                     # -1 / -Inf → +0
    # the emit boundary folds the non-finites to null
    folded = corners.select(
        *[fold_nonfinite(F.expr(s).cast("double")).alias(f"k{i}")
          for i, s in enumerate(ksqls)]
    ).collect()
    assert [(r["k0"], r["k1"]) for r in folded[:2]] == [
        (None, None), (None, None)
    ]


def test_math_and_strlen_compile(spark, sf_dir, tmp_path):
    """Round 6: Math.floor/ceil/abs/sqrt/round/pow and string .length
    compile to JVM expressions; JS Math.round is half-up-toward-+∞
    (floor(x+0.5)), and a computed-null (non-finite) operand
    propagates instead of coalescing to 0."""
    import pyspark.sql.functions as F

    from mapreduce_spark.operators.mapphase import MapSpec

    eng = Engine(spark, sf_dir, str(tmp_path))
    js = {
        "map": (
            "part",
            """function(doc) {
                 emit([Math.floor(doc.p_retailprice / 100),
                       doc.p_type.length], 1);
               }""",
        ),
        "reduce": "_count",
    }
    spec = eng._normalize_map(js["map"])
    assert isinstance(spec, MapSpec)  # compiled, no Python anywhere
    got = {
        (r["key"][0], r["key"][1]): r["value"]
        for r in eng.query(js, group=True).rows()
    }
    raw = spark.read.parquet(f"{sf_dir}/part.parquet")
    want = {
        (float(r["b"]), float(r["l"])): r["c"]
        for r in raw.groupBy(
            F.floor(F.col("p_retailprice") / 100).alias("b"),
            F.length("p_type").alias("l"),
        ).agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == want and got

    # JS Math.round semantics: -2.5 rounds UP to -2 (Spark's round()
    # would give -3); sqrt of a negative is IEEE NaN (folded to null
    # at the emit boundary, not inside the expression); pow works
    schema = raw.schema
    spec2 = compile_js_map(
        "function(doc){ emit([Math.round(doc.p_retailprice), "
        "Math.sqrt(doc.p_retailprice), "
        "Math.pow(doc.p_retailprice, 2.0)], null); }",
        "part", schema,
    )
    corners = spark.createDataFrame(
        [(-2.5,), (-4.0,), (3.0,)], "p_retailprice double"
    )
    ksqls = [s for _, s in spec2.key]
    rows = corners.select(
        *[F.expr(s).alias(f"k{i}") for i, s in enumerate(ksqls)]
    ).collect()
    import math as _math

    assert [(r["k0"], r["k2"]) for r in rows] == [
        (-2.0, 6.25), (-4.0, 16.0), (3.0, 9.0)
    ]
    assert _math.isnan(rows[0]["k1"]) and _math.isnan(rows[1]["k1"])
    assert rows[2]["k1"] == 1.7320508075688772

    # non-finite propagation: a by-zero division feeding further
    # arithmetic carries the REAL Infinity (JS: Infinity*2 →
    # Infinity, folded to JSON null only at the emit boundary), it
    # is NOT coalesced back to 0
    from mapreduce_spark.operators.mapphase import fold_nonfinite

    spec3 = compile_js_map(
        "function(doc){ emit(doc.p_retailprice / doc.p_size * 2, "
        "null); }",
        "part", schema,
    )
    z = spark.createDataFrame(
        [(10.0, 0.0), (10.0, 5.0)],
        "p_retailprice double, p_size double",
    )
    raw_vals = [
        r["k"] for r in z.select(
            F.expr(spec3.key[1]).alias("k")
        ).collect()
    ]
    assert raw_vals[0] == float("inf") and raw_vals[1] == 4.0
    folded_vals = [
        r["k"] for r in z.select(
            fold_nonfinite(F.expr(spec3.key[1]).cast("double"))
            .alias("k")
        ).collect()
    ]
    assert folded_vals == [None, 4.0]


def test_interpreted_methods_null_skip(spark, tmp_path):
    """Raw-doc interpreter parity: a method call on a null/missing
    field throws in JS → the doc's emits are skipped (tryMap), not
    the build."""
    import json as _json
    import tempfile as _tf

    from mapreduce_spark.sources.docs import (
        TABLES,
        raw_doc_table,
        register_table,
    )

    register_table(raw_doc_table("methdocs"))
    try:
        sf2 = _tf.mkdtemp()
        docs = [
            {"_id": "a", "seq": 1,
             "doc_json": _json.dumps({"name": "Alice", "n": 10})},
            {"_id": "b", "seq": 2,
             "doc_json": _json.dumps({"name": None, "n": 5})},
            {"_id": "c", "seq": 3, "doc_json": _json.dumps({"n": 2})},
        ]
        spark.createDataFrame(
            docs, "_id string, seq long, doc_json string"
        ).write.parquet(f"{sf2}/methdocs.parquet")
        eng = Engine(spark, sf2, str(tmp_path / "v"))
        res = eng.query(
            {"map": ("methdocs",
                     "function(doc){ emit(doc.name.toUpperCase(), "
                     "doc.n * 2 + 1); }")},
            reduce=False,
        )
        rows = {r["id"]: (r["key"], r["value"]) for r in res.rows()}
        assert rows == {"a": ("ALICE", 21.0)}
        # JS substring clamp/swap semantics on the interpreter
        res2 = eng.query(
            {"map": ("methdocs",
                     "function(doc){ emit(doc.name.substring(99, 2), "
                     "null); }")},
            reduce=False,
        )
        got2 = {r["id"]: r["key"] for r in res2.rows()}
        assert got2 == {"a": "ice"}  # swapped + clamped: s[2:5+]
    finally:
        TABLES.pop("methdocs", None)


def test_else_branches_and_log_compile(spark, sf_dir, tmp_path):
    """Round 5: if/else (incl. else-if chains) compiles to negated
    guards; log() calls are parsed and discarded (upstream sandbox
    global).  Every doc lands in exactly one branch — the three
    compiled MapSpecs partition the table."""
    eng = Engine(spark, sf_dir, str(tmp_path))
    js = {
        "map": (
            "orders",
            """function(doc) {
                 log('seen ' + doc.o_orderkey);
                 if (doc.o_totalprice > 200000) {
                   emit('big', 1);
                 } else if (doc.o_totalprice > 100000) {
                   emit('mid', 1);
                 } else {
                   emit('small', 1);
                 }
               }""",
        ),
        "reduce": "_count",
    }
    got = {r["key"]: r["value"]
           for r in eng.query(js, group=True).rows()}
    raw = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = raw.count()
    import pyspark.sql.functions as F

    want = {
        "big": raw.filter(F.col("o_totalprice") > 200000).count(),
        "mid": raw.filter((F.col("o_totalprice") <= 200000)
                          & (F.col("o_totalprice") > 100000)).count(),
        "small": raw.filter(F.col("o_totalprice") <= 100000).count(),
    }
    want = {k: float(v) for k, v in want.items() if v}
    assert got == want
    assert sum(got.values()) == n  # partition: each doc exactly once


def test_looks_like_js_discriminates():
    assert looks_like_js(("orders", "function(doc) { emit(1,1); }"))
    assert not looks_like_js(("orders", lambda d, e: None))
    assert not looks_like_js(MapSpec("orders", ("num", "o_orderkey")))
    assert not looks_like_js("orders/view")


def test_js_view_end_to_end_matches_mapspec(spark, sf_dir, tmp_path):
    """The compiled JS view and the equivalent hand-written MapSpec
    view return identical reduced results through the engine."""
    eng = Engine(spark, sf_dir, str(tmp_path))
    js = {
        "map": (
            "orders",
            """function(doc) {
                 if (doc.o_orderstatus !== 'O') {
                   emit(doc.o_orderpriority, doc.o_totalprice);
                 }
               }""",
        ),
        "reduce": "_sum",
    }
    hand = {
        "map": MapSpec("orders", ("str", "o_orderpriority"),
                       ("num", "o_totalprice"),
                       where="(NOT (o_orderstatus = 'O'))"),
        "reduce": "_sum",
    }
    want = {
        (r["key"], round(r["value"], 6))
        for r in eng.query(hand, group=True).rows()
    }
    got = {
        (r["key"], round(r["value"], 6))
        for r in eng.query(js, group=True).rows()
    }
    assert got == want and want


def test_js_compile_property_matches_python_semantics(spark, sf_dir,
                                                      tmp_path):
    """Property check: random in-subset JS map functions compile to
    MapSpecs whose engine output equals a Python map fn implementing
    the same JS semantics over the doc dicts (nation, 25 rows)."""
    import itertools
    import random

    # default seed is pinned; SPARK_GRAFT_FUZZ_SEED runs a fresh-seed
    # soak (tools/fuzz_soak-style deep hunt) without editing the test
    rng = random.Random(
        int(os.environ.get("SPARK_GRAFT_FUZZ_SEED", "20260813"))
    )
    fields = [("n_name", "str"),
              ("n_regionkey", "num"), ("n_nationkey", "num")]

    def gen_case():
        # guard: none | one cmp | cmp && cmp
        def gen_cmp():
            f, kind = rng.choice(fields)
            op = rng.choice(["===", "!==", "<", ">", "<=", ">="])
            if kind == "num":
                lit = rng.choice([0, 2, 3.5, 10])
                return f"doc.{f} {op} {lit}", f, op, lit
            lit = rng.choice(["ALGERIA", "C", "m"])
            return f"doc.{f} {op} '{lit}'", f, op, lit

        guards = [gen_cmp() for _ in range(rng.randint(0, 2))]
        kf = rng.choice(fields + [("lit_str", None), ("lit_num", None)])
        vf = rng.choice([("n_regionkey", "num"), ("one", None),
                         ("none", None)])
        return guards, kf, vf

    def js_of(guards, kf, vf):
        key = (
            "'k'" if kf[0] == "lit_str"
            else "7" if kf[0] == "lit_num"
            else f"doc.{kf[0]}"
        )
        val = ("1" if vf[0] == "one" else "null" if vf[0] == "none"
               else f"doc.{vf[0]}")
        body = f"emit({key}, {val});"
        for g, *_ in reversed(guards):
            body = f"if ({g}) {{ {body} }}"
        return "function(doc) { " + body + " }"

    OPS = {"===": lambda a, b: a == b, "!==": lambda a, b: a != b,
           "<": lambda a, b: a < b, ">": lambda a, b: a > b,
           "<=": lambda a, b: a <= b, ">=": lambda a, b: a >= b}

    def py_of(guards, kf, vf):
        def fn(doc, emit):
            for _, f, op, lit in guards:
                v = doc[f]
                w = float(lit) if isinstance(lit, (int, float)) else lit
                if not OPS[op](v, w):
                    return
            key = ("k" if kf[0] == "lit_str" else 7.0
                   if kf[0] == "lit_num" else doc[kf[0]])
            val = (1.0 if vf[0] == "one" else None
                   if vf[0] == "none" else doc[vf[0]])
            emit(key, val)
        return fn

    eng = Engine(spark, sf_dir, str(tmp_path))
    for i in range(10):
        guards, kf, vf = gen_case()
        js = js_of(guards, kf, vf)
        want = sorted(
            (r["id"], str(r["key"]), str(r["value"]))
            for r in eng.query(
                ("nation", py_of(guards, kf, vf)), reduce=False
            ).rows()
        )
        got = sorted(
            (r["id"], str(r["key"]), str(r["value"]))
            for r in eng.query(("nation", js), reduce=False).rows()
        )
        assert got == want, f"case {i}: {js}"
        # triangulate: the raw-source INTERPRETER must agree with the
        # compiled path on the same JS over the same doc dicts (no
        # nulls in nation, so the subset semantics coincide)
        from mapreduce_spark.functions.jscompile import compile_js_map_fn

        got_interp = sorted(
            (r["id"], str(r["key"]), str(r["value"]))
            for r in eng.query(
                ("nation", compile_js_map_fn(js)), reduce=False
            ).rows()
        )
        assert got_interp == want, f"interp case {i}: {js}"


def test_js_view_persists_and_truthiness_guard(spark, sf_dir, tmp_path):
    """JS views register via put_design like any other; a truthiness
    guard on a string field compiles to NOT NULL/non-empty."""
    eng = Engine(spark, sf_dir, str(tmp_path))
    eng.put_design(
        "d",
        {"v": {"map": ("nation",
                       "function(doc) { if (doc.n_name) "
                       "emit(doc.n_name, doc.n_regionkey); }")}},
    )
    eng.update_view("d/v")
    rows = eng.query("d/v", stale="ok").rows()
    n = eng.spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    assert len(rows) == n
    assert all(isinstance(r["key"], str) and r["key"] for r in rows)


def test_compiled_throw_aborts_later_emits(spark, tmp_path):
    """Round 6 (ADVICE): a method call on a null field in emit #1
    throws in JS, which aborts ALL remaining emits of the doc — the
    compiled multi-emit path must carry the null-guard into emit #2,
    matching the interpreted tryMap semantics exactly."""
    import json as _json
    import tempfile as _tf

    from mapreduce_spark.sources.docs import (
        DocTable,
        TABLES,
        raw_doc_table,
        register_table,
    )

    sf2 = _tf.mkdtemp()
    rows = [
        ("t1", "Alpha", 10),
        ("t2", None, 20),   # .toLowerCase() on null → throw
        ("t3", "Gamma", 30),
    ]
    spark.createDataFrame(
        rows, "tk string, name string, n int"
    ).write.parquet(f"{sf2}/typednull.parquet")
    register_table(DocTable("typednull", "typednull:%s", ("tk",),
                            "abs(hash(tk))"))
    # same docs as a raw source for the interpreted reference run
    docs = [
        {"_id": f"typednull:{tk}", "seq": i + 1,
         "doc_json": _json.dumps({"tk": tk, "name": nm, "n": float(n)})}
        for i, (tk, nm, n) in enumerate(rows)
    ]
    spark.createDataFrame(
        docs, "_id string, seq long, doc_json string"
    ).write.parquet(f"{sf2}/rawnull.parquet")
    register_table(raw_doc_table("rawnull"))
    src = """function(doc) {
        emit(doc.name.toLowerCase(), doc.n);
        emit('count', doc.n);
    }"""
    try:
        eng = Engine(spark, sf2, str(tmp_path / "v"))
        # the compiled form is MapSpecs (fast path) and emit #2 carries
        # emit #1's null-guard forward
        from mapreduce_spark.sources.docs import load_table

        specs = compile_js_map(
            src, "typednull",
            load_table(spark, sf2, "typednull").schema,
        )
        assert isinstance(specs, list) and len(specs) == 2
        assert all(isinstance(s, MapSpec) for s in specs)
        assert "name IS NOT NULL" in (specs[1].where or "")
        compiled = eng.query({"map": ("typednull", src)}, reduce=False)
        interp = eng.query({"map": ("rawnull", src)}, reduce=False)
        got_c = sorted((r["key"], r["value"]) for r in compiled.rows())
        got_i = sorted((r["key"], r["value"]) for r in interp.rows())
        assert got_c == got_i
        # doc t2 contributes to NEITHER emit (throw aborts the doc)
        assert got_c == [("alpha", 10.0), ("count", 10.0),
                         ("count", 30.0), ("gamma", 30.0)]
    finally:
        TABLES.pop("typednull", None)
        TABLES.pop("rawnull", None)


def test_guard_short_circuit_contexts(spark, tmp_path):
    """Round 6 (review): method-null guards hoisted from inside && / ||
    apply only when their site is actually EVALUATED (JS short-circuit),
    and a NULL prior if-cond counts as falsy (JS), not SQL-unknown.
    Compiled specs must agree with the statement interpreter on every
    corner doc."""
    import tempfile as _tf

    import pyspark.sql.functions as F

    from mapreduce_spark.functions.jscompile import compile_js_map
    from mapreduce_spark.functions.jsmap import compile_js_map_full
    from mapreduce_spark.sources.docs import DocTable, register_table

    rows = [
        ("d1", 3.0, None, None),    # && LHS false, a null: no throw
        ("d2", 7.0, None, None),    # && LHS true, a null: throw
        ("d3", 7.0, "Xx", None),    # both sides evaluated, no throw
        ("d4", None, None, None),   # prior cond NULL: JS falsy
        ("d5", 0.0, "hi", None),    # || LHS truthy: RHS never runs
        ("d6", 0.0, None, "X"),     # || LHS falsy, b ok
        ("d7", 0.0, None, None),    # || LHS falsy, b null: throw
    ]
    sf2 = _tf.mkdtemp()
    df = spark.createDataFrame(
        rows, "tk string, n double, a string, b string"
    )
    df.write.parquet(f"{sf2}/guardtab.parquet")
    register_table(
        DocTable("guardtab", "guardtab:%s", ("tk",), "abs(hash(tk))")
    )
    # every emit keys [emit_id, …] so compiled (spec index) and
    # interpreted (key[0]) emits can be matched doc-by-doc
    sources = [
        """function(doc) {
             if (doc.n > 5 && doc.a.toLowerCase() == 'x') {
               emit([1, 'k'], 1);
             }
             emit([2, 'k'], 1);
           }""",
        """function(doc) {
             if (doc.n > 5) emit([1, doc.a.toLowerCase()], 1);
             emit([2, 'k'], 1);
           }""",
        """function(doc) {
             if (doc.a || doc.b.toLowerCase() == 'x') {
               emit([1, 'k'], 1);
             }
             emit([2, 'k'], 1);
           }""",
        # review-2 repro: nested || over && — the guard context is a
        # CONJUNCTION, so the NOT in the where-conjunct must
        # parenthesize it (SQL NOT binds tighter than AND)
        """function(doc) {
             if (doc.a || doc.n > 5 && doc.b.toLowerCase() == 'x') {
               emit([1, 'k'], 1);
             }
             emit([2, 'k'], 1);
           }""",
    ]
    try:
        for src in sources:
            specs = compile_js_map(src, "guardtab", df.schema)
            if not isinstance(specs, list):
                specs = [specs]
            compiled = set()
            for i, spec in enumerate(specs):
                sel = df.filter(F.expr(spec.where)) if spec.where \
                    else df
                compiled |= {(r["tk"], i + 1) for r in
                             sel.select("tk").collect()}
            fn = compile_js_map_full(src)
            interpreted = set()
            for tk, n, a, b in rows:
                emits = []
                fn({"tk": tk, "n": n, "a": a, "b": b},
                   lambda k, v: emits.append(k))
                interpreted |= {(tk, int(k[0])) for k in emits}
            assert compiled == interpreted, src
    finally:
        from mapreduce_spark.sources.docs import TABLES

        TABLES.pop("guardtab", None)


def test_indexof_and_es6_string_predicates(spark, sf_dir, tmp_path):
    """Round 6: .indexOf (instr()-1) and ES6 startsWith/endsWith/
    includes compile to JVM expressions; the canonical
    `doc.f.indexOf('p') === 0` type-scoping guard rewrites to a
    pushable startswith() predicate that reaches the parquet scan."""
    import pyspark.sql.functions as F

    eng = Engine(spark, sf_dir, str(tmp_path))
    # semantics: compiled output == DataFrame equivalent
    js = {
        "map": (
            "orders",
            """function(doc) {
                 if (doc.o_orderpriority.indexOf('URGENT') >= 0) {
                   emit(doc.o_orderpriority.indexOf('-'), 1);
                 }
               }""",
        ),
        "reduce": "_count",
    }
    got = {r["key"]: r["value"]
           for r in eng.query(js, group=True).rows()}
    raw = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want = {
        float(r["k"]): float(r["c"])
        for r in raw.filter(F.col("o_orderpriority").contains("URGENT"))
        .groupBy(
            (F.instr("o_orderpriority", "-") - 1).alias("k")
        ).agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == want and got

    # idiom rewrites: === 0 → startswith (and the scan can push it)
    schema = raw.schema
    spec = compile_js_map(
        "function(doc){ if (doc.o_orderpriority.indexOf('1-') === 0)"
        " emit(doc.o_orderkey, 1); }",
        "orders", schema,
    )
    assert "startswith(o_orderpriority, '1-')" in spec.where
    assert "instr" not in spec.where
    spec2 = compile_js_map(
        "function(doc){ if (doc.o_orderpriority.indexOf('x') === -1)"
        " emit(1, 1); }",
        "orders", schema,
    )
    assert "NOT contains(o_orderpriority, 'x')" in spec2.where
    # ES6 predicates in guards
    spec3 = compile_js_map(
        "function(doc){ if (doc.o_orderpriority.startsWith('2') && "
        "doc.o_orderpriority.endsWith('H') && "
        "doc.o_orderpriority.includes('IG')) emit(1, 1); }",
        "orders", schema,
    )
    for frag in ("startswith(o_orderpriority, '2')",
                 "endswith(o_orderpriority, 'H')",
                 "contains(o_orderpriority, 'IG')"):
        assert frag in spec3.where
    # absent-needle indexOf returns -1 (instr-1), JS parity
    spec4 = compile_js_map(
        "function(doc){ emit(doc.o_orderpriority.indexOf('zz'), 1); }",
        "orders", schema,
    )
    row = raw.limit(1).select(F.expr(spec4.key[1]).alias("k")).first()
    assert row["k"] == -1.0

    # pushdown: the rewritten guard reaches the parquet scan of the
    # BASE table at build time
    res = eng.query(
        {"map": ("orders",
                 "function(doc){ if (doc.o_orderpriority"
                 ".indexOf('1-') === 0) emit(doc.o_orderkey, 1); }")},
        reduce=False,
    )
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith(o_orderpriority,1-)" in plan, plan[:2000]


def test_object_value_emits_compile(spark, sf_dir, tmp_path):
    """Round 6: flat object values ({total: doc.x, c: 1}) compile to a
    JVM-built JSON column — the common accumulator-feed emit shape no
    longer forces the whole ddoc onto the interpreter — and a JS
    custom reduce over the compiled object values works end to end."""
    import pyspark.sql.functions as F

    eng = Engine(spark, sf_dir, str(tmp_path))
    src = ("orders",
           "function(doc){ emit(doc.o_orderpriority, "
           "{t: doc.o_totalprice, c: 1, tag: 'x', z: null}); }")
    spec = eng._normalize_map(src)
    assert isinstance(spec, MapSpec)  # compiled, not interpreted
    res = eng.query({"map": src}, reduce=False, limit=3)
    for r in res.rows():
        v = r["value"]
        assert set(v) == {"t", "c", "tag", "z"}
        assert v["c"] == 1.0 and v["tag"] == "x" and v["z"] is None
        assert isinstance(v["t"], float)

    # the canonical pairing: compiled obj-value map + JS custom reduce
    js = {
        "map": src,
        "reduce": """function(keys, values, rereduce) {
            var s = 0; var c = 0;
            for (var i = 0; i < values.length; i++) {
              s += values[i].t; c += values[i].c;
            }
            return {t: s, c: c};
        }""",
    }
    got = {
        r["key"]: (round(r["value"]["t"], 2), r["value"]["c"])
        for r in eng.query(js, group=True).rows()
    }
    raw = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want = {
        r["k"]: (round(r["s"], 2), float(r["c"]))
        for r in raw.groupBy(F.col("o_orderpriority").alias("k"))
        .agg(F.sum("o_totalprice").alias("s"),
             F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == want and got

    # an object value carrying _id beyond the pure link shape keeps
    # upstream's linked-document semantics via the interpreter tier
    mixed = eng._normalize_map(
        ("orders",
         "function(doc){ emit(1, {_id: doc.o_orderpriority, x: 2}); }")
    )
    assert not isinstance(mixed, MapSpec)


def test_ternary_compiles(spark, sf_dir, tmp_path):
    """Round 6: the JS conditional operator compiles to CASE WHEN in
    keys and values, with branch throw-guards gated on the condition
    (only the TAKEN branch evaluates in JS)."""
    import pyspark.sql.functions as F

    eng = Engine(spark, sf_dir, str(tmp_path))
    js = {
        "map": (
            "orders",
            """function(doc) {
                 emit(doc.o_totalprice > 150000 ? 'big' : 'small',
                      doc.o_orderstatus === 'O' ? 1 : 2);
               }""",
        ),
        "reduce": "_sum",
    }
    spec = eng._normalize_map(js["map"])
    assert isinstance(spec, MapSpec)  # compiled
    got = {r["key"]: r["value"]
           for r in eng.query(js, group=True).rows()}
    raw = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want = {
        r["k"]: float(r["v"])
        for r in raw.groupBy(
            F.when(F.col("o_totalprice") > 150000, "big")
            .otherwise("small").alias("k")
        ).agg(F.sum(
            F.when(F.col("o_orderstatus") == "O", 1).otherwise(2)
        ).alias("v")).collect()
    }
    assert got == want and set(got) == {"big", "small"}

    # branch guard gating: the method in the taken-branch-only
    # position must not impose its null-guard on the other branch
    # (compiled == interpreted over corner docs)
    from mapreduce_spark.functions.jsmap import compile_js_map_full
    from mapreduce_spark.sources.docs import DocTable, register_table
    import tempfile as _tf

    rows = [("t1", 10.0, None), ("t2", 1.0, None), ("t3", 10.0, "Ab")]
    sf2 = _tf.mkdtemp()
    df = spark.createDataFrame(rows, "tk string, n double, s string")
    df.write.parquet(f"{sf2}/terntab.parquet")
    register_table(
        DocTable("terntab", "terntab:%s", ("tk",), "abs(hash(tk))")
    )
    src = ("function(doc){ emit(doc.n > 5 ? doc.s.toLowerCase() "
           ": 'low', 1); }")
    try:
        spec2 = compile_js_map(src, "terntab", df.schema)
        sel = df.filter(F.expr(spec2.where)) if spec2.where else df
        compiled = {
            (r["tk"], r["k"]) for r in
            sel.select("tk", F.expr(spec2.key[1]).alias("k")).collect()
        }
        fn = compile_js_map_full(src)
        interpreted = set()
        for tk, n, s in rows:
            emits = []
            fn({"tk": tk, "n": n, "s": s},
               lambda k, v: emits.append(k))
            interpreted |= {(tk, k) for k in emits}
        # t1: n>5, s null → JS throws → skipped; t2 → 'low';
        # t3 → 'ab'
        assert compiled == interpreted == {("t2", "low"), ("t3", "ab")}
    finally:
        from mapreduce_spark.sources.docs import TABLES

        TABLES.pop("terntab", None)


def test_js_compile_fuzz_round6_constructs(spark, tmp_path):
    """Grammar fuzzer over the ROUND-6 compiled subset (arithmetic
    incl. / and %, Math.*, .length, string methods, indexOf idioms,
    ternaries, guards with &&/||/!): random kind-correct ddocs must
    produce IDENTICAL emits from the compiled MapSpec path and the
    statement interpreter over a corner-rich table (nulls, zeros,
    negatives, empty strings).  Division and modulo run in guard
    conditions too: compiled arithmetic carries real IEEE
    non-finites (round-6 late), Infinity compares natively and NaN
    is nulled at comparison sites, so both tiers agree everywhere."""
    import math as _math
    import random
    import tempfile as _tf

    import pyspark.sql.functions as F

    from mapreduce_spark.functions.jscompile import compile_js_map
    from mapreduce_spark.functions.jsmap import compile_js_map_full
    from mapreduce_spark.sources.docs import (
        DocTable,
        TABLES,
        register_table,
    )

    import datetime as _dt

    ts_vals = [
        _dt.datetime(2024, 1, 7, 23, 59, 59),   # a Sunday
        _dt.datetime(1970, 1, 1, 0, 0, 0),      # the epoch
        None,                                   # new Date(null) = epoch
        _dt.datetime(2000, 2, 29, 12, 30, 15),  # leap day
        _dt.datetime(1969, 12, 31, 23, 0, 1),   # pre-epoch
        _dt.datetime(1995, 3, 17, 10, 30, 0),
    ]
    rows = [
        ("d0", "Alpha", "x-1", 10.0, 2.0),
        ("d1", None, "user:9", -7.5, 0.0),
        ("d2", "", "zz", 0.0, 3.0),
        ("d3", "Beta-X", "user:1", 5.0, -2.0),
        ("d4", None, "", None, 1.0),
        ("d5", "gamma", "x-2", 2.5, 0.0),
    ]
    rows = [r + (ts_vals[i],) for i, r in enumerate(rows)]
    sf2 = _tf.mkdtemp()
    df = spark.createDataFrame(
        rows,
        "tk string, s string, t string, n double, m double, "
        "ts timestamp",
    )
    df.write.parquet(f"{sf2}/fuzztab.parquet")
    register_table(
        DocTable("fuzztab", "fuzztab:%s", ("tk",), "abs(hash(tk))")
    )

    rng = random.Random(
        int(os.environ.get("SPARK_GRAFT_FUZZ_SEED", "20260814"))
    )

    def num_expr(depth, in_cond):
        c = rng.randint(0, 8 if depth > 0 else 1)
        if c == 0:
            return rng.choice(["doc.n", "doc.m"])
        if c == 1:
            return rng.choice(["2", "0.5", "3"])
        if c == 2:
            op = rng.choice(["+", "-", "*", "/", "%"])
            return (f"({num_expr(depth - 1, in_cond)} {op} "
                    f"{num_expr(depth - 1, in_cond)})")
        if c == 3:
            f = rng.choice(["floor", "ceil", "abs", "round", "sqrt"])
            return f"Math.{f}({num_expr(depth - 1, in_cond)})"
        if c == 4:
            return "doc.t.length"
        if c == 5:
            return "doc.s.length"          # null receiver → throw
        if c == 6:
            return f"doc.t.indexOf('{rng.choice(['x', 'user:'])}')"
        if c == 7:
            # compiled Date getters over the typed ts column (round-6
            # late): both tiers must agree incl. null ts (= epoch)
            g = rng.choice(["getUTCFullYear", "getUTCMonth",
                            "getUTCDate", "getUTCDay", "getUTCHours",
                            "getUTCMinutes", "getUTCSeconds"])
            return f"new Date(doc.ts).{g}()"
        return (f"({cond(depth - 1)} ? {num_expr(depth - 1, in_cond)}"
                f" : {num_expr(depth - 1, in_cond)})")

    def str_expr(depth):
        c = rng.randint(0, 4 if depth > 0 else 1)
        if c == 0:
            return rng.choice(["doc.t", "doc.s"])
        if c == 1:
            return rng.choice(["'lit'", "'x'"])
        if c == 2:
            return f"({str_expr(depth - 1)} + {str_expr(depth - 1)})"
        if c == 3:
            m = rng.choice(["toLowerCase()", "toUpperCase()",
                            "substring(0, 2)"])
            return f"doc.{rng.choice(['s', 't'])}.{m}"
        return (f"({cond(depth - 1)} ? {str_expr(depth - 1)} : "
                f"{str_expr(depth - 1)})")

    def cond(depth):
        c = rng.randint(0, 6 if depth > 0 else 1)
        if c == 0:
            op = rng.choice(["===", "!==", "<", ">", "<=", ">="])
            return f"{num_expr(depth - 1, True)} {op} " \
                   f"{num_expr(depth - 1, True)}"
        if c == 1:
            op = rng.choice(["===", "!=="])
            rhs = rng.choice(["'x-1'", "null"])
            lhs = (f"doc.{rng.choice(['s', 't', 'n'])}"
                   if rhs == "null" else str_expr(depth - 1))
            return f"{lhs} {op} {rhs}"
        if c == 2:
            return f"({cond(depth - 1)} && {cond(depth - 1)})"
        if c == 3:
            return f"({cond(depth - 1)} || {cond(depth - 1)})"
        if c == 4 and depth > 0:
            m = rng.choice(["startsWith", "endsWith", "includes"])
            lit = rng.choice(["'x'", "'user:'", "'a'"])
            return f"doc.{rng.choice(['s', 't'])}.{m}({lit})"
        if c == 5 and depth > 0:
            # string relational (JS lexicographic UTF-16 order)
            op = rng.choice(["<", ">", "<=", ">="])
            lit = rng.choice(["'Beta'", "'a'", "'x-1'", "''"])
            return f"doc.{rng.choice(['s', 't'])} {op} {lit}"
        return f"!({cond(depth - 1)})"

    def norm(v):
        if isinstance(v, float):
            if _math.isnan(v) or _math.isinf(v):
                return None
            return round(v, 8)
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v

    checked = 0
    try:
        for i in range(90):
            guards = "".join(
                f"if ({cond(1)}) {{ " for _ in range(rng.randint(0, 2))
            )
            key = rng.choice([num_expr(2, False), str_expr(2)])
            val = rng.choice([num_expr(2, False), "null", "1"])
            emits = f"emit({key}, {val});"
            r = rng.random()
            if r < 0.4:
                # multi-emit: exercises pending-guard carrying (a
                # throw in emit 1 must abort emit 2 on both tiers)
                k2 = rng.choice([num_expr(1, False), str_expr(1)])
                v2 = rng.choice([num_expr(1, False), "null"])
                emits += f" emit({k2}, {v2});"
            elif r < 0.6:
                # if/else emit branches: negated-guard compilation
                k2 = rng.choice([num_expr(1, False), str_expr(1)])
                emits = (f"if ({cond(1)}) {{ {emits} }} "
                         f"else {{ emit({k2}, null); }}")
            src = ("function(doc) { " + guards + emits +
                   " }" * guards.count("{") + " }")
            try:
                specs = compile_js_map(src, "fuzztab", df.schema)
            except JSCompileError:
                continue  # generator strayed out of subset: fine
            if not isinstance(specs, list):
                specs = [specs]
            compiled = set()
            for spec in specs:
                sel = df.filter(F.expr(spec.where)) if spec.where \
                    else df
                ksqls = (
                    [c[1] for c in spec.key]
                    if isinstance(spec.key, list) else [spec.key[1]]
                )
                vsql = spec.value[1] if spec.value else "null"
                for r in sel.select(
                    "tk",
                    *[F.expr(k).alias(f"k{j}")
                      for j, k in enumerate(ksqls)],
                    F.expr(vsql).alias("v"),
                ).collect():
                    compiled.add((
                        r["tk"],
                        tuple(norm(r[f"k{j}"])
                              for j in range(len(ksqls))),
                        norm(r["v"]),
                    ))
            fn = compile_js_map_full(src)
            interpreted = set()
            for tk, s, t, n, m, ts in rows:
                emits = []
                iso = (ts.strftime("%Y-%m-%dT%H:%M:%S")
                       if ts is not None else None)
                fn({"tk": tk, "s": s, "t": t, "n": n, "m": m,
                    "ts": iso},
                   lambda k, v: emits.append((k, v)))
                for k, v in emits:
                    kt = (tuple(norm(x) for x in k)
                          if isinstance(k, list) else (norm(k),))
                    interpreted.add((tk, kt, norm(v)))
            assert compiled == interpreted, f"case {i}: {src}"
            checked += 1
        assert checked >= 25, f"only {checked} in-subset cases"
    finally:
        TABLES.pop("fuzztab", None)


def test_date_getters_compile_on_typed_tables(spark, sf_dir,
                                              tmp_path):
    """Round 6 (late): new Date(doc.ts).getUTC*() over a TYPED
    timestamp column compiles to plain JVM date functions (year/
    month/day/dayofweek/hour…) — the Spark-idiomatic date bucketing —
    and equals the interpreter tier on the same source.  Non-getter
    shapes (getTime, serializers, string receivers) stay interpreted.
    """
    from mapreduce_spark.functions.jscompile import compile_js_map_fn

    eng = Engine(spark, sf_dir, str(tmp_path))
    src = """function(doc) {
      emit([new Date(doc.ts).getUTCFullYear(),
            new Date(doc.ts).getUTCMonth() + 1,
            new Date(doc.ts).getUTCDate(),
            new Date(doc.ts).getUTCDay()], 1);
    }"""
    spec = eng._normalize_map(("events", src))
    assert isinstance(spec, MapSpec)
    assert "year(" in spec.key[0][1]
    got = {
        tuple(r["key"]): r["value"]
        for r in eng.query({"map": spec, "reduce": "_count"},
                           group=True).rows()
    }
    interp = {
        tuple(r["key"]): r["value"]
        for r in eng.query(
            {"map": ("events", compile_js_map_fn(src)),
             "reduce": "_count"}, group=True,
        ).rows()
    }
    assert got == interp and got

    # getter in a GUARD compiles too (lands in the scan's filters)
    spec2 = eng._normalize_map((
        "events",
        "function(doc){ if (new Date(doc.ts).getUTCFullYear() === "
        "2024) emit(doc.event_type, 1); }",
    ))
    assert isinstance(spec2, MapSpec) and "year(" in spec2.where

    # out-of-subset date shapes interpret (no silent miscompile)
    for bad in (
        "function(doc){ emit(new Date(doc.ts).getTime(), 1); }",
        "function(doc){ emit(new Date(doc.ts).toISOString(), 1); }",
        "function(doc){ emit(new Date(doc.event_type)"
        ".getUTCFullYear(), 1); }",   # string receiver
        "function(doc){ emit(new Date(doc.ts), 1); }",  # bare Date
    ):
        with pytest.raises(JSCompileError):
            compile_js_map(
                bad, "events",
                __import__("mapreduce_spark.sources.docs",
                           fromlist=["load_table"])
                .load_table(spark, sf_dir, "events").schema,
            )


def test_nan_guard_semantics_match_interpreter(spark, tmp_path):
    """Adversarial-review regressions: a computed NaN is FALSY in
    compiled truthiness guards (Spark NaN <> 0 is true, JS
    Boolean(NaN) is false), never equal to anything including itself
    and never conflated with a true null in null-safe equality, and
    Math.floor of a huge finite double returns it unchanged (no
    BIGINT saturation)."""
    import pyspark.sql.functions as F

    from mapreduce_spark.functions.jsmap import compile_js_map_full
    from mapreduce_spark.sources.docs import (
        DocTable,
        TABLES,
        register_table,
    )

    register_table(DocTable("nantab", "nantab:%s", ("tk",),
                            "abs(hash(tk))"))
    try:
        df = spark.createDataFrame(
            [("d0", 1.0, 0.0, None), ("d1", 0.0, 0.0, 2.0),
             ("d2", 6.0, 3.0, 2.0), ("d3", 4.0, 0.0, None)],
            "tk string, a double, b double, c double",
        )

        def both(src):
            specs = compile_js_map(src, "nantab", df.schema)
            specs = specs if isinstance(specs, list) else [specs]
            comp = set()
            for sp in specs:
                sel = df.filter(F.expr(sp.where)) if sp.where else df
                comp |= {r["tk"] for r in sel.select("tk").collect()}
            fn = compile_js_map_full(src)
            interp = set()
            for row in df.collect():
                d = {"tk": row.tk, "a": row.a, "b": row.b,
                     "c": row.c}
                fn(d, lambda k, v, _t=row.tk: interp.add(_t))
            return comp, interp

        for src in (
            "function(doc){ if (doc.a % doc.b) emit(1, 1); }",
            "function(doc){ if (!(doc.a / doc.b)) emit(1, 1); }",
            "function(doc){ if (doc.a % doc.b === doc.c) "
            "emit(1, 1); }",
            "function(doc){ if (doc.a % doc.b !== doc.c) "
            "emit(1, 1); }",
            "function(doc){ if (doc.a % doc.b === doc.a % doc.b) "
            "emit(1, 1); }",
            "function(doc){ if (doc.a / doc.b !== doc.a / doc.b) "
            "emit(1, 1); }",
        ):
            comp, interp = both(src)
            assert comp == interp, (src, comp, interp)

        spec = compile_js_map(
            "function(doc){ emit(Math.floor(doc.a * 1e30), 1); }",
            "nantab", df.schema,
        )
        r = df.limit(1).select(
            F.expr(spec.key[1]).alias("k")
        ).collect()[0]["k"]
        assert r == 1e30
    finally:
        TABLES.pop("nantab", None)


# (source, lands on the MapSpec tier, DuckDB predicate selecting the
# docs JS emits for): `!` binds tighter than `<`/`==`, the doc is the
# first parameter whatever its name, and `doc` unbound throws per doc
_TIERS_AGREE = [
    ("function(doc) { if (!doc.l_discount < 1) "
     "emit(doc.l_returnflag, 1); }", False, "l_discount <> 0"),
    ("function(doc) { if (!doc.l_discount == 1) "
     "emit(doc.l_returnflag, 1); }", False, "l_discount = 0"),
    ("function (x) { emit(doc.l_returnflag, 1); }", False, "false"),
    ("function (d) { emit(d.l_returnflag, 1); }", True, "true"),
    ("function(doc) { if ((doc.l_discount + 1) > 1.05) "
     "emit(doc.l_returnflag, 1); }", True, "l_discount + 1 > 1.05"),
]


@pytest.mark.parametrize(
    "src, compiled, where", _TIERS_AGREE,
    ids=["not_lt", "not_eq", "unbound_doc", "param_d", "paren_arith"],
)
def test_routed_tier_answers_like_interpreter(spark, sf_dir, tmp_path,
                                              duck, src, compiled,
                                              where):
    """The tier a JS view is routed to emits the same rows as the
    statement interpreter, and as many as JS would."""
    from mapreduce_spark.functions.jscompile import compile_js_map_fn

    eng = Engine(spark, sf_dir, str(tmp_path))
    assert isinstance(eng._normalize_map(("lineitem", src)),
                      MapSpec) == compiled

    def rows(fun):
        return sorted((r["key"], r["id"], r["value"])
                      for r in eng.query(fun, reduce=False).rows())

    got = rows(("lineitem", src))
    assert got == rows(("lineitem", compile_js_map_fn(src)))
    assert len(got) == duck.execute(
        f"SELECT count(*) FROM lineitem WHERE {where}"
    ).fetchone()[0]

"""Statement-level interpreted JS map functions (F1 fallback tier):
out-of-compiled-subset design docs must run on typed tables through
the full interpreter (functions/jsmap.py), with the compiled MapSpec
path still winning whenever the source fits its subset."""

import json

import pytest

from mapreduce_spark.engine import Engine
from mapreduce_spark.functions.jsmap import JSMapFunctionFull
from mapreduce_spark.functions.jsreduce import JSReduceError
from mapreduce_spark.operators.mapphase import MapSpec


def run_map(src: str, doc: dict) -> list:
    out = []
    JSMapFunctionFull(src)(doc, lambda k, v: out.append((k, v)))
    return out


def test_interpreter_division_modulo_split():
    src = """function(doc) {
        var words = doc.name.split(' ');
        emit([words[0], doc.n / 4, doc.n % 3], words.length);
    }"""
    assert run_map(src, {"name": "alpha beta gamma", "n": 10.0}) == [
        (["alpha", 2.5, 1.0], 3.0)
    ]


def test_interpreter_parseint_tofixed_json():
    src = """function(doc) {
        emit(parseInt(doc.code, 10) + 1,
             [parseFloat('2.5x'), (3.14159).toFixed(2),
              JSON.parse(doc.payload).k,
              JSON.stringify({a: 1})]);
    }"""
    doc = {"code": "042abc", "payload": '{"k": "v"}'}
    assert run_map(src, doc) == [
        (43.0, [2.5, "3.14", "v", '{"a":1}'])
    ]


def test_interpreter_loop_accumulator():
    src = """function(doc) {
        var total = 0;
        for (var i = 0; i < doc.vals.length; i++) {
            total += doc.vals[i];
        }
        if (total > 5) { emit(doc.tag, total); }
    }"""
    assert run_map(src, {"tag": "t", "vals": [1.0, 2.0, 4.0]}) == [
        ("t", 7.0)
    ]
    assert run_map(src, {"tag": "t", "vals": [1.0]}) == []
    # const declares like var (it parsed as a bare `const` name that
    # threw, skipping every doc)
    src = src.replace("var total = 0", "const zero = 0; var total = zero")
    assert run_map(src, {"tag": "t", "vals": [4.0, 2.0]}) == [
        ("t", 6.0)
    ]


def test_interpreter_string_methods():
    src = """function(doc) {
        var s = doc.s;
        emit([s.trim().charAt(0), s.indexOf('b'), s.replace('b', 'X'),
              s.includes('cd'), 'n:' + (5.0).toString()], null);
    }"""
    assert run_map(src, {"s": "abcd"}) == [
        (["a", 1.0, "aXcd", True, "n:5"], None)
    ]


def test_interpreter_runtime_throw_skips_rest_of_doc():
    # method on null → TypeError → tryMap keeps earlier emits only
    src = """function(doc) {
        emit('first', 1);
        emit(doc.name.split(' ')[0], 2);
        emit('after', 3);
    }"""
    assert run_map(src, {"name": "ok go"}) == [
        ("first", 1.0), ("ok", 2.0), ("after", 3.0)
    ]
    assert run_map(src, {"name": None}) == [("first", 1.0)]
    # nested member access on a missing field throws too
    src2 = "function(doc) { emit(doc.a.b, 1); }"
    assert run_map(src2, {"a": {"b": "x"}}) == [("x", 1.0)]
    assert run_map(src2, {}) == []


def test_interpreter_object_helpers_and_foreach():
    src = """function(doc) {
        Object.keys(doc.tags).forEach(function(k) {
            if (doc.tags.hasOwnProperty(k)) { emit(k, doc.tags[k]); }
        });
    }"""
    assert sorted(run_map(src, {"tags": {"x": 1.0, "y": 2.0}})) == [
        ("x", 1.0), ("y", 2.0)
    ]


def test_interpreter_out_of_subset_still_loud():
    # round 8 emptied the loud-Array-method list (ES2022/23 family
    # included); localeCompare is the lone deliberate string
    # exclusion left (ICU non-goal) and stays the loud witness
    with pytest.raises(JSReduceError):
        run_map("function(doc) { emit(doc.s.localeCompare('x'), 1); }",
                {"s": "x"})
    # toSorted is non-mutating sort (ES2023) — in the subset now
    assert run_map(
        "function(doc) { emit(doc.v.toSorted(), doc.v[0]); }",
        {"v": [2.0, 1.0]}) == [([1.0, 2.0], 2.0)]
    # matchAll with a string pattern works (implicit new RegExp(p,'g'))
    assert run_map(
        "function(doc) { emit(doc.s.matchAll('x').length, 1); }",
        {"s": "xax"}) == [(2.0, 1.0)]
    # flatMap(null) is now the FAITHFUL runtime TypeError (doc skip)
    assert run_map("function(doc) { emit(doc.v.flatMap(null), 1); }",
                   {"v": [2, 1]}) == []
    # .sort() is IN the subset now (round 6 late)
    assert run_map("function(doc) { emit(doc.v.sort(), 1); }",
                   {"v": [2.0, 1.0]}) == [([1.0, 2.0], 1.0)]
    # .match()/.splice() joined the subset in round 7 (jsregex /
    # the array long tail)
    assert run_map("function(doc) { emit(doc.s.match('x')[0], 1); }",
                   {"s": "x"}) == [("x", 1.0)]
    assert run_map("function(doc) { emit(doc.v.splice(0, 1), 1); }",
                   {"v": [2.0, 1.0]}) == [([2.0], 1.0)]


def test_typed_table_fallback_end_to_end(spark, sf_dir, tmp_path):
    """Engine-level: an out-of-subset ddoc on a TYPED fixture table
    runs interpreted and matches the hand-computed DataFrame result;
    a compilable ddoc on the same table still becomes MapSpec(s)."""
    import pyspark.sql.functions as F

    eng = Engine(spark, sf_dir, str(tmp_path))
    # division + split: rejected by the compiler, runs interpreted
    js = {
        "map": (
            "part",
            """function(doc) {
                 var w = doc.p_type.split(' ');
                 emit(w[0], doc.p_retailprice / 2);
               }""",
        ),
        "reduce": "_sum",
    }
    got = {r["key"]: round(r["value"], 4)
           for r in eng.query(js, group=True).rows()}
    raw = spark.read.parquet(f"{sf_dir}/part.parquet")
    want = {
        r["k"]: round(r["v"], 4)
        for r in raw.groupBy(
            F.split("p_type", " ").getItem(0).alias("k")
        ).agg((F.sum("p_retailprice") / 2).alias("v")).collect()
    }
    assert got == want and got
    # the fallback vdef is (table, JSMapFunctionFull)
    vd = eng._normalize_map(js["map"])
    assert isinstance(vd, tuple) and isinstance(vd[1], JSMapFunctionFull)
    # …while a compilable source still takes the MapSpec fast path
    fast = eng._normalize_map(
        ("part", "function(doc) { emit(doc.p_brand, 1); }")
    )
    assert isinstance(fast, MapSpec)


@pytest.mark.parametrize("raw", [False, True], ids=["orders", "raw"])
@pytest.mark.parametrize(
    "src, token",
    [
        ("function(doc) { emit(`t${doc.a}`, 1); }", "`"),
        ("function(doc) { emit(doc.a, 1) @ }", "@"),
    ],
    ids=["template_literal", "stray_char"],
)
def test_unparsable_map_source_fails_put_design(spark, sf_dir, tmp_path,
                                                raw, src, token):
    """A map source no JS parser accepts is a user error at
    put_design on a typed and on a raw-doc table: JSCompileError (a
    QueryParseError) naming the offending token."""
    from mapreduce_spark.errors import QueryParseError
    from mapreduce_spark.functions.jscompile import JSCompileError
    from mapreduce_spark.sources.docs import (
        TABLES,
        raw_doc_table,
        register_table,
    )

    table, sf = "orders", sf_dir
    if raw:
        table, sf = "badsrc", str(tmp_path / "sf")
        register_table(raw_doc_table(table))
        spark.createDataFrame(
            [("d1", 1, '{"_id":"d1","a":1}')],
            "_id string, seq long, doc_json string",
        ).write.parquet(f"{sf}/{table}.parquet")
    try:
        eng = Engine(spark, sf, str(tmp_path / "views"))
        with pytest.raises(JSCompileError, match=f"'{token}'") as ei:
            eng.put_design("d", {"v": {"map": (table, src)}})
        assert isinstance(ei.value, QueryParseError)
    finally:
        if raw:
            TABLES.pop(table, None)


def test_loose_equality_is_abstract_equality():
    """``==``/``!=`` follow ES abstract equality: null == undefined,
    numbers, strings and booleans compare through ToNumber, objects by
    reference (against a primitive, through their string form)."""
    from mapreduce_spark.functions.jscompile import _UNDEF, _js_loose_eq

    arr = [1.0]
    for a, b, want in [
        (None, _UNDEF, True), (None, 0.0, False), (_UNDEF, "", False),
        ("1", 1.0, True), ("1.0", 1.0, True), ("", 0.0, True),
        ("x", float("nan"), False), (True, 1.0, True), (True, "1", True),
        (False, "", True), (arr, arr, True), ([1.0], [1.0], False),
        ([1.0], "1", True), ({}, "[object Object]", True),
        (float("nan"), float("nan"), False),
    ]:
        assert _js_loose_eq(a, b) is want, (a, b)
        assert _js_loose_eq(b, a) is want, (b, a)
    src = ("function(doc) { emit([doc.s == 1, doc.s != 1, "
           "doc.s === '1', doc.m == null], 1); }")
    assert run_map(src, {"s": "1"}) == [([True, False, True, True], 1.0)]


def test_null_guard_on_raw_docs_matches_js(spark, tmp_path):
    """The canonical ``doc.z != null`` guard over raw docs where z is a
    number, JSON null or missing: missing (undefined) == null in JS."""
    from mapreduce_spark.sources.docs import (
        TABLES,
        raw_doc_table,
        register_table,
    )

    zs = {"d0": "missing", "d1": 5.0, "d2": None, "d3": 0.0,
          "d4": "missing", "d5": "missing"}
    docs = []
    for i, (did, z) in enumerate(zs.items()):
        d = {"_id": did, "n": float(i)}
        if z != "missing":
            d["z"] = z
        docs.append((did, i, json.dumps(d)))
    sf = str(tmp_path / "sf")
    register_table(raw_doc_table("zdocs"))
    spark.createDataFrame(
        docs, "_id string, seq long, doc_json string"
    ).write.parquet(f"{sf}/zdocs.parquet")
    try:
        eng = Engine(spark, sf, str(tmp_path / "views"))
        eng.put_design("dd", {
            "ne": {"map": ("zdocs", "function(doc) { if (doc.z != null) "
                                    "emit(doc._id, 1); }")},
            "eq": {"map": ("zdocs", "function(doc) { if (doc.z == null) "
                                    "emit(doc._id, 1); }")},
        })
        got = {v: sorted(r["id"] for r in eng.query(f"dd/{v}").rows())
               for v in ("ne", "eq")}
        assert got == {"ne": ["d1", "d3"],
                       "eq": ["d0", "d2", "d4", "d5"]}
    finally:
        TABLES.pop("zdocs", None)


def test_log_arguments_are_evaluated_on_raw_docs(spark, tmp_path):
    """JS evaluates log()'s arguments: ``doc.p.x.y`` throws where
    ``doc.p.x`` is undefined, so the doc is skipped.  The routed view
    emits what the interpreter emits; a log argument that cannot
    throw changes nothing."""
    from mapreduce_spark.functions.jscompile import compile_js_map_fn
    from mapreduce_spark.sources.docs import (
        TABLES,
        raw_doc_table,
        register_table,
    )

    docs = [{"_id": "a", "p": "s"}, {"_id": "b", "p": {"x": {"y": 1}}},
            {"_id": "c"}]
    sf = str(tmp_path / "sf")
    register_table(raw_doc_table("logdocs"))
    spark.createDataFrame(
        [(d["_id"], i, json.dumps(d)) for i, d in enumerate(docs)],
        "_id string, seq long, doc_json string",
    ).write.parquet(f"{sf}/logdocs.parquet")
    try:
        eng = Engine(spark, sf, str(tmp_path / "views"))
        srcs = {
            "deep": "function(doc){ log(doc.p.x.y); emit(doc._id, 1); }",
            "flat": "function(doc){ log('seen ' + doc.p); "
                    "emit(doc._id, 1); }",
        }
        eng.put_design("dd", {v: {"map": ("logdocs", src)}
                              for v, src in srcs.items()})
        for v, want in (("deep", ["b"]), ("flat", ["a", "b", "c"])):
            got = sorted(r["id"] for r in eng.query(f"dd/{v}").rows())
            interp = eng.query(("logdocs", compile_js_map_fn(srcs[v])),
                               reduce=False).rows()
            assert got == sorted(r["id"] for r in interp) == want, v
    finally:
        TABLES.pop("logdocs", None)


def test_fallback_is_picklable_and_signature_stable():
    import pickle

    src = "function(doc) { emit(doc.x % 2, 1); }"
    fn = JSMapFunctionFull(src)
    fn2 = pickle.loads(pickle.dumps(fn))
    out = []
    fn2({"x": 5.0}, lambda k, v: out.append((k, v)))
    assert out == [(1.0, 1.0)]
    assert repr(fn) == repr(fn2)  # registry signature stability


def test_out_of_subset_runtime_fails_loud():
    """Round 6 (review): a ddoc using a construct the interpreter
    cannot run (.localeCompare() — the ICU non-goal — is the lone
    loud witness left after round 8 widened the subset) must FAIL
    the build, not tryMap-skip every doc into a silently-empty view;
    a genuine JS runtime throw still skips just the doc."""
    import pytest

    from mapreduce_spark.errors import QueryParseError
    from mapreduce_spark.functions.jsmap import compile_js_map_full
    from mapreduce_spark.operators.mapphase import map_docs_to_rows

    docs = [{"_id": "d1", "tags": ["b", "a"]}]
    fn = compile_js_map_full(
        "function(doc){ emit(doc.tags[0].localeCompare('a'), 1); }"
    )
    with pytest.raises(QueryParseError, match="localeCompare"):
        map_docs_to_rows(docs, fn)

    # runtime throw (member on null): doc skipped, build survives
    fn2 = compile_js_map_full(
        "function(doc){ emit(doc.missing.x, 1); }"
    )
    assert map_docs_to_rows(docs, fn2) == []


def test_js_tointeger_coercions():
    """Round 6 (review): NaN/Infinity string/array indices coerce per
    JS ToInteger instead of raising ValueError/OverflowError."""
    from mapreduce_spark.functions.jsmap import compile_js_map_full

    def run(src, doc):
        out = []
        compile_js_map_full(src)(dict(doc), lambda k, v: out.append(k))
        return out

    # charAt(NaN) → charAt(0); charAt(Infinity) → ''
    assert run(
        "function(doc){ emit(doc.s.charAt(doc.s.indexOf('zz') * 'q'),"
        " 1); }",
        {"s": "abc"},
    ) == ["a"]
    assert run(
        "function(doc){ emit(doc.s.charAt(1 / 0), 1); }",
        {"s": "abc"},
    ) == [""]
    # substr with NaN length → 0-length
    assert run(
        "function(doc){ emit(doc.s.substr(0, 0 / 0), 1); }",
        {"s": "abc"},
    ) == [""]
    # array index NaN reads undefined (emitted as null), not a crash
    assert run(
        "function(doc){ emit(doc.tags[0 / 0], 1); }",
        {"tags": ["x"]},
    ) == [None]
    # parseInt radix 10 does NOT hex-autodetect; absent radix does
    assert run(
        "function(doc){ emit([parseInt(doc.s, 10), parseInt(doc.s)],"
        " 1); }",
        {"s": "0x10"},
    ) == [[0.0, 16.0]]


def test_runtime_error_classification():
    """Round 6 (review 2): a plain typo'd identifier is a JS
    ReferenceError — a runtime throw that tryMap-skips just the doc —
    while a REAL unsupported global (Date) still fails the build loud,
    and fromIndex/position args on the string predicates follow JS."""
    import pytest

    from mapreduce_spark.errors import QueryParseError
    from mapreduce_spark.functions.jsmap import compile_js_map_full
    from mapreduce_spark.operators.mapphase import map_docs_to_rows

    # typo ReferenceError inside a guarded branch: only the doc that
    # reaches it is skipped
    fn = compile_js_map_full(
        "function(doc){ if (doc.flag) { emit(typoVar, 1); } "
        "emit(doc._id, 1); }"
    )
    docs = [{"_id": "d1", "flag": True}, {"_id": "d2", "flag": False}]
    rows = map_docs_to_rows(docs, fn)
    assert [r["id"] for r in rows] == ["d2"]

    # Date is a real JS global the engine can't run: loud
    fn2 = compile_js_map_full(
        "function(doc){ emit(Date.now(), 1); }"
    )
    with pytest.raises(QueryParseError, match="Date"):
        map_docs_to_rows([{"_id": "d1"}], fn2)

    # member write on a primitive: sloppy-mode silent no-op
    fn3 = compile_js_map_full(
        "function(doc){ var x = 5; x.y = 1; emit(doc._id, 1); }"
    )
    assert len(map_docs_to_rows([{"_id": "d1"}], fn3)) == 1

    # fromIndex / position arguments (JS semantics, both tiers share
    # one implementation)
    def run(src, doc):
        out = []
        compile_js_map_full(src)(dict(doc), lambda k, v: out.append(k))
        return out

    assert run(
        "function(doc){ emit([doc.s.indexOf('x', 1), "
        "doc.s.lastIndexOf('x', 1), "
        "doc.s.startsWith('a', 1), doc.s.endsWith('x', 1), "
        "doc.s.includes('x', 1)], 1); }",
        {"s": "xax"},
    ) == [[2.0, 0.0, True, True, True]]
    assert run(
        "function(doc){ emit([doc.s.endsWith('a', 2), "
        "doc.s.includes('x', 3)], 1); }",
        {"s": "xax"},
    ) == [[True, False]]


# ---------------------------------------------------------------------------
# JS Date (round 6 late)
# ---------------------------------------------------------------------------

def _run_map(src, doc):
    out = []
    JSMapFunctionFull(src)(dict(doc), lambda k, v: out.append((k, v)))
    return out


def test_date_bucketing_and_getters():
    """The canonical date-bucketing ddoc idiom: new Date(doc.ts) with
    UTC getters (local == UTC by the engine's determinism contract)."""
    got = _run_map(
        """function(doc) {
             var d = new Date(doc.ts);
             emit([d.getUTCFullYear(), d.getUTCMonth() + 1,
                   d.getUTCDate(), d.getUTCDay(), d.getUTCHours()],
                  d.getTime());
           }""",
        {"ts": "1995-03-17T10:30:00Z"},
    )
    # 1995-03-17 was a Friday (5)
    assert got == [([1995.0, 3.0, 17.0, 5.0, 10.0], 795436200000.0)]


def test_date_emit_key_is_tojson_iso():
    """pouchdb-collate normalizeKey: a Date key becomes its toJSON()
    ISO string; an Invalid Date's toJSON is null."""
    assert _run_map(
        "function(doc){ emit(new Date(doc.ms), new Date('nope')); }",
        {"ms": 0},
    ) == [("1970-01-01T00:00:00.000Z", None)]


def test_date_component_constructor_js_rules():
    """JS MakeDay rules: 0-99 years get +1900, month indexes overflow
    by rolling (12 → next January, -1 → previous December), leap days
    are real."""
    assert _run_map(
        "function(doc){ var d = new Date(98, 12, 1); "
        "emit([d.getFullYear(), d.getMonth()], null); }", {},
    ) == [([1999.0, 0.0], None)]
    assert _run_map(
        "function(doc){ emit(new Date(2000, 1, 29).toISOString(), "
        "null); }", {},
    ) == [("2000-02-29T00:00:00.000Z", None)]
    assert _run_map(
        "function(doc){ emit(new Date(2019, -1, 31).toISOString(), "
        "null); }", {},
    ) == [("2018-12-31T00:00:00.000Z", None)]


def test_date_parse_utc_and_coercions():
    """Date.parse / Date.UTC agree on ISO forms; relational compare
    is numeric (time value) while + takes the Date's STRING
    ToPrimitive default; negative ms wrap correctly."""
    got = _run_map(
        """function(doc){
             emit([Date.parse('2020-06-01'), Date.UTC(2020, 5, 1),
                   isNaN(Date.parse('garbage')),
                   new Date(5000) > new Date(100),
                   new Date(0) + '!'], null); }""", {},
    )
    k = got[0][0]
    assert k[0] == k[1] == 1590969600000.0
    assert k[2] is True and k[3] is True
    assert k[4] == "1970-01-01T00:00:00.000Z!"
    got = _run_map(
        "function(doc){ var d = new Date(-1); "
        "emit([d.getUTCDay(), d.getUTCHours(), "
        "d.getUTCMilliseconds(), d.getUTCFullYear()], null); }", {},
    )
    assert got[0][0] == [3.0, 23.0, 999.0, 1969.0]


def test_date_now_and_zero_arg_fail_loud():
    """Determinism contract: wall-clock reads are a loud error, not a
    silently time-dependent view."""
    import pytest

    from mapreduce_spark.functions.jsreduce import JSReduceError

    for bad in ("function(doc){ emit(new Date(), 1); }",
                "function(doc){ emit(Date.now(), 1); }"):
        with pytest.raises(JSReduceError,
                           match="nondeterministic|wall clock"):
            _run_map(bad, {})


def test_date_view_end_to_end(spark, sf_dir, tmp_path):
    """Engine-level: a date-bucketing ddoc over the typed events
    table routes to the interpreter tier (new Date is out of the
    compiled subset) and equals the Spark-side year/month/day
    grouping of the same column."""
    import pyspark.sql.functions as F

    from mapreduce_spark.engine import Engine

    eng = Engine(spark, sf_dir, str(tmp_path))
    js = {
        "map": (
            "events",
            """function(doc) {
                 var d = new Date(doc.ts);
                 emit([d.getUTCFullYear(), d.getUTCMonth() + 1,
                       d.getUTCDate()], null);
               }""",
        ),
        "reduce": "_count",
    }
    got = {
        tuple(r["key"]): r["value"]
        for r in eng.query(js, group=True).rows()
    }
    from mapreduce_spark.sources.docs import load_table

    raw = load_table(spark, sf_dir, "events")
    want = {
        (float(r["y"]), float(r["m"]), float(r["d"])): float(r["c"])
        for r in raw.groupBy(
            F.year("ts").alias("y"), F.month("ts").alias("m"),
            F.dayofmonth("ts").alias("d"),
        ).agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == want and got


def test_for_in_enumeration():
    """Round 6 (late): for-in — the "emit every field" ddoc pattern.
    Object keys enumerate in insertion order, array indices come as
    STRINGS, and null/undefined objects iterate zero times (JS
    semantics, no throw)."""
    got = run_map(
        """function(doc) {
             for (var k in doc) {
               if (k !== '_id') { emit(k, doc[k]); }
             }
           }""",
        {"_id": "d1", "a": 1.0, "b": "x"},
    )
    assert got == [("a", 1.0), ("b", "x")]
    got = run_map(
        """function(doc) {
             var out = [];
             for (k in doc.arr) { out.push(k + ':' + doc.arr[k]); }
             for (k in doc.missing) { out.push('never'); }
             emit(out.join(','), null);
           }""",
        {"arr": [10.0, 20.0]},
    )
    assert got == [("0:10,1:20", None)]


def test_switch_statement_fallthrough_and_default():
    src = """function(doc) {
        var out = '';
        switch (doc.k) {
          case 'a':
            out += 'A';
          case 'b':
            out += 'B';
            break;
          case 'c':
            out += 'C';
            break;
          default:
            out += 'D';
          case 'e':
            out += 'E';
        }
        emit(out, null);
    }"""
    assert run_map(src, {"k": "a"}) == [("AB", None)]   # fall-through
    assert run_map(src, {"k": "b"}) == [("B", None)]
    assert run_map(src, {"k": "c"}) == [("C", None)]
    assert run_map(src, {"k": "zz"}) == [("DE", None)]  # default falls
    assert run_map(src, {"k": "e"}) == [("E", None)]    # case AFTER default


def test_switch_strict_equality():
    # JS switch uses ===: number 1 does not match string '1'
    src = """function(doc) {
        switch (doc.k) {
          case '1': emit('str', null); break;
          case 1: emit('num', null); break;
          default: emit('none', null);
        }
    }"""
    assert run_map(src, {"k": 1.0}) == [("num", None)]
    assert run_map(src, {"k": "1"}) == [("str", None)]


def test_array_splice():
    src = """function(doc) {
        var a = [1, 2, 3, 4, 5];
        var removed = a.splice(1, 2, 'x');
        emit(a, removed);
    }"""
    assert run_map(src, {}) == [([1.0, "x", 4.0, 5.0], [2.0, 3.0])]
    # negative start, no deleteCount -> to end
    src2 = """function(doc) {
        var a = [1, 2, 3, 4];
        var r = a.splice(-2);
        emit(a, r);
    }"""
    assert run_map(src2, {}) == [([1.0, 2.0], [3.0, 4.0])]


def test_array_flat():
    src = """function(doc) {
        emit([[1, [2, [3]]], null].length === 2
             ? [1, [2, [3]], 4].flat()
             : null,
             [1, [2, [3, [4]]]].flat(Infinity));
    }"""
    assert run_map(src, {}) == [
        ([1.0, 2.0, [3.0], 4.0], [1.0, 2.0, 3.0, 4.0])
    ]


def test_array_reduce_right():
    src = """function(doc) {
        var s = ['a', 'b', 'c'].reduceRight(
            function(acc, x) { return acc + x; });
        var n = [1, 2, 3].reduceRight(
            function(acc, x, i) { return acc + x * i; }, 0);
        emit(s, n);
    }"""
    # s: 'c'+'b'+'a'; n: 3*2 + 2*1 + 1*0 = 8
    assert run_map(src, {}) == [("cba", 8.0)]


# --------------------------------------------------- ES property order


def test_es_own_keys_order():
    """ES OrdinaryOwnPropertyKeys: canonical integer-like keys first,
    NUMERICALLY ascending, then strings in insertion order.
    Non-canonical numerics ('01', '00') stay in insertion order."""
    from mapreduce_spark.functions.jscompile import es_own_keys

    obj = {"b": 1, "10": 2, "a": 3, "2": 4, "01": 5, "0": 6}
    assert es_own_keys(obj) == ["0", "2", "10", "b", "a", "01"]
    assert es_own_keys({}) == []
    assert es_own_keys({"x": 1}) == ["x"]


def test_forin_statement_interpreter_es_order():
    """for-in visits integer-like keys numerically first, then the
    rest in insertion order — the JS engines' order, not Python
    dict order."""
    src = ("function(doc) { for (var k in doc.f) "
           "{ emit(k, doc.f[k]); } }")
    doc = {"f": {"b": 1.0, "10": 2.0, "a": 3.0, "2": 4.0}}
    assert run_map(src, doc) == [
        ("2", 4.0), ("10", 2.0), ("b", 1.0), ("a", 3.0)
    ]


def test_object_keys_values_es_order():
    src = ("function(doc) { emit(Object.keys(doc.f), "
           "Object.values(doc.f)); }")
    doc = {"f": {"b": 1.0, "10": 2.0, "a": 3.0, "2": 4.0}}
    assert run_map(src, doc) == [
        (["2", "10", "b", "a"], [4.0, 2.0, 1.0, 3.0])
    ]


# one source per compile-subset shape; each lowers to a non-empty emit IR
_COMPILE_SUBSET_SHAPES = [
    "function(doc) { doc.tags.forEach(function(t) { emit(t, 1); }); }",
    "function(doc) { for (var k in doc.f) { emit(k, doc.f[k]); } }",
    "function(doc) { Object.keys(doc.f).forEach(function(k) "
    "{ emit([k, doc.f[k]], null); }); }",
    "function(doc) { for (var i = 0; i < doc.arr.length; i++) "
    "{ emit(doc.arr[i], i); } }",
    "function(doc) { if (/^user:/.test(doc._id)) { emit(doc._id, 1); } }",
    "function(doc) { emit(doc.n > 2 ? 'big' : 'small', doc.n); }",
    "function(doc) { log(doc._id); emit(doc.type, null); }",
    "function(doc) { if (doc.a > 1) { emit('a', 1); } else if "
    "(!(doc.b === 'x')) emit('b', -1); else { emit('c', -2.5); } }",
    "function(doc) { for (var i = 0; doc.arr.length > i; i = i + 1) "
    "{ if (i > 0) emit([doc.arr[i], i], null); } }",
    "function(doc) { for (let i = 0; i < doc.arr.length; ++i) "
    "{ emit(i, 1); } }",
    "function(doc) { for (i = 0; i < doc.arr.length; i += 1) "
    "{ emit(doc.arr[i]); } }",
    "function(doc) { Object.entries(doc.f).forEach(function ([k, v]) "
    "{ emit(k, v); }); }",
    "function(doc) { Object.entries(doc.f).forEach(function (e) "
    "{ emit([e[0], e[1]], 1); }); }",
    "function(doc) { var a = doc.x, b = a + 1; const c = "
    "doc.s.toLowerCase(); if (b > 2) { let d = c; emit(d, b); } }",
    "function(doc) { emit(new Date(doc.ts).getUTCFullYear(), "
    "{_id: doc.ref}); emit(Math.round(doc.n * -2), "
    "{total: doc.n, count: 1}); }",
    "function(doc) { if (doc._id.indexOf('user:') === 0 && "
    "doc.meta.name.length > 3) "
    "emit(doc['meta']['name'].substring(0, 3), null); }",
    "function(doc) { if (doc.s.match(/abc/i) !== null || doc.n) "
    "emit(doc.n ? doc.s : 'none', 1); }",
]


def _sha(text: str) -> str:
    import hashlib

    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _ir_hash(ir) -> str:
    """Hash of an emit IR's repr, int literals read as floats (the
    compiler treats them alike)."""
    def norm(a):
        if isinstance(a, bool) or not isinstance(
            a, (int, tuple, list, dict)
        ):
            return a
        if isinstance(a, int):
            return float(a)
        if isinstance(a, dict):
            return {k: norm(v) for k, v in a.items()}
        return type(a)(norm(v) for v in a)

    return _sha(repr(norm(ir)))


def test_map_lowering_matches_ir_golden():
    """``jscompile.parse_js_map`` (the statement parser plus
    ``lower_js_map``) yields the same emit IR as the map compiler's
    former dedicated parser, over the compile-subset shapes and the
    Variant-tier fuzz grammar (2 seeds × 250 sources).
    ``tests/jsmap_ir_golden.json`` maps the sha256 prefix of each
    source to that of the former parser's IR."""
    import json
    import os
    import random

    from mapreduce_spark.functions.jscompile import parse_js_map
    from tests.test_variant_fuzz import _gen_source

    with open(os.path.join(os.path.dirname(__file__),
                           "jsmap_ir_golden.json")) as f:
        golden = json.load(f)
    srcs = list(_COMPILE_SUBSET_SHAPES)
    for seed in (0, 1):
        rng = random.Random(seed)
        srcs += [_gen_source(rng) for _ in range(250)]
    for src in _COMPILE_SUBSET_SHAPES:
        assert parse_js_map(src), src
    assert {_sha(src) for src in srcs} == set(golden)
    for src in srcs:
        assert _ir_hash(parse_js_map(src)) == golden[_sha(src)], src


def test_object_keys_es_coercion():
    """Object.keys/values apply ES2015 ToObject: arrays and strings
    yield index keys, other primitives yield [], and only
    null/undefined throw (skipping the doc's remaining emits)."""
    assert run_map(
        "function(doc) { emit(Object.keys(doc.f), "
        "Object.values(doc.f)); }",
        {"f": ["a", "b"]},
    ) == [(["0", "1"], ["a", "b"])]
    assert run_map(
        "function(doc) { emit(Object.keys(doc.f), 1); }",
        {"f": "xy"},
    ) == [(["0", "1"], 1.0)]
    assert run_map(
        "function(doc) { emit(Object.keys(doc.f), 1); }",
        {"f": 5.0},
    ) == [([], 1.0)]
    # null: earlier emits stand, the throw kills the rest (tryMap)
    assert run_map(
        "function(doc) { emit(1, 1); emit(Object.keys(doc.f), 1); "
        "emit(2, 2); }",
        {"f": None},
    ) == [(1.0, 1.0)]


def test_destructured_params_elisions_round11():
    """Array-pattern parameters (round 11) — real ECMAScript answers,
    including elisions and the missing-argument TypeError (code-review
    r11 findings: elisions bound wrong positions; f() with a pattern
    param silently skipped the throw)."""
    def run(src, doc=None):
        out = []
        JSMapFunctionFull(src)(doc or {}, lambda k, v: out.append((k, v)))
        return out

    # positional binding with elisions
    assert run(
        "function(doc) { [['k', 42]].forEach(function ([, v]) "
        "{ emit(v, null); }); }"
    ) == [(42.0, None)]
    assert run(
        "function(doc) { [[1, 2, 3]].forEach(function ([a, , b]) "
        "{ emit([a, b], null); }); }"
    ) == [([1.0, 3.0], None)]
    # missing argument -> TypeError -> tryMap skips the doc entirely
    assert run(
        "function(doc) { var f = function([a]) { return 1; }; "
        "emit(f(), null); }"
    ) == []
    # non-iterable argument throws too
    assert run(
        "function(doc) { [5].forEach(function ([a]) "
        "{ emit(a, null); }); }"
    ) == []
    # string arguments destructure per JS (iterable of chars)
    assert run(
        "function(doc) { ['xy'].forEach(function ([a, b]) "
        "{ emit(a + b, null); }); }"
    ) == [("xy", None)]

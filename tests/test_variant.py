"""Variant-compiled raw-JS tier (functions/jsvariant.py).

Upstream runs arbitrary JS per doc over schema-less JSON
[U pouchdb-abstract-mapreduce#evalFunc]; the engine compiles the
subset to drift-guarded JVM Variant expressions and must (a) produce
byte-identical view rows vs the interpreter tier, (b) keep Python out
of the build plan, (c) fall back transparently — same registry
signature — the moment a doc violates the sampled field contract.
"""

import json

import pytest

from mapreduce_spark.engine import Engine
from mapreduce_spark.functions.jscompile import (
    JSCompileError,
    compile_js_map_fn,
    parse_js_map,
)
from mapreduce_spark.functions.jsvariant import (
    VariantJSView,
    compile_js_map_variant,
    infer_variant_types,
    referenced_doc_fields,
)
from mapreduce_spark.sources.docs import raw_doc_table, register_table

JS = ("function(doc) { if (doc.lang !== 'en') "
      "{ emit([doc.lang, doc.n % 10], doc.n); } }")


def _mkdocs(n=200):
    docs = []
    for i in range(n):
        d = {"_id": f"d:{i:04d}", "lang": ["en", "fr", "de"][i % 3],
             "n": float(i), "flag": i % 2 == 0}
        if i % 5 == 0:
            d["extra"] = None
        docs.append((d["_id"], i, json.dumps(d)))
    return docs


@pytest.fixture()
def raw_sf(spark, tmp_path):
    df = spark.createDataFrame(_mkdocs(), ["_id", "seq", "doc_json"])
    sf = str(tmp_path / "raw")
    df.write.mode("overwrite").parquet(f"{sf}/vdocs.parquet")
    register_table(raw_doc_table("vdocs"))
    return sf


def _group_rows(eng, name):
    res = eng.query(name, group=True, stale="ok")
    return {tuple(r["key"]): r["value"] for r in res.rows()}


def test_referenced_fields():
    assert referenced_doc_fields(parse_js_map(JS)) == ["lang", "n"]
    assert referenced_doc_fields(parse_js_map("function(doc){}")) is None
    # nested paths carry dotted (round-7: the variant tier compiles
    # them to '$.a.b' extraction paths)
    assert referenced_doc_fields(
        parse_js_map("function(doc){ emit(doc.a.b, 1); }")
    ) == ["a.b"]


def test_nested_paths_compile_and_match_interpreter(spark, tmp_path):
    """doc.meta.lang / doc.meta.stats.n on raw nested JSON compile to
    '$.meta.lang' variant extractions and equal the interpreter."""
    docs = []
    for i in range(60):
        d = {"_id": f"n:{i:03d}",
             "meta": {"lang": ["en", "fr"][i % 2],
                      "stats": {"n": float(i)}}}
        docs.append((d["_id"], i, json.dumps(d)))
    sf = str(tmp_path / "nested")
    spark.createDataFrame(docs, ["_id", "seq", "doc_json"]).write.mode(
        "overwrite").parquet(f"{sf}/ndocs.parquet")
    register_table(raw_doc_table("ndocs"))
    js = ("function(doc) { if (doc.meta.lang === 'fr') "
          "{ emit(doc.meta.lang, doc.meta.stats.n); } }")
    eng = Engine(spark, sf, str(tmp_path / "nv"))
    eng.put_design("dd", {"v": {"map": ("ndocs", js),
                                "reduce": "_sum"}})
    vd = next(iter(eng._defs.values()))
    assert isinstance(vd.map_def, VariantJSView)
    eng.update_view("dd/v")
    rows = eng.query("dd/v", group=True, stale="ok").rows()
    assert rows == [{"key": "fr", "value": sum(
        float(i) for i in range(60) if i % 2 == 1)}]


def test_inference(spark, raw_sf):
    from mapreduce_spark.sources.docs import load_table

    df = load_table(spark, raw_sf, "vdocs")
    kinds = infer_variant_types(df, ["lang", "n", "flag", "extra"])
    assert kinds == {
        "lang": "str", "n": "num", "flag": "bool", "extra": "num",
    }  # all-null field defaults to num (JS ToNumber(null) = 0)
    assert infer_variant_types(df, ["nope"]) is None


def test_compiles_and_matches_interpreter(spark, raw_sf, tmp_path):
    eng = Engine(spark, raw_sf, str(tmp_path / "v1"))
    eng.put_design("dd", {"v": {"map": ("vdocs", JS), "reduce": "_sum"}})
    vd = next(iter(eng._defs.values()))
    assert isinstance(vd.map_def, VariantJSView)
    eng.update_view("dd/v")
    compiled = _group_rows(eng, "dd/v")

    eng2 = Engine(spark, raw_sf, str(tmp_path / "v2"))
    eng2.put_design(
        "dd", {"v": {"map": ("vdocs", compile_js_map_fn(JS)),
                     "reduce": "_sum"}})
    eng2.update_view("dd/v")
    assert compiled == _group_rows(eng2, "dd/v")
    assert len(compiled) == 20


def test_signature_stable_across_tiers(spark, raw_sf):
    v = compile_js_map_variant(spark, raw_sf, "vdocs", JS)
    assert repr(v) == repr(("vdocs", compile_js_map_fn(JS)))


def test_build_plan_has_no_python(spark, raw_sf):
    from mapreduce_spark.operators.mapphase import (
        build_view_structured_on,
    )
    from mapreduce_spark.sources.docs import load_table

    v = compile_js_map_variant(spark, raw_sf, "vdocs", JS)
    specs = v.specs if isinstance(v.specs, list) else [v.specs]
    for spec in specs:
        plan = build_view_structured_on(
            load_table(spark, raw_sf, "vdocs"), spec
        )._jdf.queryExecution().executedPlan().toString()
        for bad in ("BatchEvalPython", "ArrowEvalPython",
                    "MapInPandas", "PythonUDF"):
            assert bad not in plan, f"{bad} in compiled build plan"


def test_build_plan_parses_doc_once(spark, raw_sf):
    """Round-8: the parsed Variant is materialized ONCE in a dedicated
    Project below the emit projection — the guard shape references it
    up to 3× per field and the emit projection multiplies that across
    key+value+json rendering, previously saved only by codegen CSE
    (fragile off the codegen path, PLANS.md round-7 lesson #1).

    The WHERE filter is the one place textual copies remain: Catalyst
    pushes deterministic predicates through the _vdoc Project with
    aliases inlined (pushdown has no cost model), and an early filter
    below the wide emit projection is the right trade — so the pin is
    (a) the emit Project itself carries ZERO parses, (b) exactly one
    _vdoc materialization exists, (c) the fused ddoc frame (where the
    WHERE is a CASE guard, the 100 TB build path) is single-parse
    end-to-end."""
    from mapreduce_spark.engine import Engine, ViewDef
    from mapreduce_spark.operators.mapphase import (
        build_view_structured_on,
    )
    from mapreduce_spark.sources.docs import load_table

    v = compile_js_map_variant(spark, raw_sf, "vdocs", JS)
    specs = v.specs if isinstance(v.specs, list) else [v.specs]
    for spec in specs:
        plan = build_view_structured_on(
            load_table(spark, raw_sf, "vdocs"), spec
        )._jdf.queryExecution().optimizedPlan().toString()
        # parse_json prints as VariantExpressionEvalUtils.parseJson;
        # one line per node in the optimized plan string
        emit_project = next(
            ln for ln in plan.splitlines() if "AS key_enc" in ln
        )
        assert "parseJson" not in emit_project, emit_project[:1500]
        assert plan.count("AS _vdoc") == 1, plan[:1500]

    # fused ddoc frame: WHERE folds into the CASE guard → the WHOLE
    # plan carries exactly one parse
    import tempfile

    eng = Engine(spark, raw_sf, tempfile.mkdtemp())
    vd = ViewDef(v)
    fused = eng._fused_frame([vd, vd], eng._source_df(vd))
    fplan = fused._jdf.queryExecution().optimizedPlan().toString()
    assert fplan.count("parseJson") == 1, fplan[:1500]


def test_drift_falls_back_same_sig(spark, raw_sf, tmp_path):
    eng = Engine(spark, raw_sf, str(tmp_path / "v3"))
    eng.put_design("dd", {"v": {"map": ("vdocs", JS), "reduce": "_sum"}})
    vd = next(iter(eng._defs.values()))
    eng.update_view("dd/v")
    sig = vd.sig

    drift = [("d:9999", 10_000, json.dumps(
        {"_id": "d:9999", "lang": 42, "n": 1.0, "flag": True}))]
    spark.createDataFrame(
        drift, ["_id", "seq", "doc_json"]
    ).write.mode("append").parquet(f"{raw_sf}/vdocs.parquet")
    eng.update_view("dd/v")  # raises inside, retries interpreted
    assert vd.sig == sig
    assert not isinstance(vd.map_def, VariantJSView)
    got = _group_rows(eng, "dd/v")
    assert got[(42, 1.0)] == 1.0  # the mixed-type doc, via interpreter


def test_sparse_field_rejected_by_validation(spark, tmp_path):
    # 'maybe' appears on half the docs and feeds the KEY unguarded:
    # JS emits undefined→null for the others, which the compiled tier
    # cannot represent (flavor-b raises) — the sample validation build
    # must reject the compile up front
    docs = []
    for i in range(100):
        d = {"_id": f"s:{i:03d}", "k": float(i)}
        if i % 2 == 0:
            d["maybe"] = f"m{i}"
        docs.append((d["_id"], i, json.dumps(d)))
    sf = str(tmp_path / "sparse")
    spark.createDataFrame(docs, ["_id", "seq", "doc_json"]).write.mode(
        "overwrite").parquet(f"{sf}/sdocs.parquet")
    register_table(raw_doc_table("sdocs"))
    with pytest.raises(JSCompileError):
        compile_js_map_variant(
            spark, sf, "sdocs",
            "function(doc) { emit(doc.maybe, doc.k); }",
        )
    # engine path: falls back silently to the interpreter tier
    eng = Engine(spark, sf, str(tmp_path / "v4"))
    eng.put_design("dd", {"v": {"map": (
        "sdocs", "function(doc) { emit(doc.maybe, doc.k); }")}})
    vd = next(iter(eng._defs.values()))
    assert not isinstance(vd.map_def, VariantJSView)
    eng.update_view("dd/v")
    rows = eng.query("dd/v", stale="ok", reduce=False).rows()
    assert len(rows) == 100  # undefined keys normalize to null rows
    assert sum(1 for r in rows if r["key"] is None) == 50


def test_json_null_behaves_as_typed_null(spark, raw_sf, tmp_path):
    # doc.extra is JSON null on every 5th doc and absent otherwise —
    # absent from the REFERENCED set here uses only 'n'; emit value
    # arithmetic over an always-present field with occasional nulls is
    # the typed-table nullable-column semantics, proven equal to the
    # interpreter on the same corpus
    js = "function(doc) { emit(doc._id, doc.n + 1); }"
    eng = Engine(spark, raw_sf, str(tmp_path / "v5"))
    eng.put_design("dd", {"v": {"map": ("vdocs", js)}})
    vd = next(iter(eng._defs.values()))
    assert isinstance(vd.map_def, VariantJSView)
    eng.update_view("dd/v")
    got = {r["key"]: r["value"]
           for r in eng.query("dd/v", stale="ok", reduce=False).rows()}

    eng2 = Engine(spark, raw_sf, str(tmp_path / "v6"))
    eng2.put_design(
        "dd", {"v": {"map": ("vdocs", compile_js_map_fn(js))}})
    eng2.update_view("dd/v")
    want = {r["key"]: r["value"]
            for r in eng2.query("dd/v", stale="ok", reduce=False).rows()}
    assert got == want


def test_build_ddoc_fused_drift_falls_back(spark, tmp_path):
    """A fused ddoc build over a raw table whose corpus violates the
    sampled contract beyond the sample (mixed-typed field in the
    tail) must fall back to per-view builds and still answer
    correctly through the interpreter tier."""
    docs = []
    for i in range(300):
        d = {"_id": f"t:{i:04d}", "lang": "fr" if i % 2 else "en",
             "n": float(i)}
        docs.append((d["_id"], i, json.dumps(d)))
    # tail doc drifts: lang becomes a number (beyond the 10k sample
    # cap is impossible at this size, so force drift by writing the
    # drifting doc AFTER registration/build starts is racy — instead
    # register with a clean table, then append before build)
    sf = str(tmp_path / "fd")
    spark.createDataFrame(docs, ["_id", "seq", "doc_json"]).write.mode(
        "overwrite").parquet(f"{sf}/fdocs.parquet")
    register_table(raw_doc_table("fdocs"))
    eng = Engine(spark, sf, str(tmp_path / "fdv"))
    eng.put_design("dd", {
        "a": {"map": ("fdocs", "function(doc){ emit(doc.lang, 1); }"),
              "reduce": "_count"},
        "b": {"map": ("fdocs",
                      "function(doc){ emit(doc.lang, doc.n); }"),
              "reduce": "_sum"},
    })
    for name in ("a", "b"):
        vd = eng._defs[eng.registry.resolve("dd", name)]
        assert isinstance(vd.map_def, VariantJSView), name
    drift = [("t:9999", 10_000, json.dumps(
        {"_id": "t:9999", "lang": 42, "n": 1.0}))]
    spark.createDataFrame(drift, ["_id", "seq", "doc_json"]).write.mode(
        "append").parquet(f"{sf}/fdocs.parquet")
    eng.build_ddoc("dd")
    a = {r["key"]: r["value"]
         for r in eng.query("dd/a", stale="ok", group=True).rows()}
    assert a[42] == 1.0 and a["en"] == 150.0 and a["fr"] == 150.0
    b = {r["key"]: r["value"]
         for r in eng.query("dd/b", stale="ok", group=True).rows()}
    assert b[42] == 1.0


def test_iso_date_bucketing_compiles(spark, tmp_path):
    """new Date(doc.ts).getUTC*() over a raw ISO-STRING field compiles
    (sampled all-ISO) and equals the interpreter; a shape-valid but
    impossible date in the tail drifts to the interpreter, which
    reproduces the JS Invalid-Date → NaN-key semantics."""
    docs = []
    for i in range(120):
        d = {"_id": f"ts:{i:03d}",
             "ts": f"2024-0{1 + i % 9}-{1 + i % 27:02d}"
                   f"T{i % 24:02d}:30:00Z",
             "v": float(i)}
        docs.append((d["_id"], i, json.dumps(d)))
    sf = str(tmp_path / "iso")
    spark.createDataFrame(docs, ["_id", "seq", "doc_json"]).write.mode(
        "overwrite").parquet(f"{sf}/idocs.parquet")
    register_table(raw_doc_table("idocs"))
    js = ("function(doc) { var d = new Date(doc.ts); "
          "emit([d.getUTCMonth(), d.getUTCDay()], doc.v); }")
    # `var` is out of subset — use the expression form for compile
    js = ("function(doc) { "
          "emit([new Date(doc.ts).getUTCMonth(), "
          "new Date(doc.ts).getUTCDay()], doc.v); }")
    eng = Engine(spark, sf, str(tmp_path / "iv"))
    eng.put_design("dd", {"v": {"map": ("idocs", js),
                                "reduce": "_sum"}})
    vd = next(iter(eng._defs.values()))
    assert isinstance(vd.map_def, VariantJSView)
    eng.update_view("dd/v")
    compiled = _group_rows(eng, "dd/v")

    eng2 = Engine(spark, sf, str(tmp_path / "iv2"))
    eng2.put_design("dd", {"v": {"map": (
        "idocs", compile_js_map_fn(js)), "reduce": "_sum"}})
    eng2.update_view("dd/v")
    assert compiled == _group_rows(eng2, "dd/v") and compiled

    # drift: impossible date (matches the shape regex, invalid value)
    bad = [("ts:9999", 10_000, json.dumps(
        {"_id": "ts:9999", "ts": "2024-13-45T00:00:00Z", "v": 1.0}))]
    spark.createDataFrame(bad, ["_id", "seq", "doc_json"]).write.mode(
        "append").parquet(f"{sf}/idocs.parquet")
    eng.update_view("dd/v")
    assert not isinstance(vd.map_def, VariantJSView)
    rows = eng.query("dd/v", group=True, stale="ok").rows()
    # JS: Invalid Date → NaN getters → key [null, null]
    assert any(r["key"] == [None, None] for r in rows)


def test_non_iso_strings_stay_interpreted(spark, tmp_path):
    docs = [(f"x:{i}", i, json.dumps(
        {"_id": f"x:{i}", "ts": "01/02/2024", "v": 1.0}))
        for i in range(30)]
    sf = str(tmp_path / "noniso")
    spark.createDataFrame(docs, ["_id", "seq", "doc_json"]).write.mode(
        "overwrite").parquet(f"{sf}/xdocs.parquet")
    register_table(raw_doc_table("xdocs"))
    with pytest.raises(JSCompileError):
        compile_js_map_variant(
            spark, sf, "xdocs",
            "function(doc) { emit(new Date(doc.ts).getUTCDate(), 1); }",
        )


def test_num_array_values_compile(spark, raw_sf, tmp_path):
    """emit(k, [doc.a, doc.b]) — the CouchDB _sum array shape —
    compiles on the variant tier with correct value_num_arr."""
    js = "function(doc) { emit(doc.lang, [doc.n, doc.n + 1]); }"
    eng = Engine(spark, raw_sf, str(tmp_path / "arr"))
    eng.put_design("dd", {"v": {"map": ("vdocs", js),
                                "reduce": "_sum"}})
    vd = next(iter(eng._defs.values()))
    assert isinstance(vd.map_def, VariantJSView)
    eng.update_view("dd/v")
    got = {r["key"]: r["value"]
           for r in eng.query("dd/v", group=True, stale="ok").rows()}
    want_en = [sum(float(i) for i in range(0, 200, 3)),
               sum(float(i) + 1 for i in range(0, 200, 3))]
    assert got["en"] == want_en


# ---------------------------------------------------------------- forEach


def _mk_tag_docs(n=120):
    """Docs with array fields: tags (str[]), nums (num[]).  Every 7th
    doc has NO tags field and every 11th has tags: null — both make
    ``doc.tags.forEach`` throw in JS (tryMap skips the doc)."""
    docs = []
    for i in range(n):
        d = {"_id": f"t:{i:04d}", "lang": ["en", "fr", "de"][i % 3],
             "n": float(i),
             "nums": [float(i), float(i) * 2, 0.5],
             "tags": [["red", "green", "blue", "red"][j]
                      for j in range((i % 4) + 1)]}
        if i % 7 == 0:
            del d["tags"]
        elif i % 11 == 0:
            d["tags"] = None
        docs.append((d["_id"], i, json.dumps(d)))
    return docs


@pytest.fixture()
def tag_sf(spark, tmp_path):
    df = spark.createDataFrame(_mk_tag_docs(), ["_id", "seq", "doc_json"])
    sf = str(tmp_path / "rawtags")
    df.write.mode("overwrite").parquet(f"{sf}/tdocs.parquet")
    register_table(raw_doc_table("tdocs"))
    return sf


TAG_JS = ("function(doc) { doc.tags.forEach(function (t) "
          "{ emit(t, 1); }); }")


def _both_tiers(spark, sf, tmp_path, js, **view):
    """(compiled rows, interpreter rows) for the same source — full
    sorted map rows, so ordinal order is compared too."""
    eng = Engine(spark, sf, str(tmp_path / "fe_c"))
    eng.put_design("dd", {"v": dict(view, map=("tdocs", js))})
    vd = next(iter(eng._defs.values()))
    eng.update_view("dd/v")
    eng2 = Engine(spark, sf, str(tmp_path / "fe_i"))
    eng2.put_design(
        "dd", {"v": dict(view, map=("tdocs", compile_js_map_fn(js)))})
    eng2.update_view("dd/v")
    return vd, eng, eng2


def test_foreach_compiles_and_matches_interpreter(spark, tag_sf,
                                                  tmp_path):
    """The canonical tag-index ddoc compiles to a posexplode plan
    (VariantJSView with an exploded MapSpec) and its map rows —
    including per-element emit order under (key, id, emit_ord) — are
    identical to the interpreter tier's."""
    vd, eng, eng2 = _both_tiers(spark, tag_sf, tmp_path, TAG_JS)
    assert isinstance(vd.map_def, VariantJSView)
    specs = (vd.map_def.specs if isinstance(vd.map_def.specs, list)
             else [vd.map_def.specs])
    assert all(s.explode is not None for s in specs)
    rows = [(r["key"], r["id"], r["value"])
            for r in eng.query("dd/v", stale="ok").rows()]
    assert rows == [(r["key"], r["id"], r["value"])
                    for r in eng2.query("dd/v", stale="ok").rows()]
    # docs lacking tags (or tags: null) throw in JS — skipped
    assert not any(
        int(i[2:]) % 7 == 0 or int(i[2:]) % 11 == 0
        for _, i, _ in rows)
    assert len(rows) > 0


def test_foreach_element_and_doc_guards(spark, tag_sf, tmp_path):
    """Doc-level guard outside the loop + element-level guard inside
    both compile; results equal the interpreter."""
    js = ("function(doc) { if (doc.lang === 'en') { "
          "doc.tags.forEach(function (t) { "
          "if (t !== 'red') { emit([doc.lang, t], doc.n); } }); } }")
    vd, eng, eng2 = _both_tiers(spark, tag_sf, tmp_path, js,
                                reduce="_sum")
    assert isinstance(vd.map_def, VariantJSView)
    a = {tuple(r["key"]): r["value"]
         for r in eng.query("dd/v", group=True, stale="ok").rows()}
    b = {tuple(r["key"]): r["value"]
         for r in eng2.query("dd/v", group=True, stale="ok").rows()}
    assert a == b and a and all(k[1] != "red" for k in a)


def test_foreach_numeric_elements(spark, tag_sf, tmp_path):
    """Numeric-array forEach: element arithmetic in key and value."""
    js = ("function(doc) { doc.nums.forEach(function (x) "
          "{ emit(doc.lang, x * 2); }); }")
    vd, eng, eng2 = _both_tiers(spark, tag_sf, tmp_path, js,
                                reduce="_sum")
    assert isinstance(vd.map_def, VariantJSView)
    a = {r["key"]: r["value"]
         for r in eng.query("dd/v", group=True, stale="ok").rows()}
    assert a == {r["key"]: r["value"]
                 for r in eng2.query("dd/v", group=True,
                                     stale="ok").rows()}
    assert a["en"] == sum((i + i * 2 + 0.5) * 2
                          for i in range(0, 120, 3))


def test_foreach_mixed_emits_fall_back(spark, tag_sf, tmp_path):
    """Emits both inside and outside the loop have data-dependent
    ordinals — the compile rejects loudly and the engine lands the
    same source on the interpreter tier with identical rows."""
    js = ("function(doc) { emit(doc.lang, 0); "
          "doc.tags.forEach(function (t) { emit(t, 1); }); }")
    vd, eng, eng2 = _both_tiers(spark, tag_sf, tmp_path, js)
    assert not isinstance(vd.map_def, VariantJSView)  # interpreter
    rows = [(r["key"], r["id"], r["value"])
            for r in eng.query("dd/v", stale="ok").rows()]
    assert rows == [(r["key"], r["id"], r["value"])
                    for r in eng2.query("dd/v", stale="ok").rows()]


def test_foreach_plan_no_python_and_one_parse(spark, tag_sf):
    """The exploded build plan stays JVM-only and parses doc_json
    exactly once per row (the round-8 parse-once contract holds
    through the Generate)."""
    from mapreduce_spark.operators.mapphase import (
        build_view_structured_on,
    )
    from mapreduce_spark.sources.docs import load_table

    v = compile_js_map_variant(spark, tag_sf, "tdocs", TAG_JS)
    specs = v.specs if isinstance(v.specs, list) else [v.specs]
    assert specs and all(s.explode is not None for s in specs)
    for spec in specs:
        qe = build_view_structured_on(
            load_table(spark, tag_sf, "tdocs"), spec
        )._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        for bad in ("BatchEvalPython", "ArrowEvalPython",
                    "MapInPandas", "PythonUDF"):
            assert bad not in plan, f"{bad} in exploded build plan"
        analyzed = qe.optimizedPlan().toString()
        assert analyzed.count("parse_json") <= 1


def test_foreach_in_fused_ddoc_build(spark, tag_sf, tmp_path):
    """A ddoc mixing a forEach view (per-view build — explode changes
    row multiplicity) and a scalar view (fusable) builds end-to-end
    via build_ddoc with both views correct."""
    eng = Engine(spark, tag_sf, str(tmp_path / "fused_fe"))
    eng.put_design("dd", {
        "tags": {"map": ("tdocs", TAG_JS), "reduce": "_count"},
        "bylang": {"map": ("tdocs",
                           "function(doc) { emit(doc.lang, doc.n); }"),
                   "reduce": "_sum"},
    })
    eng.build_ddoc("dd")
    tags = {r["key"]: r["value"]
            for r in eng.query("dd/tags", group=True,
                               stale="ok").rows()}
    want = {}
    for _id, _seq, dj in _mk_tag_docs():
        d = json.loads(dj)
        if isinstance(d.get("tags"), list):
            for t in d["tags"]:
                want[t] = want.get(t, 0) + 1
    assert tags == want
    bylang = {r["key"]: r["value"]
              for r in eng.query("dd/bylang", group=True,
                                 stale="ok").rows()}
    assert bylang["fr"] == sum(float(i) for i in range(1, 120, 3))


# ------------------------------------------------------------- C-style for


FOR_JS = ("function(doc) { for (var i = 0; i < doc.tags.length; i++) "
          "{ emit(doc.tags[i], 1); } }")


def test_forloop_compiles_and_matches_interpreter(spark, tag_sf,
                                                  tmp_path):
    """The pre-ES5 for-loop array-emit idiom compiles to the same
    posexplode shape as forEach and matches the interpreter tier
    row-for-row (docs with null/missing arrays throw at `.length` →
    skipped, same as the NULL-array explode)."""
    vd, eng, eng2 = _both_tiers(spark, tag_sf, tmp_path, FOR_JS)
    assert isinstance(vd.map_def, VariantJSView)
    specs = (vd.map_def.specs if isinstance(vd.map_def.specs, list)
             else [vd.map_def.specs])
    assert all(s.explode is not None for s in specs)
    rows = [(r["key"], r["id"], r["value"])
            for r in eng.query("dd/v", stale="ok").rows()]
    assert rows == [(r["key"], r["id"], r["value"])
                    for r in eng2.query("dd/v", stale="ok").rows()]
    assert rows


def test_forloop_index_in_key_and_value(spark, tag_sf, tmp_path):
    """Bare `i` compiles to the posexplode position column: usable in
    keys, values and element guards."""
    js = ("function(doc) { for (var i = 0; i < doc.nums.length; ++i) "
          "{ if (i % 2 === 0) { emit([doc.lang, i], doc.nums[i]); } } }")
    vd, eng, eng2 = _both_tiers(spark, tag_sf, tmp_path, js,
                                reduce="_sum")
    assert isinstance(vd.map_def, VariantJSView)
    a = {tuple(r["key"]): r["value"]
         for r in eng.query("dd/v", group=True, stale="ok").rows()}
    b = {tuple(r["key"]): r["value"]
         for r in eng2.query("dd/v", group=True, stale="ok").rows()}
    assert a == b and a
    # positions are JS numbers: key component renders 0, 2
    assert set(k[1] for k in a) == {0, 2}
    assert a[("en", 0)] == sum(float(i) for i in range(0, 120, 3))


def test_forloop_rejects_fall_back_loud_then_interpreted(
        spark, tag_sf, tmp_path):
    """Non-canonical loops (step 2) stay out of the compiled subset;
    the engine runs them on the statement interpreter with correct
    results."""
    js = ("function(doc) { for (var i = 0; i < doc.tags.length; "
          "i += 2) { emit(doc.tags[i], 1); } }")
    vd, eng, eng2 = _both_tiers(spark, tag_sf, tmp_path, js)
    assert not isinstance(vd.map_def, VariantJSView)
    rows = [(r["key"], r["id"], r["value"])
            for r in eng.query("dd/v", stale="ok").rows()]
    assert rows == [(r["key"], r["id"], r["value"])
                    for r in eng2.query("dd/v", stale="ok").rows()]
    # step-2 loop keeps only even positions
    want = 0
    for _id, _seq, dj in _mk_tag_docs():
        d = json.loads(dj)
        if isinstance(d.get("tags"), list):
            want += len(d["tags"][::2])
    assert len(rows) == want


def test_forloop_plan_no_python(spark, tag_sf):
    from mapreduce_spark.operators.mapphase import (
        build_view_structured_on,
    )
    from mapreduce_spark.sources.docs import load_table

    v = compile_js_map_variant(spark, tag_sf, "tdocs", FOR_JS)
    specs = v.specs if isinstance(v.specs, list) else [v.specs]
    assert specs and all(s.explode is not None for s in specs)
    for spec in specs:
        plan = build_view_structured_on(
            load_table(spark, tag_sf, "tdocs"), spec
        )._jdf.queryExecution().executedPlan().toString()
        for bad in ("BatchEvalPython", "ArrowEvalPython",
                    "MapInPandas", "PythonUDF"):
            assert bad not in plan, f"{bad} in compiled for-loop plan"


def test_foreach_nested_in_forloop_falls_back(spark, tag_sf, tmp_path):
    """forEach nested inside a compiled for-loop must NOT compile: two
    loop markers over different arrays can't share one posexplode.
    The compile rejects loudly (same guard as for-inside-for) and the
    engine lands the source on the statement interpreter with correct
    nested-iteration rows (review-9 repro: the forEach branch checked
    only self._elem, so this shape silently compiled with key_sql
    reading the WRONG array's elements)."""
    js = ("function(doc) { for (var i = 0; i < doc.tags.length; i++) "
          "{ doc.nums.forEach(function (t) { emit(t, i); }); } }")
    with pytest.raises(JSCompileError,
                       match="nested loops are outside"):
        parse_js_map(js)
    vd, eng, eng2 = _both_tiers(spark, tag_sf, tmp_path, js)
    assert not isinstance(vd.map_def, VariantJSView)  # interpreter
    rows = [(r["key"], r["id"], r["value"])
            for r in eng.query("dd/v", stale="ok").rows()]
    assert rows == [(r["key"], r["id"], r["value"])
                    for r in eng2.query("dd/v", stale="ok").rows()]
    # nested semantics: |tags| × |nums| emits per doc with arrays
    want = 0
    for _id, _seq, dj in _mk_tag_docs():
        d = json.loads(dj)
        if isinstance(d.get("tags"), list):
            want += len(d["tags"]) * len(d["nums"])
    assert len(rows) == want


def test_forloop_string_field_drifts_to_char_iteration(
        spark, tag_sf, tmp_path):
    """A STRING in a for-loop-bounded field (review-9): JS iterates
    characters (`"xy".length` is 2, `s[i]` indexes chars), which no
    posexplode over array<variant> can express.  The compiled tier
    must NOT silently emit zero rows — Spark's variant_get raises
    INVALID_VARIANT_CAST on string→array, is_drift_error classifies
    it, and the refresh retries on the interpreter tier, which
    char-iterates.  Pins the convergence: compiled-then-drift ==
    pure-interpreter, including the char rows."""
    # the cast really does raise (not NULL) — the premise of the
    # loud-fallback contract
    with pytest.raises(Exception, match="INVALID_VARIANT_CAST"):
        spark.sql("select variant_get(parse_json('{\"f\":\"xy\"}'), "
                  "'$.f', 'array<variant>')").collect()
    vd, eng, eng2 = _both_tiers(spark, tag_sf, tmp_path, FOR_JS)
    assert isinstance(vd.map_def, VariantJSView)  # compiled initially
    drift = [("t:9999", 10_000, json.dumps(
        {"_id": "t:9999", "lang": "en", "n": 1.0, "nums": [1.0],
         "tags": "xyz"}))]
    spark.createDataFrame(
        drift, ["_id", "seq", "doc_json"]
    ).write.mode("append").parquet(f"{tag_sf}/tdocs.parquet")
    eng.update_view("dd/v")   # drift → interpreter retry
    eng2.update_view("dd/v")  # already interpreted
    assert not isinstance(vd.map_def, VariantJSView)
    rows = [(r["key"], r["id"], r["value"])
            for r in eng.query("dd/v", stale="ok").rows()]
    assert rows == [(r["key"], r["id"], r["value"])
                    for r in eng2.query("dd/v", stale="ok").rows()]
    chars = [(k, v) for k, i, v in rows if i == "t:9999"]
    assert [k for k, _ in chars] == ["x", "y", "z"]  # char iteration


# ------------------------------------------------------------------ for-in


def _mk_obj_docs(n=120):
    """Docs with an object field attrs (numeric values, incl.
    integer-like keys '10'/'2' whose ES for-in order differs from
    lexicographic) and an array field nums.  Every 7th doc has NO
    attrs, every 11th attrs: null, every 17th attrs: {} — all three
    iterate zero times in JS for-in (it never throws)."""
    docs = []
    for i in range(n):
        d = {"_id": f"o:{i:04d}", "lang": ["en", "fr"][i % 2],
             "nums": [float(i), float(i) * 2],
             "attrs": {"alpha": float(i), "beta": i * 2.0,
                       "10": 7.0, "2": float(i % 5)}}
        if i % 7 == 0:
            del d["attrs"]
        elif i % 11 == 0:
            d["attrs"] = None
        elif i % 17 == 0:
            d["attrs"] = {}
        docs.append((d["_id"], i, json.dumps(d)))
    return docs


@pytest.fixture()
def obj_sf(spark, tmp_path):
    df = spark.createDataFrame(_mk_obj_docs(),
                               ["_id", "seq", "doc_json"])
    sf = str(tmp_path / "rawobjs")
    df.write.mode("overwrite").parquet(f"{sf}/odocs.parquet")
    register_table(raw_doc_table("odocs"))
    return sf


FORIN_JS = ("function(doc) { for (var k in doc.attrs) "
            "{ emit(k, doc.attrs[k]); } }")


def _both_tiers_obj(spark, sf, tmp_path, js, **view):
    eng = Engine(spark, sf, str(tmp_path / "fi_c"))
    eng.put_design("dd", {"v": dict(view, map=("odocs", js))})
    vd = next(iter(eng._defs.values()))
    eng.update_view("dd/v")
    eng2 = Engine(spark, sf, str(tmp_path / "fi_i"))
    eng2.put_design(
        "dd", {"v": dict(view, map=("odocs", compile_js_map_fn(js)))})
    eng2.update_view("dd/v")
    return vd, eng, eng2


def _map_rows(eng, **qkw):
    return [(r.get("key"), r.get("id"), r.get("value"))
            for r in eng.query("dd/v", stale="ok", **qkw).rows()]


def test_forin_compiles_and_matches_interpreter(spark, obj_sf,
                                                tmp_path):
    """The canonical object-index ddoc `for (k in doc.f)
    emit(k, doc.f[k])` compiles to the object-entry explode (4-tuple
    MapSpec.explode) and matches the interpreter tier row-for-row —
    including docs with missing/null/empty attrs (zero rows) and the
    integer-like keys whose variant order (lexicographic) differs
    from the interpreter's ES order (unobservable: k is the key)."""
    vd, eng, eng2 = _both_tiers_obj(spark, obj_sf, tmp_path, FORIN_JS)
    assert isinstance(vd.map_def, VariantJSView)
    specs = (vd.map_def.specs if isinstance(vd.map_def.specs, list)
             else [vd.map_def.specs])
    assert all(s.explode is not None and len(s.explode) == 4
               and s.explode[3] == "obj" for s in specs)
    a, b = _map_rows(eng), _map_rows(eng2)
    assert a == b and a
    # zero-iteration docs never appear
    assert not any(int(i[2:]) % 7 == 0 or int(i[2:]) % 11 == 0
                   or int(i[2:]) % 17 == 0 for _k, i, _v in a)
    # integer-like keys enumerate as strings
    assert {"10", "2"} <= {k for k, _i, _v in a}


def test_forin_composite_key_guards_and_multi_emit(spark, obj_sf,
                                                   tmp_path):
    """k inside an array key, entry-value guards, key guards and
    multi-emit bodies all compile and match the interpreter."""
    js = ("function(doc) { for (k in doc.attrs) { "
          "if (doc.attrs[k] > 3) { emit([doc.lang, k], 1); } "
          "if (k !== 'beta') { emit([k, doc.lang], doc.attrs[k]); } "
          "} }")
    vd, eng, eng2 = _both_tiers_obj(spark, obj_sf, tmp_path, js)
    assert isinstance(vd.map_def, VariantJSView)
    a, b = _map_rows(eng), _map_rows(eng2)
    assert a == b and a


def test_forin_count_per_key(spark, obj_sf, tmp_path):
    """Grouped _count over for-in keys (the 'index by attribute
    name' ddoc) compiles and reduces identically."""
    js = ("function(doc) { for (var k in doc.attrs) "
          "{ emit(k, 1); } }")
    vd, eng, eng2 = _both_tiers_obj(spark, obj_sf, tmp_path, js,
                                    reduce="_count")
    assert isinstance(vd.map_def, VariantJSView)
    a = {r["key"]: r["value"]
         for r in eng.query("dd/v", group=True, stale="ok").rows()}
    b = {r["key"]: r["value"]
         for r in eng2.query("dd/v", group=True, stale="ok").rows()}
    assert a == b and a
    assert a["alpha"] == a["beta"] == a["10"] == a["2"]


def test_forin_order_unsafe_key_falls_back(spark, obj_sf, tmp_path):
    """An emit whose key does NOT contain the bare loop variable
    (constant key here) makes emit order across object keys
    observable — variant order (lexicographic) differs from ES order
    — so the compile rejects loudly and the interpreter runs it in
    true JS order."""
    js = "function(doc) { for (var k in doc.attrs) { emit(1, k); } }"
    with pytest.raises(JSCompileError, match="key component"):
        compile_js_map_variant(spark, obj_sf, "odocs", js)
    vd, eng, eng2 = _both_tiers_obj(spark, obj_sf, tmp_path, js)
    assert not isinstance(vd.map_def, VariantJSView)
    a, b = _map_rows(eng), _map_rows(eng2)
    assert a == b and a
    # interpreter order is ES order: integer-like keys first,
    # numerically — observable in the emitted VALUES under the
    # constant key
    vals = [v for _k, i, v in a if i == "o:0001"]
    assert vals == ["2", "10", "alpha", "beta"]


def test_forin_array_field_index_keys(spark, obj_sf, tmp_path):
    """for-in over a consistently-ARRAY field enumerates index
    STRINGS '0', '1', … — compiled via the array branch of the entry
    CASE, identical to the interpreter."""
    js = ("function(doc) { for (var k in doc.nums) "
          "{ emit(k, doc.nums[k]); } }")
    vd, eng, eng2 = _both_tiers_obj(spark, obj_sf, tmp_path, js)
    assert isinstance(vd.map_def, VariantJSView)
    a, b = _map_rows(eng), _map_rows(eng2)
    assert a == b and a
    assert {k for k, _i, _v in a} == {"0", "1"}


def test_forin_mixed_value_kinds_fall_back(spark, tmp_path):
    """Entry values of mixed scalar kinds reject the compile when the
    source READS doc.f[k] (no single extraction kind) but compile
    when it only enumerates keys."""
    docs = [(f"m:{i:02d}", i, json.dumps(
        {"_id": f"m:{i:02d}",
         "attrs": {"a": 1.0, "b": "x"}})) for i in range(30)]
    sf = str(tmp_path / "rawmixed")
    spark.createDataFrame(docs, ["_id", "seq", "doc_json"]) \
        .write.mode("overwrite").parquet(f"{sf}/odocs.parquet")
    register_table(raw_doc_table("odocs"))
    with pytest.raises(JSCompileError):
        compile_js_map_variant(spark, sf, "odocs", FORIN_JS)
    keys_only = ("function(doc) { for (var k in doc.attrs) "
                 "{ emit(k, 1); } }")
    v = compile_js_map_variant(spark, sf, "odocs", keys_only)
    assert isinstance(v, VariantJSView)


def test_forin_string_field_drifts_to_char_iteration(
        spark, obj_sf, tmp_path):
    """A STRING arriving in a for-in field AFTER the compiled build:
    JS enumerates character indices, which the static explode cannot
    express — the entry CASE raises the MR_RAW_DRIFT sentinel, the
    refresh retries on the interpreter tier, and the tiers converge
    on the char-index rows."""
    js = ("function(doc) { for (var k in doc.attrs) "
          "{ emit(k, 1); } }")
    vd, eng, eng2 = _both_tiers_obj(spark, obj_sf, tmp_path, js)
    assert isinstance(vd.map_def, VariantJSView)
    drift = [("o:9999", 10_000, json.dumps(
        {"_id": "o:9999", "lang": "en", "nums": [1.0],
         "attrs": "xy"}))]
    spark.createDataFrame(
        drift, ["_id", "seq", "doc_json"]
    ).write.mode("append").parquet(f"{obj_sf}/odocs.parquet")
    eng.update_view("dd/v")   # drift → interpreter retry
    eng2.update_view("dd/v")
    assert not isinstance(vd.map_def, VariantJSView)
    a, b = _map_rows(eng), _map_rows(eng2)
    assert a == b
    chars = sorted(k for k, i, _v in a if i == "o:9999")
    assert chars == ["0", "1"]  # character indices


def test_forin_nested_rejects(spark):
    """for-in refuses to nest with any other compiled loop — both
    directions land on the statement interpreter."""
    for js in [
        ("function(doc) { for (var k in doc.a) { "
         "doc.b.forEach(function (t) { emit(t, k); }); } }"),
        ("function(doc) { doc.b.forEach(function (t) { "
         "for (var k in doc.a) { emit(k, t); } }); }"),
        ("function(doc) { for (var i = 0; i < doc.b.length; i++) { "
         "for (var k in doc.a) { emit(k, i); } } }"),
    ]:
        with pytest.raises(JSCompileError,
                           match="nested loops are outside"):
            parse_js_map(js)


def test_forin_plan_no_python_and_one_parse(spark, obj_sf):
    """The object-entry build plan stays JVM-only and parses doc_json
    exactly ONCE per row.  Regression guard: projecting the entry map
    to a column before the Generate lets InferFiltersFromGenerate +
    predicate pushdown re-inline the CASE (12 parses) into the scan
    Filter — the inline generator shape must stay."""
    from mapreduce_spark.operators.mapphase import (
        build_view_structured_on,
    )
    from mapreduce_spark.sources.docs import load_table

    v = compile_js_map_variant(spark, obj_sf, "odocs", FORIN_JS)
    specs = v.specs if isinstance(v.specs, list) else [v.specs]
    assert specs and all(len(s.explode) == 4 for s in specs)
    for spec in specs:
        plan = build_view_structured_on(
            load_table(spark, obj_sf, "odocs"), spec
        )._jdf.queryExecution().executedPlan().toString()
        for bad in ("BatchEvalPython", "ArrowEvalPython",
                    "MapInPandas", "PythonUDF"):
            assert bad not in plan, f"{bad} in for-in build plan"
        # the parse appears exactly once (the _vdoc Project);
        # a pushed inferred filter would multiply it
        assert plan.count("parseJson") == 1


OBJKEYS_JS = ("function(doc) { Object.keys(doc.attrs).forEach("
              "function (k) { emit(k, doc.attrs[k]); }); }")


def test_object_keys_foreach_compiles_like_forin(spark, obj_sf,
                                                 tmp_path):
    """Object.keys(doc.f).forEach(function (k) {…}) — the modern
    spelling of the for-in idiom — compiles to the SAME object-entry
    explode and matches the interpreter tier.  The null-receiver
    difference (Object.keys(null) throws, for-in iterates zero
    times) is unobservable: both produce zero rows for those docs."""
    vd, eng, eng2 = _both_tiers_obj(spark, obj_sf, tmp_path,
                                    OBJKEYS_JS)
    assert isinstance(vd.map_def, VariantJSView)
    specs = (vd.map_def.specs if isinstance(vd.map_def.specs, list)
             else [vd.map_def.specs])
    assert all(len(s.explode) == 4 and s.explode[3] == "obj"
               for s in specs)
    a, b = _map_rows(eng), _map_rows(eng2)
    assert a == b and a
    # identical rows to the bare for-in spelling of the same view
    vd2, eng3, _e4 = _both_tiers_obj(
        spark, obj_sf, tmp_path / "alt", FORIN_JS)
    assert a == _map_rows(eng3)


OBJENTRIES_JS = ("function(doc) { Object.entries(doc.attrs).forEach("
                 "function (e) { emit(e[0], e[1]); }); }")
OBJENTRIES_DESTR_JS = (
    "function(doc) { Object.entries(doc.attrs).forEach("
    "function ([k, v]) { emit(k, v); }); }")
FORIN_ALIAS_JS = ("function(doc) { for (var k in doc.attrs) "
                  "{ var v = doc.attrs[k]; emit(k, v); } }")


def test_object_entries_and_alias_compile_round11(spark, obj_sf,
                                                  tmp_path):
    """Round 11 (VERDICT r10 #7): the second object-entry idioms —
    Object.entries(doc.f) with e[0]/e[1] indexing AND with [k, v]
    destructuring, plus the local-alias body `var v = doc.f[k]` —
    all compile to the SAME object-entry explode as for-in and match
    the interpreter tier row-for-row."""
    base, _e, _e2 = _both_tiers_obj(spark, obj_sf, tmp_path / "b",
                                    FORIN_JS)
    want = None
    for i, js in enumerate(
        (OBJENTRIES_JS, OBJENTRIES_DESTR_JS, FORIN_ALIAS_JS)
    ):
        vd, eng, eng2 = _both_tiers_obj(
            spark, obj_sf, tmp_path / str(i), js
        )
        assert isinstance(vd.map_def, VariantJSView), js
        specs = (vd.map_def.specs
                 if isinstance(vd.map_def.specs, list)
                 else [vd.map_def.specs])
        assert all(len(s.explode) == 4 and s.explode[3] == "obj"
                   for s in specs), js
        a, b = _map_rows(eng), _map_rows(eng2)
        assert a == b and a, js
        if want is None:
            want = a
        assert a == want, js  # all four spellings: identical rows


def test_local_alias_compiles_round11(spark, obj_sf, tmp_path):
    """Function-level single-assignment locals substitute into the
    compiled expressions; conditional (if-arm) bindings and
    reassignment fall back to the interpreter tier — and the tiers
    agree either way."""
    # compiles: alias of a doc field used in guard + key
    js = ("function(doc) { var t = doc.lang; "
          "if (t !== null) { emit(t, 1); } }")
    vd, eng, eng2 = _both_tiers_obj(spark, obj_sf, tmp_path / "a", js)
    assert isinstance(vd.map_def, VariantJSView)
    assert _map_rows(eng) == _map_rows(eng2)
    # interpreter fallback: mutation of the alias (single-assignment
    # only in the compiled subset)
    js2 = ("function(doc) { var t = doc.lang; t = 'x'; "
           "emit(t, 1); }")
    vd2, eng3, eng4 = _both_tiers_obj(spark, obj_sf,
                                      tmp_path / "c", js2)
    assert not isinstance(vd2.map_def, VariantJSView)
    assert _map_rows(eng3) == _map_rows(eng4)


def test_variant_stored_bodies_round11(spark, tmp_path):
    """Shredded-VARIANT doc bodies (VERDICT r10 #4): a raw table
    converted once via shred_raw_table serves the same views as the
    JSON-string original — identical rows on BOTH tiers — and the
    compiled build plan over the variant layout contains ZERO
    parse_json (the parse happened at ingest).  The string layout
    stays the default (DuckDB/pyarrow cannot read the VARIANT
    logical type yet), so include_docs / the interpreter tier read a
    to_json-derived doc_json that Catalyst prunes away on the
    compiled path."""
    from mapreduce_spark.sources.docs import shred_raw_table

    docs = [
        (f"d:{i:03d}", i,
         json.dumps({"lang": ["en", "fr", "de"][i % 3],
                     "n": float(i), "text": "x" * 50}))
        for i in range(60)
    ]
    sf = str(tmp_path / "strsf")
    spark.createDataFrame(docs, ["_id", "seq", "doc_json"]) \
        .write.parquet(f"{sf}/svdocs.parquet")
    register_table(raw_doc_table("svdocs"))
    sf2 = str(tmp_path / "varsf")
    p = shred_raw_table(spark, sf, "svdocs", sf2)
    import os as _os

    _os.rename(p, f"{sf2}/vvdocs.parquet")
    register_table(raw_doc_table("vvdocs"))

    js = ("function(doc){ if (doc.lang !== 'en') "
          "{ emit(doc.lang, doc.n); } }")
    e1 = Engine(spark, sf, str(tmp_path / "e1"))
    e1.put_design("d", {"v": {"map": ("svdocs", js)}})
    e2 = Engine(spark, sf2, str(tmp_path / "e2"))
    e2.put_design("d", {"v": {"map": ("vvdocs", js)}})
    assert isinstance(next(iter(e2._defs.values())).map_def,
                      VariantJSView)
    r1 = [(r["key"], r["id"].split(":", 1)[1], r["value"])
          for r in e1.query("d/v").rows()]
    r2 = [(r["key"], r["id"].split(":", 1)[1], r["value"])
          for r in e2.query("d/v").rows()]
    assert r1 == r2 and r1

    # zero parse_json in the variant-layout build plan
    from mapreduce_spark.operators.mapphase import (
        build_view_structured_on,
    )
    from mapreduce_spark.sources.docs import load_table

    spec = next(iter(e2._defs.values())).map_def.specs
    specs = spec if isinstance(spec, list) else [spec]
    for s in specs:
        plan = build_view_structured_on(
            load_table(spark, sf2, "vvdocs"), s
        )._jdf.queryExecution().executedPlan().toString()
        assert "parseJson" not in plan, plan[:600]
        for bad in ("BatchEvalPython", "ArrowEvalPython",
                    "MapInPandas"):
            assert bad not in plan

    # include_docs over the variant layout: doc_json derived via
    # to_json, body semantically identical
    res = e2.query("d/v", include_docs=True, limit=3)
    got = [r["doc"] for r in res.rows()]
    assert all(set(d) >= {"lang", "n", "text"} for d in got)

    # the interpreter tier runs the same source over the variant
    # layout (drift fallback path viability)
    e3 = Engine(spark, sf2, str(tmp_path / "e3"))
    e3.put_design(
        "d", {"v": {"map": ("vvdocs", compile_js_map_fn(js))}})
    r3 = [(r["key"], r["id"].split(":", 1)[1], r["value"])
          for r in e3.query("d/v").rows()]
    assert r3 == r2

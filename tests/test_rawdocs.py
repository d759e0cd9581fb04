"""User-registered raw CouchDB-style doc sources (register_table +
DocTable.raw_json): the switchover path for a real PouchDB user — their
data is (_id, _rev, _deleted, seq, doc_json) rows, not typed fixture
tables.  Covers the Python map path (parsed body in, CouchDB doc shape),
the structured Variant path, include_docs verbatim bodies, and
incremental maintenance including deletion tombstones."""

import json
import os

import pytest

from mapreduce_spark.engine import Engine
from mapreduce_spark.operators.mapphase import MapSpec
from mapreduce_spark.sources.docs import TABLES, raw_doc_table, register_table

N = 40


def _doc(i: int, *, score=None, deleted=False) -> dict:
    body = {
        "_id": f"doc-{i:04d}",
        "_rev": f"1-{i:032x}",
        "type": "post" if i % 3 else "comment",
        "score": score if score is not None else float(i % 7),
        "tags": [f"t{i % 4}", f"t{i % 5}"],
    }
    return {
        "_id": body["_id"],
        "_rev": body["_rev"],
        "_deleted": deleted,
        "seq": i,
        "doc_json": json.dumps(body, separators=(",", ":")),
    }


@pytest.fixture()
def raw_env(spark, tmp_path):
    register_table(raw_doc_table("userdocs"))
    sf = tmp_path / "sf"
    sf.mkdir()
    rows = [_doc(i) for i in range(1, N + 1)]
    spark.createDataFrame(
        rows,
        "_id string, _rev string, _deleted boolean, seq long, "
        "doc_json string",
    ).write.mode("overwrite").parquet(str(sf / "userdocs.parquet"))
    eng = Engine(spark, str(sf), str(tmp_path / "views"))
    yield eng, sf, rows
    TABLES.pop("userdocs", None)


def _mk_map_by_type():
    # local scope so cloudpickle ships it by value (test modules are
    # not importable on executors)
    def map_by_type(doc, emit):
        # CouchDB map input shape: parsed body with _id/_rev present
        assert doc["_id"].startswith("doc-")
        assert doc["_rev"].startswith(("1-", "2-"))
        emit(doc["type"], doc["score"])

    return map_by_type


def test_raw_python_map_reduce(raw_env):
    eng, _, rows = raw_env
    map_by_type = _mk_map_by_type()
    res = eng.query(
        {"map": ("userdocs", map_by_type), "reduce": "_sum"}, group=True
    )
    got = {r["key"]: r["value"] for r in res.rows()}
    exp = {}
    for r in rows:
        b = json.loads(r["doc_json"])
        exp[b["type"]] = exp.get(b["type"], 0.0) + b["score"]
    assert got == pytest.approx(exp)


def test_raw_structured_variant_map(raw_env):
    """MapSpec over the raw body via Variant extraction — the JVM-only
    path for raw sources, guard pushed into the scan."""
    eng, _, rows = raw_env
    spec = MapSpec(
        "userdocs",
        ("str", "variant_get(parse_json(doc_json), '$.type', 'string')"),
        ("num", "variant_get(parse_json(doc_json), '$.score', 'double')"),
        where="variant_get(parse_json(doc_json), '$.score', 'double') > 3",
    )
    res = eng.query({"map": spec, "reduce": "_count"}, group=True)
    got = {r["key"]: r["value"] for r in res.rows()}
    exp = {}
    for r in rows:
        b = json.loads(r["doc_json"])
        if b["score"] > 3:
            exp[b["type"]] = exp.get(b["type"], 0) + 1
    assert got == exp


def test_raw_include_docs_verbatim(raw_env):
    eng, _, rows = raw_env
    map_by_type = _mk_map_by_type()
    res = eng.query({"map": ("userdocs", map_by_type)},
                    key="comment", include_docs=True)
    out = res.rows()
    assert out
    stored = {r["_id"]: json.loads(r["doc_json"]) for r in rows}
    for r in out:
        assert r["doc"] == stored[r["id"]]
        assert r["doc"]["_rev"].startswith("1-")


def test_raw_incremental_with_delete(raw_env, spark, tmp_path):
    eng, sf, rows = raw_env
    map_by_type = _mk_map_by_type()
    eng.put_design("d", {"by_type": {"map": ("userdocs", map_by_type),
                                     "reduce": "_count"}})
    eng.update_view("d/by_type")
    before = {
        r["key"]: r["value"]
        for r in eng.query("d/by_type", group=True, update=False).rows()
    }

    # v2: one edit (score bump, new rev/seq), one delete, one new doc
    v2 = rows + [
        dict(_doc(3, score=99.0), seq=N + 1, _rev="2-" + "0" * 32),
        dict(_doc(6, deleted=True), seq=N + 2),
        _doc(N + 3),
    ]
    spark.createDataFrame(
        v2,
        "_id string, _rev string, _deleted boolean, seq long, "
        "doc_json string",
    ).write.mode("overwrite").parquet(str(sf / "userdocs.parquet"))

    got = {
        r["key"]: r["value"]
        for r in eng.query("d/by_type", group=True).rows()
    }
    # from-scratch truth over the post-change corpus
    eng2 = Engine(spark, str(sf), str(tmp_path / "views2"))
    exp = {
        r["key"]: r["value"]
        for r in eng2.query(
            {"map": ("userdocs", map_by_type), "reduce": "_count"},
            group=True,
        ).rows()
    }
    assert got == exp and got != before
    # the deleted doc's emit is gone
    n_del = eng.query("d/by_type", key="comment", reduce=False,
                      update=False)
    assert all(r["id"] != "doc-0006" for r in n_del.rows())


def test_raw_js_ddoc(raw_env):
    """A real PouchDB switchover: JS design doc + raw export.  The JS
    source compiles to an interpreted map fn (dynamic field types)
    with JS semantics — guards, strict equality, multi-emit."""
    eng, _, rows = raw_env
    js = """
    function (doc) {
      if (doc.type === 'post' && doc.score >= 3) {
        emit([doc.type, doc.score], 1);
      }
      if (doc.type !== 'post') { emit(['other', doc.score], doc.score); }
    }
    """
    res = eng.query({"map": ("userdocs", js), "reduce": "_sum"},
                    group_level=1)
    got = {r["key"][0]: r["value"] for r in res.rows()}
    exp = {}
    for r in rows:
        b = json.loads(r["doc_json"])
        if b["type"] == "post" and b["score"] >= 3:
            exp["post"] = exp.get("post", 0) + 1
        if b["type"] != "post":
            exp["other"] = exp.get("other", 0) + b["score"]
    assert got == pytest.approx(exp)


def test_raw_js_semantics_corners(spark, tmp_path):
    """JS-fidelity corners the typed compiler can't express: absent
    fields are undefined (falsy, !== anything), null !== 'x' is true,
    undefined key emits as null, undefined object members drop."""
    from mapreduce_spark.sources.docs import (
        TABLES, raw_doc_table, register_table,
    )

    register_table(raw_doc_table("jsraw"))
    try:
        sf = tmp_path / "sf"
        sf.mkdir()
        docs = [
            {"_id": "a", "body": {"kind": "x", "n": 1}},
            {"_id": "b", "body": {"kind": None, "n": 0}},
            {"_id": "c", "body": {"n": 2}},  # kind absent → undefined
        ]
        rows = [
            {"_id": d["_id"], "_rev": "1-r", "_deleted": False,
             "seq": i + 1,
             "doc_json": json.dumps({"_id": d["_id"], **d["body"]})}
            for i, d in enumerate(docs)
        ]
        spark.createDataFrame(
            rows,
            "_id string,_rev string,_deleted boolean,seq long,"
            "doc_json string",
        ).write.parquet(str(sf / "jsraw.parquet"))
        eng = Engine(spark, str(sf), str(tmp_path / "v"))

        def q(js):
            return {
                r["id"]: (r["key"], r["value"])
                for r in eng.query(
                    {"map": ("jsraw", js)}, reduce=False
                ).rows()
            }

        # null !== 'x' is TRUE in JS (b emits); undefined !== 'x' is
        # also true (c emits); 'x' !== 'x' false (a doesn't)
        got = q("function(doc){ if (doc.kind !== 'x') emit(doc._id, 1); }")
        assert set(got) == {"b", "c"}
        # truthiness: null/undefined/0 falsy → only a has truthy n? no:
        # a.n=1 truthy, b.n=0 falsy, c.n=2 truthy; kind truthy only on a
        got = q("function(doc){ if (doc.n) emit(doc._id, doc.n); }")
        assert set(got) == {"a", "c"}
        # undefined key → null; undefined object member dropped
        got = q("function(doc){ emit(doc.kind, {k: doc.kind, n: doc.n}); }")
        assert got["c"][0] is None
        assert got["c"][1] == {"n": 2.0}
        assert got["b"][1] == {"k": None, "n": 0.0}
    finally:
        TABLES.pop("jsraw", None)


def test_attachment_stubs_and_inline(spark, tmp_path):
    """J3 attachments over raw doc sources: include_docs returns
    CouchDB stubs by default (data dropped; stub/length/digest added),
    attachments=True inlines the stored base64 verbatim."""
    import base64
    import hashlib

    register_table(raw_doc_table("attdocs"))
    try:
        sf = tmp_path / "sf"
        sf.mkdir()
        payload = b"hello attachment world"
        b64 = base64.b64encode(payload).decode("ascii")
        rows = [
            {
                "_id": "a1", "_rev": "1-x", "_deleted": False, "seq": 1,
                "doc_json": json.dumps({
                    "_id": "a1", "kind": "with",
                    "_attachments": {
                        "note.txt": {"content_type": "text/plain",
                                     "revpos": 1, "data": b64},
                    },
                }),
            },
            {
                "_id": "a2", "_rev": "1-y", "_deleted": False, "seq": 2,
                "doc_json": json.dumps({"_id": "a2", "kind": "plain"}),
            },
        ]
        spark.createDataFrame(
            rows,
            "_id string,_rev string,_deleted boolean,seq long,"
            "doc_json string",
        ).write.parquet(str(sf / "attdocs.parquet"))
        eng = Engine(spark, str(sf), str(tmp_path / "views"))
        view = {"map": MapSpec(
            "attdocs",
            ("str", "variant_get(parse_json(doc_json), '$.kind', "
                    "'string')"),
        )}

        stubbed = {r["id"]: r["doc"]
                   for r in eng.query(view, include_docs=True).rows()}
        att = stubbed["a1"]["_attachments"]["note.txt"]
        assert att["stub"] is True
        assert "data" not in att
        assert att["length"] == len(payload)
        want_digest = "md5-" + base64.b64encode(
            hashlib.md5(payload).digest()).decode("ascii")
        assert att["digest"] == want_digest
        assert att["content_type"] == "text/plain"
        assert att["revpos"] == 1
        assert "_attachments" not in stubbed["a2"]

        inline = {r["id"]: r["doc"]
                  for r in eng.query(view, include_docs=True,
                                     attachments=True).rows()}
        assert inline["a1"]["_attachments"]["note.txt"]["data"] == b64
        assert "stub" not in inline["a1"]["_attachments"]["note.txt"]
    finally:
        TABLES.pop("attdocs", None)


def test_attachment_stub_whitespace_b64_and_undecodable(spark):
    """Review round-5 finding: line-wrapped base64 (real CouchDB
    exports wrap data) still stubs with correct length/digest;
    genuinely undecodable data leaves the attachment untouched."""
    import base64
    import hashlib

    from mapreduce_spark.sources.docs import stub_attachments

    payload = b"0123456789" * 10
    b64 = base64.b64encode(payload).decode("ascii")
    wrapped = "\n".join(b64[i:i + 20] for i in range(0, len(b64), 20))
    doc = json.dumps({
        "_id": "w1",
        "_attachments": {
            "wrapped.bin": {"content_type": "application/octet-stream",
                            "data": wrapped},
            "broken.bin": {"content_type": "application/octet-stream",
                           "data": "!!not-base64!!"},
        },
    })
    out = json.loads(stub_attachments(doc))
    good = out["_attachments"]["wrapped.bin"]
    assert good["stub"] is True and "data" not in good
    assert good["length"] == len(payload)
    assert good["digest"] == "md5-" + base64.b64encode(
        hashlib.md5(payload).digest()).decode("ascii")
    bad = out["_attachments"]["broken.bin"]
    assert bad["data"] == "!!not-base64!!"  # untouched, data preserved
    assert "stub" not in bad


def test_schema_cache_sees_in_place_rewrite(spark, tmp_path):
    """ADVICE r11: the footer-schema cache keyed on directory mtime
    alone, so an IN-PLACE rewrite of an existing part file (same
    name — dir entry untouched) served a stale schema.  The
    fingerprint now includes file count / total bytes / max file
    mtime; a rewrite that adds a column must re-infer."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_spark.sources import docs as D

    d = tmp_path / "sf"
    d.mkdir()
    tdir = d / "userdocs.parquet"
    tdir.mkdir()
    part = tdir / "part-0.parquet"

    def _tbl(extra=False):
        cols = {
            "_id": ["doc-0001"],
            "_rev": ["1-" + "0" * 32],
            "_deleted": [False],
            "seq": [1],
            "doc_json": ['{"_id":"doc-0001","type":"post"}'],
        }
        if extra:
            cols["extra"] = ["x"]
        return pa.table(cols)

    pq.write_table(_tbl(), part)
    register_table(raw_doc_table("userdocs"))
    try:
        df1 = D.load_table(spark, str(d), "userdocs")
        assert "extra" not in df1.columns
        st = os.stat(tdir)
        pq.write_table(_tbl(extra=True), part)  # same filename
        # pin the DIRECTORY mtime to the pre-rewrite value — the
        # old-bug scenario where the dir entry looks unchanged
        os.utime(tdir, ns=(st.st_atime_ns, st.st_mtime_ns))
        df2 = D.load_table(spark, str(d), "userdocs")
        assert "extra" in df2.columns, (
            "stale cached schema served after in-place part rewrite"
        )
    finally:
        TABLES.pop("userdocs", None)


def test_schema_cache_sees_nested_in_place_rewrite(spark, tmp_path):
    """Review r12: the fingerprint must recurse — a hive-partitioned
    table (key=.../part-*.parquet) whose NESTED part file is rewritten
    in place (top-level listing unchanged) must re-infer too."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_spark.sources import docs as D

    d = tmp_path / "sf"
    d.mkdir()
    tdir = d / "userdocs.parquet"
    sub = tdir / "part=0"
    sub.mkdir(parents=True)
    part = sub / "part-0.parquet"

    def _tbl(extra=False):
        cols = {
            "_id": ["doc-0001"],
            "_rev": ["1-" + "0" * 32],
            "_deleted": [False],
            "seq": [1],
            "doc_json": ['{"_id":"doc-0001","type":"post"}'],
        }
        if extra:
            cols["extra"] = ["x"]
        return pa.table(cols)

    pq.write_table(_tbl(), part)
    register_table(raw_doc_table("userdocs"))
    try:
        df1 = D.load_table(spark, str(d), "userdocs")
        assert "extra" not in df1.columns
        st_dir = os.stat(tdir)
        st_sub = os.stat(sub)
        pq.write_table(_tbl(extra=True), part)  # nested, same name
        os.utime(sub, ns=(st_sub.st_atime_ns, st_sub.st_mtime_ns))
        os.utime(tdir, ns=(st_dir.st_atime_ns, st_dir.st_mtime_ns))
        df2 = D.load_table(spark, str(d), "userdocs")
        assert "extra" in df2.columns, (
            "stale schema served after nested in-place rewrite"
        )
    finally:
        TABLES.pop("userdocs", None)


_LOG_ARROW_SCHEMA = (
    ("_id", "string"), ("_rev", "string"), ("_deleted", "bool_"),
    ("seq", "int64"), ("doc_json", "string"),
)


def _write_log_part(path, rows, extra=None) -> None:
    """One pyarrow-written part file of raw changes-log rows (the
    shape a CouchDB export appends); ``extra`` adds a string column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = [pa.field(n, getattr(pa, t)()) for n, t in _LOG_ARROW_SCHEMA]
    cols = {f.name: [r[f.name] for r in rows] for f in fields}
    if extra:
        fields.append(pa.field(extra, pa.string()))
        cols[extra] = ["x"] * len(rows)
    pq.write_table(pa.table(cols, schema=pa.schema(fields)), path)


def test_schema_cache_survives_same_schema_append(spark, tmp_path):
    """An appended part file whose footer equals the cached reference
    footer keeps the cached schema: ``load_table`` runs no Spark job
    and sees the new rows.  An appended file whose footer differs (an
    extra column) re-infers."""
    from mapreduce_spark.metrics import measure
    from mapreduce_spark.sources import docs as D

    d = tmp_path / "sf"
    tdir = d / "userdocs.parquet"
    tdir.mkdir(parents=True)
    _write_log_part(tdir / "part-0.parquet", [_doc(i) for i in range(1, 11)])
    register_table(raw_doc_table("userdocs"))
    try:
        assert D.load_table(spark, str(d), "userdocs").count() == 10
        _write_log_part(tdir / "part-1.parquet",
                        [_doc(i) for i in range(11, 16)])
        with measure(spark, "same-footer-append") as m:
            df = D.load_table(spark, str(d), "userdocs")
        assert m["jobs"] == 0
        assert df.count() == 15

        _write_log_part(tdir / "part-2.parquet",
                        [_doc(i) for i in range(16, 18)], extra="extra")
        with measure(spark, "new-footer-append") as m:
            df = D.load_table(spark, str(d), "userdocs")
        assert m["jobs"] >= 1  # the footer-inference job
        assert df.count() == 17
        with measure(spark, "reload") as m:
            D.load_table(spark, str(d), "userdocs")
        assert m["jobs"] == 0  # the re-inferred schema is cached
    finally:
        TABLES.pop("userdocs", None)


_VAR = "variant_get(parse_json(doc_json), '$.{}', '{}')"
# one view per map tier over the same raw changes log
_TIER_VIEWS = {
    "mapspec": {
        "map": MapSpec(
            "tierlog",
            [("str", _VAR.format("status", "string")),
             ("str", _VAR.format("priority", "string"))],
            ("num", _VAR.format("price", "double")),
        ),
        "reduce": "_sum",
    },
    "variant": {
        "map": ("tierlog", "function(doc){ if (doc.status !== 'P') "
                           "{ emit(doc.priority, doc.price); } }"),
        "reduce": "_count",
    },
    # the alias mutation keeps this source on the statement interpreter
    "interp": {
        "map": ("tierlog", "function(doc){ var s = doc.status; "
                           "if (doc.status === null) { s = 'none'; } "
                           "emit(s, doc.price); }"),
        "reduce": "_sum",
    },
}
# Spark jobs per first-layer refresh of a small log, measured: the delta
# write is one job of one task (scan, collapse, map and write) and
# _append_layer runs two (the changed ids' broadcast and the lcounts
# write; the base counts file was written by the first build).  With
# sizing.FANOUT_MIN_BYTES at 0 the delta write runs 3 jobs on every tier.
TIER_REFRESH_JOB_CEILINGS = {"mapspec": 3, "variant": 3, "interp": 3}


def _tier_log_row(i: int, seq: int, *, deleted: bool = False) -> dict:
    body = {
        "_id": f"o-{i:05d}", "_rev": f"{seq}-{i:032x}",
        "status": "FOP"[(i + seq) % 3], "priority": f"{(i * 7) % 5}-PRIO",
        "price": float((i * 31 + seq) % 997),
        "note": "x" * 300,
    }
    return {"_id": body["_id"], "_rev": body["_rev"], "_deleted": deleted,
            "seq": seq, "doc_json": json.dumps(body)}


def _tier_expected(rows: list[dict]) -> dict:
    """Grouped answers of the three views over the latest live docs."""
    latest = {}
    for r in sorted(rows, key=lambda r: r["seq"]):
        latest[r["_id"]] = r
    out = {v: {} for v in _TIER_VIEWS}
    for r in latest.values():
        if r["_deleted"]:
            continue
        b = json.loads(r["doc_json"])
        for view, key, val in (
            ("mapspec", (b["status"], b["priority"]), b["price"]),
            ("interp", b["status"], b["price"]),
        ) + ((("variant", b["priority"], 1),) if b["status"] != "P"
             else ()):
            out[view][key] = out[view].get(key, 0) + val
    return out


def test_raw_log_refresh_is_one_task_per_tier(spark, tmp_path, monkeypatch):
    """A first build whose log scan is below ``FANOUT_MIN_BYTES`` writes
    its base and counts in ONE Spark job of one task on every map tier,
    and a refresh writes its delta the same way (the collapse window,
    the map and the write share it: no exchange), pays no footer-schema
    job after a same-schema append, and stays under per-tier job
    ceilings.  With the limit at 0 the parallel plan (exchanges) runs
    and gives the same answers, the same base and layer row counts and
    the same base counts, and the interpreted tier runs no more jobs
    than the MapSpec tier (one sizing rule for every tier)."""
    from mapreduce_spark.functions.jsvariant import VariantJSView
    from mapreduce_spark.metrics import measure
    from mapreduce_spark.plans import sizing

    register_table(raw_doc_table("tierlog"))
    sf = tmp_path / "sf"
    log = sf / "tierlog.parquet"
    log.mkdir(parents=True)
    rows = [_tier_log_row(i, i) for i in range(1, 201)]
    _write_log_part(log / "part-00000.parquet", rows)
    batch = (
        [_tier_log_row(i, 200 + i) for i in range(1, 41)]  # edits
        + [_tier_log_row(i, 300 + i, deleted=True)
           for i in range(41, 61)]  # deletes
        + [_tier_log_row(i, 300 + i) for i in range(201, 231)]  # inserts
    )
    want = {"mapspec": MapSpec, "variant": VariantJSView, "interp": tuple}

    def grouped(eng, view):
        res = eng.query(f"log/{view}", group=True, stale="ok")
        return {tuple(r["key"]) if isinstance(r["key"], list) else r["key"]:
                r["value"] for r in res.rows()}

    def layer(eng, view):
        entry = eng.registry.get_view(eng.registry.resolve("log", view))
        return {k: entry["layers"][-1][k] for k in ("rows", "n")}

    def base(eng, view):
        sig = eng.registry.resolve("log", view)
        entry = eng.registry.get_view(sig)
        counts = spark.read.parquet(os.path.join(
            eng.registry.view_dir(sig), entry["counts"]
        )).select("id", "n")
        return entry["base_rows"], entry["stats"]["rows"], sorted(
            map(tuple, counts.collect()))

    engines = {}
    # limit -> view -> (first-build jobs, delta-write jobs)
    jobs = {None: {}, 0: {}}
    try:
        for limit in (None, 0):
            with monkeypatch.context() as mp:
                if limit is not None:
                    mp.setattr(sizing, "FANOUT_MIN_BYTES", limit)
                eng = Engine(spark, str(sf), str(tmp_path / f"v-{limit}"),
                             compact_after=99)
                eng.put_design("log", _TIER_VIEWS)
                for view, tier in want.items():
                    m = eng._defs[eng.registry.resolve("log", view)].map_def
                    assert isinstance(m, tier), (view, type(m))
                    with measure(spark, f"build-{view}") as b:
                        eng.update_view(f"log/{view}")
                    print(f"limit={limit} {view}: first build "
                          f"{b['jobs']} jobs, {b['tasks']} tasks")
                    jobs[limit][view] = (b["jobs"],)
                    if limit is None:
                        assert b["jobs"] == 1 and b["tasks"] == 1, view
                engines[limit] = eng
        for view in want:
            assert base(engines[None], view) == base(engines[0], view)
        _write_log_part(log / "part-00001.parquet", batch)
        with measure(spark, "inference-probe") as probe:
            spark.read.parquet(str(log))
        # the detector below sees a footer-inference job by this name
        assert any(r["name"].startswith("parquet at")
                   for r in probe["stages_detail"])

        exp = _tier_expected(rows + batch)
        for limit, eng in engines.items():
            real_append = eng._append_layer
            appended = {}

            def append(*a, _real=real_append, _out=appended):
                with measure(spark, "append-layer") as m:
                    _real(*a)
                _out["jobs"] = m["jobs"]

            with monkeypatch.context() as mp:
                if limit is not None:
                    mp.setattr(sizing, "FANOUT_MIN_BYTES", limit)
                mp.setattr(eng, "_append_layer", append)
                for view in want:
                    with measure(spark, f"refresh-{view}") as m:
                        eng.update_view(f"log/{view}")
                    delta_jobs = m["jobs"]
                    total = delta_jobs + appended["jobs"]
                    print(f"limit={limit} {view}: delta write "
                          f"{delta_jobs} jobs, refresh {total}")
                    jobs[limit][view] += (delta_jobs,)
                    if limit is None:
                        assert delta_jobs == 1 and m["tasks"] == 1, view
                        assert not any(
                            r["name"].startswith("parquet at")
                            for r in m["stages_detail"]
                        ), view
                        assert total <= TIER_REFRESH_JOB_CEILINGS[view]
                    else:  # the parallel plan: exchanges are back
                        assert delta_jobs > 1, view
                    assert grouped(eng, view) == pytest.approx(
                        exp[view]), (limit, view)
        for view in want:
            assert layer(engines[None], view) == layer(engines[0], view)
            assert grouped(engines[None], view) == grouped(engines[0], view)
        # the parallel plan costs the interpreted tier no extra job
        build, delta = jobs[0]["interp"]
        assert build <= jobs[0]["mapspec"][0], jobs[0]
        assert delta <= jobs[0]["mapspec"][1], jobs[0]
    finally:
        TABLES.pop("tierlog", None)

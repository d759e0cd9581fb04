"""Property tests for the reduce layer: the distributed builtin _sum
must agree with the sequential CouchDB-semantics reference
(functions.sandbox.sum_values) on arbitrary mixed number/array inputs,
and custom reduces must see true rereduce."""

import json

from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st

from mapreduce_spark.functions.sandbox import sum_values
from mapreduce_spark.operators.mapphase import (
    VIEW_SCHEMA,
    emit_to_view_row,
)
from mapreduce_spark.operators.reduce import reduce_rows

num = st.integers(min_value=-1000, max_value=1000).map(float)
value = st.one_of(
    num, st.lists(num, min_size=1, max_size=4)
)


def _spark_sum(spark, values):
    rows = [
        emit_to_view_row(f"doc{i}", 0, "k", v)
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows, VIEW_SCHEMA)
    out = reduce_rows(
        df, "_sum", grouped=True, group_level=None
    ).collect()
    assert len(out) == 1
    r = out[0]
    if r.value_num_arr is not None:
        return list(r.value_num_arr)
    return r.value_num


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(value, min_size=1, max_size=8))
def test_distributed_sum_equals_couchdb_reference(spark, values):
    want = sum_values(values)
    got = _spark_sum(spark, values)
    if isinstance(want, list):
        assert isinstance(got, list) and len(got) == len(want)
        assert all(abs(a - b) < 1e-9 for a, b in zip(got, want))
    else:
        assert abs(got - want) < 1e-9


def test_custom_reduce_sees_real_rereduce(spark):
    """The two-phase custom reduce must call rereduce=True on partials
    from different Arrow batches — the documented strengthening over
    the reference's always-rereduce=false local adapter."""
    calls = []

    def red(keys, values, rereduce):
        calls.append(rereduce)
        return sum(v if isinstance(v, (int, float)) else 0
                   for v in values)

    rows = [
        emit_to_view_row(f"doc{i}", 0, "k", 1.0) for i in range(100)
    ]
    df = spark.createDataFrame(rows, VIEW_SCHEMA).repartition(4)
    from mapreduce_spark.operators.reduce import reduce_custom

    out = reduce_custom(
        df, red, grouped=True, group_level=None
    ).collect()
    assert out[0].value_num == 100.0
    # phase functions run on executors; call log isn't visible here,
    # but the 4-partition input guarantees >1 partial, so a reduce fn
    # that ignored rereduce would double-count — the 100.0 assertion
    # IS the rereduce check for a sum-shaped fn


def test_custom_reduce_result_follows_emit_rule(spark):
    """A custom reduce result takes the emit rule: NaN/±Infinity become
    JSON null, and the reduced row's value columns equal those of a
    map row emitting the same value."""
    results = {
        "nan": float("nan"),
        "arr": [1, float("inf")],
        "obj": {"a": float("-inf"), "b": 2},
        "num": 2.5,
        "nums": [1, 2],
    }

    def red(keys, values, rereduce):
        # phase 1 passes the group's tag on; phase 2 maps it to a result
        return results[values[0]] if rereduce else values[0]

    rows = [
        emit_to_view_row(f"doc{i}", 0, tag, tag)
        for i, tag in enumerate(results)
    ]
    df = spark.createDataFrame(rows, VIEW_SCHEMA)

    def cols(value_json, value_num, value_num_arr):
        # a SQL null and the JSON text null read back the same
        value = None if value_json is None else json.loads(value_json)
        return value, value_num, (
            None if value_num_arr is None else list(value_num_arr)
        )

    got = {
        json.loads(r.key_json): cols(r.value_json, r.value_num,
                                     r.value_num_arr)
        for r in reduce_rows(
            df, red, grouped=True, group_level=None
        ).collect()
    }
    for tag, value in results.items():
        want = emit_to_view_row("d", 0, tag, value)
        assert got[tag] == cols(want["value_json"], want["value_num"],
                                want["value_num_arr"]), tag
    assert got["nan"] == (None, None, None)
    assert got["arr"] == ([1, None], None, None)


# One fixed frame for every builtin: array keys sharing a first
# element, a one-element array key, a string and a number key; values
# are numbers plus some arrays, and every group at every level holds at
# least one number.
_BUILTIN_EMITS = [
    (["a", 1], 1), (["a", 1], [2, 3]), (["a", 2], 4), (["a", 2], 5),
    (["b", 1], 6), (["b", 1], [7]), ("c", 8), ("c", 9), (3, 10),
    (["a"], 11),
]


def _builtin_fold(name, emits, level):
    """Pure-Python builtin reduce over ``emits`` → {group key: (value_json,
    value_num, value_num_arr)}.  ``level``: None (group=true), an int
    (group_level) or "global"."""
    from mapreduce_spark.collate import normalize_key, to_indexable_string

    width = max((len(v) for _, v in emits if isinstance(v, list)),
                default=0)
    groups: dict = {}
    for k, v in emits:
        nk = normalize_key(k)
        if level == "global":
            g = None
        elif level is None or not isinstance(nk, list):
            g = nk
        else:
            g = nk[:level]
        groups.setdefault(json.dumps(g, separators=(",", ":")),
                          []).append((to_indexable_string(nk), v))
    out = {}
    for g, kv in groups.items():
        nums = [float(v) for _, v in kv if not isinstance(v, list)]
        num = arr = None
        if name == "_count":
            num = float(len(kv))
        elif name == "_approx_count_distinct":
            num = float(len({e for e, _ in kv}))
        elif name == "_min":
            num = min(nums)
        elif name == "_max":
            num = max(nums)
        elif name == "_sum" and width == 0:
            num = sum(nums)
        elif name == "_sum":
            # one width for every group: a number counts as [number],
            # shorter arrays zero-pad
            arr = [0.0] * width
            for _, v in kv:
                for i, x in enumerate(v if isinstance(v, list) else [v]):
                    arr[i] += float(x)
        if num is not None:
            vj = json.dumps(num)
        elif arr is not None:
            vj = json.dumps(arr, separators=(",", ":"))
        else:
            obj = {"sum": sum(nums), "count": float(len(nums))}
            if name == "_stats":
                obj.update(min=min(nums), max=max(nums),
                           sumsqr=sum(x * x for x in nums))
            vj = json.dumps(obj, separators=(",", ":"))
        out[g] = (vj, num, arr)
    return out


def test_builtins_match_python_fold(spark):
    """Every builtin at group=true, group_level=1 and global, plus a
    keys= read, returns the key_json, value_json, value_num and
    value_num_arr of a pure-Python fold, in collation order."""
    from mapreduce_spark.collate import normalize_key, to_indexable_string
    from mapreduce_spark.operators.query import query_reduced
    from mapreduce_spark.plans.spec import options_from

    rows = [
        emit_to_view_row(f"doc{i}", 0, k, v)
        for i, (k, v) in enumerate(_BUILTIN_EMITS)
    ]
    df = spark.createDataFrame(rows, VIEW_SCHEMA).repartition(3)
    scalar = [(k, v) for k, v in _BUILTIN_EMITS if not isinstance(v, list)]
    cases = [(n, df, _BUILTIN_EMITS) for n in (
        "_count", "_sum", "_stats", "_approx_count_distinct", "_min",
        "_max", "_sum_count")]
    cases.append(("_sum", df.filter("value_num_arr IS NULL"), scalar))
    keys = [["b", 1], "zz", 3, ["a", 1], ["b", 1]]
    for name, frame, emits in cases:
        for opts, level in (({"group": True}, None),
                            ({"group_level": 1}, 1),
                            ({}, "global"),
                            ({"group": True, "keys": keys}, "keys")):
            want = _builtin_fold(
                name, emits, None if level == "keys" else level
            )
            if level == "keys":
                # request order, duplicates repeated, absent keys omitted
                order = [
                    json.dumps(normalize_key(k), separators=(",", ":"))
                    for k in keys
                ]
                order = [g for g in order if g in want]
            else:
                order = sorted(
                    want,
                    key=lambda g: to_indexable_string(json.loads(g)),
                )
            out = query_reduced(
                frame, options_from(opts).validated(has_reduce=True), name
            ).collect()
            got = [
                (r.key_json, r.value_json, r.value_num,
                 None if r.value_num_arr is None else list(r.value_num_arr))
                for r in out
            ]
            assert got == [(g,) + want[g] for g in order], (name, opts)


_PAIR_JS = """
    function (keys, values, rereduce) {
      var s = 0;
      var c = 0;
      for (var i = 0; i < values.length; i++) {
        if (rereduce) { s += values[i].s; c += values[i].c; }
        else { s += values[i]; c += 1; }
      }
      return {s: s, c: c};
    }
"""


@given(
    st.lists(
        st.tuples(st.sampled_from(["A", "B"]),
                  st.sampled_from(["x1", "x2", "x3"]),
                  st.integers(min_value=0, max_value=1),
                  st.integers(min_value=-50, max_value=50)),
        min_size=12, max_size=40,
    ),
    st.sampled_from([3, 4, 5]),
)
@settings(
    max_examples=2,
    deadline=None,
    # every example runs Spark jobs: report a failure unshrunk
    phases=[Phase.explicit, Phase.reuse, Phase.generate],
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_custom_reduce_array_keys_across_arrow_batches(spark, emits,
                                                       per_batch):
    """Array keys whose first element is shared encode with a NUL after
    that element, so two groups' encodings differ only past a NUL.  A
    custom reduce must still keep every group apart when its rows span
    several Arrow batches, each batch starting in a different group:
    one output row per distinct key, in collation order, each equal to
    a pure-Python fold — for a Python and an interpreted-JS reduce, at
    group_level 1 and 2 and group=true."""
    from mapreduce_spark.collate import to_indexable_string
    from mapreduce_spark.functions.jsreduce import JSReduceFunction
    from mapreduce_spark.operators.query import query_reduced
    from mapreduce_spark.plans.spec import options_from

    # defined here, not at module level: executors pickle it by value
    def pair_py(keys, values, rereduce):
        if rereduce:
            return {"s": sum(v["s"] for v in values),
                    "c": sum(v["c"] for v in values)}
        return {"s": sum(values), "c": len(values)}

    # two groups sharing "A" alternate through the first two batches,
    # which start in different groups
    firsts = [("A", "x1", 0), ("A", "x2", 0)]
    emits = [
        firsts[(i + b) % 2] + (i,)
        for b in range(2) for i in range(per_batch)
    ] + emits
    rows = [
        emit_to_view_row(f"doc{i}", 0, [a, b, c], float(v))
        for i, (a, b, c, v) in enumerate(emits)
    ]
    df = spark.createDataFrame(rows, VIEW_SCHEMA).coalesce(1)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(per_batch))
    try:
        for fn in (pair_py, JSReduceFunction(_PAIR_JS)):
            for opts in ({"group_level": 1}, {"group_level": 2},
                         {"group": True}):
                level = opts.get("group_level", 3)
                want: dict = {}
                for a, b, c, v in emits:
                    want.setdefault(tuple([a, b, c][:level]), []).append(
                        float(v)
                    )
                order = sorted(
                    want, key=lambda k: to_indexable_string(list(k))
                )
                out = query_reduced(
                    df, options_from(opts).validated(has_reduce=True), fn
                ).collect()
                got = [json.loads(r.key_json) for r in out]
                assert got == [list(k) for k in order], (fn, opts)
                for r, k in zip(out, order):
                    folded = pair_py(None, want[k], False)
                    assert json.loads(r.value_json) == folded, (fn, opts)
    finally:
        spark.conf.set(conf, old)

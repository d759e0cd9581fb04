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
from mapreduce_spark.operators.reduce import reduce_builtin

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
    out = reduce_builtin(
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


def test_salted_tree_reduce_same_answer(spark):
    """salt_partials inserts an extra rereduce tier; the result must
    be identical for a rereduce-safe fn."""
    from mapreduce_spark.operators.reduce import reduce_custom

    def red(keys, values, rereduce):
        return sum(
            v if isinstance(v, (int, float)) else 0 for v in values
        )

    rows = [
        emit_to_view_row(f"doc{i}", 0, f"k{i % 3}", float(i))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, VIEW_SCHEMA).repartition(8)
    plain = {
        r.key_json: r.value_num
        for r in reduce_custom(
            df, red, grouped=True, group_level=None
        ).collect()
    }
    salted = {
        r.key_json: r.value_num
        for r in reduce_custom(
            df, red, grouped=True, group_level=None, salt_partials=4
        ).collect()
    }
    assert plain == salted and len(plain) == 3


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

"""The Spark-side key encoders (``enc_component_col``) must agree
byte-for-byte with the property-tested pure-Python codec (a NUL
terminator once went missing on a vectorized path)."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreduce_spark.collate import to_indexable_string
from mapreduce_spark.functions.encode import enc_component_col


def _encode(spark, xs, kind):
    """Encode ``xs`` as one column of one DataFrame."""
    df = spark.createDataFrame(
        [(x,) for x in xs], "x double" if kind == "num" else "x string"
    )
    return [r[0] for r in df.select(enc_component_col(F.col("x"), kind))
            .collect()]


# every example runs one Spark job (~0.2 s at local[4]), hence 60
# examples.  No infinities: callers fold NaN/±Infinity to null first
# (mapphase.fold_nonfinite).
@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.floats(allow_nan=False,
       allow_infinity=False)), min_size=1, max_size=20))
def test_num_encoder_parity(spark, xs):
    exp = ["1" if x is None else to_indexable_string(x) for x in xs]
    assert _encode(spark, xs, "num") == exp


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=10), st.text(
    alphabet=st.sampled_from(["a", "\x00", "\x01", "\x02", "\ud7fe",
                              "\ud7ff", "\ue000", "\uffff", "\U0001f600",
                              "\U0010ffff"]), max_size=5)),
    min_size=1, max_size=20))
def test_str_encoder_parity(spark, xs):
    exp = ["1" if x is None else to_indexable_string(x) for x in xs]
    assert _encode(spark, xs, "str") == exp


def test_nul_terminator_survives(spark):
    assert _encode(spark, ["x"], "str") == ["4x\x00"]

"""MAD outliers: exact flag arithmetic vs a pure-Python replay,
breakdown robustness vs the mean, and the MAD=0 degenerate lane."""

import math

import pytest
from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.operators.anomaly import (
    MAD_CONSISTENCY_MICRO,
    mad_outliers,
)


def _df(spark, vals):
    return spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                                 "k long, v long")


def _py_mad(vals, threshold_milli=3500):
    s = sorted(vals)
    med = s[max(1, math.ceil(len(s) / 2)) - 1]
    d = sorted(abs(v - med) for v in vals)
    mad = d[max(1, math.ceil(len(d) / 2)) - 1]
    out = {}
    for i, v in enumerate(vals):
        adev = abs(v - med)
        if mad > 0:
            out[i] = (adev * MAD_CONSISTENCY_MICRO > threshold_milli * mad * 1000,
                      adev * MAD_CONSISTENCY_MICRO // (mad * 1000))
        else:
            out[i] = (adev > 0, None)
    return med, mad, out


def test_matches_python_and_flags_trap_host(spark):
    # 40 ordinary hosts (8-12 urls) + one trap host at 5000
    vals = [8 + (i % 5) for i in range(40)] + [5000]
    got = {
        r["k"]: (r["med"], r["mad"], r["is_outlier"], r["robust_z_milli"])
        for r in mad_outliers(_df(spark, vals), "v",
                              sample_rate=1.0).collect()
    }
    med, mad, want = _py_mad(vals)
    for i, v in enumerate(vals):
        assert got[i][0] == med and got[i][1] == mad
        assert (got[i][2], got[i][3]) == want[i]
    assert got[40][2] is True
    assert sum(1 for i in range(40) if got[i][2]) == 0
    # mean/std would NOT flag cleanly: the trap inflates the std so
    # much that its plain z-score stays under ~6.4 while dragging the
    # mean far above every ordinary host — the breakdown MAD avoids
    mean = sum(vals) / len(vals)
    std = (sum((v - mean) ** 2 for v in vals) / len(vals)) ** 0.5
    assert (5000 - mean) / std < 6.5


def test_mad_zero_lane(spark):
    vals = [7] * 10 + [9]
    got = {
        r["k"]: (r["is_outlier"], r["robust_z_milli"])
        for r in mad_outliers(_df(spark, vals), "v",
                              sample_rate=1.0).collect()
    }
    assert got[10] == (True, None)
    assert all(got[i] == (False, None) for i in range(10))


def test_null_values_unflagged(spark):
    df = spark.createDataFrame([(0, 5), (1, None), (2, 6), (3, 7)],
                               "k long, v long")
    got = {r["k"]: r["is_outlier"] for r in
           mad_outliers(df, "v", sample_rate=1.0).collect()}
    assert got[1] is False


def test_bad_threshold_raises(spark):
    with pytest.raises(ValueError):
        mad_outliers(_df(spark, [1, 2]), "v", threshold_milli=0)


def test_double_valued_column_rejected(spark):
    # ratio-valued stats: the long cast would silently truncate
    # fractional parts and drift the flags from the documented
    # |x−med| rule (ADVICE r4 #2) — a DOUBLE column must raise,
    # and the fixed-point rescale is the supported route
    import pytest

    df = spark.createDataFrame(
        [(i, float(10 + i % 3)) for i in range(20)] + [(99, 900.5)],
        "k long, v double",
    )
    with pytest.raises(TypeError, match="integral"):
        mad_outliers(df, "v", sample_rate=1.0)
    micro = df.withColumn(
        "v_micro", F.round(F.col("v") * 1_000_000).cast("long")
    )
    rows = mad_outliers(micro, "v_micro", sample_rate=1.0).collect()
    flagged = {r["k"] for r in rows if r["is_outlier"]}
    assert flagged == {99}


def test_scale_zero_decimal_column_accepted(spark):
    # DECIMAL(p, 0) with p <= 18 is exact under the long cast, so it
    # flags exactly as the same values held as longs; a fractional
    # decimal is rejected like a double
    vals = [8 + (i % 5) for i in range(40)] + [5000]
    as_long = _df(spark, vals)
    as_dec = as_long.withColumn("v", F.col("v").cast("decimal(12,0)"))
    flags = [
        sorted((r["k"], r["is_outlier"], r["robust_z_milli"]) for r in
               mad_outliers(df, "v", sample_rate=1.0).collect())
        for df in (as_long, as_dec)
    ]
    assert flags[0] == flags[1]
    assert {k for k, flagged, _ in flags[1] if flagged} == {40}
    with pytest.raises(TypeError, match="integral"):
        mad_outliers(as_long.withColumn("v", F.col("v").cast("decimal(12,2)")), "v")
    with pytest.raises(TypeError, match="integral"):
        mad_outliers(as_long.withColumn("v", F.col("v").cast("decimal(20,0)")), "v")

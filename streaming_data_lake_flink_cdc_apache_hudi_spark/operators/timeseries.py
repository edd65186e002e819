"""Gap-filled time-series rollup (dense "hypertable" rollup): bucket
events into fixed windows per series, then fill EVERY bucket between
each series' first and last observation — absent buckets appear with
fill values instead of silently missing (the property dashboards and
downstream ML featurizers need).

Scale shape (100 TB):
- the rollup is one partial-aggregated groupBy over the raw events
  (the only scan of the data);
- the per-series bounds table is one tiny agg over the rollup
  (rows = number of series);
- the dense spine is ``sequence(lo, hi, step)`` + ``explode`` over
  the bounds table — generated in-plan on executors, never a driver
  loop. Each series materializes range/step bucket entries (e.g. a
  year of 5-minute buckets is ~105k — one array per series row;
  document/bound the step accordingly);
- the final left join keys on (series, bucket): shuffle volume is
  the rollup + spine cardinality, never the raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def gap_filled_rollup(
    df: DataFrame,
    ts_col: str,
    series_cols: list[str],
    bucket_width: str,
    aggs: dict[str, Column],
    fills: dict[str, object],
) -> DataFrame:
    """Dense per-series rollup: ``aggs`` computed per
    (series, bucket); every bucket in [min, max] per series present,
    missing ones taking ``fills``.

    ``bucket_width`` is a Spark interval string ("5 minutes"); bucket
    boundaries come from ``F.window`` so they match
    ``time_bucket``-style truncation.
    """
    bucket = F.window(F.col(ts_col), bucket_width).getField("start")
    rollup = (
        df.groupBy(*series_cols, bucket.alias("bucket"))
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )
    bounds = rollup.groupBy(*series_cols).agg(
        F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
    )
    spine = bounds.select(
        *series_cols,
        F.explode(
            F.sequence(
                F.col("_lo"), F.col("_hi"), F.expr(f"interval {bucket_width}")
            )
        ).alias("bucket"),
    )
    filled = spine.join(rollup, [*series_cols, "bucket"], "left")
    for n in aggs:
        filled = filled.withColumn(n, F.coalesce(F.col(n), F.lit(fills[n])))
    return filled


def _epoch_us_ntz(ts_col: str) -> Column:
    """Microseconds since 1970 of a (string or ntz) timestamp treated
    as WALL TIME — tz-free on purpose: ``unix_micros(cast(ts AS
    TIMESTAMP))`` interprets the wall time in the SESSION zone, so a
    non-UTC session would shift every bucket/grid boundary (and
    desync the UTC-agnostic DuckDB oracle). timestampdiff over
    TIMESTAMP_NTZ never consults the session zone."""
    return F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        f"CAST(`{ts_col}` AS TIMESTAMP_NTZ))"
    )


def _ntz_from_us(us_col: str) -> Column:
    """Inverse of :func:`_epoch_us_ntz` (tz-free)."""
    return F.expr(
        f"timestampadd(MICROSECOND, `{us_col}`, "
        "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )


def interpolate_linear(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    every_secs: int,
    round_to: int = 4,
) -> DataFrame:
    """Resample each series onto a regular ``every_secs`` grid with
    LINEAR interpolation between the surrounding samples — the
    hypertable ``interpolate()``/``time_bucket_gapfill`` companion of
    :func:`gap_filled_rollup` (which zero-fills aggregates; this
    reconstructs a continuous signal). Grid points outside a series'
    observed range stay absent (strict interpolation, no
    extrapolation).

    Scale shape: exact-timestamp collisions collapse via one grouped
    mean; the grid is generated IN-PLAN from a per-series (min, max)
    aggregate (sequence + explode — executor-side, tiny bounds table);
    samples ∪ grid sort per series, ascending and descending, and
    ``last(..., ignorenulls)`` over each running frame carries the
    left / right bracketing sample to every grid point — two O(n)
    window passes over (samples + grid) rows, all shuffles keyed by
    the series, never a global sort.

    Output: (series, grid ts as 'yyyy-MM-dd HH:mm:ss' string, value)
    — value rounded for cross-engine hashing, the lerp arithmetic
    itself is exact IEEE on µs-integer timestamps.
    """
    w_prev = (
        Window.partitionBy("_s")
        .orderBy("_t", "_is_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the right bracket is the last sample of the REVERSED running
    # frame: Spark re-aggregates a (current row, unbounded following)
    # frame for every row — O(n^2) per series — while a running frame
    # is O(n). (_t, _is_grid) is unique within a series (samples are
    # grouped by _t), so the reversed order is exact.
    w_next = (
        Window.partitionBy("_s")
        .orderBy(F.desc("_t"), F.desc("_is_grid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    us = _epoch_us_ntz(ts_col)
    samples = (
        df.select(
            F.col(series_col).alias("_s"),
            us.alias("_t"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .groupBy("_s", "_t")
        .agg(F.avg("_v").alias("_v"))
        .withColumn("_is_grid", F.lit(0))
    )
    step = every_secs * 1_000_000
    bounds = samples.groupBy("_s").agg(
        F.min("_t").alias("_lo"), F.max("_t").alias("_hi")
    )
    # PURE-LONG grid alignment (modulo, no float division anywhere —
    # a double div at 1e15 µs can round across the integer boundary
    # and desync engines): epoch-µs timestamps are non-negative
    lo_up = F.col("_lo") + step - 1
    lo_aligned = lo_up - (lo_up % step)  # ceil(lo/step)*step
    hi_aligned = F.col("_hi") - (F.col("_hi") % step)  # floor*step
    grid = bounds.select(
        "_s",
        F.explode(
            F.sequence(lo_aligned, hi_aligned, F.lit(step))
        ).alias("_t"),
        F.lit(None).cast("double").alias("_v"),
        F.lit(1).alias("_is_grid"),
    )
    u = samples.unionByName(grid)
    u = (
        u.withColumn("_pv", F.last("_v", ignorenulls=True).over(w_prev))
        .withColumn(
            "_pt",
            F.last(
                F.when(F.col("_v").isNotNull(), F.col("_t")),
                ignorenulls=True,
            ).over(w_prev),
        )
        .withColumn("_nv", F.last("_v", ignorenulls=True).over(w_next))
        .withColumn(
            "_nt",
            F.last(
                F.when(F.col("_v").isNotNull(), F.col("_t")),
                ignorenulls=True,
            ).over(w_next),
        )
    )
    # a grid point landing exactly on a sample needs no right bracket
    # (the series' last sample would otherwise drop off the grid)
    lerp = F.when(F.col("_pt") == F.col("_t"), F.col("_pv")).otherwise(
        F.col("_pv")
        + (F.col("_nv") - F.col("_pv"))
        * (F.col("_t") - F.col("_pt"))
        / (F.col("_nt") - F.col("_pt"))
    )
    return (
        u.filter(
            (F.col("_is_grid") == 1)
            & F.col("_pv").isNotNull()
            & (F.col("_nv").isNotNull() | (F.col("_pt") == F.col("_t")))
        )
        .select(
            F.col("_s").alias(series_col),
            F.date_format(
                _ntz_from_us("_t"), "yyyy-MM-dd HH:mm:ss"
            ).alias("grid_ts"),
            # binary-exact half-up (floor(x*10^k + 0.5)/10^k): Spark's
            # ROUND rounds Double.toString decimals, other engines the
            # binary value — they disagree on exact .5 boundaries
            (
                F.floor(lerp * (10**round_to) + 0.5) / (10**round_to)
            ).alias("value"),
        )
    )


def m4_downsample(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    n_buckets: int = 100,
) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., VLDB 2014): per
    series, split the time range into ``n_buckets`` equal-width
    buckets and keep, per bucket, the FIRST, LAST, MIN-value and
    MAX-value points — the four pixel-exact extremes a line chart of
    that width actually renders. Error-free for min/max envelopes at
    a fixed output size, unlike averaging resamplers.

    Scale shape: pure aggregation — one grouped pass computing four
    lexicographic ``min/max(struct(...))`` aggregates per (series,
    bucket) (all partial-aggregate map-side), then an in-map unpivot
    + distinct. Bucket assignment is PURE LONG arithmetic
    (``(t - lo) * n div (range + 1)``; float division at epoch-µs
    magnitudes desyncs engines). Values pass through untouched (they
    are actual samples), so no rounding is needed anywhere.

    Output: (series, ts 'yyyy-MM-dd HH:mm:ss.SSSSSS' string, value),
    one row per distinct kept point.
    """
    us = _epoch_us_ntz(ts_col)
    samples = df.select(
        F.col(series_col).alias("_s"),
        us.alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
    )
    bounds = samples.groupBy("_s").agg(
        F.min("_t").alias("_lo"), F.max("_t").alias("_hi")
    )
    b = samples.join(F.broadcast(bounds), "_s").withColumn(
        "_b",
        F.expr(f"((_t - _lo) * {n_buckets}) div (_hi - _lo + 1)"),
    )
    agg = b.groupBy("_s", "_b").agg(
        F.min(F.struct("_t", "_v")).alias("first"),
        F.max(F.struct("_t", "_v")).alias("last"),
        F.min(F.struct("_v", "_t")).alias("vmin"),
        F.max(F.struct("_v", "_t")).alias("vmax"),
    )
    pts = agg.select(
        "_s",
        F.explode(
            F.array(
                F.struct(
                    F.col("first._t").alias("_t"),
                    F.col("first._v").alias("_v"),
                ),
                F.struct(
                    F.col("last._t").alias("_t"),
                    F.col("last._v").alias("_v"),
                ),
                F.struct(
                    F.col("vmin._t").alias("_t"),
                    F.col("vmin._v").alias("_v"),
                ),
                F.struct(
                    F.col("vmax._t").alias("_t"),
                    F.col("vmax._v").alias("_v"),
                ),
            )
        ).alias("p"),
    ).select("_s", "p._t", "p._v").distinct()
    return pts.select(
        F.col("_s").alias(series_col),
        F.date_format(
            _ntz_from_us("_t"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
        ).alias("point_ts"),
        F.col("_v").alias("value"),
    )

"""Per-key time-series feature extraction — the feature-engineering
step of an event-log training pipeline (sessionize, lag/gap/rolling
features per user).  No reference analog: Jet expresses these as keyed
mapStateful chains (GeneralStage.java:156); batch Spark expresses them
as window functions — one shuffle on the key, everything else stays in
whole-stage codegen.

Scale notes
-----------
- One exchange on ``key_col`` + in-partition sort serves EVERY feature
  below (Catalyst reuses a single Window exec for same-spec frames);
  adding more lag/rolling columns is free of extra shuffles.
- Rolling sums go through DECIMAL(28,6) partials so the result is exact
  and engine-portable (IEEE double accumulation order differs between
  engines; decimal does not), then surface as double.
- A hot key (one user with 100M events) serializes through one
  partition — the inherent cost of an ordered per-key computation; cap
  or sessionize upstream if a key can be adversarially large.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hazelcast_jet_spark.streaming.stateful import (appended_schema,
                                                    map_stateful_batch)


def _epoch_seconds(df: DataFrame, time_col: str) -> Column:
    """Whole-second (FLOOR) epoch of a timestamp column, session-tz-FREE.

    For TIMESTAMP_NTZ the wall clock is the value: microseconds since
    epoch via ``timestampdiff`` (never consults the session timezone),
    floored to seconds.  ``unix_timestamp`` would re-interpret NTZ wall
    time in the session zone — off by the zone offset, and off by 3600
    across a DST boundary (the hostile-tz mirror would catch exactly
    that).  Instant-typed TIMESTAMP floors the double epoch.

    FLOOR, not truncate-toward-zero: sub-second fractions and pre-1970
    (negative) times must bin/gap the same way as ``F.window`` and the
    floor-based oracles (a plain BIGINT cast truncates toward zero,
    which rounds negative epochs the other way).
    """
    if dict(df.dtypes).get(time_col) == "timestamp_ntz":
        micros = F.expr(
            "timestampdiff(MICROSECOND, "
            f"CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ), {time_col})")
        # exact: micros < 2^53, so the double quotient floors correctly
        return F.floor(micros / F.lit(1000000.0))
    return F.floor(F.col(time_col).cast("double"))


def funnel_counts(df: DataFrame, stages: list[str],
                  key_col: str = "user_id", time_col: str = "ts",
                  type_col: str = "event_type",
                  within_seconds: int | None = None) -> DataFrame:
    """Ordered-funnel conversion counts: how many keys reached stage i —
    meaning events of ``stages[0..i]`` exist at strictly increasing
    times (the earliest-completion semantics of product funnel
    analytics; no reference analog — beyond-inventory op).

    Plan: stage 0 is one keyed min; each later stage joins the previous
    stage's completion times back to that stage's events and takes the
    min event time strictly after it — k-1 equi-joins ALL keyed on
    ``key_col``, so one hash partitioning serves every step, and each
    join's probe side is pre-filtered to a single event type.  The final
    per-stage counts collapse to one row per stage (stack — map-only).

    ``within_seconds`` bounds the WHOLE conversion: every later stage
    must complete within that many seconds of the stage-0 completion
    time (the "converted within 24h" product metric).

    Returns ``(stage INT 1-based, <type_col>, n_keys)``.
    """
    if len(stages) < 2:
        raise ValueError("funnel needs at least 2 stages")
    base = df.select(key_col, type_col, time_col)
    acc = (
        base.filter(F.col(type_col) == stages[0])
        .groupBy(key_col).agg(F.min(time_col).alias("t0"))
    )
    for i, s in enumerate(stages[1:], 1):
        nxt = (
            base.filter(F.col(type_col) == s)
            .join(acc.select(key_col, f"t{i-1}",
                             *(["t0"] if i > 1 else [])), key_col)
            .filter(F.col(time_col) > F.col(f"t{i-1}"))
        )
        if within_seconds is not None:
            nxt = nxt.filter(
                F.col(time_col)
                <= F.col("t0") + F.expr(f"INTERVAL {within_seconds} SECONDS"))
        nxt = nxt.groupBy(key_col).agg(F.min(time_col).alias(f"t{i}"))
        acc = acc.join(nxt, key_col, "left")
    counts = acc.agg(*[
        F.count(f"t{i}").alias(f"n{i}") for i in range(len(stages))
    ])
    stack = ", ".join(
        f"{i + 1}, '{s}', n{i}" for i, s in enumerate(stages)
    )
    return counts.selectExpr(
        f"stack({len(stages)}, {stack}) AS (stage, {type_col}, n_keys)"
    ).select(
        F.col("stage").cast("int").alias("stage"), type_col, "n_keys",
    )


def event_features(df: DataFrame, key_col: str = "user_id",
                   time_col: str = "ts", value_col: str = "value",
                   id_col: str = "event_id",
                   rolling_n: int = 5) -> DataFrame:
    """Append standard per-key ordered features:

    - ``seq``            position of the event in its key's timeline
    - ``prev_value``     previous event's value (lag 1)
    - ``gap_seconds``    seconds since the previous event
    - ``rolling_sum_n``  exact sum of the last ``rolling_n`` values
                         (current row inclusive), decimal-accumulated
    - ``rolling_min_n`` / ``rolling_max_n``  frame extrema

    Ordering ties on ``time_col`` break by ``id_col`` so the output is
    deterministic under any partitioning (and matches a SQL oracle
    running the same ORDER BY).
    """
    w = Window.partitionBy(key_col).orderBy(F.col(time_col), F.col(id_col))
    frame = w.rowsBetween(-(rolling_n - 1), 0)
    dec = F.col(value_col).cast("decimal(28,6)")
    es = _epoch_seconds(df, time_col)
    return df.select(
        "*",
        F.row_number().over(w).alias("seq"),
        F.lag(value_col, 1).over(w).alias("prev_value"),
        (es - F.lag(es, 1).over(w)).alias("gap_seconds"),
        F.sum(dec).over(frame).cast("double").alias(f"rolling_sum_{rolling_n}"),
        F.min(value_col).over(frame).alias(f"rolling_min_{rolling_n}"),
        F.max(value_col).over(frame).alias(f"rolling_max_{rolling_n}"),
    )


def sessionize(df: DataFrame, key_col: str = "user_id", time_col: str = "ts",
               gap: str = "30 minutes", session_col: str = "session_id",
               id_col: str | None = None) -> DataFrame:
    """Assign a session id per key: a new session starts whenever the
    gap since the previous event exceeds ``gap``.  The batch twin of the
    streaming session window (SessionWindowP.java:79), as the classic
    two-window composition: flag session starts (lag), then a running
    sum of flags numbers the sessions — still one shuffle total.
    """
    order = [F.col(time_col)] + ([F.col(id_col)] if id_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    es = _epoch_seconds(df, time_col)
    gap_s = es - F.lag(es, 1).over(w)
    return (
        df.withColumn("_gap_s", gap_s)
        .withColumn("_new", F.when(F.col("_gap_s").isNull()
                                   | (F.col("_gap_s") > _interval_seconds(gap)),
                                   F.lit(1)).otherwise(F.lit(0)))
        .withColumn(session_col,
                    F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .drop("_gap_s", "_new")
    )


def _interval_seconds(gap: str) -> int:
    """Parse '30 minutes' / '2 hours' / '45 seconds' / '1 day' to seconds."""
    n, unit = gap.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}[unit]
    return int(n) * mult


def ewma(df: DataFrame, key_col: str, time_col: str, value_col: str,
         alpha: float, id_col: str | None = None,
         out_col: str = "ewma") -> DataFrame:
    """Exponentially-weighted moving average per key (the smoothing
    feature SQL windows cannot express — the recurrence
    ``s_t = α·v_t + (1-α)·s_{t-1}`` needs true iteration).

    Arrow-batched applyInPandas per key group: one shuffle on the key,
    then a vectorized pandas ``ewm(alpha, adjust=False)`` per group —
    the same batch-per-group shape as the keyed mapStateful analog, and
    numerically the standard recurrence (not the adjust=True
    renormalized form).  Verified against a hand-rolled Python model in
    tests rather than a SQL oracle (not SQL-expressible).
    """
    def _ewm(pdf):
        pdf[out_col] = (
            pdf[value_col].astype("float64").ewm(alpha=alpha, adjust=False).mean()
        )
        return pdf

    return map_stateful_batch(df, [key_col], _ewm,
                              appended_schema(df, f"{out_col} double"),
                              [time_col] + ([id_col] if id_col else []))


def kalman_level(df: DataFrame, key_col: str, time_col: str,
                 value_col: str, q: float = 1.0, r: float = 4.0,
                 out_col: str = "level",
                 gain_col: str = "gain") -> DataFrame:
    """Local-level Kalman filter per key (Kalman 1960; the
    random-walk-plus-noise state-space model, Harvey 1989 ch.2): the
    optimal-gain generalization of :func:`ewma` — instead of a FIXED
    smoothing α, the gain adapts from the uncertainty recursion

        P⁻ = P + q                  (predict)
        K  = P⁻ / (P⁻ + r)          (gain)
        x  = x + K·(v − x)          (update)
        P  = (1 − K)·P⁻

    converging to the steady-state gain α* = (−q+√(q²+4qr))/(2r)·…
    from ABOVE, so early observations (high uncertainty) correct
    faster — the warm-up behavior fixed-α EWMA gets wrong.  ``q`` is
    the process (level-walk) variance, ``r`` the observation variance;
    q/r sets the asymptotic responsiveness.

    Init: the first observation is taken as the level (diffuse prior
    collapses to it), with ``P = r`` and ``gain = 1``.

    Same execution shape as :func:`ewma`: one shuffle on the key, then
    an Arrow-batched per-key pandas recurrence (honestly sequential —
    each step needs the previous posterior; at scale the per-key series
    is calendar-bounded, e.g. days, so groups are small regardless of
    corpus size).  Every step is a fixed-order double expression, so a
    recursive-CTE oracle replays the filter bit-for-bit.

    Returns the input columns plus ``(out_col, gain_col)`` doubles.
    """
    if q < 0 or r <= 0:
        raise ValueError(f"need q >= 0 and r > 0, got q={q}, r={r}")

    def _filter(pdf):
        pdf[out_col], pdf[gain_col], _, _ = kalman_steps(
            pdf[value_col], float(q), float(r))
        return pdf

    return map_stateful_batch(
        df, [key_col], _filter,
        appended_schema(df, f"{out_col} double, {gain_col} double"),
        time_col)


def kalman_steps(values, q: float, r: float, x=None, p=None):
    """:func:`kalman_level`'s steps from the posterior ``(x, p)`` (None:
    the first value) -> ``(levels, gains, x, p)``; the stream twin runs
    it from its carried posterior."""
    levels, gains = [], []
    for v in values:
        v = float(v)
        if x is None:
            x, p, k = v, r, 1.0
        else:
            pp = p + q
            k = pp / (pp + r)
            x = x + k * (v - x)
            p = (1.0 - k) * pp
        levels.append(x)
        gains.append(k)
    return levels, gains, x, p


def croston(df: DataFrame, key_col: str, time_col: str, value_col: str,
            alpha: float = 0.5) -> DataFrame:
    """Croston's method for INTERMITTENT demand (Croston 1972): series
    with many zero periods (spare parts, long-tail SKUs, rare event
    types) break level smoothers — the zeros drag the level to nothing
    and the forecast whipsaws.  Croston smooths two series ONLY at
    demand epochs:

        z_t = α·size_t + (1−α)·z        (demand size)
        p_t = α·interval_t + (1−α)·p    (inter-demand interval)
        forecast = z / p                (demand rate per period)

    Init: ``z = first size``, ``p = 1``; updates start at the second
    epoch (the first observed interval).  ``time_col`` is an integer
    period ordinal (e.g. epoch day) so intervals are exact integers.

    Same execution shape as :func:`ewma`/:func:`kalman_level`: one
    shuffle on the key, an Arrow per-key recurrence (honestly
    sequential); with a dyadic ``alpha`` every update is an exact
    binary scaling, so a recursive-CTE oracle replays the bits.

    Returns input columns plus ``(z, p, forecast)`` doubles — one row
    per demand epoch; take each key's LAST row for the current rate.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    af = float(alpha)

    def _fit(pdf):
        times = [float(t) for t in pdf[time_col]]
        sizes = [float(v) for v in pdf[value_col]]
        zs, ps, fc = [], [], []
        z = p = 0.0
        for i, (t, v) in enumerate(zip(times, sizes)):
            if i == 0:
                z, p = v, 1.0
            else:
                interval = t - times[i - 1]
                z = af * v + (1.0 - af) * z
                p = af * interval + (1.0 - af) * p
            zs.append(z)
            ps.append(p)
            fc.append(z / p)
        pdf["z"] = zs
        pdf["p"] = ps
        pdf["forecast"] = fc
        return pdf

    return map_stateful_batch(
        df, [key_col], _fit,
        appended_schema(df, "z double, p double, forecast double"), time_col)


def cohort_retention(df: DataFrame, key_col: str = "user_id",
                     time_col: str = "ts",
                     period_seconds: int = 604800) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-activity
    period (the cohort), counted again in every later period they were
    active — the product-analytics staple behind "week-N retention"
    dashboards.  No reference analog (Jet would chain two keyed
    aggregates); beyond-inventory op.

    Returns ``(cohort_period BIGINT, period_offset BIGINT, n_active
    BIGINT)``: of the keys whose first activity fell in
    ``cohort_period``, ``n_active`` were active ``period_offset``
    periods later (offset 0 row = cohort size).

    Plan at scale — three hash exchanges, each strictly smaller than
    the last, none on the raw stream twice:

    1. ``(key, period)`` DISTINCT — collapses the event stream to at
       most keys × periods rows (map-side partial dedup first);
    2. per-key MIN over those rows — one row per key (reuses the
       key-compatible partitioning);
    3. the activity rows rejoin their key's cohort (same key
       partitioning — co-located, no broadcast needed since both
       sides are already key-partitioned) and count per
       ``(cohort, offset)``.  After step 1 each (key, period) is
       unique, so a plain ``count`` IS the distinct-user count —
       no count-distinct state anywhere.

    Periods are FLOOR(epoch / period_seconds) — session-tz-free via
    :func:`_epoch_seconds`, so a DuckDB/Trino oracle bins identically
    (including pre-1970 and sub-second timestamps).
    """
    if period_seconds <= 0:
        raise ValueError(f"period_seconds must be > 0, got {period_seconds}")
    period = F.floor(
        _epoch_seconds(df, time_col) / F.lit(float(period_seconds)))
    activity = (
        df.select(F.col(key_col).alias("_key"), period.alias("_period"))
        .distinct()
    )
    cohorts = activity.groupBy("_key").agg(
        F.min("_period").alias("_cohort"))
    return (
        activity.join(cohorts, "_key")
        .groupBy(F.col("_cohort").alias("cohort_period"),
                 (F.col("_period") - F.col("_cohort")).alias("period_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def resample(df: DataFrame, key_col: str, time_col: str, value_col: str,
             period_seconds: int, fill: str = "ffill") -> DataFrame:
    """Regularize an irregular per-key series onto a fixed grid — the
    gap-fill / downsample step between raw event logs and feature or
    chart pipelines (Jet users hand-roll this with mapStateful; no
    reference analog — beyond-inventory op).

    Each key's events aggregate per period (mean of ``value_col`` —
    exact DECIMAL accumulation, surfaced as double); missing periods
    between a key's first and last are MATERIALIZED and filled:

    - ``fill="ffill"``  — last observed period mean carries forward;
    - ``fill="zero"``   — gaps fill with 0.0;
    - ``fill="null"``   — gaps stay NULL (caller interpolates).

    Plan at scale — no per-key iteration, no driver loop:

    1. one aggregate to per-(key, period) means (map-side combine);
    2. per-key min/max period reuses that partitioning; the grid
       EXPLODES from ``sequence(min, max)`` — rows created exactly
       where gaps exist, never a cross join against a calendar table;
    3. a left join back on (key, period) — both sides hash-partition
       the same way — then one ordered window for the forward fill
       (``last(value, ignorenulls)``).

    State note: a key spanning years at 1 s periods explodes to
    ~31M grid rows — the inherent size of its regularized series; pick
    ``period_seconds`` for the grid you actually want.

    Returns ``(key_col, period BIGINT, value DOUBLE, observed BOOLEAN)``
    with ``period = FLOOR(epoch/period_seconds)`` (tz-free, engine-
    portable bins as everywhere in this module).
    """
    if fill not in ("ffill", "zero", "null"):
        raise ValueError(f"fill must be ffill|zero|null, got {fill}")
    if period_seconds <= 0:
        raise ValueError(f"period_seconds must be > 0, got {period_seconds}")
    period = F.floor(
        _epoch_seconds(df, time_col) / F.lit(float(period_seconds)))
    per = (
        df.select(F.col(key_col).alias("_k"), period.alias("_p"),
                  F.col(value_col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .groupBy("_k", "_p")
        # DECIMAL sum (order-free) cast to double, then ONE double
        # division — decimal/int division scale rules differ between
        # engines; double arithmetic does not
        .agg((F.sum(F.col("_v").cast("decimal(28,12)")).cast("double")
              / F.count(F.lit(1)).cast("double")).alias("_mean"))
    )
    grid = (
        per.groupBy("_k")
        .agg(F.min("_p").alias("_lo"), F.max("_p").alias("_hi"))
        .select("_k", F.explode(F.sequence("_lo", "_hi")).alias("_p"))
    )
    joined = grid.join(per, ["_k", "_p"], "left")
    observed = F.col("_mean").isNotNull()
    if fill == "ffill":
        w = (Window.partitionBy("_k").orderBy("_p")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        value = F.last("_mean", ignorenulls=True).over(w)
    elif fill == "zero":
        value = F.coalesce("_mean", F.lit(0.0))
    else:
        value = F.col("_mean")
    return joined.select(
        F.col("_k").alias(key_col), F.col("_p").alias("period"),
        value.alias("value"), observed.alias("observed"))


def anomaly_flags(df: DataFrame, key_col: str, time_col: str, value_col: str,
                  id_col: str, window_n: int = 20, k: float = 3.0,
                  min_history: int = 5) -> DataFrame:
    """Rolling control-band anomaly detection per key: flag points
    farther than ``k`` sample standard deviations from the mean of the
    PRECEDING ``window_n`` points (current point excluded — a spike
    must not mask itself by inflating its own band; the classic
    self-contamination mistake).  Points with fewer than
    ``min_history`` predecessors are never flagged (no band exists).

    Mechanics: one exchange on ``key_col``; the frame stats come from
    ONE cumulative (unbounded-preceding) count / DECIMAL-exact sum /
    sum-of-squares per row, with each ``[-window_n, -1]`` frame derived
    as the difference of two ``lag``-shifted running totals
    (``cum(t-1) − cum(t-window_n-1)``).  Spark evaluates bounded
    sliding frames by re-aggregating the frame per row (O(n·w) — the
    r5 bench's top cost at w=50), while running frames are incremental
    (O(n)); subtraction of exact decimals is exact, so the derived
    frame sums are bit-identical to the direct-frame formulation and
    the band

        ``std = sqrt((sumsq − sum²/n) / (n−1))``

    is unchanged in any engine (the naive running-float variance would
    be partitioning-dependent).  This is the batch twin of the
    reference's ``deductFn`` sliding-window optimization
    (SlidingWindowP.java:393).  Adding more bands (other k) is free —
    same window exec.

    Returns the input's ``(id_col, key_col, time_col, value_col)`` plus
    ``mean, std`` (NULL below ``min_history``) and ``is_anomaly``
    (false there).  Complements :func:`~hazelcast_jet_spark.operators.
    profile.mad_outliers` (global, distribution-robust) with a LOCAL,
    time-adaptive band.
    """
    if window_n < 2 or min_history < 2:
        raise ValueError("window_n and min_history must be >= 2")
    base = Window.partitionBy(key_col).orderBy(time_col, id_col)
    cw = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v = F.col(value_col)
    # Stage 1: the three running totals, once.  Stage 2: shift them as ONE
    # struct column — 2 lag expressions instead of 6, each over a tiny
    # attribute-ref tree instead of a duplicated cumulative-aggregate tree
    # (the stacked form's one-time analysis/codegen cost dominated the
    # cold driver run; lag-of-struct == struct-of-lags, bit-identical).
    staged = df.select(
        id_col, key_col, time_col, value_col,
        F.struct(
            F.count(v).over(cw).alias("n"),
            F.sum(v.cast("decimal(28,12)")).over(cw).alias("s"),
            F.sum((v * v).cast("decimal(28,12)")).over(cw).alias("s2"),
        ).alias("_cum"))
    hi = F.lag("_cum", 1).over(base)
    lo = F.lag("_cum", window_n + 1).over(base)
    dzero = F.lit(0).cast("decimal(38,12)")
    nzero = F.lit(0).cast("bigint")

    def _diff(field, zero):
        return F.coalesce(hi[field], zero) - F.coalesce(lo[field], zero)

    v = F.col(value_col)
    n = _diff("n", nzero)
    s = _diff("s", dzero).cast("double")
    s2 = _diff("s2", dzero).cast("double")
    have = n >= F.lit(min_history)
    mean = F.when(have, s / n)
    var = F.greatest((s2 - s * s / n) / (n - F.lit(1)), F.lit(0.0))
    std = F.when(have, F.sqrt(var))
    flag = F.when(have & std.isNotNull(),
                  F.abs(v - mean) > F.lit(float(k)) * std).otherwise(F.lit(False))
    return staged.select(
        id_col, key_col, time_col, value_col,
        mean.alias("mean"), std.alias("std"), flag.alias("is_anomaly"))


def changepoint_scores(df: DataFrame, key_col: str, time_col: str,
                       value_col: str, id_col: str, window_n: int = 20,
                       round_digits: int = 6) -> DataFrame:
    """Level-shift (changepoint) scoring per key: at every point, the
    difference between the mean of the NEXT ``window_n`` values
    (current included — a shift AT t shows its boundary at t) and the
    mean of the PREVIOUS ``window_n``, plus the Welch z-score

        ``z = (mean_after − mean_before) / sqrt(var_b/n + var_a/n)``

    — the classic sliding two-sample test for offline changepoint
    detection, the LEVEL-SHIFT companion of :func:`anomaly_flags`
    (which flags single-point spikes against a local band; a persistent
    regime change moves the band with it and stays invisible there).

    Both frames must be FULL (``window_n`` rows) or the score is NULL —
    partial-frame edges systematically inflate shift estimates.  Both
    means/variances derive from ONE cumulative count / DECIMAL-exact
    sum / sum-of-squares on ONE ordered window exchange, with each
    frame's stats taken as the difference of two shifted running totals
    (``lag`` for the before-frame, ``lead`` for the after-frame) —
    O(n) where the direct two-bounded-frames formulation is O(n·w)
    (Spark re-aggregates bounded frames per row; this was the r5
    bench's single most expensive query at w=50).  Subtraction of
    exact decimals is exact, so results are bit-identical to the
    direct-frame version and the oracle is unchanged (the batch twin
    of the reference's deductFn, SlidingWindowP.java:393).  ``z`` is
    NULL when both variances are 0 (two flat regimes — ``shift`` alone
    carries the signal).

    Returns ``(id_col, key_col, time_col, value_col, mean_before,
    mean_after, shift, zscore)`` rounded for gate portability.
    """
    if window_n < 2:
        raise ValueError("window_n must be >= 2")
    base = Window.partitionBy(key_col).orderBy(time_col, id_col)
    cw = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v = F.col(value_col)
    # Stage the three running totals once, then shift the whole struct:
    # 3 lag/lead expressions instead of 9, each over an attribute ref —
    # the cumulative trees are never duplicated into the shift
    # expressions (cold analysis/codegen was the residual driver cost;
    # lag-of-struct == struct-of-lags, bit-identical, oracle unchanged).
    staged = df.select(
        id_col, key_col, time_col, value_col,
        F.struct(
            F.count(v).over(cw).alias("n"),
            F.sum(v.cast("decimal(28,12)")).over(cw).alias("s"),
            F.sum((v * v).cast("decimal(28,12)")).over(cw).alias("s2"),
        ).alias("_cum"))
    prev1 = F.lag("_cum", 1).over(base)
    prevw = F.lag("_cum", window_n + 1).over(base)
    nextw = F.lead("_cum", window_n - 1).over(base)
    nzero = F.lit(0).cast("bigint")
    dzero = F.lit(0).cast("decimal(38,12)")

    def _before(field, zero):
        # frame [-window_n, -1] == cum(t-1) - cum(t-window_n-1)
        return F.coalesce(prev1[field], zero) - F.coalesce(prevw[field], zero)

    def _after(field, zero):
        # frame [0, window_n-1] == cum(t+window_n-1) - cum(t-1); the lead
        # is left un-coalesced so a truncated end-of-partition frame goes
        # NULL -> `full` is never satisfied there (same visible output as
        # the direct-frame version, which counted the short frame).
        return nextw[field] - F.coalesce(prev1[field], zero)

    def stats(n, s_dec, s2_dec):
        s = s_dec.cast("double")
        s2 = s2_dec.cast("double")
        mean = s / n
        var = F.greatest((s2 - s * s / n) / (n - F.lit(1)), F.lit(0.0))
        return mean, var

    nb = _before("n", nzero)
    na = _after("n", nzero)
    mb, vb = stats(nb, _before("s", dzero), _before("s2", dzero))
    ma, va = stats(na, _after("s", dzero), _after("s2", dzero))
    full = (nb == window_n) & (na == window_n)
    shift = F.when(full, ma - mb)
    se = F.sqrt(vb / nb + va / na)
    z = F.when(full & (se > 0), (ma - mb) / se)
    return staged.select(
        id_col, key_col, time_col, value_col,
        F.round(F.when(full, mb), round_digits).alias("mean_before"),
        F.round(F.when(full, ma), round_digits).alias("mean_after"),
        F.round(shift, round_digits).alias("shift"),
        F.round(z, round_digits).alias("zscore"),
    )


def acf(df: DataFrame, key_col: str, time_col: str, value_col: str,
        id_col: str, lags: list[int] = (1, 2, 3),
        round_digits: int = 6) -> DataFrame:
    """Per-key autocorrelation function at fixed lags — the standard
    seasonality / persistence feature for time-series monitoring:

        ``r_k = Σ_t (x_t − x̄)(x_{t+k} − x̄) / Σ_t (x_t − x̄)²``

    with the full-series mean and denominator (the classic biased ACF
    estimator, what statsmodels ``acf(adjusted=False)`` computes).

    Plan: ONE window exchange on the key serves the series mean
    (partition frame, DECIMAL-exact sum), every ``lead(k)`` and the
    final per-key aggregate (same partitioning — no second shuffle).
    Cross-products and squares accumulate in DECIMAL(28,12) after
    fixed-order double centering, so r_k hashes identically on a SQL
    oracle.  NULL values are excluded from the mean but break the lag
    chain like any missing row would (lead skips over rows, not time —
    regularize with :func:`resample` first for calendar lags).

    Returns ``(key, lag, n, acf_k)`` — one row per key per lag; keys
    with zero variance emit NULL acf (no structure to correlate).
    """
    if not lags or any(k < 1 for k in lags):
        raise ValueError("lags must be >= 1")
    w_ord = Window.partitionBy(key_col).orderBy(time_col, id_col)
    # full-partition frame ON THE ORDERED window spec: an unordered
    # partitionBy window plans as its OWN Sort(key)+Window pass before
    # the lead window's Sort(key, time, id) — same partition exchange,
    # two full sorts (r13 before-plan: Sort(5)+Window(6)+Sort(8)+
    # Window(9)).  The explicit unbounded ROWS frame computes the
    # identical order-free aggregate on the lead window's sort, so both
    # window passes share ONE sort (guide §2.4 "window functions
    # partitioned by the same key ... one partitioning established
    # once").  Values are bit-identical: the decimal sum and count are
    # order-independent.
    w_all = w_ord.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    v = F.col(value_col).cast("double")
    mean = (F.sum(v.cast("decimal(28,12)")).over(w_all).cast("double")
            / F.count(v).over(w_all))
    c = v - mean
    per_row = df.select(
        key_col,  # keep the source attribute so the aggregate reuses the
        # window's hash partitioning (an alias here costs a second exchange)
        F.count(v).over(w_all).alias("__n"),
        (c * c).cast("decimal(28,12)").alias("__den"),
        *[(c * (F.lead(v, k).over(w_ord) - mean)).cast("decimal(28,12)")
          .alias(f"__num{k}") for k in lags],
    )
    agged = per_row.groupBy(F.col(key_col).alias("key")).agg(
        F.first("__n").alias("n"),
        F.sum("__den").cast("double").alias("__d"),
        *[F.sum(f"__num{k}").cast("double").alias(f"__s{k}") for k in lags],
    )
    stacked = agged.select(
        "key", "n",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("lag"),
                     F.when(F.col("__d") > 0,
                            F.col(f"__s{k}") / F.col("__d")).alias("r"))
            for k in lags])).alias("__e"),
    )
    return stacked.select(
        "key", F.col("__e.lag").alias("lag"), "n",
        F.round(F.col("__e.r"), round_digits).alias("acf"),
    )


def seasonal_decompose(df: DataFrame, key_col: str, time_col: str,
                       value_col: str, id_col: str, period: int,
                       round_digits: int = 6) -> DataFrame:
    """Classical additive seasonal decomposition per key —
    ``value = trend + seasonal + residual`` (the moving-average
    decomposition statsmodels calls ``seasonal_decompose``), the
    monitoring primitive that separates "traffic is down" from "it's
    Sunday":

    - **trend**: centered moving average over an ODD window of
      ``period`` rows (period+1 when even, the classic parity fix so
      the window is symmetric); NULL where the frame is not full —
      edge trends are systematically biased, so they are withheld
      rather than wrong.
    - **seasonal**: per-position mean of the detrended series
      (position = per-key row index mod ``period``), centered so one
      full cycle sums to ~0 — level stays in the trend.
    - **residual**: ``value − trend − seasonal`` where trend exists.

    Determinism: every mean is a DECIMAL(28,12) sum over counts in
    fixed-order double division (the module-wide contract), positions
    come from ``row_number`` over ``(time, id)``, so all three
    components hash identically on a SQL oracle.

    Plan: one key-window exchange (row numbers + the trend frame), one
    ``(key, pos)`` aggregate for the seasonal profile (≤ keys·period
    rows), one key-window over that tiny table for centering, and a
    broadcast join back onto the rows.  Row volume shuffles once.

    Returns the input ids plus ``(pos, trend, seasonal, resid)``
    rounded to ``round_digits``.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    tw = period if period % 2 == 1 else period + 1
    h = tw // 2
    base = Window.partitionBy(key_col).orderBy(time_col, id_col)
    wt = base.rowsBetween(-h, h)
    v = F.col(value_col).cast("double")
    nt = F.count(v).over(wt)
    st = F.sum(v.cast("decimal(28,12)")).over(wt).cast("double")
    rows = df.select(
        id_col, key_col, time_col, value_col,
        ((F.row_number().over(base) - 1) % period).alias("pos"),
        F.when(nt == tw, st / nt).alias("__trend"),
    )
    detr = (v - F.col("__trend")).cast("decimal(28,12)")
    prof = rows.groupBy(key_col, "pos").agg(
        (F.sum(detr).cast("double")
         / F.count(v - F.col("__trend"))).alias("__s_raw"))
    wk = Window.partitionBy(key_col)
    prof = prof.select(
        key_col, "pos",
        (F.col("__s_raw")
         - F.sum(F.col("__s_raw").cast("decimal(28,12)")).over(wk)
         .cast("double") / F.count("__s_raw").over(wk)).alias("__seasonal"))
    out = rows.join(F.broadcast(prof), [key_col, "pos"])
    return out.select(
        id_col, key_col, time_col, value_col, "pos",
        F.round("__trend", round_digits).alias("trend"),
        F.round("__seasonal", round_digits).alias("seasonal"),
        F.round(v - F.col("__trend") - F.col("__seasonal"),
                round_digits).alias("resid"),
    )


def scd2_intervals(df: DataFrame, key_col: str, time_col: str,
                   state_col: str, id_col: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) interval builder from a change
    log: per key, consecutive rows with the SAME state collapse, and
    each surviving state change becomes a validity interval
    ``[valid_from, valid_to)`` (``valid_to`` NULL = current) — the
    standard warehouse history table, and the batch complement of the
    CDC sink (a Debezium stream replayed through this yields the same
    table the source system's history would).

    Mechanics: ONE ordered window exchange on ``key_col`` — ``lag`` to
    drop no-op repeats (null-safe: a state going NULL IS a change),
    then ``lead`` over the survivors for the interval end.  Emits
    ``(key_col, state_col, valid_from, valid_to, open_id, version)``
    with ``version`` numbering each key's states from 1 in time order
    and ``open_id`` the ``id_col`` of the interval-opening event
    (provenance, and what :func:`scd2_apply_delta` uses to replay the
    table as a change log).

    Determinism: ties on ``time_col`` break by ``id_col`` (the event-id
    convention every ordered operator here uses).
    """
    w = Window.partitionBy(key_col).orderBy(time_col, id_col)
    changed = (
        df.withColumn("__prev", F.lag(state_col).over(w))
        .withColumn("__first", F.row_number().over(w) == 1)
        .filter(F.col("__first")
                | ~F.col("__prev").eqNullSafe(F.col(state_col)))
    )
    w2 = Window.partitionBy(key_col).orderBy(time_col, id_col)
    return changed.select(
        key_col, state_col,
        F.col(time_col).alias("valid_from"),
        F.lead(time_col).over(w2).alias("valid_to"),
        F.col(id_col).alias("open_id"),
        F.row_number().over(w2).alias("version"),
    )


def scd2_apply_delta(intervals: DataFrame, delta: DataFrame, key_col: str,
                     time_col: str, state_col: str, id_col: str) -> DataFrame:
    """Incremental SCD2 maintenance: merge a NEW changelog batch into an
    existing :func:`scd2_intervals` table, rebuilding ONLY the keys the
    delta touches — the 100 TB shape (a daily CDC batch touches a tiny
    key fraction; re-deriving the whole history table every day is the
    thing this avoids).

    Mechanics: delta keys split the table with one semi/anti join pair;
    affected keys' intervals replay as change events (``valid_from`` /
    ``open_id`` are exactly the surviving change points), union the
    delta, and re-run :func:`scd2_intervals` on that bounded slice;
    untouched keys pass through with versions intact.

    Exactness contract: for APPEND-ONLY deltas (every delta event at or
    after the key's last recorded change — the streaming-CDC case) the
    result is IDENTICAL to rebuilding from the full original log,
    because collapse only ever dropped repeats that cannot interleave
    with future events.  A backfill that lands BETWEEN two collapsed
    repeats of an old state cannot resurrect the dropped repeat (the
    log was compacted); rebuild from the raw log when out-of-order
    history matters.
    """
    dk = delta.select(F.col(key_col)).distinct()
    affected = intervals.join(dk, key_col, "left_semi")
    untouched = intervals.join(dk, key_col, "left_anti")
    replay = affected.select(
        F.col(key_col),
        F.col("valid_from").alias(time_col),
        F.col(state_col),
        F.col("open_id").alias(id_col),
    )
    merged = replay.unionByName(
        delta.select(key_col, time_col, state_col, id_col))
    rebuilt = scd2_intervals(merged, key_col, time_col, state_col, id_col)
    return untouched.unionByName(rebuilt)


def event_transitions(
    df: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    round_digits: int = 6,
) -> DataFrame:
    """First-order Markov transition matrix of per-entity event streams:
    for every ordered pair ``(from_type, to_type)`` of CONSECUTIVE
    events of one entity, the transition count and the row-normalized
    probability ``p = n / sum(n over from_type)`` — the behavioral
    fingerprint behind next-event prediction, funnel-leak diagnosis and
    bot/sequence anomaly detection (a transition-level companion of the
    CEP matcher, which hunts specific sequences).

    Ordering ties on ``time_col`` break by ``order_col`` so the
    consecutive-pair relation is total and the result deterministic.

    Plan at scale: ONE exchange on the entity key orders each stream
    and takes ``lead(type)``; the pair aggregate re-keys K^2-bounded
    (type, next) rows; the per-from_type denominator is a window ``sum``
    over that tiny pair table — the raw stream never enters a second
    exchange.  Probabilities are fixed-order double quotients of exact
    counts.

    Returns ``(from_type, to_type, n_trans, p_trans)`` ordered by
    (from_type, to_type).
    """
    w = Window.partitionBy(key_col).orderBy(time_col, order_col)
    pairs = (
        df.withColumn("__nxt", F.lead(type_col).over(w))
        .filter(F.col("__nxt").isNotNull())
        .groupBy(F.col(type_col).alias("from_type"),
                 F.col("__nxt").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = Window.partitionBy("from_type")
    p = F.round(
        F.col("n_trans").cast("double")
        / F.sum("n_trans").over(tot).cast("double"), round_digits)
    return (
        pairs.select("from_type", "to_type", "n_trans",
                     p.alias("p_trans"))
        .orderBy("from_type", "to_type")
    )


def markov_holdout_accuracy(
    df: DataFrame,
    split_ts,
    key_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    round_digits: int = 6,
) -> DataFrame:
    """Held-out next-event prediction accuracy of the first-order Markov
    model — the evaluation loop that tells you whether
    :func:`event_transitions` is a usable predictor or just a
    descriptive matrix.  Transitions whose DESTINATION event lands
    before ``split_ts`` train the model; the prediction per from_type is
    the argmax transition count (ties break to the lexicographically
    smallest to_type, deterministic); transitions at/after the split
    score it.

    Plan at scale: the same single keyed exchange as event_transitions
    produces every consecutive pair ONCE with its destination
    timestamp; train counts, the argmax and the test join all run on
    the K²-bounded pair table / K-bounded prediction table (broadcast).

    Returns ``(from_type, predicted, n_test, n_correct, accuracy)``.
    """
    w = Window.partitionBy(key_col).orderBy(time_col, order_col)
    pairs = (
        df.withColumn("__nxt", F.lead(type_col).over(w))
        .withColumn("__nts", F.lead(time_col).over(w))
        .filter(F.col("__nxt").isNotNull())
        .select(F.col(type_col).alias("from_type"),
                F.col("__nxt").alias("to_type"),
                F.col("__nts").alias("__dest_ts")))
    if isinstance(split_ts, Column):
        split_c = split_ts
    elif dict(df.dtypes).get(time_col) == "timestamp_ntz":
        # F.lit(datetime) builds an instant-typed literal; comparing it to
        # an NTZ column would re-interpret through the session timezone
        # (off by the zone offset under a hostile tz).  Build the literal
        # AS NTZ from the wall-clock text instead.
        split_c = F.expr(f"CAST('{split_ts}' AS TIMESTAMP_NTZ)")
    else:
        split_c = F.lit(split_ts)
    train = (pairs.filter(F.col("__dest_ts") < split_c)
             .groupBy("from_type", "to_type")
             .agg(F.count(F.lit(1)).alias("__n")))
    pw = Window.partitionBy("from_type").orderBy(
        F.col("__n").desc(), F.col("to_type"))
    pred = (train.withColumn("__rn", F.row_number().over(pw))
            .filter(F.col("__rn") == 1)
            .select("from_type", F.col("to_type").alias("predicted")))
    test = pairs.filter(F.col("__dest_ts") >= split_c)
    scored = test.join(F.broadcast(pred), "from_type", "left")
    return (
        scored.groupBy("from_type", "predicted")
        .agg(F.count(F.lit(1)).alias("n_test"),
             # coalesce: a test from_type unseen in training has predicted
             # NULL, so the equality is NULL for every row and a bare SUM
             # would return NULL where the oracle's CASE WHEN scores 0.
             F.sum(F.coalesce(
                 (F.col("to_type") == F.col("predicted")).cast("bigint"),
                 F.lit(0)))
             .alias("n_correct"))
        .withColumn(
            "accuracy",
            F.round(F.col("n_correct").cast("double")
                    / F.col("n_test").cast("double"), round_digits))
        .orderBy("from_type"))


def burstiness(
    df: DataFrame,
    key_col: str = "event_type",
    time_col: str = "ts",
    bucket_seconds: int = 86400,
    round_digits: int = 6,
) -> DataFrame:
    """Burstiness (Fano factor) of each key's arrival process: the
    variance-to-mean ratio of per-bucket event counts — 1 for a Poisson
    stream, >1 for bursty traffic (bot storms, batch replays), <1 for
    regular/throttled sources.  The load-model diagnostic behind
    capacity planning and anomaly baselining.

    Buckets derive from tz-free integer epoch seconds; counts are
    exact; mean/variance come from decimal-exact moments over the
    BUCKETED table (keys × buckets rows), so the whole statistic is one
    stream exchange plus one tiny aggregate.

    Returns ``(key, n_buckets, mean_count, var_count, fano)``.
    """
    sec = _epoch_seconds(df, time_col)
    bucketed = (df.select(F.col(key_col).alias("key"),
                          F.floor(sec / F.lit(bucket_seconds))
                          .cast("bigint").alias("__b"))
                .groupBy("key", "__b")
                .agg(F.count(F.lit(1)).alias("__n")))
    x = F.col("__n").cast("double")
    g = bucketed.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.col("__n").cast("decimal(28,12)")).alias("__s"),
        F.sum((x * x).cast("decimal(28,12)")).alias("__s2"))
    n = F.col("n_buckets").cast("double")
    s = F.col("__s").cast("double")
    s2 = F.col("__s2").cast("double")
    mean = s / n
    # n_buckets == 1 would divide by zero: Spark returns NULL but DuckDB
    # returns inf/NaN — make the sample variance explicitly NULL on both
    # sides (the oracle carries the matching CASE WHEN n_buckets > 1).
    var = F.when(
        F.col("n_buckets") > 1,
        F.greatest((s2 - s * s / n) / (n - F.lit(1.0)), F.lit(0.0)))
    return g.select(
        "key", "n_buckets",
        F.round(mean, round_digits).alias("mean_count"),
        (F.round(var, round_digits) + F.lit(0.0)).alias("var_count"),
        F.when(mean > 0, F.round(var / mean, round_digits) + F.lit(0.0))
        .alias("fano")).orderBy("key")


def holt_linear(df: DataFrame, key_col: str, time_col: str, value_col: str,
                alpha: float = 0.5, beta: float = 0.5,
                id_col: str | None = None) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per key — the
    trend-aware sibling of :func:`ewma` for series with drift, where a
    flat EWMA systematically lags:

        l_t = alpha * x_t + (1 - alpha) * (l_{t-1} + b_{t-1})
        b_t = beta * (l_t - l_{t-1}) + (1 - beta) * b_{t-1}

    initialized ``l_1 = x_1, b_1 = 0`` (deterministic, needs no second
    point).  Appends ``level``, ``trend`` and the one-step-ahead
    ``forecast = level + trend`` columns.

    The recurrence is inherently sequential per key (two coupled state
    variables — not a prefix sum), so like ewma it runs as ONE
    Arrow-batched applyInPandas exchange on the key; the group is the
    parallelism unit, and the input is expected to be a per-key ROLLUP
    (daily/hourly aggregates), bounded per key by the calendar, never
    the raw stream.  With the default alpha=beta=0.5 every multiply is
    an exact binary scaling, so a recursive-CTE oracle replays the
    bits exactly.
    """
    def _holt(pdf):
        xs = pdf[value_col].astype("float64").to_list()
        levels, trends = [], []
        l_prev = b_prev = 0.0
        for i, x in enumerate(xs):
            if i == 0:
                l_cur, b_cur = x, 0.0
            else:
                l_cur = alpha * x + (1.0 - alpha) * (l_prev + b_prev)
                b_cur = beta * (l_cur - l_prev) + (1.0 - beta) * b_prev
            levels.append(l_cur)
            trends.append(b_cur)
            l_prev, b_prev = l_cur, b_cur
        pdf["level"] = levels
        pdf["trend"] = trends
        pdf["forecast"] = pdf["level"] + pdf["trend"]
        return pdf

    return map_stateful_batch(
        df, [key_col], _holt,
        appended_schema(df, "level double, trend double, forecast double"),
        [time_col] + ([id_col] if id_col else []))


def holt_winters_additive(df: DataFrame, key_col: str, time_col: str,
                          value_col: str, period: int,
                          alpha: float = 0.5, beta: float = 0.5,
                          gamma: float = 0.5,
                          id_col: str | None = None) -> DataFrame:
    """Holt-Winters additive (triple-exponential) smoothing per key —
    the seasonal member of the family (:func:`ewma` flat,
    :func:`holt_linear` trend, this one trend + period-``period``
    seasonality):

        l_t = α (x_t − s_{t−m}) + (1 − α)(l_{t−1} + b_{t−1})
        b_t = β (l_t − l_{t−1}) + (1 − β) b_{t−1}
        s_t = γ (x_t − l_t) + (1 − γ) s_{t−m}

    with the deterministic warm-up ``l_1 = x_1, b_1 = 0`` and
    ``s_{t−m} := 0`` while t ≤ m (the first season learns its offsets
    from zero — no two-season initialization requirement, and every
    engine can replay it).  Appends ``level``, ``trend``, ``seasonal``
    and the one-step-ahead ``forecast = l_t + b_t + s_{t+1−m}``.

    Like its siblings the recurrence is honestly sequential per key
    (three coupled state variables plus an m-slot seasonal ring), so
    it runs as ONE Arrow-batched applyInPandas exchange on the key
    over a calendar-bounded per-key ROLLUP.  With the default
    α=β=γ=0.5 every multiply is an exact binary scaling, so a
    recursive-CTE oracle carrying the seasonal ring as a LIST column
    replays the bits exactly.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")

    def _hw(pdf):
        from collections import deque

        xs = pdf[value_col].astype("float64").to_list()
        levels, trends, seasonals, forecasts = [], [], [], []
        l_prev = b_prev = 0.0
        ring: deque = deque()
        for i, x in enumerate(xs):
            s_prev = ring[0] if len(ring) == period else 0.0
            if i == 0:
                l_cur, b_cur = x, 0.0
            else:
                l_cur = alpha * (x - s_prev) + (1.0 - alpha) * (l_prev + b_prev)
                b_cur = beta * (l_cur - l_prev) + (1.0 - beta) * b_prev
            s_cur = gamma * (x - l_cur) + (1.0 - gamma) * s_prev
            if len(ring) == period:
                ring.popleft()
            ring.append(s_cur)
            levels.append(l_cur)
            trends.append(b_cur)
            seasonals.append(s_cur)
            forecasts.append(l_cur + b_cur
                             + (ring[0] if len(ring) == period else 0.0))
            l_prev, b_prev = l_cur, b_cur
        pdf["level"] = levels
        pdf["trend"] = trends
        pdf["seasonal"] = seasonals
        pdf["forecast"] = forecasts
        return pdf

    return map_stateful_batch(
        df, [key_col], _hw,
        appended_schema(df, "level double, trend double, seasonal double, "
                            "forecast double"),
        [time_col] + ([id_col] if id_col else []))


def transition_entropy(
    df: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    round_digits: int = 6,
) -> DataFrame:
    """Predictability of each state's outgoing transitions: the Shannon
    entropy (nats) of every ``from_type``'s next-event distribution —
    the summary :func:`event_transitions` is the matrix of.  Near-zero
    entropy = deterministic flows (bots, rigid funnels); entropy near
    ``ln(n_next_types)`` = uniformly unpredictable.  ``norm_entropy``
    rescales by that maximum (explicitly 0.0 for single-successor
    states on both engine and oracle — no 0/0).

    Plan: the same single keyed exchange as event_transitions builds
    the K²-bounded pair table; entropy terms ``-(p·ln p)`` accumulate
    as exact DECIMAL(18,12) per from_type (the char_entropy convention
    — order-independent, so the oracle may enumerate differently).

    Returns ``(from_type, n_trans_total, n_next_types, entropy_nats,
    norm_entropy)`` ordered by from_type.
    """
    w = Window.partitionBy(key_col).orderBy(time_col, order_col)
    pairs = (
        df.withColumn("__nxt", F.lead(type_col).over(w))
        .filter(F.col("__nxt").isNotNull())
        .groupBy(F.col(type_col).alias("from_type"),
                 F.col("__nxt").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("__n")))
    tot = Window.partitionBy("from_type")
    p = F.col("__n").cast("double") / F.sum("__n").over(tot).cast("double")
    terms = pairs.select(
        "from_type", "__n",
        (-(p * F.log(p))).cast("decimal(18,12)").alias("__term"))
    g = terms.groupBy("from_type").agg(
        F.sum("__n").alias("n_trans_total"),
        F.count(F.lit(1)).alias("n_next_types"),
        F.sum("__term").alias("__h"))
    h = F.col("__h").cast("double")
    return g.select(
        "from_type", "n_trans_total", "n_next_types",
        (F.round(h, round_digits) + F.lit(0.0)).alias("entropy_nats"),
        F.when(F.col("n_next_types") > 1,
               F.round(h / F.log(F.col("n_next_types").cast("double")),
                       round_digits) + F.lit(0.0))
        .otherwise(F.lit(0.0)).alias("norm_entropy"),
    ).orderBy("from_type")


def seasonal_baseline_anomalies(
    df: DataFrame,
    time_col: str = "ts",
    z_threshold: float = 2.0,
    round_digits: int = 6,
) -> DataFrame:
    """Calendar-seasonal anomaly cells: hourly event counts scored
    against their own (day-of-week, hour) baseline — traffic has a
    weekly pulse, so a flat global threshold either drowns weekday
    peaks or sleeps through weekend incidents; the baseline that
    matters is "this hour, on this weekday".

    Day-of-week derives from an epoch-day modulus (NOT dayofweek(), whose
    0- vs 1-based anchor differs between engines).  Per-cell mean/std
    come from exact decimal moments over the bounded (dow, hour) × weeks
    grid; the 168-row baseline broadcasts back onto the hourly table.
    z-scores round BEFORE the threshold compare so the flag boundary is
    engine-identical; single-week cells (n == 1) have no variance and
    are never flagged (both sides).

    Returns flagged cells ``(day, hour, n, mean_count, z)`` ordered by
    (day, hour).
    """
    hourly = df.groupBy(
        F.to_date(time_col).alias("day"),
        F.hour(time_col).alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    import datetime as _dt

    dow = F.pmod(F.datediff(F.col("day"), F.lit(_dt.date(1970, 1, 1))), 7)
    hourly = hourly.withColumn("__dow", dow)
    x = F.col("n").cast("double")
    base = hourly.groupBy("__dow", "hour").agg(
        F.count(F.lit(1)).alias("__cells"),
        F.sum(F.col("n").cast("decimal(28,12)")).alias("__s"),
        F.sum((x * x).cast("decimal(28,12)")).alias("__s2"))
    nc = F.col("__cells").cast("double")
    s = F.col("__s").cast("double")
    s2 = F.col("__s2").cast("double")
    mean = s / nc
    std = F.when(
        F.col("__cells") > 1,
        F.sqrt(F.greatest((s2 - s * s / nc) / (nc - F.lit(1.0)),
                          F.lit(0.0))))
    j = hourly.join(F.broadcast(base), ["__dow", "hour"])
    z = F.when(std > 0, F.round((x - mean) / std, round_digits)
               + F.lit(0.0))
    return (j.select("day", "hour", "n",
                     (F.round(mean, round_digits) + F.lit(0.0))
                     .alias("mean_count"),
                     z.alias("z"))
            .filter(F.abs(F.col("z")) > F.lit(float(z_threshold)))
            .orderBy("day", "hour"))


def conversion_lag_stats(
    df: DataFrame,
    from_type: str,
    to_type: str,
    key_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    round_digits: int = 6,
) -> DataFrame:
    """Time-to-convert distribution: per key, the lag from the FIRST
    ``from_type`` event to the first ``to_type`` event strictly after
    it — the product metric behind "median time from signup to
    purchase" (the funnel gate counts who converts; this measures how
    long conversion takes).

    Two keyed min-aggregates + one co-partitioned join (both sides
    hash on the key), then ONE tiny global percentile aggregate over
    the per-key lag table.  Lags are integer seconds from tz-free
    epochs.

    Returns one row: ``(n_from_keys, n_converted, conversion_rate,
    p50_lag_s, p90_lag_s, max_lag_s)``.
    """
    es = _epoch_seconds(df, time_col)
    base = df.select(F.col(key_col).alias("k"),
                     F.col(type_col).alias("ty"), es.alias("es"))
    first_from = (base.filter(F.col("ty") == from_type)
                  .groupBy("k").agg(F.min("es").alias("t0")))
    conv = (base.filter(F.col("ty") == to_type)
            .join(first_from, "k")
            .filter(F.col("es") > F.col("t0"))
            .groupBy("k", "t0").agg(F.min("es").alias("t1"))
            .select((F.col("t1") - F.col("t0")).alias("lag")))
    n_from = first_from.agg(F.count(F.lit(1)).alias("__n"))
    x = F.col("lag").cast("double")
    agg = conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        (F.round(F.percentile(x, F.lit(0.5)), round_digits) + F.lit(0.0))
        .alias("p50_lag_s"),
        (F.round(F.percentile(x, F.lit(0.9)), round_digits) + F.lit(0.0))
        .alias("p90_lag_s"),
        F.max("lag").alias("max_lag_s"))
    return (agg.crossJoin(F.broadcast(n_from))
            .select(F.col("__n").alias("n_from_keys"), "n_converted",
                    (F.round(F.col("n_converted").cast("double")
                             / F.col("__n").cast("double"), round_digits)
                     + F.lit(0.0)).alias("conversion_rate"),
                    "p50_lag_s", "p90_lag_s", "max_lag_s"))


def session_type_cooccurrence(
    df: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    gap: str = "30 minutes",
    round_digits: int = 6,
) -> DataFrame:
    """Market-basket analysis where the basket is a SESSION: for every
    unordered event-type pair, how many sessions contain both, and the
    lift over independence — the behavioral-association view
    (association_rules mines order lines; this mines time-grouped
    behavior, where "configure" co-occurring with "error" inside one
    session is the actionable signal).

    Composes :func:`sessionize` (one keyed exchange) with a
    basket-level pair join: the DISTINCT (key, session, type) table is
    at most sessions × K rows, the pair join runs on THAT, never the
    raw stream.  Lift is ``n_co · N / (n_a · n_b)`` — integer counts,
    one fixed-order double expression.

    Returns ``(type_a, type_b, n_co_sessions, n_a_sessions,
    n_b_sessions, lift)`` ordered by (type_a, type_b).
    """
    s = sessionize(df, key_col=key_col, time_col=time_col, gap=gap,
                   id_col=id_col)
    baskets = s.select(F.col(key_col).alias("k"),
                       F.col("session_id").alias("sid"),
                       F.col(type_col).alias("ty")).distinct()
    n_sessions = baskets.select("k", "sid").distinct().count()
    per_type = baskets.groupBy("ty").agg(
        F.count(F.lit(1)).alias("n_ty"))
    a, b = baskets.alias("a"), baskets.alias("b")
    co = (a.join(b, (F.col("a.k") == F.col("b.k"))
                 & (F.col("a.sid") == F.col("b.sid"))
                 & (F.col("a.ty") < F.col("b.ty")))
          .groupBy(F.col("a.ty").alias("type_a"),
                   F.col("b.ty").alias("type_b"))
          .agg(F.count(F.lit(1)).alias("n_co_sessions")))
    na = per_type.select(F.col("ty").alias("type_a"),
                         F.col("n_ty").alias("n_a_sessions"))
    nb = per_type.select(F.col("ty").alias("type_b"),
                         F.col("n_ty").alias("n_b_sessions"))
    lift = (F.col("n_co_sessions").cast("double")
            * F.lit(float(n_sessions))
            / (F.col("n_a_sessions").cast("double")
               * F.col("n_b_sessions").cast("double")))
    return (co.join(F.broadcast(na), "type_a")
            .join(F.broadcast(nb), "type_b")
            .select("type_a", "type_b", "n_co_sessions", "n_a_sessions",
                    "n_b_sessions",
                    (F.round(lift, round_digits) + F.lit(0.0))
                    .alias("lift"))
            .orderBy("type_a", "type_b"))


def top_event_paths(
    df: DataFrame,
    length: int = 3,
    k: int = 10,
    key_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    sep: str = ">",
) -> DataFrame:
    """Most frequent length-``length`` event-type paths across all
    per-key timelines — the sequence-mining lite behind "what do users
    actually do" Sankey views (the transition matrix sees one hop; this
    sees the common multi-hop flows).

    One keyed exchange produces every consecutive ``length``-gram via
    lead() (same single Window exec for all offsets), then one
    K^length-bounded count + a top-k rank with a lexicographic
    tie-break.

    Returns ``(rank INT, path, n_paths)`` ordered by rank.
    """
    if length < 2:
        raise ValueError("length must be >= 2")
    w = Window.partitionBy(key_col).orderBy(time_col, id_col)
    cols = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, length)]
    paths = (df.select(F.concat_ws(sep, *cols).alias("path"),
                       cols[-1].isNotNull().alias("__full"))
             .filter(F.col("__full"))
             .groupBy("path").agg(F.count(F.lit(1)).alias("n_paths")))
    rk = Window.orderBy(F.col("n_paths").desc(), F.col("path"))
    return (paths.withColumn("rank", F.row_number().over(rk))
            .filter(F.col("rank") <= k)
            .select(F.col("rank").cast("int").alias("rank"), "path",
                    "n_paths")
            .orderBy("rank"))


def cusum_alarms(df: DataFrame, key_col: str, time_col: str,
                 value_col: str, slack: float = 0.0,
                 threshold: float = 5.0,
                 id_col: str | None = None) -> DataFrame:
    """One-sided CUSUM change detector per key (Page 1954): the
    classic small-persistent-shift alarm the mean-shift changepoint
    scan complements —

        S_t = max(0, S_{t-1} + (x_t - target - slack))

    with ``target`` = the key's own exact-decimal mean (two-pass:
    the reference level is computed from the same series, so the
    detector needs no configuration per key), alarming where
    ``S_t > threshold``.  CUSUM accumulates small drifts a
    per-point z-test never flags.

    The recurrence is sequential per key (the ewma/holt lane): one
    keyed applyInPandas exchange over the per-key ROLLUP, broadcast
    of the tiny per-key means.  All arithmetic is add/sub/max on
    doubles — exact IEEE ops, so a recursive-CTE oracle replays the
    bits with no rounding anywhere.

    Appends ``target``, ``cusum`` and ``alarm`` columns.
    """
    means = df.groupBy(key_col).agg(
        (F.sum(F.col(value_col).cast("decimal(28,12)")).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("target"))
    j = df.join(F.broadcast(means), key_col)

    def _cusum(pdf):
        return cusum_frame(pdf, value_col, 0.0, float(slack), threshold)[0]

    return map_stateful_batch(
        j, [key_col], _cusum,
        appended_schema(j, "cusum double, alarm boolean"),
        [time_col] + ([id_col] if id_col else []))


def cusum_frame(pdf, value_col: str, s: float, slack: float,
                threshold: float):
    """:func:`cusum_alarms`'s steps from the statistic ``s`` ->
    ``(pdf + (cusum, alarm), s)``; the stream twin runs it from its
    carried ``s``."""
    t = float(pdf["target"].iloc[0])
    out = []
    for x in pdf[value_col].astype("float64"):
        s = max(0.0, s + (x - t - slack))
        out.append(s)
    pdf["cusum"] = out
    pdf["alarm"] = pdf["cusum"] > threshold
    return pdf, s


def kaplan_meier(df: DataFrame, duration_col: str, observed_col: str,
                 group_cols: list[str] | None = None,
                 round_digits: int = 6) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator (Kaplan & Meier
    1958) over right-censored durations — the churn/retention primitive
    the cohort-retention matrix approximates: given one row per subject
    with an integer ``duration`` and an ``observed`` flag (False =
    right-censored: the terminal event was not seen inside the
    observation horizon),

        S(t) = prod_{t_i <= t} (1 - d_i / n_i)

    with ``d_i`` = observed events at duration ``t_i`` and ``n_i`` =
    subjects still at risk (duration >= t_i, censored or not).

    Scale shape: the subject table collapses FIRST to one row per
    (group, duration) — the only full-data aggregate — and the window
    arithmetic runs on that tiny curve table.  At-risk counts are an
    exact BIGINT suffix sum; the survival product is Spark's running
    ``F.product`` window, which accumulates strictly left-to-right, so
    a recursive-CTE oracle replays the identical IEEE multiply sequence
    (a plain windowed ``product()`` on the oracle side does NOT: DuckDB
    window aggregates combine via segment tree, a different multiply
    order — measured 282/399 bit mismatches).

    Returns ``(group_cols..., duration, n_risk, n_events, n_censored,
    survival)`` — one row per distinct duration (rows where
    ``n_events = 0`` carry factor 1.0: censored-only times reduce
    at-risk but never the curve), ordered by (group, duration).
    """
    gcols = list(group_cols or [])
    curve = df.groupBy(*gcols, duration_col).agg(
        F.sum(F.col(observed_col).cast("bigint")).alias("n_events"),
        F.count(F.lit(1)).alias("__n"))
    wpart = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    w_risk = (wpart.orderBy(duration_col)
              .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    w_prod = (wpart.orderBy(duration_col)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    factor = (F.lit(1.0) - F.col("n_events").cast("double")
              / F.col("n_risk").cast("double"))
    return (curve
            .withColumn("n_risk", F.sum("__n").over(w_risk))
            .withColumn("n_censored", F.col("__n") - F.col("n_events"))
            .withColumn("survival",
                        F.round(F.product(factor).over(w_prod),
                                round_digits) + F.lit(0.0))
            .select(*gcols, duration_col, "n_risk", "n_events",
                    "n_censored", "survival")
            .orderBy(*gcols, duration_col))


def conformal_snaive_interval(df: DataFrame, key_col: str, time_col: str,
                              value_col: str, seasonal_lag: int = 7,
                              alpha: float = 0.1,
                              calib_num: int = 7, calib_den: int = 10,
                              round_digits: int = 6) -> DataFrame:
    """Split-conformal prediction interval for the seasonal-naive
    forecaster (Vovk et al. 2005; Lei et al. 2018 split-conformal):
    per key, the absolute residuals ``|x_t − x_{t−m}|`` split by TIME
    into a calibration prefix (``calib_num/calib_den`` of the scored
    rows — an exact integer fraction so every engine cuts identically)
    and a test suffix; the interval half-width is the exact order
    statistic

        q̂ = r_(⌈(n_cal + 1)(1 − α)⌉)

    of the calibration residuals, which guarantees ≥ 1−α marginal
    coverage on exchangeable data with NO distributional assumption —
    the honest uncertainty band to put around q:hw_seasonal_events /
    q:forecast_backtest_events point forecasts.  ``coverage`` is the
    realized test-suffix hit rate (time-ordered splits break
    exchangeability under drift, so realized-vs-nominal IS the drift
    alarm).  When the rank exceeds n_cal (too few calibration rows for
    the requested α) q̂ and coverage are NULL — "cannot certify", never
    a silently-clipped quantile.

    Rank arithmetic is all-integer (⌈·⌉ as ``(a + b − 1) DIV b``), the
    order statistic is a row_number pick with a time tiebreak, and
    coverage is an exact count ratio — engine-replayable end to end.
    One window pass per key over the calendar-bounded rollup.

    Returns ``(key, n_calib, n_test, q_hat, coverage, nominal)``
    ordered by key.
    """
    if seasonal_lag < 1:
        raise ValueError(f"seasonal_lag must be >= 1, got {seasonal_lag}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    # alpha as an exact integer fraction of 1000 for the rank ceil
    a_num = round(alpha * 1000)
    if abs(a_num / 1000.0 - alpha) > 1e-12:
        raise ValueError("alpha must be a multiple of 0.001 so the rank "
                         "arithmetic stays integer-exact")
    w = Window.partitionBy(key_col).orderBy(time_col)
    x = F.col(value_col).cast("double")
    # the scored residual table is calendar-bounded (df is a per-key
    # rollup by contract) and feeds THREE branches (q-hat pick, test
    # count, coverage join) — checkpoint it so the source is scanned
    # once, not once per branch
    scored = (df
              .withColumn("__resid", F.abs(x - F.lag(x, seasonal_lag).over(w)))
              .filter(F.col("__resid").isNotNull())
              .withColumn("__idx", F.row_number().over(w))
              .withColumn("__n", F.count(F.lit(1)).over(
                  Window.partitionBy(key_col)))
              .localCheckpoint(eager=True))
    # ceil(n * num / den) via integer arithmetic — engine-exact
    n_cal = F.floor((F.col("__n") * calib_num + calib_den - 1)
                    / F.lit(calib_den)).cast("bigint")
    scored = scored.withColumn("__ncal", n_cal)
    rank_needed = F.floor(((F.col("__ncal") + 1) * (1000 - a_num)
                           + 999) / F.lit(1000)).cast("bigint")
    scored = scored.withColumn("__need", rank_needed)
    w_cal = (Window.partitionBy(key_col)
             .orderBy(F.col("__resid").asc(), F.col(time_col).asc()))
    calib = (scored.filter(F.col("__idx") <= F.col("__ncal"))
             .withColumn("__r", F.row_number().over(w_cal)))
    qhat = (calib.groupBy(key_col)
            .agg(F.max(F.when(F.col("__r") == F.col("__need"),
                              F.col("__resid"))).alias("q_hat"),
                 F.max("__ncal").alias("n_calib"),
                 F.max("__need").alias("__need")))
    test = (scored.filter(F.col("__idx") > F.col("__ncal"))
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("n_test")))
    cov_src = (scored.filter(F.col("__idx") > F.col("__ncal"))
               .join(qhat.select(key_col, "q_hat"), key_col)
               .groupBy(key_col)
               .agg((F.sum((F.col("__resid") <= F.col("q_hat"))
                           .cast("bigint")).cast("double")
                     / F.count(F.lit(1)).cast("double")).alias("__cov")))
    r6 = lambda c: F.round(c, round_digits) + F.lit(0.0)  # noqa: E731
    out = (qhat.join(test, key_col, "left")
           .join(cov_src, key_col, "left")
           .select(F.col(key_col).alias("key"),
                   "n_calib",
                   F.coalesce("n_test", F.lit(0)).alias("n_test"),
                   # rank beyond the calibration set: cannot certify
                   F.when(F.col("__need") <= F.col("n_calib"),
                          F.col("q_hat")).alias("q_hat"),
                   F.when(F.col("__need") <= F.col("n_calib"),
                          r6(F.col("__cov"))).alias("coverage"),
                   F.lit((1000 - a_num) / 1000.0).alias("nominal")))
    return out.orderBy("key")


def logrank_test(df: DataFrame, duration_col: str, observed_col: str,
                 group_col: str,
                 round_digits: int = 6) -> DataFrame:
    """Two-sample log-rank test (Mantel 1966; Peto & Peto 1972) — "are
    these two survival curves the same?", the inferential companion to
    :func:`kaplan_meier` / :func:`rmst` (an A/B readout on retention
    must compare CURVES under censoring; comparing raw mean lifetimes
    is biased by whoever happens to be censored).  At each distinct
    observed-event time t with d_t total events and n_{g,t} at risk,

        E_1t = d_t · n_1t / n_t
        V_t  = d_t (n_1t/n_t)(1 − n_1t/n_t)(n_t − d_t)/(n_t − 1)

    and ``z = (O_1 − E_1)/√ΣV_t``, ``chi2 = z²`` — the hypergeometric
    observed-vs-expected construction, censoring handled for free by
    the at-risk denominators.

    Scale shape: the subject table collapses to one row per (group,
    duration) — the only full-data aggregate — and everything after
    runs on that calendar-bounded curve table: at-risk counts come from
    a non-equi join of the event-time grid against the 2-group
    duration table (bounded × bounded), and the O/E/V sums are one
    aggregate with DECIMAL(38,9)-exact accumulation of fixed-order
    double terms (round-9 grid).  Exactly two groups (lexicographic);
    more raise.

    Returns ONE row ``(group_a, group_b, n_a, n_b, events_a, events_b,
    observed_a, expected_a, z, chi2)`` — ``z`` NULL when ΣV = 0 (no
    comparable event times).  Durations must be non-NULL (a NULL
    duration has no place on the event-time axis; the non-equi at-risk
    join silently drops such subjects, so validate upstream).
    """
    g = F.col(group_col).cast("string")
    per = (df.groupBy(g.alias("__g"),
                      F.col(duration_col).cast("bigint").alias("__t"))
           .agg(F.sum(F.col(observed_col).cast("bigint")).alias("__d"),
                F.count(F.lit(1)).alias("__c"))
           .localCheckpoint(eager=True))
    groups = [r["__g"] for r in
              per.select("__g").distinct().orderBy("__g").limit(3)
              .collect()]
    if len(groups) != 2:
        raise ValueError(f"logrank_test needs exactly 2 groups, "
                         f"got {groups}")
    ga, gb = groups
    # event-time grid: distinct durations with >= 1 OBSERVED event
    grid = (per.groupBy("__t").agg(F.sum("__d").alias("__dt"))
            .filter(F.col("__dt") > 0))
    # at-risk + per-time events per group via a non-equi join of the
    # bounded grid against the bounded curve table
    pick = lambda grp, col: F.sum(  # noqa: E731
        F.when(F.col("__g") == grp, F.col(col)).otherwise(F.lit(0)))
    at_t = F.col("p.__t") == F.col("t.__t")
    pick_d = lambda grp: F.sum(  # noqa: E731
        F.when((F.col("__g") == grp) & at_t, F.col("__d"))
        .otherwise(F.lit(0)))
    cells = (grid.alias("t").join(
        per.alias("p"), F.col("p.__t") >= F.col("t.__t"))
        .groupBy(F.col("t.__t").alias("__t"))
        .agg(pick(ga, "__c").alias("__na"), pick(gb, "__c").alias("__nb"),
             pick_d(ga).alias("__da"), pick_d(gb).alias("__db")))
    na = F.col("__na").cast("double")
    nt = (F.col("__na") + F.col("__nb")).cast("double")
    dt = (F.col("__da") + F.col("__db")).cast("double")
    e1 = dt * na / nt
    share = na / nt
    v = F.when((F.col("__na") + F.col("__nb")) > 1,
               dt * share * (F.lit(1.0) - share)
               * (nt - dt) / (nt - F.lit(1.0))).otherwise(F.lit(0.0))
    d9 = lambda c: F.sum(c.cast("decimal(38,9)")).cast("double")  # noqa: E731
    agg = cells.agg(
        F.sum("__da").alias("observed_a"),
        d9(F.round(e1, 9)).alias("__e1"),
        d9(F.round(v, 9)).alias("__v"))
    totals = per.groupBy("__g").agg(F.sum("__c").alias("__n"),
                                    F.sum("__d").alias("__e"))
    trow = {r["__g"]: r for r in totals.limit(3).collect()}
    arow = agg.limit(1).collect()[0]
    o1, e1v, vv = arow["observed_a"], arow["__e1"], arow["__v"]
    z = (o1 - e1v) / math.sqrt(vv) if vv > 0.0 else None
    spark = df.sparkSession
    local = spark.createDataFrame(
        [(ga, gb, trow[ga]["__n"], trow[gb]["__n"],
          trow[ga]["__e"], trow[gb]["__e"], o1)],
        "group_a string, group_b string, n_a bigint, n_b bigint, "
        "events_a bigint, events_b bigint, observed_a bigint")
    r6 = lambda v_: (F.round(F.lit(v_), round_digits)  # noqa: E731
                     + F.lit(0.0))
    return local.select(
        "group_a", "group_b", "n_a", "n_b", "events_a", "events_b",
        "observed_a", r6(e1v).alias("expected_a"),
        (r6(z) if z is not None
         else F.lit(None).cast("double")).alias("z"),
        (r6(z * z) if z is not None
         else F.lit(None).cast("double")).alias("chi2"))


def rmst(df: DataFrame, duration_col: str, observed_col: str,
         horizon: int, group_cols: list[str] | None = None,
         round_digits: int = 6) -> DataFrame:
    """Restricted mean survival time (Royston & Parmar 2013; Uno et al.
    2014): the area under the Kaplan-Meier curve up to a pre-chosen
    ``horizon`` —

        RMST(H) = ∫_0^H S(t) dt

    — "expected days survived (retained, subscribed, alive) within the
    first H", the ONE-number survival summary that stays valid when
    hazards cross and medians are uncomfortably censored (a KM median
    does not exist until S drops below .5; RMST always does).  The
    standard companion readout to :func:`kaplan_meier` /
    :func:`nelson_aalen` for churn-horizon economics: an LTV model
    wants days-retained-by-day-H, not the whole curve.

    Computed as the exact step integral of the KM step function clipped
    at H: the segment before the first event time carries S=1, each
    curve row i carries ``S_i · (min(t_{i+1}, H) − min(t_i, H))``, and
    the last row extends to H.  Same scale shape as the curve itself —
    all arithmetic on the tiny per-(group, duration) table; terms are
    round-9 products of the round-6 survival (the engine-stable grid)
    accumulated in DECIMAL(38,9) (order-free exact).

    Returns ``(group_cols..., n_subjects, horizon, rmst)`` ordered by
    group — ``rmst`` in duration units, ≤ horizon by construction.
    """
    if horizon <= 0:
        raise ValueError(f"horizon must be > 0, got {horizon}")
    gcols = list(group_cols or [])
    curve = kaplan_meier(df, duration_col, observed_col, gcols or None)
    h = F.lit(float(horizon))
    wpart = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    w = wpart.orderBy(duration_col)
    t = F.col(duration_col).cast("double")
    nxt = F.lead(t).over(w)
    width = F.least(F.coalesce(nxt, h), h) - F.least(t, h)
    d9 = lambda c: F.sum(c.cast("decimal(38,9)")).cast("double")  # noqa: E731
    agg = (curve.withColumn("__term",
                            F.round(F.col("survival") * width, 9))
           .groupBy(*gcols)
           .agg(F.max("n_risk").alias("n_subjects"),
                F.least(F.min(t), h).alias("__head"),
                d9(F.col("__term")).alias("__area")))
    out = agg.select(
        *gcols, "n_subjects",
        F.lit(int(horizon)).alias("horizon"),
        (F.round(F.col("__head") + F.col("__area"), round_digits)
         + F.lit(0.0)).alias("rmst"))
    return out.orderBy(*gcols) if gcols else out


def ohlc_resample(df: DataFrame, key_col: str, time_col: str,
                  value_col: str, id_col: str,
                  round_digits: int = 6) -> DataFrame:
    """OHLC down-sampling: per (key, calendar day), the opening (first),
    high, low and closing (last) value plus count and an exact decimal
    sum — the candlestick/metrics-rollup primitive that turns a raw
    tick/event stream into a bounded daily series.

    ONE aggregate, no window, no sort: open/close are conditional
    ``min_by``/``max_by`` over the (time, id) struct (the id breaks
    equal-timestamp ties deterministically), high/low plain extrema.
    The oracle replays the bookends with row_number windows — same
    picks by the same total order.

    Returns ``(key, day, open, high, low, close, n_points, sum_value)``
    ordered by (key, day).
    """
    order = F.struct(time_col, id_col)
    return (df.groupBy(F.col(key_col).alias("key"),
                       F.to_date(time_col).alias("day"))
            .agg(F.min_by(value_col, order).alias("open"),
                 F.max(value_col).alias("high"),
                 F.min(value_col).alias("low"),
                 F.max_by(value_col, order).alias("close"),
                 F.count(F.lit(1)).alias("n_points"),
                 (F.round(F.sum(F.col(value_col).cast("decimal(28,12)"))
                          .cast("double"), round_digits) + F.lit(0.0))
                 .alias("sum_value"))
            .orderBy("key", "day"))


def session_entry_exit(df: DataFrame, key_col: str = "user_id",
                       time_col: str = "ts", type_col: str = "event_type",
                       id_col: str = "event_id", gap: str = "30 minutes",
                       round_digits: int = 6) -> DataFrame:
    """Entry/exit-page analysis with bounce rates: per event type, how
    many sessions START with it, END with it, and BOUNCE on it (a
    single-event session) — the landing/exit report of web analytics,
    generalized to any event log.

    One sessionize exchange (the shared lag + running-sum assignment),
    then one per-session aggregate whose bookends are conditional
    ``min_by``/``max_by`` over (time, id) — no second window — and one
    credit-explode aggregate (the attribution convention: entry and
    exit credit emit as two struct rows, so no full-outer join of two
    groupBys and no duplicated session subtree).

    Returns ``(event_type, n_entries, n_exits, n_bounces,
    bounce_rate)`` ordered by event_type; ``bounce_rate`` =
    bounces/entries (NULL where a type never opens a session).
    """
    ses = sessionize(df, key_col=key_col, time_col=time_col, gap=gap,
                     id_col=id_col)
    order = F.struct(time_col, id_col)
    per = (ses.groupBy(key_col, "session_id")
           .agg(F.min_by(type_col, order).alias("__entry"),
                F.max_by(type_col, order).alias("__exit"),
                F.count(F.lit(1)).alias("__n")))
    credits = per.select(F.explode(F.array(
        F.struct(F.col("__entry").alias("t"),
                 F.lit(1).alias("e"), F.lit(0).alias("x"),
                 (F.col("__n") == 1).cast("int").alias("b")),
        F.struct(F.col("__exit").alias("t"),
                 F.lit(0).alias("e"), F.lit(1).alias("x"),
                 F.lit(0).alias("b")))).alias("c"))
    agg = (credits.groupBy(F.col("c.t").alias(type_col))
           .agg(F.sum("c.e").alias("n_entries"),
                F.sum("c.x").alias("n_exits"),
                F.sum("c.b").alias("n_bounces")))
    rate = F.when(F.col("n_entries") > 0,
                  F.round(F.col("n_bounces").cast("double")
                          / F.col("n_entries").cast("double"),
                          round_digits) + F.lit(0.0))
    return (agg.withColumn("bounce_rate", rate).orderBy(type_col))


def seasonality_strength(df: DataFrame, key_col: str, time_col: str,
                         round_digits: int = 6) -> DataFrame:
    """Weekly-seasonality strength per key: the share of daily-count
    variance explained by day-of-week,

        strength = SS_between_dow / SS_total   in [0, 1],

    the one-number "is this series calendar-driven" screen that decides
    whether a forecast/anomaly baseline needs (dow) cells (compare
    q:dow_hourly_anomaly_events, which assumes it) or a flat mean.

    Exactness: daily counts collapse first (the only full-data
    aggregate); S = Σn and Q = Σn² accumulate as exact DECIMAL(38,0)
    integers, so SS_total = Q − S²/N is a handful of double ops;
    per-dow terms c_d·(s_d/c_d − S/N)² are doubles DECIMAL-accumulated
    across the ≤7 dow rows (engine addition order differs; decimal does
    not).  Day-of-week is an epoch-day modulus — engines disagree on
    dayofweek() anchors (the dow_hourly convention).

    Returns ``(key, n_days, strength)`` ordered by key; strength NULL
    for keys with zero total variance (constant series).
    """
    day = F.to_date(time_col)
    daily = (df.groupBy(F.col(key_col).alias("key"), day.alias("__d"))
             .agg(F.count(F.lit(1)).alias("__n")))
    dow = F.pmod(F.datediff("__d", F.lit("1970-01-05").cast("date")),
                 F.lit(7))  # 1970-01-05 = Monday; engines agree on dates
    di = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")  # noqa: E731
    per_dow = (daily.groupBy("key", dow.alias("__dow"))
               .agg(F.count(F.lit(1)).alias("__c"), di(F.col("__n"))
                    .alias("__s")))
    glob = (daily.groupBy("key")
            .agg(F.count(F.lit(1)).alias("n_days"),
                 di(F.col("__n")).alias("__gs"),
                 di(F.col("__n") * F.col("__n")).alias("__gq")))
    term = (F.col("__c").cast("double")
            * (F.col("__s") / F.col("__c").cast("double")
               - F.col("__gs") / F.col("n_days").cast("double"))
            * (F.col("__s") / F.col("__c").cast("double")
               - F.col("__gs") / F.col("n_days").cast("double")))
    # carry the (constant-per-key) global moments through the between
    # aggregate so glob is consumed ONCE — the naive glob-join-between
    # form recomputed the daily rollup (and the scan under it) 3x
    between = (per_dow.join(glob, "key")
               .groupBy("key")
               .agg(F.sum(term.cast("decimal(38,12)")).cast("double")
                    .alias("__ssb"),
                    F.min("n_days").alias("n_days"),
                    F.min("__gs").alias("__gs"),
                    F.min("__gq").alias("__gq")))
    ss_total = (F.col("__gq") - F.col("__gs") * F.col("__gs")
                / F.col("n_days").cast("double"))
    strength = F.when(ss_total > 0.0,
                      F.round(F.col("__ssb") / ss_total, round_digits)
                      + F.lit(0.0))
    return (between.select("key", "n_days", strength.alias("strength"))
            .orderBy("key"))


def growth_decomposition(df: DataFrame, time_col: str, value_col: str,
                         round_digits: int = 6) -> DataFrame:
    """Period-over-period growth decomposition: splits each month's
    revenue change into the volume effect, the price (average-value)
    effect and the cross term,

        ΔR = Δn·avg₋₁  +  Δavg·n₋₁  +  Δn·Δavg,

    the "WHY did the KPI move" follow-up to the MoM growth number — a
    revenue drop with positive volume effect and negative price effect
    reads 'more but cheaper orders', which no single growth rate shows.

    The monthly rollup (exact DECIMAL revenue, BIGINT counts) is the
    only full-data aggregate; the decomposition is lag-window double
    arithmetic on the ≤|months| table, identities exact by
    construction (the three effects sum to ΔR in IEEE, before
    rounding).

    Returns ``(month, n, revenue, d_revenue, volume_effect,
    price_effect, cross_effect)`` ordered by month — NULL effects for
    the first month.
    """
    # DECIMAL(18,6), not (28,12): the cast BACK to double must be
    # engine-identical, and that holds only while the scaled integer
    # stays under 2^53 (DuckDB converts int128/10^s via two double
    # roundings; Spark's BigDecimal conversion rounds once — they
    # diverge by 1 ulp beyond 2^53, caught by the sf0.1 mirror)
    monthly = (df.groupBy(F.date_format(F.date_trunc("month", time_col),
                                        "yyyy-MM").alias("month"))
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.col(value_col).cast("decimal(18,6)"))
                    .alias("__rev")))
    w = Window.orderBy("month")
    rev = F.col("__rev").cast("double")
    prev_rev = F.lag(F.col("__rev")).over(w).cast("double")
    nn = F.col("n").cast("double")
    prev_n = F.lag(F.col("n")).over(w).cast("double")
    avg, prev_avg = rev / nn, prev_rev / prev_n
    # NO rounding: every output is deterministic IEEE arithmetic on
    # exact-decimal-derived doubles, so both engines agree bit-for-bit
    # unrounded — while round(x, 6) at revenue magnitude (~1e8, 15 sig
    # digits) hits the engines' DIFFERENT rounding algorithms (Spark
    # BigDecimal HALF_UP vs DuckDB scale-multiply): 1-ulp divergence,
    # caught by the sf0.1 mirror leg and invisible at sf0.01
    z = lambda c: c + F.lit(0.0)  # noqa: E731  signed-zero normalize
    return (monthly.select(
        "month", "n", z(rev).alias("revenue"),
        z(rev - prev_rev).alias("d_revenue"),
        z((nn - prev_n) * prev_avg).alias("volume_effect"),
        z((avg - prev_avg) * prev_n).alias("price_effect"),
        z((nn - prev_n) * (avg - prev_avg)).alias("cross_effect"))
        .orderBy("month"))


def stickiness(df: DataFrame, key_col: str = "user_id",
               time_col: str = "ts",
               round_digits: int = 6) -> DataFrame:
    """Weekly engagement stickiness: per epoch-week, the weekly active
    users, the average daily active users, and their ratio

        stickiness = avg(DAU) / WAU   in (0, 1]

    — the 'how many of this week's users show up on a given day'
    retention pulse (the DAU/MAU industry metric at the week grain,
    where a bounded log has full windows).

    Two exact distinct aggregates off one scan: distinct (week, day,
    user) collapses first (the only full-data shuffle), then DAU per
    day and WAU per week both derive from that compacted table.  Weeks
    are epoch-day / 7 integer math — no calendar/locale anchors.

    Returns ``(week, wau, avg_dau, stickiness)`` ordered by week.
    """
    day = F.datediff(F.to_date(time_col), F.lit("1970-01-01").cast("date"))
    base = (df.select(F.floor(day / F.lit(7)).cast("bigint").alias("week"),
                      day.alias("__day"), F.col(key_col).alias("__u"))
            .distinct())
    dau = (base.groupBy("week", "__day")
           .agg(F.count(F.lit(1)).alias("__dau")))
    wau = (base.groupBy("week")
           .agg(F.countDistinct("__u").alias("wau")))
    per_week = (dau.groupBy("week")
                .agg((F.sum(F.col("__dau").cast("decimal(38,0)"))
                      .cast("double")
                      / F.count(F.lit(1)).cast("double")).alias("__ad")))
    r6 = lambda c: F.round(c, round_digits) + F.lit(0.0)  # noqa: E731
    return (wau.join(per_week, "week")
            .select("week", "wau", r6(F.col("__ad")).alias("avg_dau"),
                    r6(F.col("__ad") / F.col("wau").cast("double"))
                    .alias("stickiness"))
            .orderBy("week"))


def decayed_score(df: DataFrame, key_col: str, time_col: str,
                  halflife_days: int = 28, top_k: int = 20,
                  round_digits: int = 6) -> DataFrame:
    """Time-decayed popularity ("trending") score per key:

        score(k) = Σ over events of 2^(−floor(age_days / halflife))

    — recent activity counts full, every ``halflife_days`` halves the
    weight.  The dyadic base is deliberate: 2^(−n) for integer n is an
    EXACT IEEE double (a power of two), so the per-event weights are
    bit-identical on every engine with no libm exp()/pow() rounding
    exposure, and the DECIMAL-accumulated sum is exact — a decay score
    any engine can replay (e^−λt gives the same ranking up to the
    bucket grain and none of the portability).

    One broadcast of the 1-row reference date (max event time), one
    per-key aggregate.  Returns the ``top_k`` rows ``(key, n_events,
    score)`` by (score desc, key) — deterministic.
    """
    # materialize the NARROW (key, day) projection once (guide §2.4
    # "share one exchange", §3.3 "materialising an intermediate
    # truncates the plan"): the reference-date aggregate and the decay
    # aggregate both consume it, and without the checkpoint the whole
    # upstream derivation (for the gate: a lineitem-orders join)
    # executes twice — once under the broadcast ref-date subtree, once
    # for the main aggregate.  Bounded width: one key + one date.
    base = (df.select(F.col(key_col).alias("key"),
                      F.to_date(time_col).alias("__day"))
            .localCheckpoint())
    day = F.col("__day")
    mx = base.agg(F.max(day).alias("__ref"))
    age = F.datediff("__ref", day)
    w = F.pow(F.lit(2.0), -F.floor(age / F.lit(halflife_days))
              .cast("double"))
    return (base.crossJoin(F.broadcast(mx))
            .select("key", w.alias("__w"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.round(F.sum(F.col("__w").cast("decimal(38,18)"))
                          .cast("double"), round_digits) + F.lit(0.0))
                 .alias("score"))
            .orderBy(F.desc("score"), "key").limit(top_k))


def new_vs_returning(df: DataFrame, key_col: str = "user_id",
                     time_col: str = "ts") -> DataFrame:
    """New-vs-returning user split per epoch week: a user is NEW in
    their first-ever active week and RETURNING in every later active
    week — the growth-accounting companion to cohort retention (net
    growth = new − churned; this is the 'new' leg).

    One distinct (week, user) compaction, one per-user min (both keyed
    on the user), then a per-week rollup — exact counts only.

    Returns ``(week, n_new, n_returning)`` ordered by week.
    """
    day = F.datediff(F.to_date(time_col), F.lit("1970-01-01").cast("date"))
    base = (df.select(F.floor(day / F.lit(7)).cast("bigint").alias("week"),
                      F.col(key_col).alias("__u"))
            .distinct())
    first = base.groupBy("__u").agg(F.min("week").alias("__fw"))
    return (base.join(first, "__u")
            .groupBy("week")
            .agg(F.sum((F.col("week") == F.col("__fw")).cast("bigint"))
                 .alias("n_new"),
                 F.sum((F.col("week") != F.col("__fw")).cast("bigint"))
                 .alias("n_returning"))
            .orderBy("week"))


def markov_stationary(df: DataFrame, key_col: str = "user_id",
                      time_col: str = "ts", type_col: str = "event_type",
                      order_col: str = "event_id", iters: int = 3,
                      round_digits: int = 6) -> DataFrame:
    """Stationary distribution of the behavioral Markov chain: where a
    user's session state settles if the observed transition dynamics
    keep running — the steady-state ranking ("long-run share of time in
    each state") that single-step transition probabilities can't show.

    Fixed-iteration power method from the uniform start:
    p_{t+1}[j] = Σ_i p_t[i]·P[i][j] with P the row-normalized
    transition matrix of :func:`event_transitions` semantics (lead()
    pairs, (time, id) ordering).  The matrix is K²-bounded (K = event
    types), so every iteration is one tiny join + aggregate; the Σ over
    K terms DECIMAL-accumulates (engine addition order differs, decimal
    does not); P's quotients are fixed-order doubles of exact counts.
    ``iters`` is fixed and small — the bounded-iteration convention of
    graph.pagerank (states mix fast at K≈5; the oracle unrolls the
    identical rounds).

    Returns ``(event_type, stationary_prob)`` after ``iters`` rounds,
    ordered by event_type.

    Semantics notes (ADVICE r8): the state space is the set of types
    with at least one OUTGOING transition, so a pure sink state (one
    that only ever appears as a destination) receives mass during a
    round and leaks it at the next — the reported probabilities can sum
    to less than 1 when the observed chain is absorbing.  That is the
    honest reading of a transition log with dead ends (the alternative,
    synthesizing self-loops, invents dynamics the data never showed).
    A log with NO transitions at all (every key has a single event)
    raises ``ValueError`` instead of a bare ZeroDivisionError.
    """
    w = Window.partitionBy(key_col).orderBy(time_col, order_col)
    pairs = (df.withColumn("__to", F.lead(type_col).over(w))
             .filter(F.col("__to").isNotNull())
             .groupBy(F.col(type_col).alias("__from"), "__to")
             .agg(F.count(F.lit(1)).alias("__n")))
    wf = Window.partitionBy("__from")
    P = pairs.withColumn(
        "__p", F.col("__n").cast("double")
        / F.sum("__n").over(wf).cast("double")).drop("__n")
    states = P.select(F.col("__from").alias("state")).distinct()
    k = states.count()  # bounded: K event types (the centroid-seed convention)
    if k == 0:
        raise ValueError(
            "markov_stationary: the log has no transitions (no key has "
            "two ordered events) — the chain is empty")
    p = states.withColumn("prob", F.lit(1.0 / k))
    for _ in range(iters):
        p = (P.join(p.withColumnRenamed("state", "__from"), "__from")
             .groupBy(F.col("__to").alias("state"))
             .agg(F.sum((F.col("prob") * F.col("__p"))
                        .cast("decimal(38,18)")).cast("double")
                  .alias("prob")))
    return (p.select(F.col("state").alias(type_col),
                     (F.round(F.col("prob"), round_digits) + F.lit(0.0))
                     .alias("stationary_prob"))
            .orderBy(type_col))


def position_attribution(events: DataFrame, user_col: str = "user_id",
                         time_col: str = "ts",
                         type_col: str = "event_type",
                         id_col: str = "event_id",
                         conversion_type: str = "purchase",
                         round_digits: int = 6) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: per converting
    user the FIRST touch earns 0.4, the LAST 0.4, and the middles share
    0.2 equally (single touch = 1.0; two touches = 0.5 each) — the
    fractional-credit compromise between the first/last bookend models
    (experiment.touch_attribution), standard in marketing analytics.

    One user exchange orders the pre-conversion touches (row_number +
    count over the same window spec → one Window exec); credits are
    per-user-constant doubles (0.4 / 0.2÷m) DECIMAL-accumulated per
    channel, so the fractional sums are engine-exact.

    Returns ``(channel, credit, n_touches)`` ordered by channel.
    """
    from pyspark.sql import Window as W

    conv = (events.filter(F.col(type_col) == conversion_type)
            .groupBy(user_col)
            .agg(F.min(F.struct(time_col, id_col)).alias("__c")))
    touches = (events.join(conv, user_col)
               .filter((F.col(type_col) != conversion_type)
                       & (F.struct(time_col, id_col) < F.col("__c"))))
    w = W.partitionBy(user_col).orderBy(time_col, id_col)
    wn = W.partitionBy(user_col)
    t = (touches.withColumn("__rn", F.row_number().over(w))
         .withColumn("__m", F.count(F.lit(1)).over(wn)))
    credit = (F.when(F.col("__m") == 1, F.lit(1.0))
              .when(F.col("__m") == 2, F.lit(0.5))
              .when(F.col("__rn") == 1, F.lit(0.4))
              .when(F.col("__rn") == F.col("__m"), F.lit(0.4))
              .otherwise(F.lit(0.2)
                         / (F.col("__m") - F.lit(2)).cast("double")))
    return (t.groupBy(F.col(type_col).alias("channel"))
            .agg((F.round(F.sum(credit.cast("decimal(28,12)"))
                          .cast("double"), round_digits) + F.lit(0.0))
                 .alias("credit"),
                 F.count(F.lit(1)).alias("n_touches"))
            .orderBy("channel"))


def nelson_aalen(df: DataFrame, duration_col: str, observed_col: str,
                 group_cols: list[str] | None = None,
                 round_digits: int = 6) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator (Nelson 1972, Aalen
    1978) over the same right-censored subject table as
    :func:`kaplan_meier`:

        H(t) = Σ_{t_i <= t}  d_i / n_i

    — the additive twin of the KM product (S ≈ exp(−H)); preferred when
    hazards are compared or summed across groups because increments are
    linear.

    Scale shape mirrors kaplan_meier: one (group, duration) collapse,
    then window arithmetic on the tiny curve table.  The running sum
    uses DECIMAL(38,12) accumulation of the per-row double increments —
    order-free EXACT, so the oracle needs no recursive CTE (the KM
    lesson: engine window aggregates combine doubles in different
    orders; decimal addition is immune).  Scale 12 keeps the scaled
    magnitude far under 2^53 (H is O(log n)), avoiding the
    DECIMAL→DOUBLE double-rounding ulp trap.

    Returns ``(group_cols..., duration, n_risk, n_events, n_censored,
    cum_hazard)`` ordered by (group, duration).
    """
    gcols = list(group_cols or [])
    curve = df.groupBy(*gcols, duration_col).agg(
        F.sum(F.col(observed_col).cast("bigint")).alias("n_events"),
        F.count(F.lit(1)).alias("__n"))
    wpart = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    w_risk = (wpart.orderBy(duration_col)
              .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    w_sum = (wpart.orderBy(duration_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    inc = (F.col("n_events").cast("double")
           / F.col("n_risk").cast("double")).cast("decimal(38,12)")
    return (curve
            .withColumn("n_risk", F.sum("__n").over(w_risk))
            .withColumn("n_censored", F.col("__n") - F.col("n_events"))
            .withColumn("cum_hazard",
                        F.round(F.sum(inc).over(w_sum).cast("double"),
                                round_digits) + F.lit(0.0))
            .select(*gcols, duration_col, "n_risk", "n_events",
                    "n_censored", "cum_hazard")
            .orderBy(*gcols, duration_col))


def theil_sen_trend(df: DataFrame, key_col: str, x_col: str, y_col: str,
                    round_digits: int = 6) -> DataFrame:
    """Theil-Sen robust trend estimator (Theil 1950, Sen 1968) per key:
    the median of all pairwise slopes

        slope = median over i<j of  (y_j − y_i) / (x_j − x_i)

    with ``intercept = median(y) − slope · median(x)`` — outlier-robust
    where OLS (aggregates.linear_trend) is not (breakdown point 29%).

    Medians are the LOWER median (the value at rank ⌈n/2⌉ of the sorted
    multiset) — pure SELECTION, no interpolation arithmetic, so any
    engine picks the bit-identical value (interpolated percentile
    formulas differ in FP evaluation order across engines).

    Scale shape: input must already be ONE ROW PER (key, x) — a bounded
    series per key (daily/hourly rollups: x is a grid index, so rows
    per key are calendar-bounded).  The pair table is an equi-join on
    the key with x_j > x_i: O(points²) per key map-side, never a
    corpus shuffle — at a daily grain that is ~66k pairs per key-year;
    resample to a coarser grid before calling this beyond ~10⁴ points
    per key.  Keys with fewer than 2 points are dropped (no pair, no
    slope).

    Returns ``(key, n_points, n_pairs, slope, intercept)`` ordered by
    key.
    """
    base = (df.select(F.col(key_col).alias("key"),
                      F.col(x_col).cast("double").alias("__x"),
                      F.col(y_col).cast("double").alias("__y"))
            .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
            # the tiny per-key series feeds BOTH pair-join sides and the
            # medians branch: checkpoint so an expensive upstream rollup
            # runs once, not three times (review r9)
            .localCheckpoint(eager=True))
    a, b = base.alias("a"), base.alias("b")
    pairs = (a.join(b, (F.col("a.key") == F.col("b.key"))
                    & (F.col("b.__x") > F.col("a.__x")))
             .select(F.col("a.key").alias("key"),
                     ((F.col("b.__y") - F.col("a.__y"))
                      / (F.col("b.__x") - F.col("a.__x"))).alias("__s")))
    w_s = Window.partitionBy("key").orderBy("__s")
    w_n = (Window.partitionBy("key")
           .rowsBetween(Window.unboundedPreceding,
                        Window.unboundedFollowing))
    slope = (pairs
             .withColumn("__rn", F.row_number().over(w_s))
             .withColumn("__np", F.count(F.lit(1)).over(w_n))
             .filter(F.col("__rn") == F.ceil(F.col("__np") / F.lit(2)))
             .select("key", F.col("__np").alias("n_pairs"),
                     F.col("__s").alias("slope")))
    w_x = Window.partitionBy("key").orderBy("__x")
    w_y = Window.partitionBy("key").orderBy("__y")
    meds = (base
            .withColumn("__rx", F.row_number().over(w_x))
            .withColumn("__ry", F.row_number().over(w_y))
            .withColumn("__n", F.count(F.lit(1)).over(w_n))
            .groupBy("key")
            .agg(F.max("__n").alias("n_points"),
                 F.max(F.when(F.col("__rx")
                              == F.ceil(F.col("__n") / F.lit(2)),
                              F.col("__x"))).alias("__mx"),
                 F.max(F.when(F.col("__ry")
                              == F.ceil(F.col("__n") / F.lit(2)),
                              F.col("__y"))).alias("__my")))
    r6 = lambda c: F.round(c, round_digits) + F.lit(0.0)  # noqa: E731
    return (slope.join(meds, "key")
            .select("key", "n_points", "n_pairs",
                    r6(F.col("slope")).alias("slope"),
                    r6(F.col("__my") - F.col("slope") * F.col("__mx"))
                    .alias("intercept"))
            .orderBy("key"))


def lead_lag_corr(df: DataFrame, time_col: str, flag_x: Column,
                  flag_y: Column, bucket_seconds: int = 3600,
                  max_lag: int = 6,
                  round_digits: int = 6) -> DataFrame:
    """Lead-lag cross-correlation between two event streams: Pearson
    corr between the bucketed count series x(t) and y(t + lag) for
    every lag in [−max_lag, max_lag] — "does x move BEFORE y?"; the
    arg-max lag estimates the delay (positive lag ⇒ x leads y).

    Both series are materialized on the COMPLETE bucket grid
    (sequence(min, max), zero-filled) so missing buckets count as 0
    instead of silently shrinking the overlap; at each lag the overlap
    is the grid minus |lag| buckets.  Pearson runs on DECIMAL-exact
    moment sums (counts are integers, so products are exact), fixed-
    order double arithmetic after.

    Scale shape: one bucket rollup of the event scan (the only
    full-data pass), then grid + lag arithmetic on the bounded bucket
    table (buckets are calendar-bounded; the lag explode multiplies
    the GRID, not the events).

    Returns ``(lag, n, corr)`` for the 2·max_lag+1 lags ordered by
    lag; ``corr`` is NULL when either side is constant on the overlap.
    """
    hr = F.floor(_epoch_seconds(df, time_col)
                 / F.lit(float(bucket_seconds)))
    # the bucket rollup is calendar-bounded (tiny); checkpoint it so the
    # ends/grid/x-side/y-side reuses never re-scan the event log (the
    # waterfill_allocation convention)
    per = (df.select(hr.alias("__h"),
                     flag_x.cast("bigint").alias("__fx"),
                     flag_y.cast("bigint").alias("__fy"))
           .groupBy("__h")
           .agg(F.sum("__fx").alias("__x"), F.sum("__fy").alias("__y"))
           .localCheckpoint(eager=True))
    return lead_lag_from_buckets(per, max_lag, round_digits)


def granger_screen(df: DataFrame, time_col: str, flag_x: Column,
                   flag_y: Column, bucket_seconds: int = 3600,
                   round_digits: int = 6) -> DataFrame:
    """Granger-style predictive screen (Granger 1969, order-1): does
    LAST bucket's x-count improve the prediction of this bucket's
    y-count beyond last bucket's y itself (and vice versa)?  For each
    direction, the restricted AR(1) fit ``t ~ a + b·t_{−1}`` and the
    unrestricted ``t ~ a + b·t_{−1} + c·other_{−1}`` give

        F = (RSS_r − RSS_u) / (RSS_u / (n − 3))

    — the classic one-lag Granger F with (1, n−3) df; F ≫ 4 says the
    other series carries predictive information (NOT causation: both
    can follow a common driver — the standard caveat).  This is the
    inferential companion to :func:`lead_lag_corr`, which reports raw
    cross-correlation by lag but never "beyond what y already knew".

    Both OLS fits are CLOSED FORM from one moment aggregate (centered
    covariance algebra; the 2-regressor solve is a 2×2 Cramer
    inversion), so no iteration and no per-row residuals: one event
    scan collapses to the calendar-bounded bucket grid (zero-filled,
    checkpointed), one lag window on the grid, ONE 2-row aggregate.
    Counts are integers, so every product is exact in DECIMAL(38,6);
    the estimator arithmetic is fixed-order doubles on those exact
    sums.  Degenerate fits (constant series, collinear lags, n ≤ 3)
    yield NULL instead of IEEE infinities.

    Returns ``(direction, n, f_stat, r2_restricted, r2_unrestricted)``
    with direction ∈ ('x_leads_y', 'y_leads_x'), ordered by direction.
    """
    if bucket_seconds < 1:
        raise ValueError(f"bucket_seconds must be >= 1, "
                         f"got {bucket_seconds}")
    hr = F.floor(_epoch_seconds(df, time_col)
                 / F.lit(float(bucket_seconds)))
    per = (df.select(hr.alias("__h"),
                     flag_x.cast("bigint").alias("__fx"),
                     flag_y.cast("bigint").alias("__fy"))
           .groupBy("__h")
           .agg(F.sum("__fx").alias("__x"), F.sum("__fy").alias("__y"))
           .localCheckpoint(eager=True))
    ends = per.agg(F.min("__h").alias("__lo"), F.max("__h").alias("__hi"))
    grid = ends.select(F.explode(F.sequence("__lo", "__hi")).alias("__h"))
    full = (grid.join(per, "__h", "left")
            .select("__h",
                    F.coalesce("__x", F.lit(0)).cast("double").alias("__x"),
                    F.coalesce("__y", F.lit(0)).cast("double").alias("__y")))
    w = Window.orderBy("__h")
    lagged = (full
              .withColumn("__lx", F.lag("__x").over(w))
              .withColumn("__ly", F.lag("__y").over(w))
              .filter(F.col("__lx").isNotNull()))
    m = lagged.select(F.explode(F.array(
        F.struct(F.lit("x_leads_y").alias("direction"),
                 F.col("__y").alias("t"), F.col("__ly").alias("u"),
                 F.col("__lx").alias("v")),
        F.struct(F.lit("y_leads_x").alias("direction"),
                 F.col("__x").alias("t"), F.col("__lx").alias("u"),
                 F.col("__ly").alias("v")),
    )).alias("d")).select("d.direction", "d.t", "d.u", "d.v")
    d6 = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    t, u, v = F.col("t"), F.col("u"), F.col("v")
    agg = m.groupBy("direction").agg(
        F.count(F.lit(1)).alias("n"),
        d6(t).alias("__st"), d6(u).alias("__su"), d6(v).alias("__sv"),
        d6(t * t).alias("__stt"), d6(u * u).alias("__suu"),
        d6(v * v).alias("__svv"), d6(u * t).alias("__sut"),
        d6(v * t).alias("__svt"), d6(u * v).alias("__suv"))
    nd = F.col("n").cast("double")
    stt = F.col("__stt") - F.col("__st") * F.col("__st") / nd
    suu = F.col("__suu") - F.col("__su") * F.col("__su") / nd
    svv = F.col("__svv") - F.col("__sv") * F.col("__sv") / nd
    sut = F.col("__sut") - F.col("__su") * F.col("__st") / nd
    svt = F.col("__svt") - F.col("__sv") * F.col("__st") / nd
    suv = F.col("__suv") - F.col("__su") * F.col("__sv") / nd
    rss_r = stt - sut * sut / suu
    det = suu * svv - suv * suv
    b = (sut * svv - svt * suv) / det
    c = (svt * suu - sut * suv) / det
    rss_u = stt - b * sut - c * svt
    ok = (F.col("n") > 3) & (suu > 0.0) & (det > 0.0) & (stt > 0.0)
    f_stat = F.when(ok & (rss_u > 0.0),
                    (rss_r - rss_u) / (rss_u / (nd - 3.0)))
    r2r = F.when(ok, F.lit(1.0) - rss_r / stt)
    r2u = F.when(ok, F.lit(1.0) - rss_u / stt)
    r6 = lambda x: F.round(x, round_digits) + F.lit(0.0)  # noqa: E731
    return (agg.select("direction", "n", r6(f_stat).alias("f_stat"),
                       r6(r2r).alias("r2_restricted"),
                       r6(r2u).alias("r2_unrestricted"))
            .orderBy("direction"))


def lead_lag_from_buckets(per: DataFrame, max_lag: int = 6,
                          round_digits: int = 6) -> DataFrame:
    """The bounded tail of :func:`lead_lag_corr`: grid completion, lag
    shift join and Pearson on an already-built ``(__h, __x, __y)``
    bucket-count table.  Exposed separately so a STREAMING rollup (the
    only unbounded pass) can feed the identical arithmetic — see
    ``__spark_entry__.streaming_lead_lag_events``."""
    ends = per.agg(F.min("__h").alias("__lo"), F.max("__h").alias("__hi"))
    grid = (ends.select(F.explode(F.sequence("__lo", "__hi"))
                        .alias("__h")))
    full = (grid.join(per, "__h", "left")
            .select("__h",
                    F.coalesce("__x", F.lit(0)).alias("__x"),
                    F.coalesce("__y", F.lit(0)).alias("__y")))
    # y at bucket h+lag joins x at bucket h (hash join on the computed
    # bucket key; the lag explode multiplies the bounded grid only)
    lags = F.explode(F.sequence(F.lit(-max_lag).cast("bigint"),
                                F.lit(max_lag).cast("bigint")))
    xs = full.select("__h", "__x", lags.alias("lag"))
    ys = full.select(F.col("__h").alias("__hy"), "__y")
    joined = (xs.join(ys, xs["__h"] + xs["lag"] == ys["__hy"])
              .select("lag", "__x", "__y"))
    d = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    x, y = F.col("__x").cast("double"), F.col("__y").cast("double")
    m = (joined.groupBy("lag")
         .agg(F.count(F.lit(1)).alias("n"),
              d(x).alias("__sx"), d(y).alias("__sy"),
              d(x * y).alias("__sxy"),
              d(x * x).alias("__sxx"), d(y * y).alias("__syy")))
    n = F.col("n").cast("double")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    corr = F.when((vx > 0.0) & (vy > 0.0),
                  cov / F.sqrt(vx * vy))
    return (m.select("lag", "n",
                     (F.round(corr, round_digits) + F.lit(0.0))
                     .alias("corr"))
            .orderBy("lag"))


def automation_screen(df: DataFrame, key_col: str = "user_id",
                      time_col: str = "ts", top_k: int = 20,
                      min_events: int = 5,
                      round_digits: int = 6) -> DataFrame:
    """Automation/bot screen: the ``top_k`` keys most suspicious by
    event rate, with the regularity statistic that separates scripted
    traffic from humans — high events-per-active-minute AND a low
    coefficient of variation of inter-arrival gaps (machines fire on
    timers; humans are bursty, cv ≈ 1 for Poisson arrivals).

    Threshold-free by design: absolute rate cut-offs are corpus-
    dependent, so this returns a ranked shortlist for review (compose
    with a filter once the corpus' rate scale is known).  Keys with
    fewer than ``min_events`` events are excluded (their gap moments
    are noise); a key whose whole burst lands in ONE second (span 0 —
    the most extreme automation there is) stays IN, with the rate
    computed over a clamped 1-second span (review r9: the old
    ``span > 0`` filter silently dropped exactly the worst offenders).

    Plan: one per-key lag window for gaps (the event shuffle any
    sessionization pays), one per-key aggregate of exact integer
    moments; rate and cv are fixed-order doubles on exact sums, so any
    engine replays them.  Top-k is TakeOrdered — no global sort.

    Returns ``(key, n_events, span_s, events_per_min, gap_cv)`` by
    (events_per_min desc, key).
    """
    ep = _epoch_seconds(df, time_col)
    gaps = (df.select(F.col(key_col).alias("key"), ep.alias("__ep"))
            .withColumn("__gap", F.col("__ep")
                        - F.lag("__ep").over(
                            Window.partitionBy("key").orderBy("__ep"))))
    per = (gaps.groupBy("key")
           .agg(F.count(F.lit(1)).alias("n_events"),
                (F.max("__ep") - F.min("__ep")).alias("span_s"),
                F.count("__gap").alias("__m"),
                F.sum(F.col("__gap").cast("decimal(38,0)")).alias("__s"),
                F.sum((F.col("__gap") * F.col("__gap"))
                      .cast("decimal(38,0)")).alias("__ss"))
           .filter(F.col("n_events") >= min_events))
    m = F.col("__m").cast("double")
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    epm = (F.col("n_events").cast("double")
           / (F.greatest(F.col("span_s"), F.lit(1)).cast("double")
              / F.lit(60.0)))
    cv = F.when(s > 0.0, F.sqrt(m * ss - s * s) / s)
    r6 = lambda c: F.round(c, round_digits) + F.lit(0.0)  # noqa: E731
    return (per.select("key", "n_events", "span_s",
                       r6(epm).alias("events_per_min"),
                       r6(cv).alias("gap_cv"))
            .orderBy(F.desc("events_per_min"), "key")
            .limit(top_k))


def forecast_backtest(df: DataFrame, key_col: str, time_col: str,
                      value_col: str, seasonal_lag: int = 7,
                      alpha: float = 0.5, beta: float = 0.5,
                      round_digits: int = 6) -> DataFrame:
    """One-step-ahead forecast backtest: naive (last value), seasonal
    naive (value ``seasonal_lag`` steps back) and Holt linear
    (:func:`holt_linear`'s forecast, lagged so each prediction uses
    only the past) scored on the SAME evaluation window — MAE and
    sMAPE per (key, model).  This is the "is the fancy model actually
    better?" gate run before any forecast is trusted; the naive
    baselines are free and embarrassingly hard to beat on noisy
    series.

    Evaluation rows are those where ALL models have a prediction
    (step > seasonal_lag), so the comparison is apples-to-apples.
    sMAPE terms with a zero denominator (both sides 0) count as 0.

    Input is a per-key ROLLUP (the holt_linear contract — calendar-
    bounded per key).  Error sums accumulate in DECIMAL(38,9) (exact,
    and scaled magnitude stays far under 2^53 at count-series
    magnitudes); with the default alpha=beta=0.5 the Holt forecasts
    are exact binary scalings, so a recursive-CTE oracle replays every
    bit.

    Returns ``(key, model, n, mae, smape)`` ordered by (key, model).
    """
    # the evaluation window is keyed on __snaive IS NOT NULL, which only
    # implies the lag-1 naive/holt predictions exist when the seasonal
    # lag is at least 1 — a 0/negative lag would silently deflate the
    # error sums (DECIMAL sums skip NULL terms, count(*) doesn't)
    # (ADVICE r9)
    if seasonal_lag < 1:
        raise ValueError(
            f"forecast_backtest: seasonal_lag must be >= 1, "
            f"got {seasonal_lag}")
    sm = holt_linear(df, key_col, time_col, value_col,
                     alpha=alpha, beta=beta)
    w = Window.partitionBy(key_col).orderBy(time_col)
    x = F.col(value_col).cast("double")
    preds = (sm
             .withColumn("__naive", F.lag(x, 1).over(w))
             .withColumn("__snaive", F.lag(x, seasonal_lag).over(w))
             .withColumn("__holt", F.lag(F.col("forecast"), 1).over(w))
             .filter(F.col("__snaive").isNotNull()))
    m = preds.select(
        F.col(key_col).alias("key"), x.alias("__x"),
        F.explode(F.array(
            F.struct(F.lit("naive").alias("model"),
                     F.col("__naive").alias("f")),
            F.struct(F.lit("snaive").alias("model"),
                     F.col("__snaive").alias("f")),
            F.struct(F.lit("holt").alias("model"),
                     F.col("__holt").alias("f")),
        )).alias("p")
    ).select("key", "p.model", "__x", "p.f")
    ae = F.abs(F.col("f") - F.col("__x"))
    den = F.abs(F.col("f")) + F.abs(F.col("__x"))
    sm_term = F.when(den > 0.0, F.lit(2.0) * ae / den).otherwise(F.lit(0.0))
    d9 = lambda c: F.sum(c.cast("decimal(38,9)")).cast("double")  # noqa: E731
    r6 = lambda c: F.round(c, round_digits) + F.lit(0.0)  # noqa: E731
    n = F.count(F.lit(1))
    return (m.groupBy("key", "model")
            .agg(n.alias("n"),
                 r6(d9(ae) / n.cast("double")).alias("mae"),
                 r6(d9(sm_term) / n.cast("double")).alias("smape"))
            .orderBy("key", "model"))


def ltv_cohorts(df: DataFrame, key_col: str, time_col: str,
                value_col: str, round_digits: int = 6) -> DataFrame:
    """Cohort lifetime-value curves: customers cohorted by their
    first-activity month; per (cohort, month-age) the active count,
    period revenue, and the CUMULATIVE revenue per cohort member — the
    LTV curve whose flattening point prices acquisition (the value
    twin of :func:`cohort_retention`, which only counts heads).

    Month arithmetic is integer (year·12 + month − 1), so ages are
    engine-exact; revenue accumulates in the :func:`dsum`-style
    DECIMAL(18,6) money convention and the running cumulative sum
    stays DECIMAL (order-free exact) until the final per-member
    division.

    Plan: one per-key min (the cohort lookup, keyed like any per-user
    rollup), one join back on the key (the shuffle any cohort analysis
    pays), one (cohort, age) aggregate; the cumulative window runs on
    the tiny cohort×age table.

    Returns ``(cohort_month, age_months, n_active, revenue,
    cum_value_per_member)`` ordered by (cohort_month, age_months).
    """
    midx = lambda c: (F.year(c) * F.lit(12)  # noqa: E731
                      + F.month(c) - F.lit(1)).cast("bigint")
    base = df.select(F.col(key_col).alias("__k"),
                     midx(F.to_date(time_col)).alias("__m"),
                     F.col(value_col).cast("double").alias("__v"))
    first = base.groupBy("__k").agg(F.min("__m").alias("__cm"))
    sizes = first.groupBy("__cm").agg(
        F.count(F.lit(1)).alias("__cohort_size"))
    cells = (base.join(first, "__k")
             .groupBy(F.col("__cm"), (F.col("__m") - F.col("__cm"))
                      .alias("age_months"))
             .agg(F.count_distinct(F.col("__k")).alias("n_active"),
                  F.sum(F.col("__v").cast("decimal(18,6)"))
                  .alias("__rev")))
    w_cum = (Window.partitionBy("__cm").orderBy("age_months")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r6 = lambda c: F.round(c, round_digits) + F.lit(0.0)  # noqa: E731
    month_date = F.make_date((F.col("__cm") / F.lit(12)).cast("int"),
                             (F.col("__cm") % F.lit(12) + F.lit(1))
                             .cast("int"), F.lit(1))
    return (cells.join(F.broadcast(sizes), "__cm")
            .select(month_date.alias("cohort_month"), "age_months",
                    "n_active",
                    r6(F.col("__rev").cast("double")).alias("revenue"),
                    r6(F.sum("__rev").over(w_cum).cast("double")
                       / F.col("__cohort_size").cast("double"))
                    .alias("cum_value_per_member"))
            .orderBy("cohort_month", "age_months"))


def growth_accounting(df: DataFrame, key_col: str = "user_id",
                      time_col: str = "ts") -> DataFrame:
    """Weekly growth accounting (the new/retained/resurrected/churned
    decomposition popularized by the Social Capital "growth
    accounting" framework): per epoch week,

        new         = first-ever-active this week
        retained    = active this week AND last week
        resurrected = active this week, seen before, NOT last week
        churned(w)  = active(w−1) − retained(w)   (the exact identity)

    so ``active(w) = new + retained + resurrected`` and net growth =
    new + resurrected − churned — the full engine behind a DAU/WAU
    dashboard, where :func:`new_vs_returning` only splits new/old.

    One distinct (user, week) compaction (the only full-data pass),
    one per-user lag window on it, one per-week rollup, then the
    churn identity on the complete week grid (weeks with zero actives
    still report the churn from the week before).  Exact counts only.

    Returns ``(week, n_active, n_new, n_retained, n_resurrected,
    n_churned)`` ordered by week.
    """
    day = F.datediff(F.to_date(time_col), F.lit("1970-01-01").cast("date"))
    base = (df.select(F.floor(day / F.lit(7)).cast("bigint").alias("week"),
                      F.col(key_col).alias("__u"))
            .distinct())
    w_user = Window.partitionBy("__u").orderBy("week")
    flagged = (base
               .withColumn("__prev", F.lag("week").over(w_user))
               .withColumn("__new", F.col("__prev").isNull())
               .withColumn("__ret", F.col("__prev") == F.col("week") - 1))
    weekly = (flagged.groupBy("week")
              .agg(F.count(F.lit(1)).alias("n_active"),
                   F.sum(F.col("__new").cast("bigint")).alias("n_new"),
                   F.sum(F.coalesce(F.col("__ret"), F.lit(False))
                         .cast("bigint")).alias("n_retained"))
              .withColumn("n_resurrected",
                          F.col("n_active") - F.col("n_new")
                          - F.col("n_retained"))
              .localCheckpoint(eager=True))
    ends = weekly.agg(F.min("week").alias("__lo"),
                      F.max("week").alias("__hi"))
    grid = ends.select(F.explode(F.sequence("__lo", "__hi")).alias("week"))
    w_lag = Window.orderBy("week")
    full = (grid.join(weekly, "week", "left")
            .select("week",
                    F.coalesce("n_active", F.lit(0)).alias("n_active"),
                    F.coalesce("n_new", F.lit(0)).alias("n_new"),
                    F.coalesce("n_retained", F.lit(0))
                    .alias("n_retained"),
                    F.coalesce("n_resurrected", F.lit(0))
                    .alias("n_resurrected")))
    churn = (F.coalesce(F.lag("n_active").over(w_lag), F.lit(0))
             - F.col("n_retained"))
    return (full.withColumn("n_churned", churn)
            .orderBy("week"))


def hurst_exponent(df: DataFrame, key_col: str, x_col: str, y_col: str,
                   max_level: int = 4,
                   round_digits: int = 6) -> DataFrame:
    """Hurst exponent via the aggregated-variance method (Beran 1994):
    for block sizes m = 1, 2, 4, …, 2^max_level, the variance of
    block-mean series scales as ``var(m) ∝ m^(2H−2)``; H is estimated
    by OLS of log2 var(m) on log2 m:

        H = 1 + slope / 2

    — H ≈ 0.5 is memoryless, H > 0.5 long-range dependent (bursty load
    that WILL stack up — capacity planning reads this before trusting
    a Poisson model), H < 0.5 mean-reverting.

    Input is one row per (key, x) with x a contiguous integer grid
    index (daily/hourly rollup).  Plan: one explode of the level list
    (rows × levels, map-side), one (key, level, block) aggregate, one
    (key, level) variance aggregate (DECIMAL moments), then the OLS on
    the ≤ max_level+1 points per key.  log2 goes through ln (libm —
    sub-ulp absorbed by round-6).  Keys where every level has < 2
    blocks or zero variance yield NULL H.

    Returns ``(key, n_points, hurst)`` ordered by key.
    """
    levels = [1 << i for i in range(max_level + 1)]
    base = df.select(F.col(key_col).alias("key"),
                     F.col(x_col).cast("bigint").alias("__x"),
                     F.col(y_col).cast("double").alias("__y"))
    lv = F.explode(F.array(*[F.lit(m) for m in levels])).alias("m")
    blocks = (base.select("key", "__x", "__y", lv)
              .groupBy("key", "m",
                       F.floor(F.col("__x") / F.col("m")).alias("__b"))
              .agg((F.sum(F.col("__y").cast("decimal(38,12)"))
                    .cast("double")
                    / F.count(F.lit(1)).cast("double")).alias("__bm")))
    d12 = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    v = F.col("__bm")
    # keys x levels rows — bounded; checkpointed because BOTH the OLS
    # branch and the n_points lookup read it (review r9: a separate
    # counts aggregate re-scanned the input)
    per_level = (blocks.groupBy("key", "m")
                 .agg(F.count(F.lit(1)).alias("__k"),
                      d12(v).alias("__s"), d12(v * v).alias("__ss"))
                 .localCheckpoint(eager=True))
    k = F.col("__k").cast("double")
    var = (F.col("__ss") - F.col("__s") * F.col("__s") / k) / (k - 1)
    pts = (per_level.filter(F.col("__k") >= 2)
           .select("key",
                   (F.log(F.col("m").cast("double"))
                    / F.lit(math.log(2.0))).alias("__lx"),
                   F.when(var > 0.0, F.log(var) / F.lit(math.log(2.0)))
                   .alias("__ly"))
           .filter(F.col("__ly").isNotNull()))
    x, y = F.col("__lx"), F.col("__ly")
    ols = (pts.groupBy("key")
           .agg(F.count(F.lit(1)).alias("__np"),
                d12(x).alias("__sx"), d12(y).alias("__sy"),
                d12(x * y).alias("__sxy"), d12(x * x).alias("__sxx")))
    np_ = F.col("__np").cast("double")
    denom = np_ * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.when(
        (F.col("__np") >= 2) & (denom > 0.0),
        (np_ * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / denom)
    # n_points IS the m=1 block count (input is one row per (key, x)),
    # so no second pass over the source is needed
    counts = (per_level.filter(F.col("m") == 1)
              .select("key", F.col("__k").alias("n_points")))
    r6 = lambda c: F.round(c, round_digits) + F.lit(0.0)  # noqa: E731
    return (counts.join(ols, "key", "left")
            .select("key", "n_points",
                    r6(F.lit(1.0) + slope / F.lit(2.0)).alias("hurst"))
            .orderBy("key"))


def tail_risk(df: DataFrame, key_col: str, value_col: str,
              q: float = 0.95,
              round_digits: int = 6) -> DataFrame:
    """Tail risk per key: the q-quantile cutoff (Value-at-Risk shape)
    and the EXPECTED SHORTFALL — the mean of everything at or beyond
    the cutoff — the pair every latency/cost SLO report needs (p95
    alone hides how bad the tail is once you're in it).

    The cutoff is lower-rank SELECTION (rank ⌈q·n⌉, engine-exact, the
    theil_sen_trend convention) and the tail mean is a DECIMAL-exact
    conditional aggregate over rows with rank ≥ the cutoff rank — by
    RANK, not by value, so ties at the cutoff cannot make engines
    disagree about tail membership.  One ordering window per key over
    the scalar (key, value) projection + one aggregate.  The window
    sorts each KEY in one task (parallelism = |keys|): past ~10⁸ rows
    per key swap the selection for the two-phase exact bin scan
    (profile.weighted_percentiles' shape) — the 10× probe shows the
    ~2.5× superlinear growth this predicts.

    Returns ``(key, n, var_q, es_q, tail_n)`` ordered by key.
    """
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    v = F.col(value_col).cast("double")
    w_rank = Window.partitionBy("key").orderBy(F.col("__v"))
    w_all = (Window.partitionBy("key")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    # NULL values are excluded BEFORE ranking (the median_ci policy)
    ranked = (df.select(F.col(key_col).alias("key"), v.alias("__v"))
              .filter(F.col("__v").isNotNull())
              .withColumn("__rn", F.row_number().over(w_rank))
              .withColumn("__n", F.count(F.lit(1)).over(w_all)))
    cut = F.greatest(F.lit(1).cast("bigint"),
                     F.ceil(F.lit(float(q))
                            * F.col("__n").cast("double")))
    in_tail = F.col("__rn") >= cut
    r6 = lambda c: F.round(c, round_digits) + F.lit(0.0)  # noqa: E731
    return (ranked.groupBy("key")
            .agg(F.max("__n").alias("n"),
                 F.max(F.when(F.col("__rn") == cut, F.col("__v")))
                 .alias("__var"),
                 F.sum(F.when(in_tail, F.col("__v"))
                       .cast("decimal(38,9)")).cast("double")
                 .alias("__ts"),
                 F.sum(in_tail.cast("bigint")).alias("tail_n"))
            .select("key", "n", r6(F.col("__var")).alias("var_q"),
                    r6(F.col("__ts")
                       / F.col("tail_n").cast("double")).alias("es_q"),
                    "tail_n")
            .orderBy("key"))


def theta_forecast(df: DataFrame, key_col: str, time_col: str,
                   value_col: str, alpha: float = 0.5, h: int = 3,
                   round_digits: int = 6) -> DataFrame:
    """Theta-method forecast per key (Assimakopoulos & Nikolopoulos
    2000) — the M3-competition winner, equivalent (Hyndman & Billah
    2003) to SES-with-drift: decompose the series into the θ=0 line
    (the OLS trend) and the θ=2 line (curvature doubled), smooth the
    θ=2 line with simple exponential smoothing, and average the two
    extrapolations:

        y_t      = 2·x_t − (a + b·t)          (θ=2 line)
        s_1 = y_1;  s_t = α·y_t + (1−α)·s_{t−1}
        fc(k)    = 0.5·s_n + 0.5·(a + b·(n+k)),  k = 1..h

    Engine-parity discipline: ``t`` is the per-key time rank (integers
    — no epoch math), the OLS moments accumulate in DECIMAL(28,6)
    (integer-valued rollup counts stay exact; scaled sums stay below
    2^53 so the decimal→double cast is single-rounded), slope/intercept
    are one fixed chain of double ops, and with the default α=0.5 every
    smoothing multiply is an exact binary scaling — a recursive-CTE
    oracle replays the bits (the holt_linear convention).

    The SES recurrence is honestly sequential per key, so it runs as
    ONE Arrow-batched applyInPandas exchange over the calendar-bounded
    per-key ROLLUP (the ewma/holt/cusum lane).  Returns ``h`` rows per
    key: ``(key_col, step, n, slope, ses_level, forecast)``.
    """
    import pandas as pd

    w = Window.partitionBy(key_col).orderBy(time_col)
    base = (df.select(key_col, time_col,
                      F.col(value_col).cast("double").alias("__v"))
            .withColumn("__t", F.row_number().over(w)))
    m = base.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__t").cast("decimal(28,6)")).alias("__sx"),
        F.sum(F.col("__v").cast("decimal(28,6)")).alias("__sy"),
        F.sum((F.col("__t") * F.col("__v")).cast("decimal(28,6)"))
        .alias("__sxy"),
        F.sum((F.col("__t") * F.col("__t")).cast("decimal(28,6)"))
        .alias("__sxx"))
    nn = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    # two selects pin the op ORDER: b first, then a = (sy − b·sx)/n
    fit = m.select(
        key_col, "__n",
        ((nn * sxy - sx * sy) / (nn * sxx - sx * sx)).alias("__b"),
        sy.alias("__syd"), sx.alias("__sxd"))
    fit = fit.select(
        key_col, "__n", "__b",
        ((F.col("__syd") - F.col("__b") * F.col("__sxd"))
         / F.col("__n").cast("double")).alias("__a"))
    j = base.join(F.broadcast(fit), key_col)
    out_schema = (f"{key_col} {df.schema[key_col].dataType.simpleString()}, "
                  "step int, n bigint, slope double, ses_level double, "
                  "forecast double")

    def _theta(pdf):
        a = float(pdf["__a"].iloc[0]); b = float(pdf["__b"].iloc[0])
        n = int(pdf["__n"].iloc[0])
        s = None
        for t, x in zip(pdf["__t"], pdf["__v"]):
            y = 2.0 * float(x) - (a + b * float(t))
            s = y if s is None else alpha * y + (1.0 - alpha) * s
        rows = []
        for k in range(1, h + 1):
            fc = 0.5 * s + 0.5 * (a + b * float(n + k))
            rows.append((pdf[key_col].iloc[0], k, n, b, s, fc))
        return pd.DataFrame(rows, columns=[key_col, "step", "n", "slope",
                                           "ses_level", "forecast"])

    return (map_stateful_batch(j, [key_col], _theta, out_schema, "__t")
            .select(key_col, "step", "n",
                    (F.round("slope", round_digits) + F.lit(0.0))
                    .alias("slope"),
                    (F.round("ses_level", round_digits) + F.lit(0.0))
                    .alias("ses_level"),
                    (F.round("forecast", round_digits) + F.lit(0.0))
                    .alias("forecast")))


#: standard-normal breakpoints for SAX alphabets (Lin, Keogh, Lonardi &
#: Chiu 2003, Table 3) — PYTHON literals so no engine evaluates an
#: inverse CDF (the Benford/NDCG-discount convention)
SAX_BREAKPOINTS: dict[int, tuple[float, ...]] = {
    3: (-0.4307272992954576, 0.4307272992954576),
    4: (-0.6744897501960817, 0.0, 0.6744897501960817),
    5: (-0.8416212335729142, -0.2533471031357997,
        0.2533471031357997, 0.8416212335729142),
}


def sax_symbols(df: DataFrame, key_col: str, time_col: str,
                value_col: str, segments: int = 8, alphabet: int = 4,
                round_digits: int = 6) -> DataFrame:
    """SAX symbolization per key (Lin, Keogh, Lonardi & Chiu 2003):
    z-normalize the series, Piecewise-Aggregate-Approximate it into
    ``segments`` equal-width windows, and map each segment mean to a
    letter by the standard-normal breakpoints — the discretization that
    turns numeric series into strings so sequence tooling (n-gram
    novelty, transition entropy, dedup) applies to telemetry.

    Everything is declarative (NO Python in the hot path): time rank →
    segment id by integer arithmetic ``(t−1)·segments ÷ n``, one keyed
    moment aggregate for the z-norm (DECIMAL sums, the corr-matrix
    convention), one (key, segment) mean, a CASE over Python-literal
    breakpoints.  Returns ``(key_col, segment, paa, symbol)``.
    """
    if alphabet not in SAX_BREAKPOINTS:
        raise ValueError(f"alphabet must be one of "
                         f"{sorted(SAX_BREAKPOINTS)}, got {alphabet}")
    w = Window.partitionBy(key_col).orderBy(time_col)
    base = (df.select(key_col, time_col,
                      F.col(value_col).cast("double").alias("__v"))
            .withColumn("__t", F.row_number().over(w)))
    m = base.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__v").cast("decimal(28,6)")).alias("__s"),
        F.sum((F.col("__v") * F.col("__v")).cast("decimal(28,6)"))
        .alias("__ss"))
    nn = F.col("__n").cast("double")
    mu = F.col("__s").cast("double") / nn
    var = F.col("__ss").cast("double") / nn - mu * mu
    stats = m.select(key_col, "__n", mu.alias("__mu"),
                     F.sqrt(var).alias("__sd"))
    seg = (base.join(F.broadcast(stats), key_col)
           .select(key_col,
                   ((F.col("__t") - 1) * segments
                    / F.col("__n")).cast("long").alias("segment"),
                   # sd=0 (constant series) -> NULL z, not an ANSI
                   # divide-by-zero crash; the symbol surfaces as NULL
                   F.when(F.col("__sd") != 0.0,
                          (F.col("__v") - F.col("__mu"))
                          / F.col("__sd")).alias("__z")))
    # round-9 before the decimal cast (the aipw-fold convention), so
    # the segment mean is an order-free exact-decimal sum both engines
    # replay identically
    paa = seg.groupBy(key_col, "segment").agg(
        (F.sum(F.round(F.col("__z"), 9).cast("decimal(28,12)"))
         .cast("double")
         / F.count(F.lit(1)).cast("double")).alias("__paa"))
    bps = SAX_BREAKPOINTS[alphabet]
    sym = F.lit(chr(ord("a") + len(bps)))
    for i in range(len(bps) - 1, -1, -1):
        sym = F.when(F.col("__paa") < F.lit(bps[i]),
                     F.lit(chr(ord("a") + i))).otherwise(sym)
    # a constant series has sd=0 -> NULL z/paa: its symbol is UNDEFINED
    # (NULL), not the top letter the when-chain's otherwise would yield
    sym = F.when(F.col("__paa").isNull(), F.lit(None)).otherwise(sym)
    return (paa.select(key_col, "segment",
                       (F.round("__paa", round_digits) + F.lit(0.0))
                       .alias("paa"),
                       sym.alias("symbol"))
            .orderBy(key_col, "segment"))

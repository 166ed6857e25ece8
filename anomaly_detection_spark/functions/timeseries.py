"""Seasonality detection at configurable lags — the distributed form of the
reference's lag-autocorrelation scan
(``/root/reference/anomaly_detection/utils/trend_detector.py:115-156``,
periods {7, 14, 30} from ``config.py:91``).

Correlation at each lag is computed closed-form from exact integer sums
(n·Σxy − Σx·Σy over √(…)·√(…)) — order-independent, oracle-checkable —
via a per-lag self-equi-join of the (already tiny) daily aggregate on
``day = day + lag``. The join input is the daily rollup, not the raw events,
so the cost is O(series length · lags) regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def autocorr_at_lags(
    daily: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    lags: list[int],
) -> DataFrame:
    """(key, lag, n_pairs, acf) for each requested lag.

    ``daily`` is a per-(key, integer day ``x_col``) frame with integer
    ``y_col``; pairs are formed by joining the series to itself shifted by
    ``lag`` days (exactly the reference's series[p:] vs series[:-p], but
    join-aligned so missing days pair correctly instead of silently
    shifting)."""
    a = daily.select(
        F.col(key_col).alias("_k"), F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    )
    # ONE lag-exploded self-join, not one join per lag: a per-lag loop of
    # joins re-executes the upstream daily aggregation (and its full input
    # scan) len(lags)·2 times — Catalyst's exchange reuse only partially
    # collapses it. Exploding the shifted (lag, x) probes on the build side
    # keeps the whole computation at two aggregate executions and one join
    # regardless of how many lags are requested.
    probes = F.explode(F.array(*[
        F.struct(F.lit(lag).alias("lag"), (F.col(x_col) + F.lit(lag)).alias("_x"))
        for lag in lags
    ]))
    b = daily.select(
        F.col(key_col).alias("_k"), F.col(y_col).alias("_yl"), probes.alias("_p")
    ).select("_k", "_yl", F.col("_p.lag").alias("lag"), F.col("_p._x").alias("_x"))
    pairs = a.join(b, ["_k", "_x"])
    agg = pairs.groupBy("_k", "lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum("_y").alias("_sx"), F.sum("_yl").alias("_sy"),
        F.sum(F.col("_y") * F.col("_y")).alias("_sxx"),
        F.sum(F.col("_yl") * F.col("_yl")).alias("_syy"),
        F.sum(F.col("_y") * F.col("_yl")).alias("_sxy"),
    )
    n, sx, sy = F.col("n_pairs"), F.col("_sx"), F.col("_sy")
    num = (n * F.col("_sxy") - sx * sy).cast("double")
    vx = (n * F.col("_sxx") - sx * sx).cast("double")
    vy = (n * F.col("_syy") - sy * sy).cast("double")
    return agg.filter((vx > 0) & (vy > 0)).select(
        F.col("_k").alias(key_col),
        "lag",
        "n_pairs",
        F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6).alias("acf"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """As-of join (each left row ⟵ the latest right row with
    ``right.ts ≤ left.ts`` per key): the time-series primitive Spark lacks
    natively, built as union-tag + ``last(…, ignorenulls)`` window.

    Scale shape: ONE shuffle on ``key_col`` and a per-key sort — never the
    naive inequality join, whose range predicate degenerates to a per-key
    cross product (quadratic in events-per-key at 100 TB). Right rows must
    be unique per (key, ts); pre-aggregate if they aren't, or the picked
    row is partition-order-dependent.

    Returns the left frame's key/ts plus ``payload_cols`` (from left) and
    each right payload column as ``ref_<name>`` plus ``ref_ts``; rows with
    no preceding right row carry nulls (filter for inner semantics).
    """
    ref_payload = [c for c in right.columns if c not in (key_col, ts_col)]
    # Union with aligned schemas: left rows carry a null ref struct, ref
    # rows null left-payload columns.
    r_struct = F.struct(F.col(ts_col).alias("_ref_ts"), *ref_payload)
    r_tag = right.select(
        key_col, ts_col, F.lit(1).alias("_is_ref"), r_struct.alias("_rp")
    )
    l_tag = left.select(
        key_col, ts_col, F.lit(0).alias("_is_ref"),
        F.lit(None).cast(r_tag.schema["_rp"].dataType.simpleString()).alias("_rp"),
        *payload_cols,
    )
    r_full = r_tag.select(
        key_col, ts_col, "_is_ref", "_rp",
        *[F.lit(None).cast(left.schema[c].dataType.simpleString()).alias(c)
          for c in payload_cols],
    )
    u = l_tag.unionByName(r_full)
    # At equal ts the ref sorts FIRST (desc on the tag) so "≤" includes it.
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("_is_ref").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        u.withColumn("_ref", F.last("_rp", ignorenulls=True).over(w))
        .filter(F.col("_is_ref") == 0)
    )
    return out.select(
        key_col, ts_col, *payload_cols,
        F.col("_ref._ref_ts").alias("ref_ts"),
        *[F.col(f"_ref.{c}").alias(f"ref_{c}") for c in ref_payload],
    )


def dominant_period(
    daily: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    lags: list[int] = [7, 14, 30],
    min_pairs: int = 8,
) -> DataFrame:
    """Pick each key's strongest seasonal period: the lag with the highest
    autocorrelation among lags with ≥ ``min_pairs`` aligned pairs
    (deterministic tie-break: smaller lag wins). ≈ detect_seasonality's
    best-period selection (trend_detector.py:144-156)."""
    acfs = autocorr_at_lags(daily, key_col, x_col, y_col, lags).filter(
        F.col("n_pairs") >= min_pairs
    )
    w = Window.partitionBy(key_col).orderBy(F.desc("acf"), F.asc("lag"))
    return (
        acfs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(key_col, F.col("lag").alias("best_lag"), "n_pairs",
                F.col("acf").alias("best_acf"))
    )


def interval_overlap_stats(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
    order_col: str,
) -> DataFrame:
    """Per-key overlapping-interval detection: for each key's intervals
    ordered by (start, ``order_col``), flag adjacent pairs whose next start
    begins before the current end — double-booked sessions, overlapping
    effective-dated dimension rows, concurrent logons. A temporal-validity
    constraint the reference's per-row loops never check and SQL's UNIQUE
    can't express.

    Shape: ONE shuffle (the per-key sort window); everything else is lag
    arithmetic in the same stage. Start/end must be exact integers (epoch
    micros) so overlap durations are engine-portable. ``order_col`` breaks
    start-time ties deterministically. Adjacent-pair semantics (interval i
    vs i+1) — the standard streaming-compatible form; a fully-contained
    interval also overlaps its immediate successor's start, so no overlap
    escapes entirely.

    Returns (key, n_intervals, n_overlaps, total_overlap, max_overlap) for
    keys with at least one overlap.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(start_col).asc(), F.col(order_col).asc()
    )
    nxt = F.lead(start_col).over(w)
    ov = F.when(
        nxt.isNotNull() & (nxt < F.col(end_col)), F.col(end_col) - nxt
    ).otherwise(F.lit(0).cast("long"))
    # group on key_col UNRENAMED so the aggregation reuses the window's
    # hash partitioning (aliasing first costs a second exchange on the
    # same key); rename to the canonical "key" only in the final projection
    flagged = df.select(F.col(key_col), ov.alias("_ov"))
    return (
        flagged.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.when(F.col("_ov") > 0, 1).otherwise(0)).alias("n_overlaps"),
            F.sum("_ov").alias("total_overlap"),
            F.max("_ov").alias("max_overlap"),
        )
        .filter(F.col("n_overlaps") > 0)
        .withColumnRenamed(key_col, "key")
    )


def calendar_gaps(
    df: DataFrame,
    key_col: str,
    date_col: str,
) -> DataFrame:
    """Per-key calendar completeness: which days inside [min(day), max(day)]
    have no rows at all — the freshness/continuity check behind "this feed
    skipped a day" alerts (Deequ's Completeness is per-column; this is
    per-partition-over-time).

    Shape: one groupBy(key) collecting the bounded distinct-day set, then
    the expected calendar materializes IN-ROW with ``sequence(min, max)``
    and the gap set is an ``array_except`` — no calendar dimension table,
    no second shuffle, no explode. The per-key state is bounded by the
    calendar span (years → thousands of elements), never by row count, so
    the plan is identical at 10^12 rows.

    Returns (key, n_days_expected, n_days_present, n_missing, first_missing)
    for keys with at least one missing day.
    """
    days = df.select(
        F.col(key_col).alias("key"), F.col(date_col).cast("date").alias("_d")
    )
    agg = days.groupBy("key").agg(
        F.min("_d").alias("_mn"),
        F.max("_d").alias("_mx"),
        F.collect_set("_d").alias("_present"),
    )
    expected = F.sequence(F.col("_mn"), F.col("_mx"))
    missing = F.array_sort(F.array_except(expected, F.col("_present")))
    return (
        agg.select(
            "key",
            F.size(expected).alias("n_days_expected"),
            F.size("_present").alias("n_days_present"),
            F.size(missing).alias("n_missing"),
            # get() (0-based) is NULL-safe on empty arrays; element_at(·, 1)
            # throws under ANSI whenever the optimizer evaluates the
            # projection before the n_missing > 0 filter
            F.get(missing, 0).alias("first_missing"),
        )
        .filter(F.col("n_missing") > 0)
    )


def seasonal_residuals(events: DataFrame, ts_col: str = "ts",
                       key_col: str = "event_type",
                       min_periods: int = 3) -> DataFrame:
    """Seasonal-baseline anomaly scores: for each (key, date, hour)
    activity bucket, the deviation of its count from that (key,
    hour-of-day)'s cross-day baseline, in exact micro-z units —
    ``(key, day, hour, cnt, n_days, z_micro)``. The time_analyzer
    question "is 3 AM activity unusual FOR 3 AM?" — a global threshold
    would flag every quiet hour and miss a loud one.

    Exactness: hourly counts are integers, so the per-(key, hour)
    mean/variance derive from integer power sums, and the closing
    population z = (n·x − Σx)/sqrt(n·Σx² − (Σx)²) uses only
    correctly-rounded IEEE ops — ``z_micro = floor(z·1e6 + 0.5)`` is
    bit-identical cross-engine. Slots with fewer than ``min_periods``
    observed days or zero variance are dropped (a 1-day baseline isn't a
    baseline).

    Plan: two map-side-combined aggs (events → hourly counts → per-slot
    power sums) and ONE broadcast-sized join back (the profile is
    #keys × 24 rows) — the corpus shuffles once on the bucket key,
    never on the profile side. Reference analogue:
    ``time_analyzer.py:40-54`` per-hour activity baselining.
    """
    hourly = (
        events.groupBy(
            F.col(key_col).alias("key"),
            F.to_date(F.col(ts_col)).alias("day"),
            F.hour(F.col(ts_col)).alias("hour"),
        ).agg(F.count(F.lit(1)).alias("cnt"))
    )
    prof = hourly.groupBy("key", "hour").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cnt").alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sxx"),
    )
    j = hourly.join(F.broadcast(prof), ["key", "hour"])
    n = F.col("n_days")
    num = (n * F.col("cnt") - F.col("sx")).cast("double")
    var_n2 = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    z = num / F.sqrt(var_n2)
    return (
        j.filter((n >= int(min_periods))
                 & (n * F.col("sxx") > F.col("sx") * F.col("sx")))
        .select(
            "key", "day", "hour", "cnt", "n_days",
            F.floor(z * F.lit(1e6) + F.lit(0.5)).cast("long")
            .alias("z_micro"),
        )
    )


#: Integer EWMA kernel, λ = 1/4 truncated at K = 8 lags: weight of the
#: k-th previous day ∝ (3/4)^(k-1), scaled by 4^(K-1) so every weight is
#: an exact integer — the whole prediction stays in integer arithmetic
#: and the DuckDB oracle matches bit-for-bit (no float kernel, no sqrt).
EWMA_WEIGHTS = [3 ** (k - 1) * 4 ** (8 - k) for k in range(1, 9)]


def ewma_control(daily: DataFrame, group_col: str = "event_type",
                 day_col: str = "day", value_col: str = "cnt") -> DataFrame:
    """EWMA control chart over a per-group daily series — the streaming-SPC
    anomaly screen (Roberts 1959; NIST/SEMATECH 6.3.2.4) the reference
    approximates with its rolling-mean daily-count drift detector
    (``time_series_analyzer.py:132-138``, 7-day window): each day's count
    is compared to the exponentially-weighted mean of its trailing 8 days
    and flagged when the residual exceeds a 3σ Poisson band.

    Exactness contract: the kernel is the INTEGER vector ``EWMA_WEIGHTS``
    (λ = 1/4 scaled by 4⁷), the prediction is the integer division
    ``(Σ wᵢ·xᵢ · 10⁶) div Σ wᵢ`` in ppm, and the 3σ test is the integer
    comparison ``(x·den − num)² > 9·num·den`` — squared instead of a
    square root, with BOTH sides widened to 128-bit before the multiply
    (``decimal(38,0)`` here, HUGEINT in the DuckDB oracle) so the
    square of a full-scale residual cannot wrap an int64. The prediction's
    ``num · 10⁶`` is widened the same way before the multiply (it wraps
    an int64 once counts pass ~1.56·10⁸/day). The binding bound is now
    only that ``x·den`` and ``num`` fit a long: counts up to
    ~1.5·10¹⁴/day (den = Σw = 58 975).

    Shape at 100 TB: the raw stream folds to (group, day) counts by a
    map-side-combined aggregate BEFORE this function; here the only
    shuffle is the window partition on ``group`` over the tiny daily
    series (≤ days-of-history rows per group). Eight ``lag()`` reads over
    ONE window spec — one sort, no self-join per lag.

    First days of each series (no trailing history) emit NULL prediction
    and flag 0. Returns ``(group, day, cnt, pred_micro, flag)``.
    """
    w = Window.partitionBy(group_col).orderBy(day_col)
    x = F.col(value_col)
    num = sum(
        (F.coalesce(F.lag(x, k).over(w), F.lit(0)) * F.lit(wk)
         for k, wk in enumerate(EWMA_WEIGHTS, start=1)),
        F.lit(0),
    )
    den = sum(
        (F.when(F.lag(x, k).over(w).isNotNull(), F.lit(wk)).otherwise(F.lit(0))
         for k, wk in enumerate(EWMA_WEIGHTS, start=1)),
        F.lit(0),
    )
    mid = daily.select(
        group_col, day_col, x.cast("long").alias("cnt"),
        num.cast("long").alias("_num"),
        den.cast("long").alias("_den"),
    )
    # widen the squared comparison: |resid| reaches cnt·den ≈ cnt·5.9e4,
    # so resid² wraps an int64 once counts pass ~5·10⁴ — decimal(38,0)
    # holds long²; DuckDB mirrors with HUGEINT (both exact ≤ 1e38)
    resid = (F.col("cnt") * F.col("_den") - F.col("_num")) \
        .cast("decimal(38,0)")
    band = (F.lit(9).cast("decimal(38,0)")
            * F.col("_num") * F.col("_den"))
    return mid.select(
        group_col, day_col, "cnt",
        F.when(F.col("_den") > 0,
               F.expr("(CAST(_num AS DECIMAL(38,0)) * 1000000) div _den"))
        .cast("long")
        .alias("pred_micro"),
        F.when(
            (F.col("_den") > 0) & (resid * resid > band),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("int").alias("flag"),
    )


def cusum_control(daily: DataFrame, group_col: str = "event_type",
                  day_col: str = "day", value_col: str = "cnt",
                  h_mad: int = 5) -> DataFrame:
    """Two-sided CUSUM drift detector over a per-group daily series (Page
    1954) — the persistent-small-shift complement to ``ewma_control``'s
    level tracker and ``change_points``' spike z-score: a run of days all
    slightly above the series mean accumulates until it crosses the
    threshold, which a per-day band never notices.

    The textbook recursion ``C⁺_t = max(0, C⁺_{t−1} + dev_t)`` is not a
    window aggregate, but its closed form is: with ``S_t`` the prefix sum
    of deviations, ``C⁺_t = S_t − min(0, min_{i≤t} S_i)`` and
    ``C⁻_t = max(0, max_{i≤t} S_i) − S_t`` — one running sum plus a
    running min/max over the SAME ordered window, so the whole detector
    is two window passes per group, no recursion, no UDF.

    Exactness: deviations are mean-centered WITHOUT division —
    ``dev_t = n·x_t − Σx`` (everything scales by the group's day count n)
    — and the alarm ``C > h_mad · mean|dev|`` is compared as
    ``n·C > h_mad · Σ|dev|``. Pure longs end to end; the DuckDB oracle
    replays it bit-for-bit. Safe while ``n²·x`` fits a long (n = days of
    history, so ~10⁹ days · counts — never the constraint).

    Returns ``(group, day, cnt, cusum_pos, cusum_neg, flag)``; the cusum
    columns are in the n-scaled deviation unit.
    """
    x = F.col(value_col).cast("long")
    stats = Window.partitionBy(group_col)
    t = daily.select(
        group_col, day_col, x.alias("cnt"),
        (F.count(F.lit(1)).over(stats) * x
         - F.sum(x).over(stats)).alias("_dev"),
        F.count(F.lit(1)).over(stats).alias("_n"),
    ).withColumn("_a", F.sum(F.abs(F.col("_dev"))).over(stats))
    run = Window.partitionBy(group_col).orderBy(day_col) \
        .rowsBetween(Window.unboundedPreceding, 0)
    t = t.withColumn("_s", F.sum("_dev").over(run)) \
         .withColumn("_mn", F.least(F.lit(0), F.min("_s").over(run))) \
         .withColumn("_mx", F.greatest(F.lit(0), F.max("_s").over(run)))
    cpos = F.col("_s") - F.col("_mn")
    cneg = F.col("_mx") - F.col("_s")
    alarm = ((F.col("_n") * cpos > F.lit(h_mad) * F.col("_a"))
             | (F.col("_n") * cneg > F.lit(h_mad) * F.col("_a")))
    return t.select(
        group_col, day_col, "cnt",
        cpos.alias("cusum_pos"), cneg.alias("cusum_neg"),
        alarm.cast("int").alias("flag"),
    )

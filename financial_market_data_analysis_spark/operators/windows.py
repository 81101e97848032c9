"""W1-W8: the window-indicator library.

Re-expresses the reference's eight MariaDB SQL views
(create_database.py:76-190) as Spark window expressions, healing the
two-engine split the reference needed for Spark 2.4
(README.md:137-141).

Semantics preserved deliberately (SURVEY.md §7.4):

- Moving averages use ``period - 1 PRECEDING`` frames — exactly
  ``period`` rows (create_database.py:80-81).
- ATR and the stochastic oscillator hardcode ``14 PRECEDING`` —
  **15**-row frames (create_database.py:144-145, 161).
- Bollinger uses MySQL ``STD()`` = *population* stddev → ``stddev_pop``
  (create_database.py:126-131).
- Windows grow from row 1 — no warm-up NULLs.

Scale note: the reference's views are unpartitioned
``OVER (ORDER BY Timestamp)`` — a single-task sort at 100 TB. The W1-W8
suite (``indicator_suite``) takes ``partition_cols``; pass a symbol/day
column on a real cluster so each partition's window evaluates
independently. The default (no partitioning) reproduces reference
semantics for parity tests; the other operators here run one series.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.functions.core import with_sql

ROLLING_PERIOD = 20  # rolling corr/beta/median, Donchian, CMF: the MA20 frame
OSCILLATOR_PERIOD = 14  # RSI, Williams %R and ADX: the classic 14-bar frame
BETA_RANGE_MIN_PAIRS = 5  # W26's warm-up gate: (x, y) pairs in the RANGE frame
SLIDE_LENGTH_SECONDS = 600  # A5/T3 sliding window: 10-minute length ...
SLIDE_SECONDS = 300  # ... sliding every 5 minutes
SESSION_GAP = "30 minutes"  # T4 inactivity gap that closes a session


def trailing_window(order_cols: Sequence[str | Column], n_preceding: int) -> WindowSpec:
    """``ROWS BETWEEN n PRECEDING AND CURRENT ROW`` over an event-time
    order of one series."""
    return Window.partitionBy().orderBy(*order_cols).rowsBetween(-n_preceding, 0)


def ordered_window(order_cols: Sequence[str | Column]) -> WindowSpec:
    return Window.partitionBy().orderBy(*order_cols)


def _over(
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
    n_preceding: int | None = None,
) -> str:
    """SQL twin of ``trailing_window`` (``n_preceding`` given) and
    ``ordered_window`` (``n_preceding=None``) over column names."""
    part = f"PARTITION BY {', '.join(partition_cols)} " if partition_cols else ""
    frame = f" ROWS BETWEEN {n_preceding} PRECEDING AND CURRENT ROW" if n_preceding is not None else ""
    return f"OVER ({part}ORDER BY {', '.join(order_cols)}{frame})"


def moving_average_sql(
    value_col: str,
    periods: Sequence[int],
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
    *,
    prefix: str,
) -> dict[str, str]:
    """W1/W2/W3 — ``AVG(x) OVER (... ROWS period-1 PRECEDING)`` per period.

    Reference: create_database.py:76-118 (``vol_MA``, ``price_MA``,
    ``delta_MA`` views); periods from config.py:40-42.
    Column naming matches the views: ``{prefix}_MA{period}``.
    """
    return {
        f"{prefix}_MA{p}": f"avg({value_col}) {_over(order_cols, partition_cols, p - 1)}"
        for p in periods
    }


def bollinger_bands_sql(
    close_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> dict[str, str]:
    """W4 — Bollinger band *distances* (create_database.py:120-135) over
    a 20-row frame with k = 2.

    ``upper_BB_dist = (avg + k*std) - close``;
    ``lower_BB_dist = close - (avg - k*std)``.
    MySQL ``STD()`` is population stddev → ``stddev_pop``; that of a
    1-row frame is 0.0 in both MySQL and Spark.
    """
    w = _over(order_cols, partition_cols, 19)
    avg, std, c = f"avg({close_col}) {w}", f"stddev_pop({close_col}) {w}", close_col
    k = "2.0D"
    return {
        "upper_BB_dist": f"({avg} + {k} * {std}) - {c}",
        "lower_BB_dist": f"{c} - ({avg} - {k} * {std})",
    }


def stochastic_oscillator_sql(
    close_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> str:
    """W5 — ``(close - MIN(close)) / (MAX(close) - MIN(close))`` over a
    **15-row** frame (``14 PRECEDING`` hardcoded,
    create_database.py:137-148). Flat window → division by zero → NULL,
    matching MySQL."""
    w = _over(order_cols, partition_cols, 14)
    lo, hi = f"min({close_col}) {w}", f"max({close_col}) {w}"
    return f"try_divide({close_col} - {lo}, {hi} - {lo})"


def price_change_sql(
    close_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> str:
    """W6 — ``close - LAG(close, 1)`` (create_database.py:150-155).
    First row: LAG is NULL → NULL, matching MySQL."""
    return f"{close_col} - lag({close_col}, 1) {_over(order_cols, partition_cols)}"


def average_true_range_sql(
    high_col: str,
    low_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> str:
    """W7 — ``AVG(high - low)`` over a **15-row** frame
    (create_database.py:157-164)."""
    return f"avg({high_col} - {low_col}) {_over(order_cols, partition_cols, 14)}"


def forward_targets_sql(
    close_col: str,
    atr_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> dict[str, str]:
    """W8 — forward-looking binary targets (create_database.py:166-190).

    ``up{i} = CASE WHEN LEAD(close, lead_i) >= close + n_i * ATR THEN 1
    ELSE 0 END`` and symmetric ``down{i}``, with leads (8, 15) and
    factors (1.5, 3.0). NULL LEAD at the tail →
    condition false → 0, matching MySQL CASE semantics.
    """
    w = _over(order_cols, partition_cols)
    c = close_col
    cols: dict[str, str] = {}
    for i, (lead, n) in enumerate(zip((8, 15), (1.5, 3.0)), start=1):
        led, k = f"lead({c}, {lead}) {w}", f"{float(n)!r}D"
        cols[f"up{i}"] = f"CASE WHEN {led} >= {c} + {k} * {atr_col} THEN 1 ELSE 0 END"
        cols[f"down{i}"] = f"CASE WHEN {led} <= {c} - {k} * {atr_col} THEN 1 ELSE 0 END"
    return cols


def sliding_window_agg(df: DataFrame) -> DataFrame:
    """A5/T3 — sliding-window aggregation: the reference's abandoned
    ``groupBy(F.window(ts, len, slide)).avg("VIX")`` design
    (spark_consumer.py:129-149, disabled for the Spark 2.4 multi-agg
    limitation; works directly on Spark 3.5+).

    Identical code runs batch (tests/oracle) and streaming (with a
    watermark upstream). Windows over ``ts`` are
    ``SLIDE_LENGTH_SECONDS`` long and start every ``SLIDE_SECONDS``;
    each row lands in ``length/slide`` windows; the groupBy is
    partial-aggregatable, one shuffle on the window key. Output keys
    are epoch seconds (timezone-proof, cheap to hash).
    """
    w = F.window(
        F.col("ts"), f"{SLIDE_LENGTH_SECONDS} seconds", f"{SLIDE_SECONDS} seconds"
    )
    return (
        df.groupBy(w.alias("w"))
        .agg(
            F.avg("value").alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("window_start"),
            F.unix_timestamp(F.col("w.end")).cast("long").alias("window_end"),
            "avg_value",
            "n",
        )
    )


def session_windows(df: DataFrame) -> DataFrame:
    """T4 — session windows (absent in the reference; an engine
    extension): per-``user_id`` activity sessions over ``ts`` that close
    after ``SESSION_GAP`` of silence, via the built-in
    ``F.session_window`` (streaming-capable
    with a watermark upstream — state closes as the watermark passes
    each session's end).

    Scale shape: one partial-aggregatable shuffle on (key, session);
    the oracle twin is the classic gaps-and-islands SQL (LAG + running
    sum of gap breaks), proving the semantics match ANSI SQL exactly.
    Output keys are epoch seconds for cross-engine hashing.
    """
    w = F.session_window(F.col("ts"), SESSION_GAP)
    return (
        df.groupBy("user_id", w.alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.unix_timestamp("first_ts").alias("session_start"),
            F.unix_timestamp("last_ts").alias("session_last"),
            "n_events",
            "sum_value",
        )
    )


def rolling_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """W12 — trailing-window Pearson correlation between two aligned
    series (absent in the reference; the pairs-trading / lead-lag
    staple next to its single-series indicators). ``F.corr`` is a
    declarative aggregate over the same ROWS frame as the W1-W7
    suite, so the whole computation stays in one window pass over
    the reference-parity global order.

    Emits NULL until the frame holds ``ROLLING_PERIOD`` rows
    (partial-window correlations are statistically misleading and
    engines disagree on degenerate frames); callers filter on
    ``row_number >= ROLLING_PERIOD`` like the t9 warm-up trim.
    """
    period = ROLLING_PERIOD
    w = trailing_window(order_cols, period - 1)
    # gate on the count of complete (x, y) PAIRS in the frame — F.corr
    # silently skips null pairs, so a row-number gate would emit a
    # correlation over fewer than `period` pairs on gappy series (the
    # partial-window case this operator exists to trim; same defect
    # class as the W13/W14 r5 fix)
    pair_cnt = F.count(
        F.when(F.col(x_col).isNotNull() & F.col(y_col).isNotNull(), F.lit(1))
    ).over(w)
    c = F.corr(F.col(x_col), F.col(y_col)).over(w)
    return df.withColumn("corr", F.when(pair_cnt >= period, c))


def rolling_beta(
    df: DataFrame,
    y_col: str,
    x_col: str,
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """W25 — trailing-window OLS regression of ``y`` on ``x``: ``beta``
    = covar_pop(y,x)/var_pop(x) and ``alpha`` = mean(y) − beta·mean(x),
    the hedge-ratio / market-exposure companion of
    :func:`rolling_corr` (correlation grades co-movement; beta is the
    POSITION you take against it — the pairs-trading quantity the
    reference's single-series indicator views can't express). One
    window pass: all four aggregates (covar, var, two means) share the
    same ROWS frame, so Catalyst evaluates them in a single
    WindowExec over the reference-parity global order.

    Emits NULL until the frame holds ``ROLLING_PERIOD`` complete (x, y)
    pairs (the rolling_corr gate — aggregates silently skip null pairs, so a
    row-number gate would regress over fewer points on gappy series)
    and NULL on a flat-x frame (var_pop = 0: beta is undefined; the
    guard keeps ANSI division from ever seeing the zero)."""
    period = ROLLING_PERIOD
    w = trailing_window(order_cols, period - 1)
    y, x = F.col(y_col), F.col(x_col)
    pair_cnt = F.count(
        F.when(y.isNotNull() & x.isNotNull(), F.lit(1))
    ).over(w)
    cov = F.covar_pop(y, x).over(w)
    var = F.var_pop(x).over(w)
    ok = (pair_cnt >= period) & (var > 0)
    beta = F.when(ok, cov / var)
    alpha = F.when(ok, F.avg(y).over(w) - (cov / var) * F.avg(x).over(w))
    return df.withColumns({"beta": beta, "alpha": alpha})


def rolling_beta_range(
    df: DataFrame,
    y_col: str,
    x_col: str,
    order_col: str,
    span: int,
) -> DataFrame:
    """W26 — :func:`rolling_beta` on a time-RANGE frame: beta/alpha
    over all (x, y) pairs whose ``order_col`` (a numeric event-time
    key — epoch seconds or a bucket) lies within the trailing ``span``
    of the current row's, however many rows that is. This is the
    correct semantics for IRREGULAR series, where w25's ROWS frame
    silently changes meaning with density: 20 rows of a quiet series
    reach days back while 20 rows of a busy one cover minutes, so the
    "same" indicator measures different horizons (the w11 RANGE-frame
    precedent, applied to the two-series regression). A quiet period
    here means FEWER pairs in frame, not a longer look-back.

    One shared RANGE frame evaluates all four moment aggregates in a
    single WindowExec, exactly like the ROWS twin. Because the frame's
    pair count is data-dependent by design, the warm-up gate is a
    MINIMUM pair count (``BETA_RANGE_MIN_PAIRS``) rather than w25's
    exact-period gate; the flat-x guard (var_pop = 0 → NULL) is identical. The
    frame key must be numeric — engines agree exactly on integer
    range bounds, where interval/timestamp frames invite boundary
    drift.

    GATING CONTRACT (r14 ADVICE): the pair count tallies rows where
    BOTH ``y_col`` and ``x_col`` are non-null — the rows
    ``covar_pop``/``var_pop`` actually consume. A ``count(*)``-based
    oracle agrees only while no nulls reach the frame (w26 pre-filters
    them before its join); an oracle for a caller whose frames can
    contain nulls must count non-null PAIRS
    (``count(CASE WHEN y IS NOT NULL AND x IS NOT NULL THEN 1 END)``)
    or the gate diverges cross-engine."""
    w = Window.partitionBy().orderBy(order_col).rangeBetween(-span, 0)
    y, x = F.col(y_col), F.col(x_col)
    pair_cnt = F.count(
        F.when(y.isNotNull() & x.isNotNull(), F.lit(1))
    ).over(w)
    cov = F.covar_pop(y, x).over(w)
    var = F.var_pop(x).over(w)
    ok = (pair_cnt >= BETA_RANGE_MIN_PAIRS) & (var > 0)
    beta = F.when(ok, cov / var)
    alpha = F.when(ok, F.avg(y).over(w) - (cov / var) * F.avg(x).over(w))
    return df.withColumns({"beta": beta, "alpha": alpha})


def rolling_median(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """W13 — trailing-window exact median (absent in the reference,
    whose views are all mean-based — create_database.py:76-190; the
    median is the outlier-robust centre a tick stream with bad prints
    needs). ``F.median`` is a declarative aggregate over the same ROWS
    frame as W1-W7, so the pass stays JVM-side in the window exec.

    Emits NULL until the frame holds ``period`` (``ROLLING_PERIOD``)
    rows — engines agree on full-frame medians (even-count frames
    average the two middle values) but differ on how they treat warm-up
    frames, so the short-frame rows are trimmed exactly like
    ``rolling_corr``.

    Catalyst refuses ``median``/``percentile`` aggregates over a
    bounded window frame, so the frame is materialized with
    ``collect_list`` and the middle element(s) selected from the
    ``array_sort``-ed array — all JVM-side Column expressions, and the
    buffer is BOUNDED at ``period`` values per evaluation (unlike a
    whole-partition collect), so state per window slot stays
    O(period) exactly as the other W-frames do.

    Scale: the sort cost is period·log(period) per row — fine for indicator-sized periods; for
    period ≫ 10³ reach for a sketch (approx_percentile per bucket)
    instead.
    """
    period = ROLLING_PERIOD
    w = trailing_window(order_cols, period - 1)
    # gate on the NON-NULL count in the frame, not the row number:
    # collect_list drops nulls, so a row-count gate would misindex the
    # sorted array whenever the series has missing values and emit a
    # confidently wrong median (r5 review finding)
    cnt = F.count(F.col(value_col)).over(w)
    arr = F.array_sort(F.collect_list(F.col(value_col)).over(w))
    lo = arr[(period - 1) // 2]
    hi = arr[period // 2]
    m = (lo + hi) / F.lit(2.0)
    return df.withColumn("median", F.when(cnt >= period, m))


def rolling_ewma(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str | Column],
    period: int = 20,
    out_col: str = "ewma",
) -> DataFrame:
    """W14 — truncated exponentially-weighted moving average: the
    recency-weighted sibling of the reference's flat MAs (MACD's EMA
    building block, absent from its views). The classic EMA recursion
    ``y_t = αx_t + (1−α)y_{t−1}`` is inherently sequential; the
    distributed form used here truncates the weights to the trailing
    ``period`` rows and renormalizes —
    ``Σ (1−α)^k · x_{t−k} / Σ (1−α)^k`` for k = 0..period−1 with
    α = 2/(period+1) (pandas ``ewm(span=period, adjust=True)``
    semantics over a bounded window). The tail weight beyond the frame
    is (1−α)^period ≈ 0.13 at period 20 — truncation is what makes the
    operator frame-bounded and hence partitionable.

    Mechanics: the frame is materialized with ``collect_list`` (frame
    order = ORDER BY order, oldest first) and folded with an indexed
    ``transform`` + ``aggregate`` — all JVM Column expressions, O(period)
    per row. Warm-up rows (frame < period) are NULL like the other
    trimmed W-operators.
    """
    alpha = 2.0 / (period + 1)
    decay = 1.0 - alpha
    w = trailing_window(order_cols, period - 1)
    # gate on the NON-NULL count in the frame: collect_list drops
    # nulls, so a row-number gate would misalign the (period-1-i)
    # weight exponents against a shortened array and emit a wrong
    # non-null EWMA on gappy series (r5 review finding)
    cnt = F.count(F.col(value_col)).over(w)
    arr = F.collect_list(F.col(value_col).cast("double")).over(w)
    # weight (1-α)^(period-1-i): index 0 is the OLDEST row in the frame
    weighted = F.transform(
        arr, lambda x, i: x * F.pow(F.lit(decay), F.lit(period - 1) - i)
    )
    num = F.aggregate(weighted, F.lit(0.0), lambda acc, v: acc + v)
    den = float(sum(decay**k for k in range(period)))
    return df.withColumn(out_col, F.when(cnt >= period, num / F.lit(den)))


def rsi(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """W15 — Relative Strength Index (Cutler's simple-average form):
    ``100 − 100/(1 + avgGain/avgLoss)`` over the trailing ``period``
    (``OSCILLATOR_PERIOD``) deltas. The simple-MA variant is used
    instead of Wilder's recursive smoothing deliberately — recursion is
    unbounded-history (the same reason W14 truncates the EMA), while
    this form is a LAG plus two windowed averages: frame-bounded,
    partitionable, oracle-checkable. All-gain frames clamp to 100 (avgLoss = 0 —
    engines disagree on x/0, so the clamp is explicit); a completely
    FLAT frame (avgGain = avgLoss = 0, a dead series) is neutral 50,
    not maximal momentum (r5 advice — the bare avgLoss=0 clamp used
    to cover the 0/0 case too); warm-up rows (fewer than ``period``
    deltas) are NULL.
    """
    period = OSCILLATOR_PERIOD
    ow = ordered_window(order_cols)
    w = trailing_window(order_cols, period - 1)
    delta = F.col(value_col) - F.lag(value_col).over(ow)
    # gains/losses stay NULL when the delta is NULL (first row, or a
    # null value making either side of the difference null) — the
    # .otherwise(0.0) previously counted such rows as phantom
    # zero-gain/zero-loss bars (r5 review); the frame gate below then
    # requires `period` REAL deltas, so gappy frames emit NULL
    gain = F.when(delta > 0, delta).when(delta.isNotNull(), F.lit(0.0))
    loss = F.when(delta < 0, -delta).when(delta.isNotNull(), F.lit(0.0))
    d = df.withColumns({"__gain": gain, "__loss": loss})
    delta_cnt = F.count("__gain").over(w)
    avg_gain = F.avg("__gain").over(w)
    avg_loss = F.avg("__loss").over(w)
    val = (
        F.when((avg_gain == 0) & (avg_loss == 0), F.lit(50.0))
        .when(avg_loss == 0, F.lit(100.0))
        .otherwise(
            F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + avg_gain / avg_loss)
        )
    )
    return (
        d.withColumn("rsi", F.when(delta_cnt >= period, val))
        .drop("__gain", "__loss")
    )


def macd(df: DataFrame, value_col: str, order_cols: Sequence[str | Column]) -> DataFrame:
    """W17 — MACD(12, 26, 9) from composed truncated EWMAs (``rolling_ewma``):
    ``macd_line = EWMA_fast − EWMA_slow``, ``macd_signal`` = EWMA of
    the macd line, ``macd_hist`` = line − signal. The classic pairing
    the reference's flat-MA views build toward but never reach
    (create_database.py stops at MA20/Bollinger).

    Composition keeps every stage frame-bounded: the line exists once
    the slow frame is full, the signal once 9 line rows exist —
    total warm-up 26+9−1 rows. NOTE the row contract
    differs from W12-W14 (which keep every input row and emit NULL):
    this operator DROPS the first 25 rows — the filter is
    load-bearing, because the signal stage's frame must count line
    rows only. Callers annotating a bar table should join the result
    back on the order key if they need the warm-up rows. Three window
    passes over the SAME
    (partition, order) key — Catalyst collapses them into a single
    sort/Window pipeline per stage, no extra shuffles.
    """
    d = rolling_ewma(df, value_col, order_cols, 12, out_col="__ewma_fast")
    d = rolling_ewma(d, value_col, order_cols, 26, out_col="__ewma_slow")
    d = d.withColumn(
        "macd_line", F.col("__ewma_fast") - F.col("__ewma_slow")
    ).filter(F.col("macd_line").isNotNull())
    d = rolling_ewma(d, "macd_line", order_cols, 9, out_col="macd_signal")
    return (
        d.withColumn("macd_hist", F.col("macd_line") - F.col("macd_signal"))
        .drop("__ewma_fast", "__ewma_slow")
    )


def on_balance_volume(
    df: DataFrame,
    close_col: str,
    volume_col: str,
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """W16 — On-Balance Volume: running sum of volume signed by the
    bar-to-bar close direction (up bar adds, down bar subtracts, flat
    contributes zero; the first bar contributes zero — no prior
    close). An UNBOUNDED PRECEDING running frame over one series.
    """
    ow = ordered_window(order_cols)
    prev = F.lag(close_col).over(ow)
    # integer literals keep the branch TYPE-PRESERVING: a LongType
    # volume column yields a LongType running sum (exact integer
    # arithmetic — the fixed-point path w16 relies on), a double
    # volume yields the double sum (r5 review finding: a 0.0 literal
    # silently promoted long volumes to double, capping exactness at
    # 2^53 while claiming bit-exact accumulation)
    signed = (
        F.when(prev.isNull(), F.lit(0))
        .when(F.col(close_col) > prev, F.col(volume_col))
        .when(F.col(close_col) < prev, -F.col(volume_col))
        .otherwise(F.lit(0))
    )
    run = Window.partitionBy().orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("__signed_vol", signed).withColumn(
        "obv", F.sum("__signed_vol").over(run)
    ).drop("__signed_vol")


def adx(
    df: DataFrame,
    high_col: str,
    low_col: str,
    close_col: str,
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """W21 — Average Directional Index (trend-strength oscillator), the
    directional-movement sibling of W15's RSI: ``+DM/−DM`` from
    bar-to-bar high/low excursions, ``±DI = 100·avg(DM)/ATR``,
    ``DX = 100·|+DI−−DI|/(+DI+−DI)``, ``ADX = avg(DX)``. Like W15, the
    simple-average (Cutler-style) form replaces Wilder's recursive
    smoothing deliberately: recursion is unbounded-history, while this
    form is one LAG plus two stacked ``period``-row window passes —
    frame-bounded, partitionable, oracle-checkable (the same design
    trade documented on ``rsi`` and ``rolling_ewma``).

    Emits ``plus_di``/``minus_di``/``dx`` (non-NULL once ``period``
    real deltas fill the frame) and ``adx`` (non-NULL once ``period``
    DX rows fill the second frame — warm-up 2·period bars total). The
    true range and DM columns stay NULL on rows without a previous bar
    so the frame gates count REAL deltas only (the r5 gappy-series
    finding on ``rsi``); zero denominators are clamped explicitly
    (flat frame → DI 0; +DI+−DI = 0 → DX 0) because engines disagree
    on x/0. Both window passes share one (partition, order) key, so
    Catalyst evaluates them in a single sort pipeline — no extra
    shuffle for the second pass.
    """
    period = OSCILLATOR_PERIOD
    ow = ordered_window(order_cols)
    w = trailing_window(order_cols, period - 1)
    h, low, c = F.col(high_col), F.col(low_col), F.col(close_col)
    prev_c = F.lag(close_col).over(ow)
    up = h - F.lag(high_col).over(ow)
    dn = F.lag(low_col).over(ow) - low
    d = df.withColumns(
        {
            "__pdm": F.when(
                up.isNotNull() & dn.isNotNull(),
                F.when((up > dn) & (up > 0), up).otherwise(F.lit(0.0)),
            ).cast("double"),
            "__mdm": F.when(
                up.isNotNull() & dn.isNotNull(),
                F.when((dn > up) & (dn > 0), dn).otherwise(F.lit(0.0)),
            ).cast("double"),
            "__tr": F.when(
                prev_c.isNotNull(),
                F.greatest(h - low, F.abs(h - prev_c), F.abs(low - prev_c)),
            ).cast("double"),
        }
    )
    cnt = F.count("__tr").over(w)
    atr = F.avg("__tr").over(w)
    pdi = F.when(atr == 0, F.lit(0.0)).otherwise(
        F.lit(100.0) * F.avg("__pdm").over(w) / atr
    )
    mdi = F.when(atr == 0, F.lit(0.0)).otherwise(
        F.lit(100.0) * F.avg("__mdm").over(w) / atr
    )
    dx_raw = F.when(pdi + mdi == 0, F.lit(0.0)).otherwise(
        F.lit(100.0) * F.abs(pdi - mdi) / (pdi + mdi)
    )
    gate = cnt >= period
    d = d.withColumns(
        {
            "plus_di": F.when(gate, pdi),
            "minus_di": F.when(gate, mdi),
            "dx": F.when(gate, dx_raw),
        }
    ).drop("__pdm", "__mdm", "__tr")
    return d.withColumn(
        "adx", F.when(F.count("dx").over(w) >= period, F.avg("dx").over(w))
    )


def sliding_join_back(df: DataFrame) -> DataFrame:
    """A5/T3's second half — join the sliding-window aggregate BACK to
    the row stream, so every event carries the moving average of each
    window it falls in (the reference's abandoned leftOuter design,
    spark_consumer.py:144-149).

    Scale shape: instead of a range join (event.ts ∈ [start, end)),
    each event is exploded onto its ``ceil(length/slide)`` candidate
    window-start keys and equi-joined — hash-partitionable on the
    window key, no broadcast-nested-loop. A row-local membership
    filter (``start ≤ ts < start + length``) trims the candidates, so
    the semantics are exact even when ``slide`` does not divide
    ``length`` (with floor division an event near a bucket edge would
    silently lose its earliest window). Works identically on batch
    frames; in streaming, pair it with the foreachBatch-materialized
    aggregate (the same pattern as the T9 indicator materialization)
    since aggregate-then-join remains a restricted chain for live
    stream-stream topologies.
    """
    agg = sliding_window_agg(df)
    n = -(-SLIDE_LENGTH_SECONDS // SLIDE_SECONDS)  # ceil
    starts = F.array(
        *[
            F.expr(
                f"(unix_timestamp(ts) div {SLIDE_SECONDS}) * {SLIDE_SECONDS}"
                f" - {k * SLIDE_SECONDS}"
            )
            for k in range(n)
        ]
    )
    t = F.unix_timestamp("ts")
    ev = df.withColumn("window_start", F.explode(starts)).filter(
        (t >= F.col("window_start"))
        & (t < F.col("window_start") + F.lit(SLIDE_LENGTH_SECONDS))
    )
    return ev.join(agg, "window_start")


def indicator_suite_sql(
    order_cols: Sequence[str],
    delta_col: str | None = None,
    partition_cols: Sequence[str] = (),
) -> list[dict[str, str]]:
    """The full W1-W8 view stack as two projection stages: W1-W7, then
    W8, whose targets read W7's ``ATR``. Every window shares one
    partition/order spec, so Catalyst evaluates them over one sort.

    ``delta_col`` (the book's order-flow delta, F4) enables W3 — the
    ``delta_MA`` view (create_database.py:106-118, period 12 from
    config.py:42) — when the frame carries that column.
    """
    o, p = order_cols, partition_cols
    w1_w7 = {
        **moving_average_sql("volume", (6, 20), o, p, prefix="vol"),
        **moving_average_sql("close", (20,), o, p, prefix="price"),
        **(moving_average_sql(delta_col, (12,), o, p, prefix="delta") if delta_col else {}),
        **bollinger_bands_sql("close", o, partition_cols=p),
        "stoch": stochastic_oscillator_sql("close", o, partition_cols=p),
        "price_change": price_change_sql("close", o, partition_cols=p),
        "ATR": average_true_range_sql("high", "low", o, partition_cols=p),
    }
    return [w1_w7, forward_targets_sql("close", "ATR", o, partition_cols=p)]


def indicator_suite(
    df: DataFrame,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """The full W1-W8 view stack applied in one pass — the engine's
    replacement for the reference's ``join_statement`` assembly
    (create_database.py:240-258): ``indicator_suite_sql``'s stages in
    turn."""
    for stage in indicator_suite_sql(order_cols, partition_cols=partition_cols):
        df = with_sql(df, stage)
    return df


def donchian_channel(
    df: DataFrame,
    high_col: str,
    low_col: str,
    close_col: str,
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """W18 — Donchian channel: trailing ``ROLLING_PERIOD``-bar highest high /
    lowest low, their midline, and a breakout flag against the PRIOR
    bar's channel (the turtle-trading entry signal). The range-extreme
    sibling of W4's deviation bands, absent from the reference's view
    set (create_database.py:76-190 has no rolling extrema view).

    ``max``/``min`` over the same ROWS frame as W1-W7 — declarative
    aggregates, whole-stage-codegen'd in the window exec, O(1) running
    state per frame slot. Warm-up rows (frame < period) are NULL like
    every trimmed W-operator; the breakout flag additionally needs the
    PREVIOUS row's full channel (LAG of the frame max), so it starts
    one bar later.
    """
    period = ROLLING_PERIOD
    w = trailing_window(order_cols, period - 1)
    wo = ordered_window(order_cols)
    cnt = F.count(F.col(close_col)).over(w)
    upper = F.when(cnt >= period, F.max(F.col(high_col)).over(w))
    lower = F.when(cnt >= period, F.min(F.col(low_col)).over(w))
    df = df.withColumns(
        {
            "donchian_upper": upper,
            "donchian_lower": lower,
            "donchian_mid": (upper + lower) / F.lit(2.0),
        }
    )
    prev_u = F.lag("donchian_upper").over(wo)
    prev_l = F.lag("donchian_lower").over(wo)
    return df.withColumn(
        "donchian_break",
        F.when(
            prev_u.isNotNull(),
            F.when(F.col(close_col) > prev_u, F.lit(1))
            .when(F.col(close_col) < prev_l, F.lit(-1))
            .otherwise(F.lit(0)),
        ),
    )


def williams_r(
    df: DataFrame,
    high_col: str,
    low_col: str,
    close_col: str,
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """W23 — Williams %R: (highest high − close) / (highest high −
    lowest low) × −100 over a trailing ``OSCILLATOR_PERIOD`` frame — the
    inverted-scale sibling of W5's stochastic %K (same frame extrema,
    measured from the top of the range and scaled to [−100, 0]).
    Flat frames (max == min) yield NULL via ``try_divide``, matching
    W5's degenerate-window convention; warm-up rows are NULL."""
    period = OSCILLATOR_PERIOD
    w = trailing_window(order_cols, period - 1)
    hh = F.max(F.col(high_col)).over(w)
    ll = F.min(F.col(low_col)).over(w)
    cnt = F.count(F.col(close_col)).over(w)
    return df.withColumn(
        "williams_r",
        F.when(
            cnt >= period,
            F.try_divide(hh - F.col(close_col), hh - ll) * F.lit(-100.0),
        ),
    )


def chaikin_money_flow(
    df: DataFrame,
    high_col: str,
    low_col: str,
    close_col: str,
    vol_col: str,
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """W22 — Chaikin Money Flow: the volume-weighted accumulation/
    distribution oscillator — multiplier ((close−low)−(high−close))/
    (high−low) per bar, CMF = Σ(multiplier·volume) / Σ(volume) over a
    trailing ``ROLLING_PERIOD`` frame. The volume-flow sibling of W16's OBV
    (which only signs volume by close direction); absent from the
    reference's view set (create_database.py:76-190 ends at stochastic
    /ATR). Flat bars (high == low) contribute zero flow (``try_divide``
    NULL coalesced), the standard convention. Same declarative ROWS
    frame as W1-W7 — two windowed sums over one sort; warm-up rows (frame < period) are NULL."""
    period = ROLLING_PERIOD
    w = trailing_window(order_cols, period - 1)
    h, l, c = F.col(high_col), F.col(low_col), F.col(close_col)
    mfm = F.try_divide((c - l) - (h - c), h - l)
    mfv = F.coalesce(mfm, F.lit(0.0)) * F.col(vol_col)
    cnt = F.count(c).over(w)
    return df.withColumn(
        "cmf",
        F.when(
            cnt >= period,
            F.try_divide(F.sum(mfv).over(w), F.sum(F.col(vol_col)).over(w)),
        ),
    )


def ichimoku(
    df: DataFrame,
    high_col: str,
    low_col: str,
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """W20 — Ichimoku(9, 26, 52) overlay AS VISIBLE AT EACH BAR:
    tenkan-sen and kijun-sen are (frame-max(high)+frame-min(low))/2
    over their 9- and 26-bar trailing frames, the senkou-B midline
    spans 52 bars, and the two senkou (cloud) spans are the values
    COMPUTED 26 bars ago (the chart's forward
    displacement, expressed causally as a LAG so every output row
    contains exactly what a trader sees at that bar — no
    future-looking column). Completes the overlay family next to W4
    (deviation), W18 (range), W19 (EWMA+ATR).

    All midlines are max/min selects averaged — two raw doubles and a
    halving, deterministic to the bit; warm-up rows where any frame or
    displaced value is incomplete are NULL (frame-count gated like
    every trimmed W-operator). Partitionable per symbol."""
    wo = ordered_window(order_cols)

    def mid(period: int) -> Column:
        w = trailing_window(order_cols, period - 1)
        cnt = F.count(F.col(high_col)).over(w)
        return F.when(
            cnt >= period,
            (F.max(F.col(high_col)).over(w) + F.min(F.col(low_col)).over(w))
            / F.lit(2.0),
        )

    df = df.withColumns(
        {
            "tenkan_sen": mid(9),
            "kijun_sen": mid(26),
            "__senkou_b_now": mid(52),
        }
    )
    span_a_now = (F.col("tenkan_sen") + F.col("kijun_sen")) / F.lit(2.0)
    return (
        df.withColumn("senkou_a", F.lag(span_a_now, 26).over(wo))
        .withColumn("senkou_b", F.lag("__senkou_b_now", 26).over(wo))
        .drop("__senkou_b_now")
    )


# max buckets per exploded spine array in gap_fill_locf: each chunk row
# carries at most this many synthetic buckets, so per-row memory is
# bounded regardless of how sparse/long a key's observed range is. The
# chunk-INDEX array is itself tiny (range/8192 elements).
_SPINE_CHUNK = 8192


def gap_fill_locf(
    bars: DataFrame,
    bucket_col: str,
    step: int,
    locf_cols: Sequence[str],
    zero_cols: Sequence[str],
) -> DataFrame:
    """Regularize a bar series onto its full bucket spine (the
    operation the reference's consumer implicitly needs and never
    does: AlphaVantage bars arrive with HOLES for no-trade intervals —
    getMarketData.py:139-248 — and every trailing-window indicator
    silently computes over a variable real-time span when rows are
    missing). Emits one row per ``step``-spaced bucket between the
    series' min and max observed bucket, with two explicit fill
    policies: ``locf_cols`` carry the last observation forward
    (prices — the market convention) and ``zero_cols`` fill 0 (volume:
    no trades IS zero volume). ``is_gap`` (0/1) marks synthesized
    rows, so downstream consumers can weight or drop them.

    Scale shape: the spine is one aggregate exploded
    through TWO bounded ``sequence`` levels — chunk indices first, then
    at most ``_SPINE_CHUNK`` buckets per chunk — so a sparse multi-year
    key can never materialize its whole range as one in-memory array
    (a year at step=300 is ~105k buckets; unchunked, a single row
    would hold it all). No driver-side range generation, no cross join
    against a calendar table; the join back is keyed on the bucket;
    LOCF is one ``last(ignorenulls)`` pass over the event-time
    window."""
    lo_hi = bars.groupBy().agg(
        F.min(bucket_col).alias("__lo"), F.max(bucket_col).alias("__hi")
    )
    chunk_span = F.lit(step * _SPINE_CHUNK).cast("long")
    chunks = lo_hi.select(
        "__lo",
        "__hi",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.floor((F.col("__hi") - F.col("__lo")) / chunk_span).cast("long"),
            )
        ).alias("__chunk"),
    )
    chunk_lo = F.col("__lo") + F.col("__chunk") * chunk_span
    spine = chunks.select(
        F.explode(
            F.sequence(
                chunk_lo,
                F.least(F.col("__hi"), chunk_lo + chunk_span - F.lit(step)),
                F.lit(step),
            )
        ).alias(bucket_col),
    )
    marked = bars.withColumn("__present", F.lit(1))
    joined = spine.join(
        marked, [bucket_col], "left"
    ).withColumn(
        "is_gap",
        F.when(F.col("__present").isNull(), F.lit(1)).otherwise(F.lit(0)),
    )
    w = (
        Window.partitionBy()
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fills = {c: F.last(F.col(c), ignorenulls=True).over(w) for c in locf_cols}
    fills.update({c: F.coalesce(F.col(c), F.lit(0.0)) for c in zero_cols})
    return joined.withColumns(fills).drop("__present")

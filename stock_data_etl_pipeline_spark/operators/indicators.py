"""Time-series / stock-indicator operators over the event stream.

The reference ingests per-ticker time series (services/api/services/
stock_ingestion_service.py; the TTM-substitution transform in
services/workers/tasks/). This module supplies the downstream analytics
a stock pipeline runs on such series, re-expressed as Spark window
plans over the `events` table (`event_type` plays the symbol,
`value` the price):

- OHLC bar resampling (candlesticks) — the canonical downsample
- Bollinger bands (rolling mean ± 2σ, breakout flags)
- RSI (Wilder-style relative-strength, simple-average variant)
- truncated EWMA trend (exponential weights over a bounded lookback)
- LOCF gap-fill over a dense hourly grid (forward-fill)
- rolling inter-series correlation (pairs analysis)
- max drawdown (running-peak relative loss)

Scale notes (100 TB): every plan partitions by symbol and shuffles at
most once onto (symbol) or (symbol, bar) keys; window frames are
row-bounded so state per partition is O(lookback); the dense grid is
|symbols| x |hours| — independent of event count. The truncated EWMA
family folds a bounded rowsBetween member array (O(lookback)/bar on
the one symbol exchange — the round-14 window form of the former
rank-banded self-join) instead of an unbounded running recurrence so
it stays expressible as a pure window plan — no Python in any hot
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .pinned import pin

# bars-per-window constants shared by the plans and their SQL oracles
BOLL_N = 20
RSI_N = 14
EWMA_DECAY = 0.8  # weight ratio between consecutive bars
EWMA_LOOKBACK = 40  # 0.8^40 ~ 1.3e-4: truncation error below round(…, 6)
CORR_N = 24


def hourly_bars(events: DataFrame) -> DataFrame:
    """Resample raw ticks into hourly OHLC bars per symbol.

    open/close are tie-broken deterministically on (ts, event_id) via
    row_number — `min_by`/`arg_min` on a struct key is not portable to
    every engine, and the window + conditional-agg form costs the same
    single shuffle: the window partitions by (symbol, bar) and the
    groupBy reuses that exact partitioning, so Catalyst plans ONE
    exchange for the whole resample.
    """
    e = events.select(
        "event_type", "ts", "event_id", "value",
        F.date_trunc("hour", F.col("ts")).alias("hr"))
    w_a = Window.partitionBy("event_type", "hr").orderBy("ts", "event_id")
    w_d = Window.partitionBy("event_type", "hr").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    r = (e.withColumn("rn_a", F.row_number().over(w_a))
          .withColumn("rn_d", F.row_number().over(w_d)))
    return (r.groupBy("event_type", "hr")
            .agg(F.max(F.when(F.col("rn_a") == 1, F.col("value")))
                 .alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max(F.when(F.col("rn_d") == 1, F.col("value")))
                 .alias("close"),
                 F.count(F.lit(1)).alias("volume"),
                 # total, not average: 2-dp ticks keep the sum on the
                 # 0.01 grid, so round(…, 2) is far from any rounding
                 # tie. round(avg, 6) was a knife-edge — sum/2^k counts
                 # (32 ticks/hour at sf0.1) land EXACTLY on x.xxxxxx5
                 # and Spark/DuckDB break the tie differently.
                 F.round(F.sum("value"), 2).alias("total_value")))


def _series_window(n: int) -> Window:
    return (Window.partitionBy("event_type").orderBy("hr")
            .rowsBetween(-(n - 1), 0))


def _trailing_vals(val_col: str, n: int) -> F.Column:
    """Ascending array of the trailing ``n`` values of ``val_col`` per
    (symbol, hr) row — the row's own value LAST. The window-native
    bounded-history kernel: one frame aggregate on the (event_type)
    partitioning every indicator already shuffles onto, so a chain of
    truncated-EWMA / mean-deviation stages costs ONE exchange total
    where the former ``banded_rank_join`` form paid a join (2 exchanges
    + an explode) plus a groupBy per stage (guide §2.4: remove shuffles
    outright). Per-row work is unchanged at O(n); partition memory is
    the window buffer both forms already needed upstream.

    NULL inputs would be DROPPED from the array (collect_list skips
    them) — every caller feeds a provably non-null column, matching the
    former join's prev-side semantics."""
    return F.collect_list(val_col).over(_series_window(n))


def _ewma_fold(xs: F.Column, decay: float) -> F.Column:
    """Truncated EWMA over an ascending member array: with m = |xs|,
    Σ decay^(m-1-i)·xs[i] / Σ decay^(m-1-i) — the identical weighted
    sum the banded-join form aggregated (weight decay^(rn_cur−rn_prev)),
    folded left-to-right with JVM Math.pow weights. UNROUNDED: each
    caller applies its own canonical 6-dp round."""
    m = F.size(xs)
    num = F.aggregate(
        F.transform(xs, lambda x, i: x * F.pow(F.lit(decay), m - i - 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    den = F.aggregate(
        F.transform(xs, lambda x, i: F.pow(F.lit(decay), m - i - 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    return num / den


def bollinger(bars: DataFrame, n: int = BOLL_N) -> DataFrame:
    """Rolling mean ± 2·stddev bands with breakout flags.

    The flags compare against the ROUNDED band so the boolean is a pure
    function of the emitted (hash-checked) band values — an unrounded
    comparison could flip on a last-ulp difference between engines.
    """
    w = _series_window(n)
    ma = F.avg("close").over(w)
    sd = F.stddev_samp("close").over(w)
    upper = F.round(ma + 2 * sd, 6)
    lower = F.round(ma - 2 * sd, 6)
    return (bars.select("event_type", "hr", "close",
                        F.round(ma, 6).alias("ma"),
                        upper.alias("upper_band"),
                        lower.alias("lower_band"))
            .withColumn("breakout_up", F.col("close") > F.col("upper_band"))
            .withColumn("breakout_down", F.col("close") < F.col("lower_band")))


def rsi(bars: DataFrame, n: int = RSI_N) -> DataFrame:
    """Relative Strength Index, simple-moving-average variant.

    RSI = 100 − 100/(1 + avg_gain/avg_loss) over the last ``n`` bars;
    all-gain windows pin to 100 (exact: the loss terms are exactly 0).
    The first bar of each symbol has no delta and yields NULL.
    """
    w_lag = Window.partitionBy("event_type").orderBy("hr")
    w = _series_window(n)
    delta = F.col("close") - F.lag("close").over(w_lag)
    # greatest() drops NULL operands (both in Spark and ANSI engines),
    # which would turn the first bar's undefined delta into gain=loss=0
    # and pin its RSI to 100 — gate on the delta instead so the first
    # bar stays NULL
    with_delta = bars.select(
        "event_type", "hr", "close",
        F.when(delta.isNotNull(),
               F.greatest(delta, F.lit(0.0))).alias("gain"),
        F.when(delta.isNotNull(),
               F.greatest(-delta, F.lit(0.0))).alias("loss"))
    ag = F.avg("gain").over(w)
    al = F.avg("loss").over(w)
    return with_delta.select(
        "event_type", "hr", "close",
        F.round(F.when(al == 0, F.lit(100.0))
                .otherwise(100.0 - 100.0 / (1.0 + ag / al)), 6).alias("rsi"))


def ewma_trend(bars: DataFrame, decay: float = EWMA_DECAY,
               lookback: int = EWMA_LOOKBACK) -> DataFrame:
    """Truncated exponentially-weighted moving average of close.

    ewma_t = Σ_{i=0..L-1} decay^i · close_{t-i} / Σ decay^i, via a
    bounded window frame (``_trailing_vals`` + ``_ewma_fold``): one
    sliding rowsBetween(−(L−1), 0) aggregate on the (symbol)
    partitioning — O(L) work per bar, one exchange, no self-join.
    (Round-14 optimization: the former ``banded_rank_join`` form paid
    the same O(L)/bar arithmetic but through an explode + equi-join +
    groupBy — 3 exchanges and a 2× row amplification per stage; the
    window form shuffles the bars exactly once. Values are identical:
    the same weighted terms, summed per frame.) The recurrence form
    (ewma = α·x + (1−α)·prev) needs an unbounded running state that
    neither SQL window frames nor Catalyst express; truncating at
    decay^L < 1.3e-4 keeps the result identical to 6 dp.
    """
    return (bars
            .select("event_type", "hr", "close")
            .withColumn("_xs", _trailing_vals("close", lookback))
            .select("event_type", "hr", "close",
                    F.round(_ewma_fold(F.col("_xs"), decay), 6)
                    .alias("ewma")))


def locf_fill(bars: DataFrame) -> DataFrame:
    """Forward-fill hourly closes over a dense (symbol × hour) grid.

    The grid spans the GLOBAL [min, max] bar range so every symbol
    shares one timeline; `gap` marks synthesized rows. The bounds are
    a 1-row aggregate broadcast into the grid generator — the grid is
    |symbols| × |hours| rows regardless of event count, and the fill
    is one running `last(ignorenulls)` window per symbol.
    """
    bounds = bars.agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    symbols = bars.select("event_type").distinct()
    grid = (symbols.crossJoin(F.broadcast(bounds))
            .select("event_type",
                    F.explode(F.sequence(
                        F.col("mn"), F.col("mx"),
                        F.expr("interval 1 hour"))).alias("hr")))
    joined = grid.join(bars.select("event_type", "hr", "close"),
                       ["event_type", "hr"], "left")
    w = (Window.partitionBy("event_type").orderBy("hr")
         .rowsBetween(Window.unboundedPreceding, 0))
    return joined.select(
        "event_type", "hr",
        F.last("close", ignorenulls=True).over(w).alias("close_filled"),
        F.col("close").isNull().alias("gap"))


def rolling_corr(bars: DataFrame, sym_x: str, sym_y: str,
                 n: int = CORR_N) -> DataFrame:
    """Rolling Pearson correlation between two symbols' hourly closes.

    Computed from explicit component sums (n, Σx, Σy, Σxy, Σx², Σy²)
    rather than an engine-native corr() so the arithmetic — and hence
    the 6-dp rounding — is identical on any engine running the same
    formula. Inner join on the hour: only co-observed bars correlate.
    """
    x = (bars.filter(F.col("event_type") == sym_x)
         .select("hr", F.col("close").alias("x")))
    y = (bars.filter(F.col("event_type") == sym_y)
         .select("hr", F.col("close").alias("y")))
    xy = x.join(y, "hr")
    w = Window.orderBy("hr").rowsBetween(-(n - 1), 0)
    cnt = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sx2 = F.sum(F.col("x") * F.col("x")).over(w)
    sy2 = F.sum(F.col("y") * F.col("y")).over(w)
    num = cnt * sxy - sx * sy
    # guard on the variance PRODUCT, not sqrt(product): a zero-variance
    # window can make either factor a negative ulp, and sqrt(negative)
    # is NaN in Spark (which compares > 0 as TRUE — NaN sorts high) but
    # a hard OutOfRangeException in DuckDB; comparing the product keeps
    # both engines on the same NULL
    prod = (cnt * sx2 - sx * sx) * (cnt * sy2 - sy * sy)
    return xy.select(
        "hr", "x", "y",
        F.round(F.when(prod > 0, num / F.sqrt(prod)), 6)
        .alias("corr_24h"))


def max_drawdown(bars: DataFrame) -> DataFrame:
    """Max drawdown per symbol: min over t of close_t/peak_t − 1.

    Running peak is an exact (no float summation) window max; the
    division's operands are identical on any engine, so the quotient
    is bit-identical. One shuffle onto symbol.
    """
    w = (Window.partitionBy("event_type").orderBy("hr")
         .rowsBetween(Window.unboundedPreceding, 0))
    peak = F.max("close").over(w)
    dd = bars.select("event_type",
                     ((F.col("close") - peak) / peak).alias("dd"))
    return (dd.groupBy("event_type")
            .agg(F.round(F.min("dd"), 6).alias("max_drawdown"),
                 F.count(F.lit(1)).alias("n_bars"))
            .orderBy("event_type"))


ATR_N = 14


def atr(bars: DataFrame, n: int = ATR_N) -> DataFrame:
    """Average True Range: the volatility indicator that uses the full
    candle. true_range = max(high−low, |high−prev_close|,
    |low−prev_close|); ATR = rolling mean over ``n`` bars. The first
    bar of a symbol has no prev_close → NULL true range (excluded from
    the window average, which both Spark and ANSI engines do for NULL).
    max/abs/subtraction are float-exact, so only the final mean needs
    rounding."""
    w_lag = Window.partitionBy("event_type").orderBy("hr")
    prev_close = F.lag("close").over(w_lag)
    tr = F.when(prev_close.isNotNull(), F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - prev_close),
        F.abs(F.col("low") - prev_close)))
    w = _series_window(n)
    with_tr = bars.select("event_type", "hr", "high", "low", "close",
                          tr.alias("true_range"))
    return with_tr.select(
        "event_type", "hr", "close",
        F.round(F.col("true_range"), 6).alias("true_range"),
        F.round(F.avg("true_range").over(w), 6).alias("atr"))


def cov_matrix(bars: DataFrame) -> DataFrame:
    """Pairwise covariance of hourly closes across all symbols — the
    portfolio-risk building block. Self-join on the bar timestamp
    (co-observed hours only), then one grouped aggregate per ordered
    pair using the explicit E[xy]−E[x]E[y] form so the arithmetic is
    engine-portable. |symbols|² pairs × |hours| joined rows — linear in
    bars for a fixed symbol universe; at scale the join key is the
    hour, already the bars partition key."""
    a = bars.select(F.col("event_type").alias("sym_a"), "hr",
                    F.col("close").alias("xa"))
    b = bars.select(F.col("event_type").alias("sym_b"), "hr",
                    F.col("close").alias("xb"))
    j = a.join(b, "hr")
    return (j.groupBy("sym_a", "sym_b")
            .agg(F.count(F.lit(1)).alias("n_obs"),
                 F.round((F.sum(F.col("xa") * F.col("xb"))
                          - F.sum("xa") * F.sum("xb")
                          / F.count(F.lit(1)))
                         / (F.count(F.lit(1)) - 1), 6).alias("cov"))
            .orderBy("sym_a", "sym_b"))


LAG_K = 5


def lag_features(bars: DataFrame, k: int = LAG_K) -> DataFrame:
    """Supervised-learning feature matrix from the bar series: per
    (symbol, bar), the last ``k`` closes as lag columns plus rolling
    mean/stddev and the NEXT bar's close as the label — the standard
    train-matrix extraction for per-symbol forecasting, one window
    partitioning for every column. Rows without a full lag history or
    a label (series edges) are dropped so the matrix is dense."""
    w = Window.partitionBy("event_type").orderBy("hr")
    wk = _series_window(k)
    cols = [F.lag("close", i).over(w).alias(f"lag_{i}")
            for i in range(1, k + 1)]
    out = bars.select(
        "event_type", "hr", "close", *cols,
        F.round(F.avg("close").over(wk), 6).alias(f"mean_{k}"),
        F.round(F.stddev_samp("close").over(wk), 6).alias(f"std_{k}"),
        F.lead("close").over(w).alias("label_next_close"))
    return out.filter(F.col(f"lag_{k}").isNotNull()
                      & F.col("label_next_close").isNotNull())


def momentum_backtest(bars: DataFrame, fast: int = 5,
                      slow: int = 20) -> DataFrame:
    """Toy moving-average-crossover backtest per symbol.

    signal_t = sign(ma_fast − ma_slow); the position HELD during bar
    t+1 is signal_t (entered on the next bar — no look-ahead);
    bar_return_{t+1} = close_{t+1}/close_t − 1;
    pnl per symbol = Σ position·bar_return, with trade count and hit
    rate. All windows share the per-symbol partitioning — the whole
    backtest is two window passes and one aggregate, no Python loop;
    at scale symbols parallelize embarrassingly."""
    w = Window.partitionBy("event_type").orderBy("hr")
    ma_f = F.avg("close").over(_series_window(fast))
    ma_s = F.avg("close").over(_series_window(slow))
    sig = bars.select(
        "event_type", "hr", "close",
        F.signum(F.round(ma_f - ma_s, 6)).alias("signal"))
    pos = sig.select(
        "event_type", "hr", "close",
        F.lag("signal").over(w).alias("position"),
        (F.col("close") / F.lag("close").over(w) - 1.0).alias("bar_ret"))
    traded = pos.filter(F.col("position").isNotNull()
                        & F.col("bar_ret").isNotNull())
    won = (F.col("position") * F.col("bar_ret") > 0).cast("long")
    active = (F.col("position") != 0).cast("long")
    return (traded.groupBy("event_type")
            .agg(F.round(F.sum(F.col("position") * F.col("bar_ret")), 6)
                 .alias("total_pnl"),
                 F.sum(active).alias("bars_in_market"),
                 F.sum(won).alias("winning_bars"),
                 F.count(F.lit(1)).alias("n_bars"))
            .orderBy("event_type"))


def rollup_bars(partial_bars: DataFrame, granularity: str) -> DataFrame:
    """Roll partial bars up to a coarser granularity (hour -> day ->
    week...) WITHOUT touching ticks: re-truncate the bar timestamp and
    re-combine — the OHLC combine keys make bars a proper monoid, so
    hierarchical rollups fold partials exactly like micro-batches do
    (operators/incremental.combine_ohlc_partials). At 100 TB the daily
    table derives from the hourly table (|bars| rows), never from the
    tick history."""
    from .incremental import combine_ohlc_partials
    return combine_ohlc_partials(
        partial_bars.withColumn(
            "hr", F.date_trunc(granularity, F.col("hr"))))


ANNUALIZE_BARS = 8760  # hourly bars -> periods per year
RET_SCALE = 1_000_000  # micro-log-returns: fixed-point unit for exact sums
PX_SCALE = 10_000  # price/spread fixed-point unit (1e-4 grid)


def beta_alpha(bars: DataFrame) -> DataFrame:
    """CAPM-style risk profile per symbol against the equal-weight
    market: beta/alpha from an OLS of the symbol's hourly log-returns on
    the cross-sectional mean return, plus annualized volatility and
    Sharpe ratio — the portfolio-construction companion to cov_matrix.

    Determinism: float sums over a shuffled relation are reduced in
    nondeterministic partition order, so a 6-dp rounding of a raw
    double aggregate can flip between runs (observed once at sf0.01).
    Instead every return is quantized to an integer number of
    micro-log-returns and ALL regression moments (n, Σr, Σm, Σrm, Σm²,
    Σr²) are exact 64-bit integer sums — order-independent, identical
    on any engine — and only the final scalar formulas run in floating
    point on those exact values. Log returns bound the magnitude
    (|ln ratio| ≤ ~16 even across a 1e-4→560 price swing), so the
    squared-sum stays ≲1e17, inside bigint range; simple returns would
    overflow on near-zero prices.

    Shape at 100 TB: one window per symbol over bars (calendar-bounded
    rows), one tiny per-hour market agg broadcast back, one grouped agg
    per symbol. Nothing scales with tick count.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    lagc = F.lag("close").over(w)
    ri = F.when((F.col("close") > 0) & (lagc > 0),
                F.round((F.log("close") - F.log(lagc)) * RET_SCALE, 0)
                .cast("long"))
    # pin: ret embeds the tick-scale bar resample + the lag window and
    # is consumed TWICE (the market aggregate below and the join probe
    # side) — unpinned, the resample executes once per consumer
    # (round-15, guide §2.4 don't-recompute; bar-scale rows, calendar-
    # bounded, safe to hold)
    ret = pin(bars.select("event_type", "hr", ri.alias("ri"))
              .filter(F.col("ri").isNotNull()))
    # per-hour market return: avg of integer-valued summands < 2^53 is
    # exact in either integer or double accumulation — order-free
    mkt = (ret.groupBy("hr")
           .agg(F.round(F.avg("ri"), 0).cast("long").alias("rmi")))
    j = ret.join(F.broadcast(mkt), "hr")
    n = F.count(F.lit(1)).cast("double")
    sr = F.sum("ri").cast("double")
    sm = F.sum("rmi").cast("double")
    srm = F.sum(F.col("ri") * F.col("rmi")).cast("double")
    sm2 = F.sum(F.col("rmi") * F.col("rmi")).cast("double")
    sr2 = F.sum(F.col("ri") * F.col("ri")).cast("double")
    s = 1.0 / RET_SCALE
    beta = F.when(n * sm2 - sm * sm != 0,
                  (n * srm - sr * sm) / (n * sm2 - sm * sm))
    # sample variance in integer units; scale by s (and s² under sqrt)
    var_i = F.when(n > 1, (n * sr2 - sr * sr) / (n * (n - 1)))
    vol_ann = F.sqrt(var_i) * s * float(ANNUALIZE_BARS) ** 0.5
    sharpe = F.when(var_i > 0,
                    (sr / n) / F.sqrt(var_i)
                    * float(ANNUALIZE_BARS) ** 0.5)
    return (j.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_obs"),
                 F.round(beta, 6).alias("beta"),
                 F.round((sr / n - beta * (sm / n)) * s, 6).alias("alpha"),
                 F.round(vol_ann, 6).alias("vol_annual"),
                 F.round(sharpe, 6).alias("sharpe_annual"))
            .orderBy("event_type"))


def pairs_zscore(bars: DataFrame, sym_x: str, sym_y: str,
                 n: int = CORR_N) -> DataFrame:
    """Pairs-trading spread z-score: hedge-ratio OLS of x on y over the
    full co-observed sample, then the residual spread x − β·y
    standardized against its own rolling 24-bar mean/stddev. |z| ≥ 2 is
    the classic entry signal.

    Determinism (same rationale as beta_alpha): the hedge regression
    runs on prices quantized to a 1e-4 grid so its component sums are
    exact integers; the spread is itself quantized to the 1e-4 grid so
    the rolling-window moments are again exact integer sums — the
    emitted spread/z are pure functions of exact integers, identical
    across engines and runs. The hedge ratio is ONE scalar row
    broadcast back over the pair series; the rolling window is over
    co-observed BARS (calendar-bounded rows, same cost class as
    rolling_corr — a many-pairs deployment keys the window by pair)."""
    px = lambda c: F.round(F.col(c) * PX_SCALE, 0).cast("long")  # noqa: E731
    x = (bars.filter(F.col("event_type") == sym_x)
         .select("hr", F.col("close").alias("x")))
    y = (bars.filter(F.col("event_type") == sym_y)
         .select("hr", F.col("close").alias("y")))
    xy = (x.join(y, "hr")
          .select("hr", "x", "y",
                  px("x").alias("xi"), px("y").alias("yi")))
    cnt = F.count(F.lit(1)).cast("double")
    sxy = F.sum(F.col("xi") * F.col("yi")).cast("double")
    sx = F.sum("xi").cast("double")
    sy = F.sum("yi").cast("double")
    sy2 = F.sum(F.col("yi") * F.col("yi")).cast("double")
    hedge = xy.agg(((cnt * sxy - sx * sy)
                    / (cnt * sy2 - sy * sy)).alias("beta_h"))
    # spread on the 1e-4 grid: integer-valued summands for the window
    si = F.round((F.col("x") - F.col("beta_h") * F.col("y")) * PX_SCALE,
                 0).cast("long")
    sp = (xy.crossJoin(F.broadcast(hedge))
          .select("hr", "x", "y", F.round("beta_h", 6).alias("beta_h"),
                  si.alias("si")))
    w = Window.orderBy("hr").rowsBetween(-(n - 1), 0)
    wn = F.count(F.lit(1)).over(w).cast("double")
    ss = F.sum("si").over(w).cast("double")
    ss2 = F.sum(F.col("si") * F.col("si")).over(w).cast("double")
    var_i = F.when(wn > 1, (wn * ss2 - ss * ss) / (wn * (wn - 1)))
    z = F.when(var_i > 0, (F.col("si") - ss / wn) / F.sqrt(var_i))
    return sp.select(
        "hr", "x", "y", "beta_h",
        (F.col("si").cast("double") / PX_SCALE).alias("spread"),
        F.round(z, 6).alias("z_24h"))


SHIFT_N = 12  # bars per side of the mean-shift two-sample test


def mean_shift_alerts(bars: DataFrame, n: int = SHIFT_N,
                      threshold: float = 3.0) -> DataFrame:
    """Change-point detection per symbol: a rolling two-sample test of
    the last ``n`` bars' mean close against the preceding ``n`` bars'
    (Welch-style numerator over a pooled-variance denominator). |z| >
    ``threshold`` flags a level shift — the window-expressible
    alternative to CUSUM, whose max(0, ·) recurrence cannot be
    truncated into a bounded frame (same reasoning as the EWMA
    lookback truncation, but CUSUM's nonlinearity forecloses even
    that).

    Determinism: closes are quantized to the 1e-4 grid so every window
    moment is an exact integer sum (n·Σx² ≤ 12·(5.6e6)² ≈ 4e14, well
    inside both bigint and double-exact range); the z statistic is a
    fixed arithmetic sequence over those exact integers — identical on
    any engine. Rows without two full windows are dropped. One shuffle
    onto symbol; frames are row-bounded (state O(2n))."""
    ci = F.round(F.col("close") * PX_SCALE, 0).cast("long")
    b = bars.select("event_type", "hr", ci.alias("ci"))
    w1 = (Window.partitionBy("event_type").orderBy("hr")
          .rowsBetween(-(n - 1), 0))
    w0 = (Window.partitionBy("event_type").orderBy("hr")
          .rowsBetween(-(2 * n - 1), -n))
    nn = float(n)
    s1, q1 = F.sum("ci").over(w1).cast("double"), \
        F.sum(F.col("ci") * F.col("ci")).over(w1).cast("double")
    s0, q0 = F.sum("ci").over(w0).cast("double"), \
        F.sum(F.col("ci") * F.col("ci")).over(w0).cast("double")
    c1 = F.count(F.lit(1)).over(w1)
    c0 = F.count(F.lit(1)).over(w0)
    # within-window sum of squared deviations: Σx² − (Σx)²/n
    a1, a0 = q1 - s1 * s1 / nn, q0 - s0 * s0 / nn
    pooled = (a1 + a0) / (2.0 * nn - 2.0)
    z = F.when(pooled > 0,
               (s1 / nn - s0 / nn) / F.sqrt(pooled * (2.0 / nn)))
    out = b.select(
        "event_type", "hr",
        (s1 / nn / PX_SCALE).alias("mean_recent"),
        (s0 / nn / PX_SCALE).alias("mean_prior"),
        F.round(z, 6).alias("shift_z"),
        (F.abs(F.round(z, 6)) > threshold).alias("alert"),
        c1.alias("_c1"), c0.alias("_c0"))
    return (out.filter((F.col("_c1") == n) & (F.col("_c0") == n))
            .drop("_c1", "_c0"))


SEASON_LAG = 24  # hourly bars: one-day seasonality


def forecast_eval(bars: DataFrame, season: int = SEASON_LAG) -> DataFrame:
    """Forecast-baseline evaluation per symbol: score the seasonal-naive
    predictor (close one season ago) against the naive predictor (last
    close) by MAE, and report MASE — the scale-free standard that any
    real forecasting model must beat before it earns a deployment
    (MASE < 1 means the seasonal structure is real).

    Absolute errors are computed on the 1e-4 integer price grid, so
    both MAE numerators are exact integer sums; only bars where BOTH
    predictors are defined score, so the ratio compares like with like.
    One window per symbol, one grouped agg — calendar-bounded rows."""
    w = Window.partitionBy("event_type").orderBy("hr")
    ci = F.round(F.col("close") * PX_SCALE, 0).cast("long")
    b = bars.select("event_type", "hr", ci.alias("ci"))
    scored = (b.select(
        "event_type",
        F.abs(F.col("ci") - F.lag("ci", season).over(w)).alias("ae_s"),
        F.abs(F.col("ci") - F.lag("ci", 1).over(w)).alias("ae_n"),
        F.lag("ci", season).over(w).alias("_chk"))
        .filter(F.col("_chk").isNotNull()))
    n = F.count(F.lit(1)).cast("double")
    mae_s = F.sum("ae_s").cast("double") / n / PX_SCALE
    mae_n = F.sum("ae_n").cast("double") / n / PX_SCALE
    mase = F.when(F.sum("ae_n") > 0,
                  F.sum("ae_s").cast("double")
                  / F.sum("ae_n").cast("double"))
    return (scored.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_evals"),
                 F.round(mae_s, 6).alias("mae_seasonal"),
                 F.round(mae_n, 6).alias("mae_naive"),
                 F.round(mase, 6).alias("mase"))
            .withColumn("seasonal_wins", F.col("mase") < 1.0)
            .orderBy("event_type"))


def temporal_split_audit(bars: DataFrame, k: int = LAG_K,
                         train_frac: float = 0.8) -> DataFrame:
    """Purged temporal train/test split accounting for the lag-feature
    matrix: the boundary hour sits at ``train_frac`` of the global
    distinct-hour timeline; a matrix row (bar with full k-lag history
    and a next-close label) is TEST if its feature time is at/after the
    boundary, TRAIN only if its LABEL time is still before the
    boundary, and PURGED when the label crosses the split — the rows
    whose inclusion in training silently leaks test-period information
    (the embargo/purge rule of time-series cross-validation).

    Everything is rank/timestamp comparison — no floats anywhere, so
    the audit is exact on any engine. One global distinct-hour agg
    (broadcast scalar boundary), one window per symbol."""
    hours = bars.select("hr").distinct()
    n_hours = F.count(F.lit(1))
    # boundary = first hour of the test period, by global hour rank
    w_h = Window.orderBy("hr")
    ranked = hours.select(
        "hr", F.row_number().over(w_h).alias("_rk"))
    cut = ranked.crossJoin(
        F.broadcast(hours.agg(
            F.ceil(n_hours * train_frac).cast("int").alias("_cut")))) \
        .filter(F.col("_rk") == F.col("_cut") + 1) \
        .select(F.col("hr").alias("boundary_hr"))
    w = Window.partitionBy("event_type").orderBy("hr")
    rows = (bars.select(
        "event_type", "hr",
        F.lag("hr", k).over(w).alias("_lagk"),
        F.lead("hr").over(w).alias("_label_hr"))
        .filter(F.col("_lagk").isNotNull()
                & F.col("_label_hr").isNotNull()))
    j = rows.crossJoin(F.broadcast(cut))
    is_test = F.col("hr") >= F.col("boundary_hr")
    is_train = F.col("_label_hr") < F.col("boundary_hr")
    return (j.groupBy("event_type", "boundary_hr")
            .agg(F.sum(is_train.cast("long")).alias("n_train"),
                 F.sum((~is_train & ~is_test).cast("long"))
                 .alias("n_purged"),
                 F.sum(is_test.cast("long")).alias("n_test"))
            .orderBy("event_type"))


def vwap_daily(events: DataFrame) -> DataFrame:
    """Volume-weighted average price per (symbol, day).

    The per-tick trade size comes from the semi-structured ``props``
    tail (``$.k``, an integer) — the classic VWAP the reference's
    per-ticker series would feed an execution-quality report
    (services/api/models.py per-stock series; transform parity with
    TWAP at catalog_analytics.twap_by_user). price·size products stay
    on the 0.01 grid (2-dp ticks × integer sizes) so the sums are
    exact; VWAP is one division + round of identical doubles on any
    engine. A zero-size day yields NULL (0/0). Single hash-agg on
    (symbol, day) — one shuffle, map-side combinable.
    """
    from .windows import int_mean_half_away
    k = F.get_json_object("props", "$.k").cast("long")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    agg = (events
           .select("event_type",
                   F.date_trunc("day", F.col("ts")).alias("day"),
                   (cents * k).alias("pv_c"), k.alias("k"))
           .groupBy("event_type", "day")
           .agg(F.sum("pv_c").cast("long").alias("pv_c"),
                F.sum("k").cast("long").alias("total_qty"),
                F.count(F.lit(1)).cast("long").alias("n_ticks")))
    # integer half-away VWAP: a rounded pv/qty ratio can land exactly
    # on x.xxxxxx5 and the engines' round() split (the
    # streaming_vwap_bars sf0.01 incident: 4893.39/96 = 50.9728125)
    v_e6 = int_mean_half_away(F.col("pv_c") * F.lit(10000),
                              F.col("total_qty"))
    return agg.select(
        "event_type", "day",
        F.when(F.col("total_qty") > 0, v_e6 / F.lit(1e6)).alias("vwap"),
        "total_qty", "n_ticks")


def realized_vol_daily(bars: DataFrame) -> DataFrame:
    """Daily realized-volatility estimators per symbol from hourly bars:
    close-to-close (sum of squared intraday log returns), Parkinson
    (range-based), and Garman–Klass (range + open-close).

    Determinism: each log term is quantized to a 1e-6 integer grid
    BEFORE the per-day summation (ln of a rational never lands exactly
    on a rounding boundary), so the Σterm² aggregates are exact BIGINTs
    — order-independent under Spark's partial aggregation — and the
    final sqrt/divide runs on identical scalars in any engine. The
    2·ln2−1 and 4·ln2 constants are hard-coded literals so both engines
    use the same double. Intraday returns only (the lag must stay
    within the day); a day needs ≥1 return for cc, ≥1 bar for the
    range estimators. Bars with a nonpositive low (degenerate 0.00
    ticks) are dropped BEFORE the lag window — log-returns are
    undefined there — mirrored in the oracle's ``WHERE low > 0``.
    One window + one hash-agg on (symbol, day).
    """
    bars = bars.filter(F.col("low") > 0)
    w = Window.partitionBy("event_type").orderBy("hr")
    day = F.date_trunc("day", F.col("hr"))
    b = bars.select(
        "event_type", "hr", "open", "high", "low", "close",
        day.alias("day"),
        F.lag("close").over(w).alias("prev_close"),
        F.lag(day).over(w).alias("prev_day"))
    ret_us = F.when(
        F.col("prev_day") == F.col("day"),
        F.round(F.log(F.col("close") / F.col("prev_close")) * 1e6, 0)
        .cast("long"))
    lhl_us = (F.round(F.log(F.col("high") / F.col("low")) * 1e6, 0)
              .cast("long"))
    lco_us = (F.round(F.log(F.col("close") / F.col("open")) * 1e6, 0)
              .cast("long"))
    agg = (b.groupBy("event_type", "day")
           .agg(F.count(F.lit(1)).cast("long").alias("n_bars"),
                F.count(ret_us).cast("long").alias("n_ret"),
                F.sum(ret_us * ret_us).alias("ss_ret"),
                F.sum(lhl_us * lhl_us).alias("ss_hl"),
                F.sum(lco_us * lco_us).alias("ss_co")))
    ln2_4 = 2.772588722239781    # 4·ln2
    gk_c = 0.3862943611198906    # 2·ln2 − 1
    return agg.select(
        "event_type", "day", "n_bars", "n_ret",
        F.round(F.sqrt(F.col("ss_ret")) / 1e6, 6).alias("rv_cc"),
        F.round(F.sqrt(F.col("ss_hl")
                       / (F.lit(ln2_4) * F.col("n_bars"))) / 1e6, 6)
        .alias("rv_park"),
        F.round(F.sqrt(F.greatest(
            F.lit(0.0),
            (0.5 * F.col("ss_hl") - F.lit(gk_c) * F.col("ss_co"))
            / F.col("n_bars"))) / 1e6, 6).alias("rv_gk"))


def sharpe_sortino(bars: DataFrame) -> DataFrame:
    """Per-symbol risk-adjusted return profile over hourly log returns:
    Sharpe (mean/σ) and Sortino (mean/downside-σ), plus the component
    moments.

    Returns are quantized to 1e-6 integers so ΣR, ΣR² and the downside
    Σmin(R,0)² are exact integer aggregates (order-independent); the
    mean/variance/ratio arithmetic then runs on those exact scalars —
    identical IEEE evaluation on any engine. Sample variance uses the
    (ΣR² − (ΣR)²/n)/(n−1) form on the integer sums. Per-bar (not
    annualized) units, so the numbers are scale-free. Bars with a
    nonpositive low are dropped before the lag window (log undefined;
    oracle mirrors with ``WHERE low > 0``); ratios are NULL-guarded
    for n=1 / zero-variance / no-downside groups (matching float
    division-by-zero NULL semantics). One window + one hash-agg per
    symbol.
    """
    bars = bars.filter(F.col("low") > 0)
    w = Window.partitionBy("event_type").orderBy("hr")
    r_us = (F.round(F.log(F.col("close")
                          / F.lag("close").over(w)) * 1e6, 0)
            .cast("long"))
    b = (bars.select("event_type", "hr", "close", r_us.alias("r"))
         .filter(F.col("r").isNotNull()))
    agg = (b.groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("r").alias("s1"),
                F.sum(F.col("r") * F.col("r")).alias("s2"),
                F.sum(F.when(F.col("r") < 0, F.col("r") * F.col("r"))
                      .otherwise(F.lit(0))).alias("sneg2")))
    n = F.col("n").cast("double")
    mean = F.col("s1") / n
    # clamp the variance at 0.0 BEFORE sqrt: for a zero-variance symbol
    # with s1^2 beyond 2^53 the int->double rounding of s1*s1/n can
    # exceed s2 by an ulp — Spark's sqrt(negative) is NaN but DuckDB's
    # is a hard OutOfRangeException that would kill the whole oracle
    # query (the rv_gk greatest(0.0, ...) precedent)
    var = F.greatest(F.lit(0.0),
                     (F.col("s2") - F.col("s1") * F.col("s1") / n)
                     / (n - 1))
    dvar = F.col("sneg2") / (n - 1)
    n1 = F.col("n") > 1
    return agg.select(
        "event_type", "n",
        F.round(mean / 1e6, 6).alias("mean_r"),
        F.round(F.when(n1, F.sqrt(var)) / 1e6, 6).alias("vol"),
        # guard on the DOUBLE var expression itself: it is the exact
        # quantity whose zero makes DuckDB's x/0.0 NULL, so the Spark
        # NULL and the oracle NULL fire on identical inputs (a long
        # s2*n cross-product could overflow under ANSI at huge n)
        F.round(F.when(n1 & (var > 0.0),
                       mean / F.sqrt(var)), 6).alias("sharpe"),
        F.round(F.when(n1 & (F.col("sneg2") > 0),
                       mean / F.sqrt(dvar)), 6).alias("sortino"))


def var_expected_shortfall(bars: DataFrame, alpha: float = 0.05
                           ) -> DataFrame:
    """Historical Value-at-Risk and Expected Shortfall per symbol over
    hourly log returns (left tail at ``alpha``).

    VaR is the exact interpolated ``alpha``-quantile of the 1e-6-
    quantized returns (``percentile`` ≡ ANSI ``quantile_cont`` on
    integers — the established parity pattern); ES is the mean of
    returns at or below that cutoff. Two per-symbol aggregations plus
    a broadcast join of the |symbols|-row quantile table back onto the
    returns. Nonpositive-low bars are dropped before the lag window.

    Determinism (round-half hazard, found at sf0.1): a rounded
    ratio-of-integers mean can land EXACTLY on x.xxxxxx5 and the two
    engines' round() split (Spark rounds the shortest decimal repr,
    DuckDB the scaled double). So nothing here rounds a ratio: the
    quantile is snapped to its exact 1/(20·1e6) grid as the integer
    ``20·var_us`` (interpolation fractions are multiples of alpha, so
    the scaled value IS an integer up to fp noise), the tail filter
    compares integers (20·r ≤ var20), the ES mean is computed with
    integer half-away-from-zero division, and the emitted doubles are
    each ONE IEEE division of exact integers — bit-identical anywhere.
    """
    bars = bars.filter(F.col("low") > 0)
    scale = round(1 / alpha)  # 20 for the 5% tail
    w = Window.partitionBy("event_type").orderBy("hr")
    r_us = (F.round(F.log(F.col("close")
                          / F.lag("close").over(w)) * 1e6, 0)
            .cast("long"))
    r = (bars.select("event_type", r_us.alias("r"))
         .filter(F.col("r").isNotNull()))
    q = (r.groupBy("event_type")
         .agg(F.round(F.percentile("r", F.lit(alpha)) * scale, 0)
              .cast("long").alias("var20"),
              F.count(F.lit(1)).cast("long").alias("n")))
    tail = (r.join(F.broadcast(q), "event_type")
            .filter(F.col("r") * scale <= F.col("var20"))
            .groupBy("event_type")
            .agg(F.sum("r").alias("ts_"),
                 F.count(F.lit(1)).cast("long").alias("tail_n")))
    # integer half-away division, expressed portably as FLOOR of the
    # positive quotient: floor((2|s|+n)/(2n)) == round-half-away(|s|/n)
    es_us = F.when(
        F.col("ts_") >= 0,
        F.floor((2 * F.col("ts_") + F.col("tail_n"))
                / (2 * F.col("tail_n")))).otherwise(
        -F.floor((2 * -F.col("ts_") + F.col("tail_n"))
                 / (2 * F.col("tail_n")))).cast("long")
    return (q.join(tail, "event_type")
            .select("event_type", "n",
                    (F.col("var20") / F.lit(scale * 1e6))
                    .alias("var_95"),
                    (es_us / F.lit(1e6)).alias("es_95"),
                    "tail_n"))


def amihud_illiquidity(events: DataFrame) -> DataFrame:
    """Amihud (2002) illiquidity per symbol: the mean over days of
    |daily return| / dollar volume — the classic price-impact proxy an
    execution desk tracks next to VWAP.

    Daily close is the (ts, event_id)-latest tick; dollar volume is the
    exact integer-cents sum of price × size (``props.$.k``). Every
    division uses ``int_mean_half_away``-style integer half-away
    rounding (ratio-of-integers + round() is the engine-splitting
    hazard), scaled 1e10 so the per-day ratio keeps ~6 significant
    digits; the emitted mean is ONE IEEE division of exact integers.
    Days with zero dollar volume or a nonpositive close are skipped.
    Two (symbol, day)-keyed aggs + one per-symbol window + one agg.
    """
    from .windows import int_mean_half_away
    day = F.date_trunc("day", F.col("ts"))
    k = F.get_json_object("props", "$.k").cast("long")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    w_d = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    base = (events.select("event_type", "ts", "event_id", "value",
                          day.alias("day"), (cents * k).alias("dv"))
            .withColumn("rn", F.row_number().over(w_d)))
    daily = (base.groupBy("event_type", "day")
             .agg(F.max(F.when(F.col("rn") == 1, F.col("value")))
                  .alias("close"),
                  F.sum("dv").cast("long").alias("dv_cents")))
    w = Window.partitionBy("event_type").orderBy("day")
    r_us = F.when(
        (F.col("close") > 0) & (F.lag("close").over(w) > 0),
        F.round(F.log(F.col("close") / F.lag("close").over(w)) * 1e6, 0)
        .cast("long"))
    d2 = (daily.select("event_type", "day", "dv_cents",
                       r_us.alias("r"))
          .filter(F.col("r").isNotNull() & (F.col("dv_cents") > 0)))
    ratio = int_mean_half_away(F.abs(F.col("r")) * F.lit(10000)
                               * F.lit(1000000), F.col("dv_cents"))
    agg = (d2.select("event_type", ratio.alias("ratio_e10"))
           .groupBy("event_type")
           .agg(F.sum("ratio_e10").alias("rs"),
                F.count(F.lit(1)).cast("long").alias("n_days")))
    mean_e10 = int_mean_half_away(F.col("rs"), F.col("n_days"))
    return (agg.select("event_type", "n_days",
                       (mean_e10 / F.lit(1e10)).alias("illiq"))
            .orderBy("event_type"))


def order_flow_imbalance(events: DataFrame) -> DataFrame:
    """Tick-rule order-flow imbalance per (symbol, hour): classify each
    tick buy/sell by the sign of its price change (zero changes carry
    the last nonzero sign — the standard Lee-Ready-style tick test),
    then report buys, sells and the normalized imbalance.

    Signs are pure integers; the zero-change carry is one
    ``last(ignorenulls)`` running window over the (ts, event_id) total
    order per symbol; the imbalance ratio is a single half-away integer
    division per bar. Unsigned leading ticks (first tick and any
    zero-run before the first move) are excluded from the imbalance.
    One symbol-keyed window + one (symbol, hour) hash-agg.
    """
    from .windows import int_mean_half_away
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    delta = F.col("value") - F.lag("value").over(w)
    raw = F.when(delta > 0, F.lit(1)).when(delta < 0, F.lit(-1))
    carry = (Window.partitionBy("event_type").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, 0))
    base = (events.select("event_type", "ts", "event_id",
                          F.date_trunc("hour", F.col("ts")).alias("hr"),
                          raw.alias("raw_sign"))
            .withColumn("sign",
                        F.last("raw_sign", ignorenulls=True).over(carry)))
    agg = (base.filter(F.col("sign").isNotNull())
           .groupBy("event_type", "hr")
           .agg(F.sum(F.when(F.col("sign") == 1, 1).otherwise(0))
                .cast("long").alias("buys"),
                F.sum(F.when(F.col("sign") == -1, 1).otherwise(0))
                .cast("long").alias("sells")))
    ofi = int_mean_half_away(
        (F.col("buys") - F.col("sells")) * F.lit(1000000),
        F.col("buys") + F.col("sells"))
    return agg.select("event_type", "hr", "buys", "sells",
                      (ofi / F.lit(1e6)).alias("ofi"))


RM_DECAY = 0.9     # RiskMetrics-style EWMA variance decay
RM_LOOKBACK = 120  # 0.9^120 ~ 3e-6: truncation below the 6-dp round


def riskmetrics_vol(bars: DataFrame, decay: float = RM_DECAY,
                    lookback: int = RM_LOOKBACK) -> DataFrame:
    """RiskMetrics-style EWMA volatility: σ_t = sqrt(Σ λ^i·r²_{t-i} /
    Σ λ^i) over a truncated lookback — the exponentially-weighted
    cousin of realized vol, riding the shared ``_trailing_vals``
    bounded-window kernel (round-14: the former ``banded_rank_join``
    form paid a join + groupBy per stage; the window form shuffles
    the bars exactly once).

    Returns are quantized to 1e-6 integers; the weighted sum runs on
    exact r² longs × double weights. Nonpositive-low bars drop before
    the lag window. Frame work is O(lookback) per bar (the window form
    of the former banded join — round-14 optimization, one exchange).
    """
    bars = bars.filter(F.col("low") > 0)
    w = Window.partitionBy("event_type").orderBy("hr")
    r_us = (F.round(F.log(F.col("close")
                          / F.lag("close").over(w)) * 1e6, 0)
            .cast("long"))
    b = (bars.select("event_type", "hr", r_us.alias("r"))
         .filter(F.col("r").isNotNull())
         .withColumn("_xs", _trailing_vals("r", lookback)))
    m = F.size(F.col("_xs"))
    num = F.aggregate(
        F.transform(F.col("_xs"),
                    lambda x, i: x * x * F.pow(F.lit(decay), m - i - 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    den = F.aggregate(
        F.transform(F.col("_xs"),
                    lambda x, i: F.pow(F.lit(decay), m - i - 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    return b.select("event_type", "hr",
                    F.round(F.sqrt(num / den) / 1e6, 6).alias("rm_vol"))


def candlestick_flags(bars: DataFrame) -> DataFrame:
    """Classic candlestick-pattern census per symbol: doji, hammer, and
    bullish/bearish engulfing counts over the hourly bars.

    Every test runs on exact integer CENTS (the tick data's 1e-2 grid
    scaled by 100), so all pattern booleans — shadow-vs-body ratios,
    prev-bar body containment — are pure integer comparisons with no
    float rounding to split engines. Definitions:

    - doji: |close−open| ≤ 10% of the high-low range (range > 0) —
      as ``body*10 <= range`` in integers.
    - hammer: lower shadow ≥ 2× body, upper shadow ≤ body, body > 0.
    - bullish engulf: previous bar red, current green, and the current
      body contains the previous body (close ≥ prev_open AND
      open ≤ prev_close); bearish is the mirror.

    One lag window per symbol + one hash aggregate — the same
    (event_type)-partitioned single-pass shape as the other
    indicators; symbols parallelize embarrassingly at scale.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select(
        "event_type", "hr",
        cents("open").alias("o"), cents("high").alias("h"),
        cents("low").alias("l"), cents("close").alias("c"))
    b = b.select(
        "event_type", "hr", "o", "h", "l", "c",
        F.lag("o").over(w).alias("po"), F.lag("c").over(w).alias("pc"))
    body = F.abs(F.col("c") - F.col("o"))
    rng = F.col("h") - F.col("l")
    up_sh = F.col("h") - F.greatest("o", "c")
    lo_sh = F.least("o", "c") - F.col("l")
    doji = (rng > 0) & (body * 10 <= rng)
    hammer = (body > 0) & (lo_sh >= 2 * body) & (up_sh <= body)
    bull = (F.col("pc") < F.col("po")) & (F.col("c") > F.col("o")) \
        & (F.col("c") >= F.col("po")) & (F.col("o") <= F.col("pc"))
    bear = (F.col("pc") > F.col("po")) & (F.col("c") < F.col("o")) \
        & (F.col("o") >= F.col("pc")) & (F.col("c") <= F.col("po"))
    flag = lambda c: F.sum(c.cast("long")).cast("long")  # noqa: E731
    return (b.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bars"),
                 flag(doji).alias("n_doji"),
                 flag(hammer).alias("n_hammer"),
                 flag(F.coalesce(bull, F.lit(False)))
                 .alias("n_bull_engulf"),
                 flag(F.coalesce(bear, F.lit(False)))
                 .alias("n_bear_engulf")))


VR_Q = 24  # variance-ratio horizon: one day of hourly bars


def variance_ratio(bars: DataFrame, q: int = VR_Q) -> DataFrame:
    """Lo–MacKinlay variance-ratio test statistic per symbol:
    VR(q) = Var(q-period return) / (q · Var(1-period return)) over
    overlapping q-bar log-return sums — ≈1 under a random walk, >1
    for trending series, <1 for mean-reverting ones.

    Determinism: returns are 1e-6-grid integers (realized-vol
    precedent), the q-sums are rolling-window integer sums, and ALL
    component aggregates (n, Σx, Σx²) are exact BIGINTs. The final
    population-variance formula n·Σx² − (Σx)² is cubic-in-n in
    magnitude, so it is evaluated on LEAF-CAST doubles with identical
    association in both engines (the stock_acf precedent: parity needs
    identical IEEE evaluation, not integer exactness); the guard is on
    the same double expression the division uses. Bars with
    nonpositive low drop before the lag (log undefined; low > 0 ⟹
    close > 0). Two windows + one hash-agg, all partitioned by symbol.
    """
    bars = bars.filter(F.col("low") > 0)
    w = Window.partitionBy("event_type").orderBy("hr")
    r_us = (F.round(F.log(F.col("close")
                          / F.lag("close").over(w)) * 1e6, 0)
            .cast("long"))
    r = (bars.select("event_type", "hr", r_us.alias("r"))
         .filter(F.col("r").isNotNull())
         .select("event_type", "hr", "r",
                 F.row_number().over(w).alias("rr")))
    wq = w.rowsBetween(-(q - 1), 0)
    rq = (r.withColumn("rq", F.sum("r").over(wq))
          .filter(F.col("rr") >= q))  # full q-windows only
    one = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.sum("r").alias("s1"), F.sum(F.col("r") * F.col("r")).alias("ss1"))
    qs = rq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nq"),
        F.sum("rq").alias("sq"),
        F.sum(F.col("rq") * F.col("rq")).alias("ssq"))
    j = one.join(qs, "event_type")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var1 = d("n1") * d("ss1") - d("s1") * d("s1")  # n1² · VarP(r)
    varq = d("nq") * d("ssq") - d("sq") * d("sq")  # nq² · VarP(rq)
    vr = F.when(
        (var1 > 0.0) & (F.col("nq") > 0),
        F.round((varq * d("n1") * d("n1"))
                / (var1 * F.lit(float(q)) * d("nq") * d("nq")), 6))
    return (j.select("event_type", "n1", "nq", vr.alias("vr"))
            .orderBy("event_type"))


def info_coefficient(bars: DataFrame) -> DataFrame:
    """Daily cross-sectional information coefficient: the Spearman rank
    correlation, per day, between yesterday's daily-return signal and
    the NEXT day's return across symbols — the standard signal-quality
    metric for a cross-sectional strategy.

    Ranks are tie-broken by symbol (total order), so with distinct
    integer ranks Spearman reduces to the exact rational
    ``1 − 6·Σd² / (n·(n²−1))``: Σd² is an exact BIGINT and the single
    IEEE division is identical in both engines. The daily close is the
    deterministic last bar of the day (row_number on hr desc). The
    cross-section per day is |symbols| rows — every window partition
    is bounded by the symbol count, never by history length.
    """
    wd = Window.partitionBy("event_type", F.col("day")).orderBy(
        F.col("hr").desc())
    daily = (bars
             .select("event_type", "hr", "close",
                     F.date_trunc("day", F.col("hr")).alias("day"))
             .withColumn("_rn", F.row_number().over(wd))
             .filter(F.col("_rn") == 1)
             .select("event_type", "day", "close"))
    ws = Window.partitionBy("event_type").orderBy("day")
    rets = daily.select(
        "event_type", "day",
        (F.col("close") / F.lag("close").over(ws) - 1.0).alias("sig"),
        (F.lead("close").over(ws) / F.col("close") - 1.0).alias("fwd"))
    x = rets.filter(F.col("sig").isNotNull() & F.col("fwd").isNotNull())
    rs = Window.partitionBy("day").orderBy("sig", "event_type")
    rf = Window.partitionBy("day").orderBy("fwd", "event_type")
    ranked = x.select(
        "day",
        F.row_number().over(rs).cast("long").alias("rank_sig"),
        F.row_number().over(rf).cast("long").alias("rank_fwd"))
    dd = F.col("rank_sig") - F.col("rank_fwd")
    per_day = ranked.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_syms"),
        F.sum(dd * dd).cast("long").alias("sum_d2"))
    n = F.col("n_syms")
    ic = F.when(
        n > 1,
        F.round(1.0 - 6.0 * F.col("sum_d2")
                / (n * (n * n - 1)).cast("double"), 6))
    return (per_day.select("day", "n_syms", "sum_d2", ic.alias("ic"))
            .orderBy("day"))


STOCH_N = 14   # stochastic %K lookback
STOCH_D = 3    # %D smoothing bars
MFI_N = 14     # money-flow index lookback


def stochastic_kd(bars: DataFrame, n: int = STOCH_N,
                  d: int = STOCH_D) -> DataFrame:
    """Stochastic oscillator per symbol: %K = 100·(close−LL)/(HH−LL)
    over the trailing ``n`` bars and %D = SMA(%K, ``d``).

    Exactness: LL/HH are window min/max of integer CENTS; %K lives on
    a 1e-6 grid as the exact integer quotient ``(1e8·(c−LL)) div
    (HH−LL)`` — never a rounded ratio of integers (the x.5 engine-split
    class) — and %D is the half-away integer mean of the last ``d``
    exact %K grid values, so the smoothing sum is integer-associative
    under any window implementation (DuckDB's segment-tree sliding
    frames reassociate double sums; integers don't care). Both emits
    are single IEEE divisions by 1e6. Partial leading windows are
    allowed on both sides (same frame semantics). Flat windows
    (HH == LL) yield NULL %K and drop out of %D's count.
    """
    from .windows import int_mean_half_away
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select("event_type", "hr", cents("high").alias("h"),
                    cents("low").alias("l"), cents("close").alias("c"))
    wn = w.rowsBetween(-(n - 1), 0)
    b = b.select("event_type", "hr", "c",
                 F.max("h").over(wn).alias("hh"),
                 F.min("l").over(wn).alias("ll"))
    k8 = F.when(F.col("hh") > F.col("ll"),
                F.expr("(100000000 * (c - ll)) div (hh - ll)"))
    b = b.withColumn("k8", k8)
    wd = w.rowsBetween(-(d - 1), 0)
    sum_k = F.sum("k8").over(wd)
    cnt_k = F.count("k8").over(wd)
    d8 = F.when(cnt_k > 0, int_mean_half_away(sum_k, cnt_k))
    return b.select("event_type", "hr",
                    (F.col("k8") / 1e6).alias("pct_k"),
                    (d8 / 1e6).alias("pct_d"))


def williams_r(bars: DataFrame, n: int = STOCH_N) -> DataFrame:
    """Williams %R per symbol: −100·(HH−close)/(HH−LL) over the
    trailing ``n`` bars — the stochastic's mirror image, kept on the
    same exact integer-quotient grid. The quotient is computed on the
    NON-NEGATIVE numerator and negated after the final division:
    Spark's ``div`` truncates toward zero while DuckDB's ``//`` floors,
    and they only agree on non-negative operands.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select("event_type", "hr", cents("high").alias("h"),
                    cents("low").alias("l"), cents("close").alias("c"))
    wn = w.rowsBetween(-(n - 1), 0)
    b = b.select("event_type", "hr", "c",
                 F.max("h").over(wn).alias("hh"),
                 F.min("l").over(wn).alias("ll"))
    p8 = F.when(F.col("hh") > F.col("ll"),
                F.expr("(100000000 * (hh - c)) div (hh - ll)"))
    return b.select("event_type", "hr", (-(p8 / 1e6)).alias("wr"))


def obv(bars: DataFrame) -> DataFrame:
    """On-balance volume per symbol: the running sum of tick volume
    signed by the close-to-close direction — a pure integer cumulative
    window (CENTS sign × integer volume), exact on any engine. The
    first bar contributes 0 (no previous close), matching the classic
    definition's arbitrary zero origin.

    Scale bound: the unbounded-preceding window serializes one symbol
    per task, but hourly bars are CALENDAR-bounded — ≈8.8k bars/year,
    ≈175k narrow rows for a 20-year symbol — far under a task's
    working-set budget, and the close-to-close lag forces per-symbol
    ordering regardless. If the grain ever drops below hours (ticks),
    switch the running sum to windows.grouped_running_total (the
    orders_open_backlog pattern) and keep only the lag per-symbol.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    c = F.round(F.col("close") * 100, 0).cast("long")
    signed = (F.signum(c - F.lag(c).over(w)).cast("long")
              * F.col("volume").cast("long"))
    run = (F.sum(F.coalesce(signed, F.lit(0)))
           .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return bars.select("event_type", "hr", "volume",
                       run.cast("long").alias("obv"))


def mfi(bars: DataFrame, n: int = MFI_N) -> DataFrame:
    """Money-flow index per symbol: 100·posMF/(posMF+negMF) over the
    trailing ``n`` bars, where money flow is typical-price × volume
    signed by the typical-price direction.

    Exactness: the typical price is kept as the ×3-scaled integer
    ``h+l+c`` in cents (never divided by 3), so every flow, window sum
    and the final quotient ``(1e8·pos) div (pos+neg)`` are exact
    integers; one division by 1e6 at emit. Headroom: 1e8 · Σ(3·price ·
    volume) over ``n`` bars — ~38× inside int64 even at 1000 ticks/bar
    on this data's price scale; re-grid the 1e8 factor for fatter bars.
    Windows with no directional flow (all ties) emit NULL.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    tp3 = cents("high") + cents("low") + cents("close")
    b = bars.select("event_type", "hr",
                    tp3.alias("tp3"), F.col("volume").cast("long")
                    .alias("vol"))
    prev = F.lag("tp3").over(w)
    flow = F.col("tp3") * F.col("vol")
    b = b.select(
        "event_type", "hr",
        F.when(prev.isNotNull() & (F.col("tp3") > prev), flow)
        .otherwise(F.lit(0)).alias("pos"),
        F.when(prev.isNotNull() & (F.col("tp3") < prev), flow)
        .otherwise(F.lit(0)).alias("neg"))
    wn = w.rowsBetween(-(n - 1), 0)
    b = b.select("event_type", "hr",
                 F.sum("pos").over(wn).alias("p"),
                 F.sum("neg").over(wn).alias("g"))
    m8 = F.when(F.col("p") + F.col("g") > 0,
                F.expr("(100000000 * p) div (p + g)"))
    return b.select("event_type", "hr", (m8 / 1e6).alias("mfi"))


ICHI_TENKAN = 9
ICHI_KIJUN = 26
ICHI_SENKOU = 52


def ichimoku(bars: DataFrame, tenkan_n: int = ICHI_TENKAN,
             kijun_n: int = ICHI_KIJUN,
             senkou_n: int = ICHI_SENKOU) -> DataFrame:
    """Ichimoku cloud components per symbol on hourly bars: tenkan
    (9-bar midline), kijun (26-bar midline), senkou A ((tenkan+kijun)/2
    from 26 bars back — the leading span as it applies to the CURRENT
    bar), senkou B (52-bar midline from 26 back), chikou (close from 26
    ahead).

    Exactness: every midline is an INTEGER sum of window max(high) +
    min(low) in cents; shifts are integer lags/leads; each emitted
    component is one IEEE division of an exact integer (by 200/400/100)
    — dyadic halves need no rounding and both engines divide identical
    integers. Leading-edge partial windows and shift NULLs match the
    SQL frame semantics exactly.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select("event_type", "hr", cents("high").alias("h"),
                    cents("low").alias("l"), cents("close").alias("c"))
    mid2 = lambda n: (F.max("h").over(w.rowsBetween(-(n - 1), 0))  # noqa: E731
                      + F.min("l").over(w.rowsBetween(-(n - 1), 0)))
    b = b.select("event_type", "hr", "c",
                 mid2(tenkan_n).alias("t2"),
                 mid2(kijun_n).alias("k2"),
                 mid2(senkou_n).alias("s2"))
    return b.select(
        "event_type", "hr",
        (F.col("t2") / 200.0).alias("tenkan"),
        (F.col("k2") / 200.0).alias("kijun"),
        (F.lag(F.col("t2") + F.col("k2"), kijun_n).over(w) / 400.0)
        .alias("senkou_a"),
        (F.lag("s2", kijun_n).over(w) / 200.0).alias("senkou_b"),
        (F.lead("c", kijun_n).over(w) / 100.0).alias("chikou"))


DON_N = 20     # Donchian channel lookback
AROON_N = 25   # Aroon lookback (bars, current included)
CMF_N = 20     # Chaikin money-flow lookback
ULCER_N = 14   # Ulcer-index lookback
CCI_N = 20     # commodity-channel-index lookback
_AROON_ENC = 1_048_576  # 2^20: rank field of the (price, recency) encoding


def donchian(bars: DataFrame, n: int = DON_N) -> DataFrame:
    """Donchian channels per symbol: trailing ``n``-bar max(high) /
    min(low), the midline, and the close's position inside the channel.

    Exactness: upper/lower are window max/min of integer CENTS; the
    midline is one IEEE division of their integer sum by 200 (dyadic —
    no rounding); the channel position is the exact integer quotient
    ``(1e8·(c−lower)) div (upper−lower)`` on non-negative operands,
    emitted with a single division by 1e6. Flat channels emit NULL
    position. Partial leading windows match SQL frame semantics.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select("event_type", "hr", cents("high").alias("h"),
                    cents("low").alias("l"), cents("close").alias("c"))
    wn = w.rowsBetween(-(n - 1), 0)
    b = b.select("event_type", "hr", "c",
                 F.max("h").over(wn).alias("u"),
                 F.min("l").over(wn).alias("d"))
    p8 = F.when(F.col("u") > F.col("d"),
                F.expr("(100000000 * (c - d)) div (u - d)"))
    return b.select(
        "event_type", "hr",
        (F.col("u") / 100.0).alias("don_upper"),
        (F.col("d") / 100.0).alias("don_lower"),
        ((F.col("u") + F.col("d")) / 200.0).alias("don_mid"),
        (p8 / 1e6).alias("pct_pos"))


def aroon(bars: DataFrame, n: int = AROON_N) -> DataFrame:
    """Aroon oscillator per symbol: bars since the trailing ``n``-bar
    highest high / lowest low, mapped onto the classic 0–100 scale
    ``100·(n−1−bars_since)/(n−1)`` (current bar counts as 0 bars since).

    Exactness: the window argmax/argmin ride a single integer encoding
    ``price·2^20 ± rank`` so max() resolves price ties to the MOST
    RECENT bar deterministically on both engines; bars-since is an
    integer subtraction, and each Aroon value is the exact quotient
    ``(1e8·(n−1−bs)) div (n−1)`` (non-negative operands), one division
    by 1e6 at emit. Headroom: the 2^20 rank field caps per-symbol bar
    count at ~1M hourly bars (≈120 years) and prices at 2^43 cents —
    both far beyond the data; re-grid if either moves.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    big = F.lit(1 << 40).cast("long")
    b = bars.select("event_type", "hr", cents("high").alias("h"),
                    cents("low").alias("l"))
    b = b.withColumn("rn", F.row_number().over(w).cast("long"))
    enc_h = F.col("h") * _AROON_ENC + F.col("rn")
    enc_l = (big - F.col("l")) * _AROON_ENC + F.col("rn")
    wn = w.rowsBetween(-(n - 1), 0)
    b = b.select(
        "event_type", "hr", "rn",
        (F.col("rn") - F.max(enc_h).over(wn) % _AROON_ENC).alias("bs_h"),
        (F.col("rn") - F.max(enc_l).over(wn) % _AROON_ENC).alias("bs_l"))
    up8 = F.expr(f"(100000000 * ({n - 1} - bs_h)) div {n - 1}")
    dn8 = F.expr(f"(100000000 * ({n - 1} - bs_l)) div {n - 1}")
    return b.select("event_type", "hr",
                    F.col("bs_h").alias("bars_since_high"),
                    F.col("bs_l").alias("bars_since_low"),
                    (up8 / 1e6).alias("aroon_up"),
                    (dn8 / 1e6).alias("aroon_down"))


def chaikin_ad(bars: DataFrame, n: int = CMF_N) -> DataFrame:
    """Chaikin accumulation/distribution line and money flow (CMF) per
    symbol. The money-flow multiplier ((c−l)−(h−c))/(h−l) is kept as
    the exact sign-split integer quotient ``sign(N)·((|N|·vol·1e6) div
    (h−l))`` with N = 2c−h−l in cents (div truncates, // floors — they
    agree only on non-negative operands, so the sign is re-applied
    after), giving a 1e6-grid money-flow volume. The AD line is its
    pure integer running sum; CMF is one IEEE division of the integer
    window sum by ``1e6·Σvol``. Flat bars (h == l) contribute 0 flow,
    matching the classic convention. Headroom: |N|·vol·1e6 ≤ h·vol·1e6
    ≈ 5.6e13 per bar at this data's scale — re-grid for fatter bars.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select("event_type", "hr", cents("high").alias("h"),
                    cents("low").alias("l"), cents("close").alias("c"),
                    F.col("volume").cast("long").alias("vol"))
    mfv6 = F.when(
        F.col("h") > F.col("l"),
        F.expr("CAST(sign(2*c - h - l) AS BIGINT)"
               " * ((abs(2*c - h - l) * vol * 1000000) div (h - l))"),
    ).otherwise(F.lit(0))
    b = b.withColumn("mfv6", mfv6)
    wn = w.rowsBetween(-(n - 1), 0)
    run = F.sum("mfv6").over(w.rowsBetween(Window.unboundedPreceding, 0))
    svol = F.sum("vol").over(wn)
    smf = F.sum("mfv6").over(wn)
    cmf = F.when(svol > 0,
                 smf / (svol * F.lit(1_000_000)).cast("double"))
    return b.select("event_type", "hr",
                    (run / 1e6).alias("ad_line"), cmf.alias("cmf"))


def ulcer_index(bars: DataFrame, n: int = ULCER_N) -> DataFrame:
    """Ulcer index per symbol: RMS percentage drawdown from the
    trailing ``n``-bar running-high close. The per-bar drawdown is the
    exact integer quotient ``((maxc−c)·1e6) div maxc`` (non-negative),
    its square an exact integer, and the emitted index
    ``round(sqrt(Σsq/cnt)/1e4, 6)`` — the sqrt is transcendental, so
    the 6-dp round never sits on a rounding knife-edge (perplexity
    precedent). Bars inside windows whose running high is 0 are
    excluded from the average on both engines (NULL quotient).
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select("event_type", "hr", cents("close").alias("c"))
    wn = w.rowsBetween(-(n - 1), 0)
    b = b.withColumn("mc", F.max("c").over(wn))
    dd6 = F.when(F.col("mc") > 0,
                 F.expr("((mc - c) * 1000000) div mc"))
    b = b.withColumn("sq", dd6 * dd6)
    ssq = F.sum("sq").over(wn)
    cnt = F.count("sq").over(wn)
    ulcer = F.when(
        cnt > 0,
        F.round(F.sqrt(ssq.cast("double") / cnt.cast("double")) / 1e4, 6))
    return b.select("event_type", "hr", ulcer.alias("ulcer"))


PARKINSON_4LN2 = 2.772588722239781  # 4·ln2, hardcoded in plan AND oracle


def parkinson_vol(bars: DataFrame) -> DataFrame:
    """Parkinson range volatility per symbol over the full bar history:
    sqrt(Σ ln(h/l)² / (4·ln2·n)). Each ln(h/l)² term is quantized to an
    exact 1e-12-grid integer (ln on a ratio of integer cents — both
    engines evaluate the identical IEEE expression; transcendental
    output never sits on the grid boundary), summed as BIGINT, and the
    final formula runs on leaf-cast doubles with identical association
    and the 4ln2 constant as a shared literal. Bars with l ≤ 0 or
    h < l are excluded on both sides. Headroom: ln²(h/l) ≤ ~0.5 →
    5e11/term; ~1e6 bars/symbol stay inside int64.
    """
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select("event_type", cents("high").alias("h"),
                    cents("low").alias("l"))
    b = b.filter((F.col("l") > 0) & (F.col("h") >= F.col("l")))
    lr = F.log(F.col("h").cast("double") / F.col("l").cast("double"))
    t = F.round((lr * lr) * F.lit(1e12), 0).cast("long")
    g = (b.select("event_type", t.alias("t"))
          .groupBy("event_type")
          .agg(F.count(F.lit(1)).cast("long").alias("n_bars"),
               F.sum("t").cast("long").alias("s")))
    pk = F.round(
        F.sqrt(F.col("s").cast("double")
               / (F.lit(PARKINSON_4LN2) * F.col("n_bars").cast("double")))
        / 1e6, 6)
    return g.select("event_type", "n_bars",
                    F.when(F.col("n_bars") > 0, pk).alias("parkinson_vol"))


def cci(bars: DataFrame, n: int = CCI_N) -> DataFrame:
    """Commodity channel index per symbol: (tp − SMA(tp)) / (0.015 ·
    meandev(tp)) over the trailing ``n`` bars, computed without EVER
    forming the window mean as a float. With S = Σ tp3 and cnt over the
    window (tp3 = h+l+c in cents, the ×3-scaled typical price), the
    mean-deviation sum D = Σ_j |cnt·tp3_j − S| is a pure integer, and
    CCI reduces to ``cnt·(cnt·tp3_i − S) / (0.015·D)`` — the ×3 scale
    cancels. One rounded IEEE division at emit, guarded on D > 0.

    Scale: the per-row window members come from a bounded
    rowsBetween frame (``_trailing_vals`` — the round-14 window form
    of the former banded self-join): O(n) integer work per row on the
    one (symbol) exchange every indicator already pays, and D is an
    exact integer fold, immune to summation order by construction.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select("event_type", "hr", (cents("high") + cents("low")
                    + cents("close")).alias("tp3"))
    wn = w.rowsBetween(-(n - 1), 0)
    b = (b.withColumn("s", F.sum("tp3").over(wn))
          .withColumn("cnt", F.count(F.lit(1)).over(wn))
          .withColumn("_xs", _trailing_vals("tp3", n)))
    s, cnt = F.col("s"), F.col("cnt")
    d = F.aggregate(
        F.transform(F.col("_xs"), lambda x: F.abs(cnt * x - s)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    b = b.withColumn("d", d)
    val = F.round((F.col("cnt") * (F.col("cnt") * F.col("tp3")
                                   - F.col("s"))).cast("double")
                  / (F.lit(0.015) * F.col("d").cast("double")), 6)
    return b.select("event_type", "hr",
                    F.when(F.col("d") > 0, val).alias("cci"))


CUSUM_K_CENTS = 50   # per-bar drift allowance (cents)
CUSUM_H_CENTS = 500  # alert threshold (cents)


def cusum(bars: DataFrame, k_cents: int = CUSUM_K_CENTS,
          h_cents: int = CUSUM_H_CENTS) -> DataFrame:
    """Tabular CUSUM changepoint statistic per symbol against the
    symbol's own full-history mean: s⁺_t = max(0, s⁺_{t−1} + (x_t − μ
    − k)) and the mirrored s⁻, with alert flags at threshold ``h``.

    The clamped recurrence is NOT a window aggregate — but it has the
    closed form s⁺_t = P_t − min(P_0..P_t) with P the prefix sum of the
    deviations (the max-drawdown identity), so it IS two windows.  To
    keep μ = S/n exact the whole statistic is scaled by n: P_t =
    n·A_t − rn·S − rn·n·k (all BIGINT; A = running Σclose in cents),
    s⁺ = P − least(0, running min P), and the emit divides by 100·n
    once (unrounded exact-integer IEEE division).  Alerts compare
    integers: s⁺ > n·h.  Headroom: n·A ≤ n²·c_max ≈ 5.6e16 at 1e6
    bars/symbol — inside int64.

    Scale: three windows over the same (symbol) partitioning — one
    shuffle; per-symbol partitions are bounded by the hour grid
    (≈8.8k bars/year ⟹ ≈175k narrow rows for a 20-year symbol, far
    inside one task's budget — same bound as :func:`obv`; below the
    hour grain, move the prefix sums to grouped_running_total).
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    p = Window.partitionBy("event_type")
    wr = w.rowsBetween(Window.unboundedPreceding, 0)
    c = F.round(F.col("close") * 100, 0).cast("long")
    b = bars.select("event_type", "hr", c.alias("c"))
    b = b.select(
        "event_type", "hr",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(p).cast("long").alias("n"),
        F.sum("c").over(p).cast("long").alias("s"),
        F.sum("c").over(wr).cast("long").alias("a"))
    b = b.select(
        "event_type", "hr", "n",
        (F.col("n") * F.col("a") - F.col("rn") * F.col("s")
         - F.col("rn") * F.col("n") * k_cents).alias("p_up"),
        (F.col("rn") * F.col("s") - F.col("n") * F.col("a")
         - F.col("rn") * F.col("n") * k_cents).alias("q_dn"))
    sp = F.col("p_up") - F.least(F.lit(0).cast("long"),
                                 F.min("p_up").over(wr))
    sq = F.col("q_dn") - F.least(F.lit(0).cast("long"),
                                 F.min("q_dn").over(wr))
    b = b.select("event_type", "hr", "n", sp.alias("sp"), sq.alias("sq"))
    den = (F.col("n") * 100).cast("double")
    return b.select(
        "event_type", "hr",
        (F.col("sp") / den).alias("cusum_up"),
        (F.col("sq") / den).alias("cusum_down"),
        (F.col("sp") > F.col("n") * h_cents).alias("alert_up"),
        (F.col("sq") > F.col("n") * h_cents).alias("alert_down"))


HURST_M_SMALL = 8    # R/S block sizes; ln(128/8) = 4·ln2 exactly,
HURST_M_LARGE = 128  # so the log-log slope is a single difference


def hurst_rs(bars: DataFrame, m_small: int = HURST_M_SMALL,
             m_large: int = HURST_M_LARGE) -> DataFrame:
    """Hurst exponent per symbol by rescaled-range (R/S) analysis over
    two block scales: H = (E[ln R/S]_large − E[ln R/S]_small) / ln(
    large/small). With the scales a power-of-16 ratio the denominator
    is exactly 4·ln2 (shared literal), so the regression collapses to
    one difference of block means.

    Exactness: returns are integer cents diffs; inside a block of size
    m the cumulative deviation rides the n-scaled prefix P_k = m·A_k −
    k·S (all BIGINT, and P_m = 0 so the classical "include 0" range
    convention holds for free), R/S = (maxP−minP)/sqrt(m·Σr²−S²) — a
    ratio whose numerator and the sqrt argument are EXACT integers.
    Each block contributes round(ln(num/sqrt(den))·1e6) on the
    transcendental-safe 1e-6 grid; block means are the sign-correct
    half-away integer mean; degenerate blocks (zero variance or zero
    range) are excluded on both engines. Only FULL blocks count.

    Scale: two window passes per scale over (symbol, block) partitions
    — blocks are bounded at m rows; the block aggregates then shrink to
    |blocks|. One shuffle per scale onto the same symbol keys.
    """
    from .windows import int_mean_half_away
    w = Window.partitionBy("event_type").orderBy("hr")
    c = F.round(F.col("close") * 100, 0).cast("long")
    b = bars.select("event_type", "hr", c.alias("c"))
    r = (b.withColumn("pc", F.lag("c").over(w))
          .filter(F.col("pc").isNotNull())
          .select("event_type", "hr", (F.col("c") - F.col("pc"))
                  .alias("r")))
    r = r.withColumn("rn", F.row_number().over(w))
    # both block scales consume this same return stream — without the
    # pin the whole bars-resample + lag + row_number subtree executes
    # TWICE (once per scale). The cached frame keeps its event_type
    # hash partitioning, which satisfies every downstream
    # (event_type, blk) window/groupBy via the subset rule, so each
    # scale pays only a sort, not an exchange (round-14, guide §2.4).
    r = pin(r)

    def per_scale(m: int) -> DataFrame:
        blk = r.select("event_type", "hr", "r",
                       F.expr(f"(rn - 1) div {m}").alias("blk"))
        wb = Window.partitionBy("event_type", "blk").orderBy("hr")
        pb = Window.partitionBy("event_type", "blk")
        d = blk.select(
            "event_type", "blk", "r",
            F.sum("r").over(wb.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long").alias("a"),
            F.sum("r").over(pb).cast("long").alias("s"),
            F.row_number().over(wb).cast("long").alias("k"),
            F.count(F.lit(1)).over(pb).cast("long").alias("n"))
        d = d.withColumn("p", m * F.col("a") - F.col("k") * F.col("s"))
        g = (d.filter(F.col("n") == m)
             .groupBy("event_type", "blk")
             .agg((F.max("p") - F.min("p")).alias("num"),
                  (m * F.sum(F.col("r") * F.col("r")).cast("long")
                   - F.min("s") * F.min("s")).alias("den")))
        t6 = F.round(F.log(F.col("num").cast("double")
                           / F.sqrt(F.col("den").cast("double")))
                     * F.lit(1e6), 0).cast("long")
        t = (g.filter((F.col("den") > 0) & (F.col("num") > 0))
             .select("event_type", t6.alias("t6")))
        y = (t.groupBy("event_type")
             .agg(F.count(F.lit(1)).cast("long").alias("nb"),
                  F.sum("t6").cast("long").alias("s6")))
        return y.select("event_type", "nb",
                        int_mean_half_away(F.col("s6"), F.col("nb"))
                        .alias("y6"))

    ys = per_scale(m_small).select(
        "event_type", F.col("nb").alias("n_blocks_small"),
        F.col("y6").alias("y6s"))
    yl = per_scale(m_large).select(
        "event_type", F.col("nb").alias("n_blocks_large"),
        F.col("y6").alias("y6l"))
    j = ys.join(yl, "event_type")
    h = F.round(((F.col("y6l") - F.col("y6s")).cast("double")
                 / F.lit(1e6)) / F.lit(PARKINSON_4LN2), 6)
    return j.select("event_type", "n_blocks_small", "n_blocks_large",
                    (F.col("y6s") / 1e6).alias("mean_ln_rs_small"),
                    (F.col("y6l") / 1e6).alias("mean_ln_rs_large"),
                    h.alias("hurst"))


VORTEX_N = 14  # vortex indicator lookback


def vortex(bars: DataFrame, n: int = VORTEX_N) -> DataFrame:
    """Vortex indicator per symbol: VI+ = Σ|h_t − l_{t−1}| / ΣTR and
    VI− = Σ|l_t − h_{t−1}| / ΣTR over the trailing ``n`` bars, with
    TR = max(h−l, |h−pc|, |l−pc|).

    Every movement and true-range term is an exact integer in cents;
    first bars (no previous close) contribute NULL terms that drop out
    of the window sums identically on both engines; each VI is the
    exact quotient ``(1e6·Σvm) div ΣTR`` on non-negative operands with
    one division by 1e6 at emit. Zero-range windows emit NULL.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select("event_type", "hr", cents("high").alias("h"),
                    cents("low").alias("l"), cents("close").alias("c"))
    ph, pl, pc = (F.lag(x).over(w) for x in ("h", "l", "c"))
    b = b.select(
        "event_type", "hr",
        F.abs(F.col("h") - pl).alias("vmp"),
        F.abs(F.col("l") - ph).alias("vmm"),
        F.when(pc.isNotNull(),
               F.greatest(F.col("h") - F.col("l"),
                          F.abs(F.col("h") - pc),
                          F.abs(F.col("l") - pc))).alias("tr"))
    wn = w.rowsBetween(-(n - 1), 0)
    b = b.select("event_type", "hr",
                 F.sum("vmp").over(wn).alias("sp"),
                 F.sum("vmm").over(wn).alias("sm"),
                 F.sum("tr").over(wn).alias("st"))
    vip = F.when(F.col("st") > 0, F.expr("(1000000 * sp) div st"))
    vim = F.when(F.col("st") > 0, F.expr("(1000000 * sm) div st"))
    return b.select("event_type", "hr",
                    (vip / 1e6).alias("vi_plus"),
                    (vim / 1e6).alias("vi_minus"))


KELT_MULT = 2  # Keltner band width in ATRs


def keltner(bars: DataFrame, decay: float = EWMA_DECAY,
            lookback: int = EWMA_LOOKBACK, n_atr: int = ATR_N,
            mult: int = KELT_MULT) -> DataFrame:
    """Keltner channels per symbol: center = truncated EWMA of the
    typical price (h+l+c)/3, bands = center ± ``mult``·ATR(``n_atr``).

    Composes the two proven kernels IN ONE WINDOW PASS (round-14
    optimization): the EWMA center rides the bounded-frame fold
    (``_trailing_vals`` + ``_ewma_fold``, the ewma_trend plan) and the
    ATR its rolling-mean frame, both on the same (symbol) partitioning
    — one exchange, no center⋈atr join (the former banded-join +
    equi-join form paid 5 exchanges for the same values). Center and
    ATR are 6-dp-rounded like their parents; the bands are UNROUNDED
    center ± mult·atr — pure IEEE ops on bit-identical inputs, so no
    rounding half-rule can ever split the engines on the composite.
    """
    w_lag = Window.partitionBy("event_type").orderBy("hr")
    tp = (F.col("high") + F.col("low") + F.col("close")) / 3.0
    prev_close = F.lag("close").over(w_lag)
    tr = F.when(prev_close.isNotNull(), F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - prev_close),
        F.abs(F.col("low") - prev_close)))
    b = (bars.select("event_type", "hr", tp.alias("tp"),
                     tr.alias("true_range"))
         .withColumn("_xs", _trailing_vals("tp", lookback))
         .withColumn("atr", F.round(
             F.avg("true_range").over(_series_window(n_atr)), 6))
         .withColumn("center",
                     F.round(_ewma_fold(F.col("_xs"), decay), 6)))
    return (b.select("event_type", "hr", "center",
                     (F.col("center") + mult * F.col("atr"))
                     .alias("kelt_upper"),
                     (F.col("center") - mult * F.col("atr"))
                     .alias("kelt_lower")))


def data_gaps(bars: DataFrame) -> DataFrame:
    """Per-symbol bar-continuity census over the hourly grid: bars
    present, hours expected between the symbol's first and last bar,
    missing count, and the longest gap — the data-quality check that
    gates every downstream window indicator (LOCF fills what this
    report quantifies).

    All integers: bar epochs are exact multiples of 3600, hour deltas
    are integer divisions of epoch differences, the longest gap is a
    max over lag diffs (single-bar symbols emit 0 via coalesce).
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    e = F.unix_timestamp("hr")
    b = bars.select("event_type", "hr", e.alias("e"))
    b = b.withColumn("gap", F.expr(
        "(e - lag(e) OVER (PARTITION BY event_type ORDER BY hr))"
        " div 3600 - 1"))
    return (b.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bars"),
                 (F.expr("(max(e) - min(e)) div 3600") + 1).cast("long")
                 .alias("expected_hours"),
                 F.coalesce(F.max("gap"), F.lit(0)).cast("long")
                 .alias("longest_gap_hours"))
            .withColumn("n_missing", (F.col("expected_hours")
                                      - F.col("n_bars")).cast("long"))
            .select("event_type", "n_bars", "expected_hours",
                    "n_missing", "longest_gap_hours")
            .orderBy("event_type"))


ADX_N = 14  # directional-movement window (SMA variant, like RSI here)


def adx(bars: DataFrame, n: int = ADX_N) -> DataFrame:
    """Average Directional Index (SMA variant) per symbol: +DM/−DM are
    the directional halves of the bar-to-bar range move, ±DI their
    window sums as a share of the true-range sum, DX the normalized
    |+DI − −DI| spread, and ADX the window mean of DX.

    Exact-integer discipline end to end: DM and TR are integer cents;
    ±DI ride the percent grid ``(1e8·Σdm) div ΣTR`` (→ 1e-6-grid
    percents after ONE division); DX's shared ΣTR denominator cancels,
    so DX = ``(1e8·|Σ+dm − Σ−dm|) div (Σ+dm + Σ−dm)`` — no float ever
    enters; and ADX is the integer quotient of non-negative DX-grid
    sums (truncating div == DuckDB ``//`` on non-negative operands).
    First bars (no previous close) contribute NULL terms that drop out
    of the window sums identically on both engines. Headroom: 1e8 ·
    n·max_move ≈ 1e8·14·56k = 7.8e13 ≪ int64.

    Scale: four stacked windows over ONE (symbol, hr) partitioning —
    a single shuffle; per-symbol rows are calendar-bounded (see
    :func:`obv`).
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select("event_type", "hr", cents("high").alias("h"),
                    cents("low").alias("l"), cents("close").alias("c"))
    ph, pl, pc = (F.lag(x).over(w) for x in ("h", "l", "c"))
    up = F.col("h") - ph
    dn = pl - F.col("l")
    has_prev = pc.isNotNull()
    b = b.select(
        "event_type", "hr",
        F.when(has_prev & (up > dn) & (up > 0), up)
        .otherwise(F.when(has_prev, F.lit(0).cast("long"))).alias("pdm"),
        F.when(has_prev & (dn > up) & (dn > 0), dn)
        .otherwise(F.when(has_prev, F.lit(0).cast("long"))).alias("mdm"),
        F.when(has_prev,
               F.greatest(F.col("h") - F.col("l"),
                          F.abs(F.col("h") - pc),
                          F.abs(F.col("l") - pc))).alias("tr"))
    wn = w.rowsBetween(-(n - 1), 0)
    b = b.select("event_type", "hr",
                 F.sum("pdm").over(wn).alias("sp"),
                 F.sum("mdm").over(wn).alias("sm"),
                 F.sum("tr").over(wn).alias("st"))
    b = b.select(
        "event_type", "hr",
        F.when(F.col("st") > 0,
               F.expr("(100000000 * sp) div st")).alias("dip"),
        F.when(F.col("st") > 0,
               F.expr("(100000000 * sm) div st")).alias("dim"),
        F.when(F.col("sp") + F.col("sm") > 0,
               F.expr("(100000000 * abs(sp - sm)) div (sp + sm)"))
        .alias("dx"))
    b = b.withColumn(
        "adxi", F.when(F.count("dx").over(wn) > 0,
                       F.expr(f"(sum(dx) OVER (PARTITION BY event_type "
                              f"ORDER BY hr ROWS BETWEEN {n - 1} "
                              f"PRECEDING AND CURRENT ROW)) div "
                              f"(count(dx) OVER (PARTITION BY event_type "
                              f"ORDER BY hr ROWS BETWEEN {n - 1} "
                              f"PRECEDING AND CURRENT ROW))")))
    return b.select("event_type", "hr",
                    (F.col("dip") / 1e6).alias("di_plus"),
                    (F.col("dim") / 1e6).alias("di_minus"),
                    (F.col("dx") / 1e6).alias("dx"),
                    (F.col("adxi") / 1e6).alias("adx"))


def force_index(bars: DataFrame, decay: float = EWMA_DECAY,
                lookback: int = EWMA_LOOKBACK) -> DataFrame:
    """Force index per symbol: truncated EWMA of (close-to-close move ×
    volume) — Elder's buying/selling-pressure gauge, normalized-weight
    truncated-EWMA variant (the :func:`ewma_trend` convention).

    The raw per-bar force is the EXACT integer cents-move × volume;
    first bars (no previous close) are dropped BEFORE the frame so
    every member carries a defined force and Σweights needs no
    conditional. The EWMA rides the bounded window frame
    (``_trailing_vals`` + ``_ewma_fold`` — the round-14 window form of
    the former banded join, one exchange); the emit divides by 100
    into dollars·shares and rounds 6 dp in one expression mirrored by
    the oracle.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    c = F.round(F.col("close") * 100, 0).cast("long")
    fi = ((c - F.lag(c).over(w)) * F.col("volume").cast("long"))
    b = (bars.select("event_type", "hr", fi.alias("fi"))
         .filter(F.col("fi").isNotNull())
         .withColumn("_xs", _trailing_vals("fi", lookback)))
    return b.select("event_type", "hr",
                    F.round(_ewma_fold(F.col("_xs"), decay) / 100.0, 6)
                    .alias("force_index"))


def pivot_points(daily: DataFrame) -> DataFrame:
    """Classic floor-trader pivot levels per symbol and day, from the
    PREVIOUS day's OHLC: P = (H+L+C)/3, R1 = 2P − L, S1 = 2P − H,
    R2 = P + (H − L), S2 = P − (H − L).

    No rounding anywhere: every level is a fixed IEEE expression over
    the previous day's integer cents (one division by 300 for P, one
    by 100 per range term), evaluated with identical association on
    both engines — rationals like k/300 CAN sit on a rounding
    boundary, so emitting the raw double is the only knife-edge-free
    canonical form. First days (no previous bar) emit NULL levels.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = daily.select("event_type", "hr", cents("high").alias("h"),
                     cents("low").alias("l"), cents("close").alias("c"))
    ph, pl, pc = (F.lag(x).over(w) for x in ("h", "l", "c"))
    b = b.select("event_type", "hr", ph.alias("ph"), pl.alias("pl"),
                 pc.alias("pc"))
    p = (F.col("ph") + F.col("pl") + F.col("pc")).cast("double") / 300.0
    rng = (F.col("ph") - F.col("pl")).cast("double") / 100.0
    lo = F.col("pl").cast("double") / 100.0
    hi = F.col("ph").cast("double") / 100.0
    return b.select(
        "event_type", "hr",
        p.alias("pivot"),
        (2.0 * p - lo).alias("r1"),
        (2.0 * p - hi).alias("s1"),
        (p + rng).alias("r2"),
        (p - rng).alias("s2"))


def kyle_lambda(bars: DataFrame) -> DataFrame:
    """Kyle's lambda per symbol: the OLS slope of the close-to-close
    price move (cents) on SIGNED volume (sign of the move × bar
    volume) — the canonical price-impact / illiquidity regression.

    All four regression sums are exact BIGINTs (x = signed volume,
    y = cents move); the slope is emitted as ONE IEEE division of the
    leaf-cast integer combinations ``(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)``
    with identical association on both engines, UNROUNDED (a ratio of
    exact integers can land on any rounding boundary — the raw double
    is the canonical form; both engines cast int64→double identically
    even past 2^53). Degenerate x-variance emits NULL. Headroom at the
    hourly grain: n·Σxy ≲ 720·(720·10³·56·10³) ≈ 3e13 ≪ int64.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    c = F.round(F.col("close") * 100, 0).cast("long")
    d = c - F.lag(c).over(w)
    b = (bars.select("event_type", "hr", d.alias("y"),
                     F.col("volume").cast("long").alias("vol"))
         .filter(F.col("y").isNotNull())
         .select("event_type", "y",
                 (F.signum(F.col("y")).cast("long") * F.col("vol"))
                 .alias("x")))
    g = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"))
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return g.select(
        "event_type", F.col("n").alias("n_obs"),
        F.when(den > 0, num.cast("double") / den.cast("double"))
        .alias("kyle_lambda")).orderBy("event_type")


def roll_spread(bars: DataFrame) -> DataFrame:
    """Roll's implied effective spread per symbol: 2·sqrt(−cov(Δp_t,
    Δp_{t−1})) when the serial covariance of price moves is negative
    (bid-ask bounce), NULL otherwise — the classic trade-price-only
    spread estimator.

    The covariance numerator ``n·Σ d·dl − Σd·Σdl`` is an exact BIGINT
    over integer cents moves; the emit is
    ``2·sqrt(−cov_n)/n/100`` — sqrt of a non-negative leaf-cast
    integer (DuckDB's sqrt(negative) hard-crashes, so the guard is on
    the INTEGER sign), transcendental, hence 6-dp-round-safe.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    c = F.round(F.col("close") * 100, 0).cast("long")
    d = c - F.lag(c).over(w)
    b = bars.select("event_type", "hr", d.alias("d"))
    b = (b.select("event_type", "d", F.lag("d").over(
        Window.partitionBy("event_type").orderBy("hr")).alias("dl"))
         .filter(F.col("d").isNotNull() & F.col("dl").isNotNull()))
    g = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("dl").cast("long").alias("sdl"),
        F.sum(F.col("d") * F.col("dl")).cast("long").alias("sddl"))
    cov_n = (F.col("n") * F.col("sddl") - F.col("sd") * F.col("sdl"))
    spread = F.round(
        2.0 * F.sqrt((-cov_n).cast("double")) / F.col("n").cast("double")
        / 100.0, 6)
    return g.select("event_type", F.col("n").alias("n_obs"),
                    F.when(cov_n < 0, spread).alias("roll_spread")) \
        .orderBy("event_type")


def daily_ohlc(events: DataFrame) -> DataFrame:
    """Resample raw ticks into DAILY OHLC bars per symbol — the day
    twin of :func:`hourly_bars` (same deterministic (ts, event_id)
    tie-break, same single-exchange window + conditional-agg shape),
    for indicators defined on the daily grid (:func:`pivot_points`).
    """
    e = events.select(
        "event_type", "ts", "event_id", "value",
        F.date_trunc("day", F.col("ts")).alias("hr"))
    w_a = Window.partitionBy("event_type", "hr").orderBy("ts", "event_id")
    w_d = Window.partitionBy("event_type", "hr").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    r = (e.withColumn("rn_a", F.row_number().over(w_a))
          .withColumn("rn_d", F.row_number().over(w_d)))
    return (r.groupBy("event_type", "hr")
            .agg(F.max(F.when(F.col("rn_a") == 1, F.col("value")))
                 .alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max(F.when(F.col("rn_d") == 1, F.col("value")))
                 .alias("close"),
                 F.count(F.lit(1)).alias("volume")))


CMO_N = 14  # Chande momentum window


def chande_momentum(bars: DataFrame, n: int = CMO_N) -> DataFrame:
    """Chande Momentum Oscillator per symbol:
    100·(Σgain − Σloss)/(Σgain + Σloss) over the trailing ``n`` bars —
    RSI's symmetric cousin, in [−100, 100].

    Gains/losses are integer cents, the window sums exact BIGINTs, and
    the emit rides the SIGN-SPLIT quotient grid: truncating div equals
    DuckDB ``//`` only for non-negative operands, so the numerator's
    sign is peeled off, the magnitude divided
    (``(1e8·|Σg−Σl|) div (Σg+Σl)``), and the sign reapplied AFTER the
    one division by 1e6 (the williams_r precedent). First bars (no
    delta) drop from both sums identically on both engines; all-tie
    windows (Σg+Σl = 0) emit NULL.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    c = F.round(F.col("close") * 100, 0).cast("long")
    delta = c - F.lag(c).over(w)
    b = bars.select(
        "event_type", "hr",
        F.when(delta.isNotNull(),
               F.greatest(delta, F.lit(0).cast("long"))).alias("g"),
        F.when(delta.isNotNull(),
               F.greatest(-delta, F.lit(0).cast("long"))).alias("l"))
    wn = w.rowsBetween(-(n - 1), 0)
    b = b.select("event_type", "hr",
                 F.sum("g").over(wn).alias("sg"),
                 F.sum("l").over(wn).alias("sl"))
    num = F.col("sg") - F.col("sl")
    mag = F.expr("(100000000 * abs(sg - sl)) div (sg + sl)")
    cmo = F.signum(num).cast("long") * mag / 1e6
    return b.select("event_type", "hr",
                    F.when(F.col("sg") + F.col("sl") > 0, cmo)
                    .alias("cmo"))


def _banded_ewma_stage(b: DataFrame, val_col: str, out: str,
                       decay: float, lookback: int) -> DataFrame:
    """One truncated-EWMA pass over a (event_type, hr, …, val) frame
    via the bounded window fold (``_trailing_vals`` + ``_ewma_fold``)
    — the shared stage of :func:`trix` (three chained stages),
    :func:`elder_ray`, :func:`macd`, :func:`dema` and
    :func:`chaikin_volatility`. Because every stage windows on the
    SAME (event_type, hr) partitioning and order, a chain of stages
    costs ONE exchange total (round-14: the former banded-join form
    paid ~3 exchanges per stage). Preserves ``rn`` when present so
    existing callers chain unchanged. Output is 6-dp-rounded like
    every EWMA in this module."""
    keep = ["event_type", "hr"] + (["rn"] if "rn" in b.columns else [])
    return (b.withColumn("_xs", _trailing_vals(val_col, lookback))
            .select(*keep,
                    F.round(_ewma_fold(F.col("_xs"), decay), 6)
                    .alias(out)))


def trix(bars: DataFrame, decay: float = EWMA_DECAY,
         lookback: int = EWMA_LOOKBACK) -> DataFrame:
    """TRIX per symbol: the one-bar rate of change of a TRIPLE
    truncated EWMA of close, in basis points —
    ``10000·(ew3_t/ew3_{t−1} − 1)``.

    Three chained :func:`_banded_ewma_stage` passes (each O(lookback)
    frame work per bar, each 6-dp-rounded so every stage hands the
    next a canonical decimal) — all on ONE (symbol) exchange since the
    round-14 window rewrite — then one lag. The emit is UNROUNDED:
    ew3 values are scaled integers (6-dp decimals), and a ratio of
    exact integers can land on any rounding boundary — the raw IEEE
    ``(ew3/prev − 1)·10000`` with identical association is the
    knife-edge-free form. First bars emit NULL (no previous ew3).
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    b = bars.select("event_type", "hr", F.col("close").alias("v0"))
    e1 = _banded_ewma_stage(b, "v0", "v1", decay, lookback)
    e2 = _banded_ewma_stage(e1, "v1", "v2", decay, lookback)
    e3 = _banded_ewma_stage(e2, "v2", "v3", decay, lookback)
    prev = F.lag("v3").over(w)
    return (e3.select("event_type", "hr", F.col("v3").alias("ew3"),
                      ((F.col("v3") / prev - F.lit(1.0)) * 10000.0)
                      .alias("trix")))


def elder_ray(bars: DataFrame, decay: float = EWMA_DECAY,
              lookback: int = EWMA_LOOKBACK) -> DataFrame:
    """Elder Ray index per symbol: bull power = high − EWMA(close),
    bear power = low − EWMA(close) — where the bar's extremes sit
    relative to the consensus trend.

    One :func:`_banded_ewma_stage`-shaped window pass, computed inline
    so the bars⋈center join disappears (round-14: same values, one
    exchange); the emits are UNROUNDED differences of a 2-dp price and
    the 6-dp-rounded EWMA — both exact decimals, one IEEE subtraction
    each, identical on any engine.
    """
    b = (bars.select("event_type", "hr", "high", "low",
                     F.col("close").alias("v0"))
         .withColumn("_xs", _trailing_vals("v0", lookback))
         .withColumn("ema", F.round(_ewma_fold(F.col("_xs"), decay), 6)))
    return b.select("event_type", "hr", "ema",
                    (F.col("high") - F.col("ema")).alias("bull_power"),
                    (F.col("low") - F.col("ema")).alias("bear_power"))


def updown_streaks(bars: DataFrame) -> DataFrame:
    """Distribution of consecutive up/down close streaks per symbol —
    the run-length census behind momentum/mean-reversion hypotheses
    ("how often do 5 green bars in a row happen?").

    The classic gaps-and-islands identity: after dropping tie bars
    (Δclose = 0 breaks a streak and joins none), the group key is
    ``row_number() over (symbol) − row_number() over (symbol,
    direction)`` — constant exactly within a maximal run. Directions
    are integer cents signs, streak lengths integer counts; two window
    passes over ONE (symbol, hr) ordering and two hash-aggs. Output:
    (event_type, direction ∈ {−1, 1}, streak_len, n_streaks).
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    c = F.round(F.col("close") * 100, 0).cast("long")
    d = F.signum(c - F.lag(c).over(w)).cast("long")
    b = (bars.select("event_type", "hr", d.alias("dir"))
         .filter(F.col("dir").isNotNull() & (F.col("dir") != 0)))
    w_all = Window.partitionBy("event_type").orderBy("hr")
    w_dir = Window.partitionBy("event_type", "dir").orderBy("hr")
    b = b.select("event_type", "dir",
                 (F.row_number().over(w_all)
                  - F.row_number().over(w_dir)).alias("grp"))
    runs = (b.groupBy("event_type", "dir", "grp")
            .agg(F.count(F.lit(1)).cast("long").alias("streak_len")))
    return (runs.groupBy("event_type", F.col("dir").alias("direction"),
                         "streak_len")
            .agg(F.count(F.lit(1)).cast("long").alias("n_streaks"))
            .orderBy("event_type", "direction", "streak_len"))


def overnight_gaps(daily: DataFrame) -> DataFrame:
    """Overnight-gap census per symbol from daily bars: how often and
    how far the open jumps away from the previous close — the
    liquidity/news-risk profile a close-to-close model never sees.

    Pure integers: gaps are cents differences, counts exact, extremes
    min/max, the up-share on the ``(1e6·n_up) div n`` quotient grid
    with one division at emit. First days (no previous close) are
    excluded identically on both engines.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    o = F.round(F.col("open") * 100, 0).cast("long")
    pc = F.lag(F.round(F.col("close") * 100, 0).cast("long")).over(w)
    b = (daily.select("event_type", (o - pc).alias("gap"))
         .filter(F.col("gap").isNotNull()))
    g = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("gap") > 0, 1).otherwise(0)).cast("long")
        .alias("n_gap_up"),
        F.sum(F.when(F.col("gap") < 0, 1).otherwise(0)).cast("long")
        .alias("n_gap_down"),
        F.max("gap").cast("long").alias("max_gap_up_cents"),
        F.min("gap").cast("long").alias("max_gap_down_cents"),
        F.sum("gap").cast("long").alias("net_gap_cents"))
    share = F.expr("(1000000 * n_gap_up) div n_days") / 1e6
    return (g.withColumn("gap_up_share",
                         F.when(F.col("n_days") > 0, share))
            .orderBy("event_type"))


VP_BUCKET_CENTS = 100   # $1 price buckets
VP_TOP_K = 5            # buckets kept per symbol


def volume_profile(bars: DataFrame, bucket_cents: int = VP_BUCKET_CENTS,
                   top_k: int = VP_TOP_K) -> DataFrame:
    """Volume-at-price profile per symbol: bucket each bar's close into
    ``bucket_cents``-wide price bins, sum volume per bin, and keep the
    ``top_k`` highest-volume bins (the top one is the session's "point
    of control"). The support/resistance map market-profile traders
    read; none of it exists in a time-ordered view.

    Integer discipline throughout: close is cents (BIGINT), the bucket
    an integer div (prices are non-negative so div == floor), volumes
    exact counts, and the volume share rides the
    ``(1e8·v) div total`` quotient grid with ONE division at emit.
    Ranking ties break on the lower bucket. The per-symbol total rides
    a window over the bucket MATRIX (symbol × bucket, price-range
    sized), never the bars.
    """
    c = F.round(F.col("close") * 100, 0).cast("long")
    b = bars.select("event_type",
                    (c - (c % F.lit(bucket_cents))).alias("bucket_cents"),
                    "volume")
    per = b.groupBy("event_type", "bucket_cents").agg(
        F.sum("volume").cast("long").alias("bucket_volume"))
    w_tot = Window.partitionBy("event_type")
    w_rnk = Window.partitionBy("event_type").orderBy(
        F.col("bucket_volume").desc(), F.col("bucket_cents").asc())
    out = (per.withColumn("total_volume",
                          F.sum("bucket_volume").over(w_tot).cast("long"))
           .withColumn("rank", F.row_number().over(w_rnk))
           .filter(F.col("rank") <= top_k))
    share = F.expr("(100000000 * bucket_volume) div total_volume") / 1e6
    return (out.select("event_type", "rank", "bucket_cents",
                       "bucket_volume", "total_volume",
                       F.when(F.col("total_volume") > 0, share)
                       .alias("volume_share_pct"))
            .orderBy("event_type", "rank"))


def weekly_bars(bars: DataFrame) -> DataFrame:
    """Resample hourly bars into weekly OHLC bars per symbol — the
    coarse-grid twin of :func:`hourly_bars` for position-horizon
    indicators. Monday-anchored weeks (`date_trunc('week')` in both
    engines); open/close are the first/last hourly bar's open/close
    tie-broken on the unique ``hr``, high/low are order-independent
    extremes, volume an exact integer sum — no float aggregation
    anywhere, so raw double prices pass through untouched.
    """
    e = bars.select("event_type", "hr", "open", "high", "low", "close",
                    "volume",
                    F.date_trunc("week", F.col("hr")).alias("wk"))
    w_a = Window.partitionBy("event_type", "wk").orderBy("hr")
    w_d = Window.partitionBy("event_type", "wk").orderBy(F.col("hr").desc())
    r = (e.withColumn("rn_a", F.row_number().over(w_a))
          .withColumn("rn_d", F.row_number().over(w_d)))
    return (r.groupBy("event_type", "wk")
            .agg(F.max(F.when(F.col("rn_a") == 1, F.col("open")))
                 .alias("open"),
                 F.max("high").alias("high"),
                 F.min("low").alias("low"),
                 F.max(F.when(F.col("rn_d") == 1, F.col("close")))
                 .alias("close"),
                 F.sum("volume").cast("long").alias("volume"),
                 F.count(F.lit(1)).cast("long").alias("n_bars"))
            .orderBy("event_type", "wk"))


def gap_fill_rate(daily: DataFrame) -> DataFrame:
    """Gap-fill census per symbol from daily bars: of the days that
    opened away from the previous close, how many traded back to touch
    it the same day (gap-up fills when the day's low tags the prior
    close; gap-down fills when the high does). The mean-reversion
    prior behind every "fade the gap" strategy, as exact counts.

    All comparisons are integer cents; the fill shares ride the
    ``(1e6·filled) div gaps`` quotient grid (NULL when a symbol never
    gapped that way). First days drop identically on both engines.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    o = F.round(F.col("open") * 100, 0).cast("long")
    h = F.round(F.col("high") * 100, 0).cast("long")
    l = F.round(F.col("low") * 100, 0).cast("long")
    pc = F.lag(F.round(F.col("close") * 100, 0).cast("long")).over(w)
    d = (daily.select("event_type", o.alias("o"), h.alias("h"),
                      l.alias("l"), pc.alias("pc"))
         .filter(F.col("pc").isNotNull()))
    g = d.groupBy("event_type").agg(
        F.sum(F.when(F.col("o") > F.col("pc"), 1).otherwise(0))
        .cast("long").alias("n_gap_up"),
        F.sum(F.when((F.col("o") > F.col("pc"))
                     & (F.col("l") <= F.col("pc")), 1).otherwise(0))
        .cast("long").alias("n_up_filled"),
        F.sum(F.when(F.col("o") < F.col("pc"), 1).otherwise(0))
        .cast("long").alias("n_gap_down"),
        F.sum(F.when((F.col("o") < F.col("pc"))
                     & (F.col("h") >= F.col("pc")), 1).otherwise(0))
        .cast("long").alias("n_down_filled"))
    up = F.expr("(1000000 * n_up_filled) div n_gap_up") / 1e6
    dn = F.expr("(1000000 * n_down_filled) div n_gap_down") / 1e6
    return (g.select("event_type", "n_gap_up", "n_up_filled",
                     "n_gap_down", "n_down_filled",
                     F.when(F.col("n_gap_up") > 0, up)
                     .alias("up_fill_share"),
                     F.when(F.col("n_gap_down") > 0, dn)
                     .alias("down_fill_share"))
            .orderBy("event_type"))


def intraday_volume_curve(bars: DataFrame) -> DataFrame:
    """Hour-of-day volume seasonality per symbol: the share of total
    volume landing in each clock hour — the U-shape curve execution
    algos (VWAP schedulers) are calibrated against.

    Volumes are exact integer counts; shares ride the
    ``(1e8·v) div total`` quotient grid with one division at emit.
    The per-symbol total is a window over the symbol × 24-hour
    MATRIX, never the bars.
    """
    b = bars.select("event_type", F.hour("hr").alias("hour_of_day"),
                    "volume")
    per = b.groupBy("event_type", "hour_of_day").agg(
        F.sum("volume").cast("long").alias("hour_volume"))
    w_tot = Window.partitionBy("event_type")
    out = per.withColumn(
        "total_volume", F.sum("hour_volume").over(w_tot).cast("long"))
    share = F.expr("(100000000 * hour_volume) div total_volume") / 1e6
    return (out.select("event_type", "hour_of_day", "hour_volume",
                       F.when(F.col("total_volume") > 0, share)
                       .alias("volume_share_pct"))
            .orderBy("event_type", "hour_of_day"))


def monthly_returns(daily: DataFrame) -> DataFrame:
    """Calendar-month return matrix per symbol: first/last close of
    each month and the simple return between them — the seasonality
    panel behind "sell in May" tables.

    First/last picks are tie-broken on the unique day key (no float
    aggregation), closes are integer cents, and the return is the
    UNROUNDED double ratio of exact integer cents
    ``(c_last − c_first) / c_first`` (single IEEE division, identical
    association both engines; NULL-guarded on ``c_first > 0`` — the
    sf0.1 zero-tick rule).
    """
    m = daily.select(
        "event_type", "hr",
        F.date_trunc("month", F.col("hr")).alias("month"),
        F.round(F.col("close") * 100, 0).cast("long").alias("c"))
    w_a = Window.partitionBy("event_type", "month").orderBy("hr")
    w_d = Window.partitionBy("event_type", "month").orderBy(
        F.col("hr").desc())
    r = (m.withColumn("rn_a", F.row_number().over(w_a))
          .withColumn("rn_d", F.row_number().over(w_d)))
    g = (r.groupBy("event_type", "month")
         .agg(F.max(F.when(F.col("rn_a") == 1, F.col("c")))
              .alias("first_close_cents"),
              F.max(F.when(F.col("rn_d") == 1, F.col("c")))
              .alias("last_close_cents"),
              F.count(F.lit(1)).cast("long").alias("n_days")))
    ret = ((F.col("last_close_cents") - F.col("first_close_cents"))
           .cast("double") / F.col("first_close_cents").cast("double"))
    return (g.select("event_type", "month", "first_close_cents",
                     "last_close_cents", "n_days",
                     F.when(F.col("first_close_cents") > 0, ret)
                     .alias("monthly_return"))
            .orderBy("event_type", "month"))


RET_HIST_OFFSET = 10_000   # shifts bp returns non-negative (r >= -1e4)
RET_HIST_BUCKET = 100      # 1%-wide buckets on the bp grid


def return_histogram(daily: DataFrame) -> DataFrame:
    """Per-symbol histogram of daily simple returns in 1% buckets —
    the fat-tail census behind VaR sanity checks.

    Returns ride the SIGN-SPLIT basis-point quotient grid
    ``sign · (1e4·|c−pc|) div pc`` (truncating div == DuckDB ``//``
    only for non-negative operands — the williams_r precedent), then
    bucketing shifts by +1e4 FIRST so the bucket div also sees a
    non-negative operand (floor-vs-trunc on negatives would split
    engines at every bucket edge). Zero/NULL prior closes drop on
    both engines.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    c = F.round(F.col("close") * 100, 0).cast("long")
    d = (daily.select("event_type", "hr", c.alias("c"))
         .withColumn("pc", F.lag("c").over(w))
         .filter(F.col("pc").isNotNull() & (F.col("pc") > 0)))
    mag = F.expr("(10000 * abs(c - pc)) div pc")
    r_bp = F.when(F.col("c") >= F.col("pc"), mag).otherwise(-mag)
    b = (d.select("event_type", r_bp.alias("r_bp"))
         .select("event_type",
                 (F.expr(f"(r_bp + {RET_HIST_OFFSET}) div "
                         f"{RET_HIST_BUCKET}") * RET_HIST_BUCKET
                  - RET_HIST_OFFSET).alias("bucket_bp"))
         .groupBy("event_type", "bucket_bp")
         .agg(F.count(F.lit(1)).cast("long").alias("n_days")))
    t = b.withColumn(
        "total_days",
        F.sum("n_days").over(Window.partitionBy("event_type"))
        .cast("long"))
    sh = F.expr("(100000000 * n_days) div total_days") / 1e6
    return (t.select("event_type", "bucket_bp", "n_days",
                     F.when(F.col("total_days") > 0, sh)
                     .alias("day_share_pct"))
            .orderBy("event_type", "bucket_bp"))


# --------------------------------------------------------------------------
# round 9: volatility-estimator / mean-reversion / cross-series additions
# --------------------------------------------------------------------------

RS_GRID = 1e12          # Rogers–Satchell per-bar term fixed-point grid
MOM_RET_GRID = 100      # 1e-2 log-return grid for higher moments: the
#   synthetic tape's hourly |ln ratio| reaches ~9.2 (ticks are noise,
#   not a walk), so r_int <= ~920 and r^4 <= 7.2e11/term — Σr⁴ stays
#   inside int64 through ~10^6 bars/symbol. Skew/kurt are scale-free,
#   so the coarse grid only quantizes (identically in both engines).
LL_RET_GRID = 1_000_000  # 1e-6 log-return grid for lead-lag sums
LL_MAX_LAG = 3           # hours each side of zero
OU_LN2 = 0.6931471805599453  # ln 2, hardcoded in plan AND oracle


def rogers_satchell_vol(bars: DataFrame) -> DataFrame:
    """Rogers–Satchell range volatility per symbol over the full bar
    history: sqrt(Σ [ln(h/c)·ln(h/o) + ln(l/c)·ln(l/o)] / n) — the
    drift-independent OHLC estimator (Parkinson assumes zero drift;
    RS does not), the natural next rung after
    :func:`parkinson_vol` / the Garman–Klass term in
    :func:`realized_vol_daily`.

    Determinism (the parkinson discipline): each bar's RS term is ONE
    IEEE expression over leaf-cast integer cents, quantized to the
    exact 1e-12 grid, summed as BIGINT; the final sqrt runs on
    identical scalars in both engines. With the bar invariant
    l ≤ o,c ≤ h both products are non-negative (ln(h/·) ≥ 0,
    ln(l/·) ≤ 0), so each term is ≥ 0 and the Σ ≥ 0 emit guard is a
    pure belt-and-braces defence for malformed bars (DuckDB
    sqrt(negative) is a hard crash, not NaN). Int64 headroom: an
    extreme bar's term reaches ~(ln 10⁴)² ·2 ≈ 170 → ~1.7e14 on the
    1e-12 grid, so Σt overflows int64 only past ~5·10⁴ such bars per
    symbol (720 bars/symbol at sf0.1 — 70× headroom even if every bar
    were extreme); re-grid to 1e-10 before running symbols with ≫10⁴
    pathological-range bars. Bars with a nonpositive low or inverted
    range are dropped. One projection + one hash-agg — no window, no
    shuffle beyond the group-by.
    """
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select("event_type", cents("open").alias("o"),
                    cents("high").alias("h"), cents("low").alias("l"),
                    cents("close").alias("c"))
    b = b.filter((F.col("l") > 0) & (F.col("h") >= F.col("l")))
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    term = (F.log(dbl("h") / dbl("c")) * F.log(dbl("h") / dbl("o"))
            + F.log(dbl("l") / dbl("c")) * F.log(dbl("l") / dbl("o")))
    t = F.round(term * F.lit(RS_GRID), 0).cast("long")
    g = (b.select("event_type", t.alias("t"))
         .groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("n_bars"),
              F.sum("t").cast("long").alias("s")))
    rs = F.round(
        F.sqrt(F.col("s").cast("double") / F.col("n_bars").cast("double"))
        / 1e6, 6)
    return (g.select("event_type", "n_bars",
                     F.when((F.col("n_bars") > 0) & (F.col("s") >= 0), rs)
                     .alias("rs_vol"))
            .orderBy("event_type"))


def return_moments(bars: DataFrame) -> DataFrame:
    """Skewness and excess kurtosis of hourly close-to-close log
    returns per symbol — the tail-shape screen that decides whether a
    Gaussian risk model (``stock_var_es``'s parametric tier) is even
    admissible for a series.

    Returns are quantized to the 1e-2 grid (``MOM_RET_GRID``; skew
    and kurtosis are scale-free, so the grid factor cancels — the
    coarse grid buys r⁴ headroom against the synthetic tape's ~9.2
    max |ln ratio|: Σr⁴ stays under int64 through ~10⁶ bars/symbol).
    S1..S4 are exact BIGINTs; the
    final standardized-moment formulas run on leaf-cast doubles with
    IDENTICAL association both engines and are emitted UNROUNDED
    (pure functions of exact integers — the kyle-lambda rule: a
    rounded ratio of exact sums is a knife edge, the raw double is
    not). Guard: variance > 0.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    b = (bars.filter(F.col("low") > 0)
         .select("event_type", "hr", "close",
                 F.lag("close").over(w).alias("pc"))
         .filter(F.col("pc").isNotNull() & (F.col("pc") > 0)))
    r = F.round(F.log(F.col("close") / F.col("pc"))
                * F.lit(float(MOM_RET_GRID)), 0).cast("long")
    d = b.select("event_type", r.alias("r"))
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("long").alias("s1"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("s2"),
        F.sum(F.col("r") * F.col("r") * F.col("r"))
        .cast("long").alias("s3"),
        F.sum(F.col("r") * F.col("r") * F.col("r") * F.col("r"))
        .cast("long").alias("s4"))
    n = F.col("n").cast("double")
    m = F.col("s1").cast("double") / n
    q2 = F.col("s2").cast("double") / n
    q3 = F.col("s3").cast("double") / n
    q4 = F.col("s4").cast("double") / n
    v = q2 - m * m
    skew = (q3 - F.lit(3.0) * m * q2 + F.lit(2.0) * m * m * m) \
        / (v * F.sqrt(v))
    kurt = (q4 - F.lit(4.0) * m * q3 + F.lit(6.0) * m * m * q2
            - F.lit(3.0) * m * m * m * m) / (v * v) - F.lit(3.0)
    return (g.select("event_type", "n",
                     F.when(v > 0, skew).alias("skewness"),
                     F.when(v > 0, kurt).alias("excess_kurtosis"))
            .orderBy("event_type"))


def lead_lag_corr(bars: DataFrame, sym_x: str, sym_y: str,
                  max_lag: int = LL_MAX_LAG) -> DataFrame:
    """Lead–lag cross-correlation between two symbols' hourly log
    returns: corr(r_x(t), r_y(t+k)) for k in [-max_lag, +max_lag] —
    does one series anticipate the other? (:func:`rolling_corr` is the
    k=0 time-varying view; this is the lag profile.)

    Returns on the exact 1e-6 grid keyed by integer epoch-hour
    (``unix_timestamp div 3600`` — the hour is already truncated, so
    no sub-second mismatch); the lag shift is integer addition on
    that key. Per lag: exact BIGINT (n, Σx, Σy, Σx², Σy², Σxy) and
    ONE unrounded double formula num/sqrt(denx·deny) with the
    variance factors guarded individually as integers (the product
    overflows int64 — cast leaves to double inside the sqrt).
    The 2·max_lag+1 lag rows ride a broadcast join; everything else
    is one shuffle per series plus a keyed equi-join per lag batch.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    b = (bars.filter(F.col("low") > 0)
         .select("event_type", "hr", "close",
                 F.lag("close").over(w).alias("pc"))
         .filter(F.col("pc").isNotNull() & (F.col("pc") > 0)))
    r = F.round(F.log(F.col("close") / F.col("pc"))
                * F.lit(float(LL_RET_GRID)), 0).cast("long")
    he = F.expr("unix_timestamp(hr) div 3600")
    d = b.select("event_type", he.alias("he"), r.alias("r"))
    x = d.filter(F.col("event_type") == sym_x).select(
        F.col("he").alias("hx"), F.col("r").alias("rx"))
    y = d.filter(F.col("event_type") == sym_y).select(
        F.col("he").alias("hy"), F.col("r").alias("ry"))
    spark = bars.sparkSession
    lags = spark.createDataFrame(
        [(k,) for k in range(-max_lag, max_lag + 1)], "lag long")
    xl = x.crossJoin(F.broadcast(lags))
    j = xl.join(y, xl.hx + F.col("lag") == y.hy)
    g = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("long").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("long").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("long").alias("sxy"))
    num = (F.col("n_pairs") * F.col("sxy")
           - F.col("sx") * F.col("sy")).cast("long")
    denx = (F.col("n_pairs") * F.col("sxx")
            - F.col("sx") * F.col("sx")).cast("long")
    deny = (F.col("n_pairs") * F.col("syy")
            - F.col("sy") * F.col("sy")).cast("long")
    corr = num.cast("double") / F.sqrt(denx.cast("double")
                                       * deny.cast("double"))
    return (g.select("lag", "n_pairs",
                     F.when((denx > 0) & (deny > 0), corr)
                     .alias("xcorr"))
            .orderBy("lag"))


def ou_halflife(bars: DataFrame) -> DataFrame:
    """Mean-reversion half-life per symbol via the AR(1) / discrete
    Ornstein–Uhlenbeck fit: regress Δc_t on c_{t-1}; φ = 1 + β is the
    hourly persistence and half-life = −ln2 / ln φ (hours). The
    screen behind every pairs/mean-reversion strategy — which series
    snap back, and how fast.

    All regression sums are exact BIGINTs on the integer cents grid
    (headroom: n·Σx² ≈ 1.6e15 at sf0.1's 720 bars of ≤ $560 closes;
    re-grid to dimes past ~10⁵ bars/symbol). β is emitted UNROUNDED
    (exact-integer ratio, one division); the half-life quantizes the
    transcendental to 6 dp (ln output never sits on the grid
    boundary) with ln2 as a shared literal. Guard: den > 0 and
    0 < φ < 1 (a non-mean-reverting series has no half-life).
    """
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    w = Window.partitionBy("event_type").orderBy("hr")
    b = (bars.select("event_type", "hr", cents("close").alias("c"))
         .withColumn("x", F.lag("c").over(w))
         .filter(F.col("x").isNotNull()))
    d = b.select("event_type", "x", (F.col("c") - F.col("x")).alias("y"))
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("long")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) \
        .cast("long")
    # beta guarded at the division itself: the phi/half-life guards
    # below EVALUATE phi, and ANSI x/0 raises even double/double —
    # a NULL beta null-propagates through every downstream predicate
    beta = F.when(den > 0, num.cast("double") / den.cast("double"))
    phi = F.lit(1.0) + beta
    hl = F.round(F.lit(-OU_LN2) / F.log(phi) * 1e6, 0) / 1e6
    return (g.select(
        "event_type", "n",
        beta.alias("beta"),
        F.when((phi > 0) & (phi < 1), hl)
        .alias("halflife_hours"))
        .orderBy("event_type"))


def volume_hhi_daily(bars: DataFrame) -> DataFrame:
    """Daily volume-concentration profile across symbols: per day,
    each symbol's tick-volume share on the exact (1e6·v) div total
    quotient grid, the Herfindahl–Hirschman index Σ share² (1 = one
    symbol took the whole tape, 1/k = perfectly even across k), the
    top symbol's share, and the symbol count. The venue-concentration
    audit a surveillance pipeline runs daily.

    Pure integers end to end: volumes are counts, shares are integer
    quotients, HHI is a BIGINT sum of squared 1e-6-grid shares
    emitted by ONE division by 1e12. Two hash-aggs on (day, symbol)
    then (day) — no windows, no joins; day count is calendar-bounded.
    """
    day = F.date_trunc("day", F.col("hr"))
    per = (bars.groupBy(day.alias("day"), F.col("event_type"))
           .agg(F.sum("volume").cast("long").alias("v")))
    tot = (per.groupBy("day")
           .agg(F.sum("v").cast("long").alias("total"),
                F.count(F.lit(1)).cast("long").alias("n_symbols")))
    j = per.join(tot, "day")
    share6 = F.expr("(1000000 * v) div total")
    g = (j.select("day", "n_symbols", share6.alias("s6"))
         .groupBy("day")
         .agg(F.min("n_symbols").cast("long").alias("n_symbols"),
              F.sum(F.col("s6") * F.col("s6")).cast("long")
              .alias("hhi12"),
              F.max("s6").cast("long").alias("top6")))
    return (g.select("day", "n_symbols",
                     (F.col("hhi12") / 1e12).alias("hhi"),
                     (F.col("top6") / 1e6).alias("top_share"))
            .orderBy("day"))


MINVAR_RET_GRID = 10000  # 1e-4 return grid; headroom depends on |r| — see docstring


def minvar_pair_weights(bars: DataFrame) -> DataFrame:
    """Two-asset minimum-variance portfolio weights for every
    unordered symbol pair, from co-observed hourly log returns:
    w_a = (σ_b² − σ_ab) / (σ_a² + σ_b² − 2σ_ab), w_b = 1 − w_a — the
    closed-form risk-parity building block one rung up from
    :func:`cov_matrix` (which reports the inputs; this reports the
    decision).

    Exactness: returns ride the 1e-4 grid (``MINVAR_RET_GRID``;
    weights are scale-free, the grid² factor cancels), the five power
    sums are exact BIGINTs per pair, and the n-scaled variance forms
    (n·Σxy − ΣxΣy) stay integer — headroom scales with the return
    magnitude: n·Σr² ≤ n²·r²_max, so int64 holds through ~3·10⁶
    co-observed bars/pair at ordinary hourly magnitudes
    (|ln ratio| ≤ 0.1) but only ~3.3·10⁴ bars if EVERY bar sat at the
    synthetic tape's 9.2 extreme; re-grid to 1e-3 (or shard the
    window) before a pair's bar count approaches
    9.6e9/max|r|_grid. The emit is ONE
    identically-associated double division, guarded on the
    denominator n²·Var(r_a − r_b) > 0 (degenerate pairs whose return
    difference is constant have no unique min-var point). Pair join
    keys on the hour — |symbols|²-scaled, linear in bars for a fixed
    universe, the cov_matrix shuffle shape.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    b = (bars.filter(F.col("low") > 0)
         .select("event_type", "hr", "close",
                 F.lag("close").over(w).alias("pc"))
         .filter(F.col("pc").isNotNull() & (F.col("pc") > 0)))
    r = b.select("event_type", "hr",
                 F.round(F.log(F.col("close") / F.col("pc"))
                         * F.lit(float(MINVAR_RET_GRID)), 0)
                 .cast("long").alias("r"))
    a, c = r.alias("a"), r.alias("b")
    p = (a.join(c, (F.col("a.hr") == F.col("b.hr"))
                & (F.col("a.event_type") < F.col("b.event_type")))
         .select(F.col("a.event_type").alias("sym_a"),
                 F.col("b.event_type").alias("sym_b"),
                 F.col("a.r").alias("ra"), F.col("b.r").alias("rb")))
    g = p.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ra").cast("long").alias("sa"),
        F.sum("rb").cast("long").alias("sb"),
        F.sum(F.col("ra") * F.col("ra")).cast("long").alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).cast("long").alias("sbb"),
        F.sum(F.col("ra") * F.col("rb")).cast("long").alias("sab"))
    va = (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")) \
        .cast("long")
    vb = (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")) \
        .cast("long")
    cab = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")) \
        .cast("long")
    v = g.select("sym_a", "sym_b", F.col("n").alias("n_obs"),
                 va.alias("va"), vb.alias("vb"), cab.alias("cab"))
    den = F.col("va") + F.col("vb") - 2 * F.col("cab")
    wa = (F.col("vb") - F.col("cab")).cast("double") / den.cast("double")
    return (v.select("sym_a", "sym_b", "n_obs",
                     F.when(den > 0, wa).alias("w_a"),
                     F.when(den > 0, 1.0 - wa).alias("w_b"))
            .orderBy("sym_a", "sym_b"))


GK_2LN2M1 = 0.3862943611198906  # 2·ln2 − 1, hardcoded in plan AND oracle
YZ_RET_GRID = 1e6   # 1e-6 grid for overnight / open-close log returns


def garman_klass_vol(bars: DataFrame) -> DataFrame:
    """Garman–Klass range volatility per symbol over the full bar
    history: sqrt(Σ [½·ln(h/l)² − (2ln2−1)·ln(c/o)²] / n) — the
    minimum-variance unbiased OHLC estimator under zero drift, the
    third rung of the range-estimator ladder after
    :func:`parkinson_vol` (range only) and
    :func:`rogers_satchell_vol` (drift-free).

    Determinism (the parkinson discipline): each bar's GK term is ONE
    IEEE expression over leaf-cast integer cents with the 2ln2−1
    constant as a shared literal (``GK_2LN2M1``), quantized to the
    exact 1e-12 grid, summed as BIGINT; the final sqrt runs on
    identical scalars both engines. A single bar's term can be
    negative (close–open swing larger than the range correction), so
    the emit is guarded Σ ≥ 0 on BOTH sides — DuckDB sqrt(negative)
    is a hard crash, not NaN. Int64 headroom: an extreme bar's term
    ≤ ½·(ln 10⁴)² ≈ 42 → 4.2e13 on the grid; ~2·10⁵ such bars/symbol
    stay inside int64 (720 bars at sf0.1). One projection + one
    hash-agg — no window, no shuffle beyond the group-by.
    """
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = bars.select("event_type", cents("open").alias("o"),
                    cents("high").alias("h"), cents("low").alias("l"),
                    cents("close").alias("c"))
    b = b.filter((F.col("l") > 0) & (F.col("h") >= F.col("l")))
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    hl = F.log(dbl("h") / dbl("l"))
    co = F.log(dbl("c") / dbl("o"))
    term = F.lit(0.5) * (hl * hl) - F.lit(GK_2LN2M1) * (co * co)
    t = F.round(term * F.lit(RS_GRID), 0).cast("long")
    g = (b.select("event_type", t.alias("t"))
         .groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("n_bars"),
              F.sum("t").cast("long").alias("s")))
    gk = F.round(
        F.sqrt(F.col("s").cast("double") / F.col("n_bars").cast("double"))
        / 1e6, 6)
    return (g.select("event_type", "n_bars",
                     F.when((F.col("n_bars") > 0) & (F.col("s") >= 0), gk)
                     .alias("gk_vol"))
            .orderBy("event_type"))


def yang_zhang_vol(bars: DataFrame) -> DataFrame:
    """Yang–Zhang volatility per symbol: the drift-independent,
    opening-jump-aware estimator σ²_YZ = σ²_overnight + k·σ²_openclose
    + (1−k)·σ²_RS with k = 0.34 / (1.34 + (n+1)/(n−1)) — the estimator
    of record when the tape gaps at the open (overnight news), which
    neither Parkinson nor Rogers–Satchell sees.

    Per symbol, bars are ordered by hr; the first bar (no previous
    close) is dropped from ALL THREE legs so every leg runs over the
    same n. Overnight returns ln(o/pc) and open-close returns ln(c/o)
    are quantized to the 1e-6 grid (``YZ_RET_GRID``) and accumulated
    as exact BIGINT power sums (s1, s2 per leg); RS terms ride the
    1e-12 grid of :func:`rogers_satchell_vol`. The n²-scaled variance
    numerators (n·s2 − s1²) are evaluated on LEAF-CAST DOUBLES with
    identical association both engines (the rolling_corr rule — n·Σq²
    exceeds int64 at the extreme-|ln| corner, and parity needs
    identical IEEE evaluation, not integer exactness). Emit: one sqrt
    over greatest(0.0, σ²_YZ) guarded n > 1 — every leg is
    mathematically ≥ 0 under the bar invariant l ≤ o,c ≤ h, the clamp
    is sqrt-crash defence for malformed bars. One lag window + one
    hash-agg per symbol.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    # the survivor filter runs on QUANTIZED cents, like garman_klass
    # and the oracle's cts4 WHERE l > 0 — filtering the raw double
    # keeps a low of 0.004 (cents 0) that the oracle drops, and the
    # ln(0) it feeds then dies loudly on the ANSI cast (round-11
    # review finding: the two engines must agree on which bars
    # survive, not just on the arithmetic)
    b = (bars.select("event_type", "hr", cents("open").alias("o"),
                     cents("high").alias("h"), cents("low").alias("l"),
                     cents("close").alias("c"))
         .filter((F.col("l") > 0) & (F.col("h") >= F.col("l")))
         .withColumn("pc", F.lag("c").over(w))
         .filter(F.col("pc").isNotNull() & (F.col("pc") > 0)))
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    qo = F.round(F.log(dbl("o") / dbl("pc")) * F.lit(YZ_RET_GRID), 0) \
        .cast("long")
    qc = F.round(F.log(dbl("c") / dbl("o")) * F.lit(YZ_RET_GRID), 0) \
        .cast("long")
    rs = (F.log(dbl("h") / dbl("c")) * F.log(dbl("h") / dbl("o"))
          + F.log(dbl("l") / dbl("c")) * F.log(dbl("l") / dbl("o")))
    qrs = F.round(rs * F.lit(RS_GRID), 0).cast("long")
    d = b.select("event_type", qo.alias("qo"), qc.alias("qc"),
                 qrs.alias("qrs"))
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qo").cast("long").alias("so1"),
        F.sum(F.col("qo") * F.col("qo")).cast("long").alias("so2"),
        F.sum("qc").cast("long").alias("sc1"),
        F.sum(F.col("qc") * F.col("qc")).cast("long").alias("sc2"),
        F.sum("qrs").cast("long").alias("srs"))
    n = F.col("n").cast("double")
    # sample variances on the 1e-6 grid: (n·s2 − s1²)/(n·(n−1))/grid²
    vo = (n * F.col("so2").cast("double")
          - F.col("so1").cast("double") * F.col("so1").cast("double")) \
        / (n * (n - F.lit(1.0))) / F.lit(1e12)
    vc = (n * F.col("sc2").cast("double")
          - F.col("sc1").cast("double") * F.col("sc1").cast("double")) \
        / (n * (n - F.lit(1.0))) / F.lit(1e12)
    vrs = F.col("srs").cast("double") / n / F.lit(RS_GRID)
    k = F.lit(0.34) / (F.lit(1.34) + (n + F.lit(1.0)) / (n - F.lit(1.0)))
    yz = F.sqrt(F.greatest(
        F.lit(0.0), vo + k * vc + (F.lit(1.0) - k) * vrs))
    return (g.select("event_type", "n",
                     F.when(F.col("n") > 1, yz).alias("yz_vol"))
            .orderBy("event_type"))


MACD_FAST_DECAY = 0.85   # fast truncated-EWMA weight ratio
MACD_SLOW_DECAY = 0.93   # slow truncated-EWMA weight ratio
MACD_SIGNAL_DECAY = 0.8  # signal-line smoothing of the MACD line
MACD_LOOKBACK = 80       # 0.93^80 ~ 3e-3 of the peak weight: truncation
#                          below the 6-dp stage rounding for the slow leg


def macd(bars: DataFrame,
         fast: float = MACD_FAST_DECAY,
         slow: float = MACD_SLOW_DECAY,
         signal: float = MACD_SIGNAL_DECAY,
         lookback: int = MACD_LOOKBACK) -> DataFrame:
    """MACD per symbol on truncated EWMAs: macd = EWMA_fast(close) −
    EWMA_slow(close); signal = EWMA_sig(macd); histogram = macd −
    signal — the trend-follower triplet (the reference surface stops
    at ingest; this extends the engine's quant north star like
    :func:`trix`).

    Two EWMA folds over ONE shared member array (fast and slow legs
    read the same ``_trailing_vals`` column), then the signal stage as
    a second window on the same partitioning — zero joins and one
    exchange since the round-14 window rewrite (the banded-join form
    paid two stage joins plus the fast⋈slow and macd⋈signal
    equi-joins for identical values). Each stage emits a 6-dp
    canonical decimal, so macd = fast − slow is ONE IEEE subtraction
    of exact decimals and the signal stage consumes a canonical input;
    histogram is again a subtraction of exact decimals. No rounding
    knife edges: every emitted value is either a 6-dp stage output or
    a difference of two of them.
    """
    b = (bars.select("event_type", "hr", F.col("close").alias("v0"))
         .withColumn("_xs", _trailing_vals("v0", lookback)))
    m = (b.select(
            "event_type", "hr",
            F.round(_ewma_fold(F.col("_xs"), fast), 6).alias("ema_fast"),
            F.round(_ewma_fold(F.col("_xs"), slow), 6).alias("ema_slow"))
         .withColumn("macd", F.col("ema_fast") - F.col("ema_slow")))
    out = (m.withColumn("_xm", _trailing_vals("macd", lookback))
           .withColumn("signal",
                       F.round(_ewma_fold(F.col("_xm"), signal), 6)))
    return (out.select("event_type", "hr", "macd", "signal",
                       (F.col("macd") - F.col("signal")).alias("histogram"))
            .orderBy("event_type", "hr"))


UO_PERIODS = (7, 14, 28)  # classic ultimate-oscillator horizons


def ultimate_oscillator(bars: DataFrame,
                        periods: tuple = UO_PERIODS) -> DataFrame:
    """Ultimate Oscillator per symbol: 100·(4·A₇ + 2·A₁₄ + A₂₈)/7
    where A_p = Σ BP / Σ TR over the trailing p bars, BP = close −
    min(low, prev_close), TR = max(high, prev_close) − min(low,
    prev_close) — the multi-horizon momentum blend that penalizes
    one-timeframe divergences.

    Pure integer cents end to end: BP and TR are integer differences,
    the six rolling sums are exact BIGINTs over rowsBetween windows on
    ONE (symbol, hr) ordering (one shuffle, six frame aggregates), and
    the emit is a single IEEE expression of the six leaf-cast sums
    with identical association both engines, guarded on every ΣTR > 0.
    Rows without a full longest-period window are dropped (cnt = p₂ₓ)
    so every emitted value is a complete-window statistic. First bars
    (no previous close) are excluded identically on both sides.
    """
    p1, p2, p3 = periods
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = (bars.select("event_type", "hr", cents("high").alias("h"),
                     cents("low").alias("l"), cents("close").alias("c"))
         .withColumn("pc", F.lag("c").over(w))
         .filter(F.col("pc").isNotNull()))
    tl = F.least(F.col("l"), F.col("pc"))
    th = F.greatest(F.col("h"), F.col("pc"))
    d = b.select("event_type", "hr",
                 (F.col("c") - tl).cast("long").alias("bp"),
                 (th - tl).cast("long").alias("tr"))
    ws = [Window.partitionBy("event_type").orderBy("hr")
          .rowsBetween(-(p - 1), 0) for p in periods]
    d = d.select(
        "event_type", "hr",
        *[F.sum("bp").over(wp).cast("long").alias(f"bp{p}")
          for p, wp in zip(periods, ws)],
        *[F.sum("tr").over(wp).cast("long").alias(f"tr{p}")
          for p, wp in zip(periods, ws)],
        F.count(F.lit(1)).over(ws[2]).cast("long").alias("cnt"))
    d = d.filter(F.col("cnt") == p3)
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    uo = (F.lit(100.0)
          * (F.lit(4.0) * (dbl(f"bp{p1}") / dbl(f"tr{p1}"))
             + F.lit(2.0) * (dbl(f"bp{p2}") / dbl(f"tr{p2}"))
             + dbl(f"bp{p3}") / dbl(f"tr{p3}")) / F.lit(7.0))
    ok = ((F.col(f"tr{p1}") > 0) & (F.col(f"tr{p2}") > 0)
          & (F.col(f"tr{p3}") > 0))
    return (d.select("event_type", "hr", F.when(ok, uo).alias("uo"))
            .orderBy("event_type", "hr"))


PVT_GRID = 1e6  # 1e-6 grid for per-bar return·volume terms


def pvt(bars: DataFrame) -> DataFrame:
    """Price-Volume Trend per symbol: pvt_t = Σ_{i≤t} ((c_i −
    c_{i−1})/c_{i−1})·vol_i — on-balance volume's proportional
    cousin, weighting each bar's volume by the size of its move.

    Each term is a ratio of exact integers, which CAN land on any
    rounding boundary — so the per-term quantization is the
    half-away-from-zero integer quotient sign·((2·G·|Δc|·vol + pc)
    div (2·pc)) with non-negative div operands only (Spark ``div``
    truncates while DuckDB ``//`` floors — they agree only for
    non-negatives; the sign is re-applied AFTER). The cumulative sum
    is then an exact BIGINT running total; the emit divides by the
    grid once. Headroom: |Δc|·vol·2e6 at sf0.1 tops out ~5.6e17 —
    inside int64; the running total over 720 bars stays far below.
    First bars (no previous close) contribute 0 identically.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    b = (bars.select("event_type", "hr", cents("close").alias("c"),
                     F.col("volume").cast("long").alias("vol"))
         .withColumn("pc", F.lag("c").over(w)))
    term = F.when(
        F.col("pc").isNotNull() & (F.col("pc") > 0),
        F.signum((F.col("c") - F.col("pc")).cast("double")).cast("long")
        * F.expr("(2 * 1000000 * abs(c - pc) * vol + pc) div (2 * pc)")
    ).otherwise(F.lit(0)).cast("long")
    wc = Window.partitionBy("event_type").orderBy("hr") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = (b.select("event_type", "hr", term.alias("t"))
         .withColumn("cum", F.sum("t").over(wc).cast("long")))
    return (d.select("event_type", "hr",
                     (F.col("cum").cast("double") / F.lit(PVT_GRID))
                     .alias("pvt"))
            .orderBy("event_type", "hr"))


def calmar_ratio(bars: DataFrame) -> DataFrame:
    """Calmar ratio per symbol: the series' total log return divided by
    the magnitude of its maximum drawdown — return per unit of
    worst-case pain, the drawdown-denominated cousin of Sharpe/Sortino
    (:func:`sharpe_sortino`) that risk committees quote next to
    :func:`max_drawdown`.

    Determinism: first/last closes are picked on the (hr) total order
    (row_number, the hourly_bars tie-break idiom), both quantized to
    exact cent BIGINTs, so total_ret = ln(c_last/c_first) runs on
    identical integer operands in any engine. The drawdown leg is the
    max_drawdown form on cents ((c − peak)/peak, exact window max).
    BOTH legs round to 6 dp before the final division, so calmar is a
    pure function of the two emitted (hash-checked) values — the
    bollinger rounded-band discipline. NULL when the series never
    draws down (a monotone tape has no drawdown denominator).
    One exchange onto the symbol key; windows all symbol-partitioned.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    wd = Window.partitionBy("event_type").orderBy(F.col("hr").desc())
    wp = w.rowsBetween(Window.unboundedPreceding, 0)
    c = F.round(F.col("close") * 100, 0).cast("long")
    r = (bars.select("event_type", "hr", c.alias("c"))
         .withColumn("rn_a", F.row_number().over(w))
         .withColumn("rn_d", F.row_number().over(wd))
         .withColumn("peak", F.max("c").over(wp)))
    g = (r.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("n_bars"),
              F.max(F.when(F.col("rn_a") == 1, F.col("c"))).alias("c0"),
              F.max(F.when(F.col("rn_d") == 1, F.col("c"))).alias("c1"),
              F.round(F.min((F.col("c") - F.col("peak"))
                            / F.col("peak")), 6).alias("max_drawdown")))
    tot = F.round(F.log(F.col("c1").cast("double")
                        / F.col("c0").cast("double")), 6)
    out = g.select("event_type", "n_bars", tot.alias("total_ret"),
                   "max_drawdown")
    calmar = F.when(F.col("max_drawdown") < 0,
                    F.round(F.col("total_ret")
                            / -F.col("max_drawdown"), 6))
    return (out.withColumn("calmar", calmar)
            .orderBy("event_type"))


def updown_runs_test(bars: DataFrame) -> DataFrame:
    """Wald–Wolfowitz runs test on the sign sequence of close-to-close
    moves per symbol — the model-free randomness screen next to
    :func:`variance_ratio` and the Hurst ladder: too FEW runs means
    trending, too MANY means mean-reversion, and |z| > 2 is the
    conventional non-random flag.

    Zero moves are excluded BEFORE the run segmentation (a tie is
    neither up nor down; exclusion keeps the n₁/n₂ binomial framing
    exact and is applied identically in the oracle). Counts are exact
    integers off cent-quantized closes: n_up, n_down, and the run
    count R = 1 + Σ sign-changes via one lag window on the
    (symbol, hr) order. The z-statistic's μ = 1 + 2n₁n₂/n and
    σ² = 2n₁n₂(2n₁n₂ − n)/(n²(n−1)) are fixed-association double
    expressions of those integers, emitted with
    z = (R − μ)/√σ² (NULL when σ² = 0 — an all-up or all-down tape).
    One exchange onto the symbol key, two symbol-partitioned windows.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    c = F.round(F.col("close") * 100, 0).cast("long")
    d = (bars.select("event_type", "hr", c.alias("c"))
         .withColumn("diff", F.col("c") - F.lag("c").over(w))
         .filter(F.col("diff").isNotNull() & (F.col("diff") != 0))
         .select("event_type", "hr",
                 F.when(F.col("diff") > 0, F.lit(1)).otherwise(F.lit(-1))
                 .alias("s")))
    w2 = Window.partitionBy("event_type").orderBy("hr")
    seg = d.withColumn(
        "chg", F.when(F.lag("s").over(w2).isNull()
                      | (F.lag("s").over(w2) == F.col("s")), 0)
        .otherwise(1))
    g = (seg.groupBy("event_type")
         .agg(F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
              .cast("long").alias("n_up"),
              F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
              .cast("long").alias("n_down"),
              (F.sum("chg") + 1).cast("long").alias("n_runs")))
    n1 = F.col("n_up").cast("double")
    n2 = F.col("n_down").cast("double")
    n = n1 + n2
    mu = 1.0 + 2.0 * n1 * n2 / n
    var = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n)) / (n * n * (n - 1.0))
    z = F.when(var > 0, (F.col("n_runs").cast("double") - mu)
               / F.sqrt(var))
    return (g.select("event_type", "n_up", "n_down", "n_runs",
                     z.alias("z"))
            .orderBy("event_type"))


def dema(bars: DataFrame, decay: float = EWMA_DECAY,
         lookback: int = EWMA_LOOKBACK) -> DataFrame:
    """DEMA per symbol: 2·EMA(close) − EMA(EMA(close)) — Mulloy's
    lag-compensated moving average (the double-smoothing term cancels
    the single EMA's phase lag; TRIX's triple ladder is its momentum
    sibling, this is the price-level form).

    Two chained :func:`_banded_ewma_stage`-shaped window folds (each
    O(lookback) frame work per bar, each emitting a 6-dp canonical
    decimal) on one exchange with no e1⋈e2 join (round-14 rewrite),
    then ONE IEEE combination ``2·e1 − e2`` of exact decimals — no
    rounding knife edges, identical association on any engine.
    """
    e1 = (bars.select("event_type", "hr", F.col("close").alias("v0"))
          .withColumn("_xs", _trailing_vals("v0", lookback))
          .select("event_type", "hr",
                  F.round(_ewma_fold(F.col("_xs"), decay), 6)
                  .alias("v1")))
    e2 = (e1.withColumn("_xs", _trailing_vals("v1", lookback))
          .withColumn("v2",
                      F.round(_ewma_fold(F.col("_xs"), decay), 6)))
    return (e2.select("event_type", "hr", F.col("v1").alias("ema"),
                      (2.0 * F.col("v1") - F.col("v2")).alias("dema"))
            .orderBy("event_type", "hr"))


KST_ROCS = (10, 15, 20, 30)   # rate-of-change lags (hours)
KST_SMAS = (10, 10, 10, 15)   # smoothing window per ROC
KST_GRID = 1_000_000          # 1e-6 fixed grid for per-bar ROC terms


def kst(bars: DataFrame, rocs: tuple = KST_ROCS,
        smas: tuple = KST_SMAS) -> DataFrame:
    """Know Sure Thing per symbol: Pring's weighted blend of four
    smoothed rates of change — KST = 1·SMA(ROC₁₀) + 2·SMA(ROC₁₅) +
    3·SMA(ROC₂₀) + 4·SMA(ROC₃₀), each SMA over its classic window.

    Exactness contract: each per-bar ROC is quantized to the 1e-6
    integer grid (``round(1e6·(close/close_lag − 1))`` — a ratio of
    exact 2-dp decimals never parks on the grid boundary), each SMA is
    an exact BIGINT frame sum divided ONCE by its non-null frame
    count, and the final blend is a fixed left-to-right sum of the
    four doubles — identical association on any engine. Bars missing
    any ROC (the first ``max(rocs)`` bars of a symbol) emit NULL.

    Shape at 100 TB: four lag references and four frame sums over ONE
    (symbol, hr) window ordering — a single shuffle per symbol,
    windows partitioned by symbol (bounded per-partition state).
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    cols = {}
    for i, (lag_n, sma_n) in enumerate(zip(rocs, smas)):
        prev = F.lag("close", lag_n).over(w)
        roc6 = F.when(prev.isNotNull(), F.round(
            (F.col("close") / prev - 1.0) * KST_GRID, 0).cast("long"))
        cols[f"_r{i}"] = roc6
    b = bars.select("event_type", "hr",
                    *[c.alias(n) for n, c in cols.items()])
    terms = []
    for i, sma_n in enumerate(smas):
        f = w.rowsBetween(-(sma_n - 1), 0)
        s = F.sum(f"_r{i}").over(f)
        n = F.count(f"_r{i}").over(f)
        terms.append(F.when(n > 0, (i + 1)
                            * (s.cast("double") / n.cast("double"))))
    blend = terms[0] + terms[1] + terms[2] + terms[3]
    return (b.select("event_type", "hr",
                     (blend / KST_GRID).alias("kst"))
            .orderBy("event_type", "hr"))


EMV_GRID = 1_000_000  # 1e-6 grid for per-bar ease-of-movement terms
EMV_SMA_N = 14


def ease_of_movement(bars: DataFrame, n: int = EMV_SMA_N) -> DataFrame:
    """Arms' Ease of Movement per symbol: per-bar
    EMV = (mid_t − mid_{t−1}) · (high − low) / volume (how far price
    travels per unit of traded volume), with the classic ``n``-bar SMA
    smoothing — the price-volume efficiency gauge beside OBV/PVT
    (which track direction, not effort).

    Exactness: midpoint moves are integer HALF-cents (2·mid = Hc+Lc
    — never a fractional cent), ranges integer cents, volume an
    integer count, so each bar's EMV is ONE double expression of
    three integers, quantized to the 1e-6 grid; the SMA is an exact
    BIGINT frame sum over non-null terms divided once. Zero-range or
    zero-volume bars emit NULL and are skipped by the SMA count.
    First bars (no previous midpoint) likewise.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    hc = F.round(F.col("high") * 100, 0).cast("long")
    lc = F.round(F.col("low") * 100, 0).cast("long")
    b = bars.select("event_type", "hr", "volume",
                    (hc + lc).alias("hm2"), (hc - lc).alias("rng"))
    dm2 = F.col("hm2") - F.lag("hm2").over(w)  # 2x mid move, half-cents
    emv = F.when(dm2.isNotNull() & (F.col("rng") > 0)
                 & (F.col("volume") > 0),
                 F.round(dm2.cast("double") * F.col("rng").cast("double")
                         / (20000.0 * F.col("volume").cast("double"))
                         * EMV_GRID, 0).cast("long"))
    q = b.select("event_type", "hr", emv.alias("emv6"))
    f = w.rowsBetween(-(n - 1), 0)
    s = F.sum("emv6").over(f)
    c = F.count("emv6").over(f)
    return (q.select("event_type", "hr",
                     (F.col("emv6").cast("double") / EMV_GRID)
                     .alias("emv"),
                     F.when(c > 0, s.cast("double")
                            / (c.cast("double") * EMV_GRID))
                     .alias("emv_sma"))
            .orderBy("event_type", "hr"))


BOP_SMA_N = 14


def balance_of_power(bars: DataFrame, n: int = BOP_SMA_N) -> DataFrame:
    """Balance of Power per symbol: (close − open)/(high − low) — the
    fraction of the bar's range the bulls kept — with the usual
    ``n``-bar SMA. Complements the candlestick-shape flags with a
    continuous pressure reading.

    Exactness: the per-bar score is the HALF-AWAY integer division
    ``(1e6·(Cc−Oc)) ÷ rng`` (windows.int_mean_half_away's floor form
    — a plain round() of the cents ratio CAN park exactly on the grid
    half and the engines split), so every term is an exact BIGINT and
    the SMA is an exact sum over non-null terms with one division at
    emit. Zero-range bars emit NULL.
    """
    from .windows import int_mean_half_away
    w = Window.partitionBy("event_type").orderBy("hr")
    cc = F.round(F.col("close") * 100, 0).cast("long")
    oc = F.round(F.col("open") * 100, 0).cast("long")
    hc = F.round(F.col("high") * 100, 0).cast("long")
    lc = F.round(F.col("low") * 100, 0).cast("long")
    rng = hc - lc
    bop6 = F.when(rng > 0,
                  int_mean_half_away((cc - oc) * F.lit(1_000_000), rng))
    q = bars.select("event_type", "hr", bop6.alias("bop6"))
    f = w.rowsBetween(-(n - 1), 0)
    s = F.sum("bop6").over(f)
    c = F.count("bop6").over(f)
    return (q.select("event_type", "hr",
                     (F.col("bop6").cast("double") / 1e6).alias("bop"),
                     F.when(c > 0, s.cast("double")
                            / (c.cast("double") * 1e6)).alias("bop_sma"))
            .orderBy("event_type", "hr"))


CHAIKIN_VOL_LAG = 10


def chaikin_volatility(bars: DataFrame, decay: float = EWMA_DECAY,
                       lookback: int = EWMA_LOOKBACK,
                       lag_n: int = CHAIKIN_VOL_LAG) -> DataFrame:
    """Chaikin Volatility per symbol: the ``lag_n``-bar rate of change
    of the EWMA-smoothed high−low range, in percent —
    ``100·(ema_rng_t/ema_rng_{t−lag} − 1)`` — expansion marks
    climactic moves, contraction marks tops forming. The range-domain
    sibling of :func:`trix` (same smoothed-ROC shape, range instead
    of close).

    One :func:`_banded_ewma_stage` pass over integer-cent ranges
    (6-dp canonical output), one lag, UNROUNDED final ratio — a ratio
    of exact 6-dp decimals is knife-edge-free raw (the trix rule).
    Zero-EMA denominators (flat tape) emit NULL. One exchange total
    since the round-14 window rewrite of the stage.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    hc = F.round(F.col("high") * 100, 0).cast("long")
    lc = F.round(F.col("low") * 100, 0).cast("long")
    b = bars.select("event_type", "hr",
                    ((hc - lc).cast("double") / 100.0).alias("v0"))
    e1 = _banded_ewma_stage(b, "v0", "erng", decay, lookback)
    prev = F.lag("erng", lag_n).over(w)
    return (e1.select("event_type", "hr", F.col("erng").alias("ema_range"),
                      F.when(prev > 0,
                             (F.col("erng") / prev - 1.0) * 100.0)
                      .alias("chaikin_vol"))
            .orderBy("event_type", "hr"))


CS_GRID = 1_000_000_000_000  # 1e-12 grid for squared-log range terms


def corwin_schultz_spread(bars: DataFrame) -> DataFrame:
    """Corwin–Schultz (2012) high-low bid-ask spread estimator per
    symbol: from each adjacent bar pair, β = Σ ln²(H/L) over the two
    bars and γ = ln²(maxH/minL) over the joint range give
    α = (√(2β) − √β)/(3 − 2√2) − √(γ/(3 − 2√2)) and spread
    S = 2(e^α − 1)/(1 + e^α); negative estimates clamp to 0 (the
    authors' convention). Completes the microstructure ladder beside
    Roll's autocovariance spread, Amihud illiquidity and Kyle's λ —
    this one needs only OHLC, no signed flow.

    Exactness: per-bar ln²(Hc/Lc) terms ride the 1e-12 RS grid (the
    Garman–Klass precedent), the joint-range term likewise (greatest/
    least of integer cents before the shared ln), β is an exact
    two-term integer sum, and each bar-pair's S is ONE double
    expression of the two integer legs with √2 written as sqrt(2.0)
    in both engines. The per-symbol MEAN re-quantizes each S to 1e-6
    before the exact-integer sum (a float mean would be
    association-dependent). Output: (event_type, n_pairs,
    mean_spread). Bars with nonpositive low are excluded on both
    sides.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    hc = F.round(F.col("high") * 100, 0).cast("long")
    lc = F.round(F.col("low") * 100, 0).cast("long")
    b = (bars.select("event_type", "hr", hc.alias("h"), lc.alias("l"))
         .filter((F.col("l") > 0) & (F.col("h") >= F.col("l"))))
    lnhl = F.log(F.col("h").cast("double") / F.col("l").cast("double"))
    q = b.select("event_type", "hr", "h", "l",
                 F.round(lnhl * lnhl * CS_GRID, 0).cast("long").alias("q"))
    ph, pl, pq = (F.lag(c).over(w) for c in ("h", "l", "q"))
    hh = F.greatest(F.col("h"), ph).cast("double")
    ll = F.least(F.col("l"), pl).cast("double")
    lng = F.log(hh / ll)
    pair = (q.select("event_type", "hr",
                     (F.col("q") + pq).alias("beta12"),
                     F.when(pq.isNotNull(),
                            F.round(lng * lng * CS_GRID, 0).cast("long"))
                     .alias("gamma12"))
            .filter(F.col("gamma12").isNotNull()))
    beta = F.col("beta12").cast("double") / CS_GRID
    gamma = F.col("gamma12").cast("double") / CS_GRID
    denom = 3.0 - 2.0 * F.sqrt(F.lit(2.0))
    alpha = ((F.sqrt(2.0 * beta) - F.sqrt(beta)) / denom
             - F.sqrt(gamma / denom))
    s = 2.0 * (F.exp(alpha) - 1.0) / (1.0 + F.exp(alpha))
    s6 = F.round(F.greatest(s, F.lit(0.0)) * 1e6, 0).cast("long")
    return (pair.select("event_type", s6.alias("s6"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 (F.sum("s6").cast("double")
                  / (F.count(F.lit(1)).cast("double") * 1e6))
                 .alias("mean_spread"))
            .orderBy("event_type"))


VPIN_BUCKET = 50  # events per volume bucket


def vpin(events: DataFrame, bucket_size: int = VPIN_BUCKET) -> DataFrame:
    """Volume-synchronized probability of informed trading (Easley,
    López de Prado, O'Hara) per symbol: classify each tick buy/sell by
    the tick rule (sign of the price change, zero ticks inheriting the
    last nonzero sign), slice the tape into equal-VOLUME buckets of
    ``bucket_size`` ticks, and average the per-bucket order-flow
    imbalance |buys − sells|/size — the flow-toxicity gauge that
    completes the microstructure ladder (Roll/Amihud/Kyle/Corwin–
    Schultz estimate cost; VPIN estimates adverse selection).

    Exactness: tick signs are integers off exact cent deltas (the
    carry-forward is a deterministic last-non-null window on the
    (ts, event_id) total order); per-bucket imbalance |Σs| is an exact
    integer; only COMPLETE buckets score (a ragged tail would make
    the last bucket's denominator data-dependent); each bucket's
    imbalance/size is the non-negative integer grid quotient
    ``(1e6·|Σs|) div size`` and the per-symbol mean is ONE division
    of exact integers. Output: (event_type, n_buckets, vpin).

    Shape at 100 TB: two windows on ONE (symbol, ts, event_id)
    ordering (sign + carry + rank), a (symbol, bucket) hash-agg, a
    symbol-level rollup. Windows are symbol-partitioned throughout.
    """
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    d = cents - F.lag(cents).over(w)
    raw = F.when(d > 0, 1).when(d < 0, -1)  # NULL on zero/first tick
    t = (events.select("event_type", "ts", "event_id",
                       raw.alias("raw"))
         .select("event_type", "ts", "event_id",
                 F.last("raw", ignorenulls=True).over(run).alias("s"),
                 (F.row_number().over(w) - 1).alias("rn")))
    b = (t.filter(F.col("s").isNotNull())
         .groupBy("event_type",
                  F.expr(f"rn div {bucket_size}").alias("bkt"))
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.abs(F.sum("s")).cast("long").alias("imb")))
    full = b.filter(F.col("n") == bucket_size)
    q6 = F.expr(f"(1000000 * imb) div {bucket_size}")
    return (full.select("event_type", q6.cast("long").alias("q6"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"),
                 (F.sum("q6").cast("double")
                  / (F.count(F.lit(1)).cast("double") * 1e6))
                 .alias("vpin"))
            .orderBy("event_type"))


# -- adaptive / multi-smoothed daily indicators (round 14) -------------------
#
# KAMA's smoothing constant depends on the DATA (the efficiency ratio),
# so the recurrence can't become a truncated constant-decay join like
# riskmetrics_vol. On the DAILY grid the series is calendar-bounded
# (<= 31 rows per symbol regardless of tick volume), so the recursion
# runs as a SEQUENTIAL FOLD over a per-symbol sorted array:
# F.aggregate on Spark, list_reduce in the SQL oracle — both fold
# left-to-right over the identical element sequence, so the float
# association order (and hence the 6-dp-rounded result) is engine-
# independent by construction, not by luck. Elements are encoded as
# double-arrays ([seed_close] first, then [sc_t, close_t]) because a
# fold without an explicit zero (list_reduce) seeds with element 1 —
# the accumulator and element types must coincide.

KAMA_N = 10        # efficiency-ratio lookback (Kaufman's default)
KAMA_FAST = 2      # fast EMA period
KAMA_SLOW = 30     # slow EMA period
MASS_EMA_N = 9     # mass index EMA period (Dorsey's default)
MASS_SUM_N = 25    # mass index summation window
COPPOCK_ROC_LONG = 14
COPPOCK_ROC_SHORT = 11
COPPOCK_WMA_N = 10


def _daily_cents(daily: DataFrame) -> DataFrame:
    """(event_type, hr, rn, c): daily close in integer cents with the
    per-symbol day rank — the exact-integer base every fold below
    shares with its SQL oracle."""
    w = Window.partitionBy("event_type").orderBy("hr")
    return daily.select(
        "event_type", "hr",
        F.round(F.col("close") * 100, 0).cast("long").alias("c"),
        F.row_number().over(w).alias("rn"))


def kama(daily: DataFrame, n: int = KAMA_N, fast: int = KAMA_FAST,
         slow: int = KAMA_SLOW) -> DataFrame:
    """Kaufman Adaptive Moving Average on daily closes.

    er_t = |c_t − c_{t−n}| / Σ_{i=t−n+1..t} |Δc_i| (exact integer
    num/denom in cents; 0 when the volatility denominator is 0),
    sc_t = (er·(2/(fast+1) − 2/(slow+1)) + 2/(slow+1))²,
    kama_t = kama_{t−1} + sc_t·(close_t − kama_{t−1}), seeded with the
    close of the first bar whose er is defined (rn = n+1).

    The fold appends each step's value, so the whole path comes back as
    one array per symbol and is re-exploded against the (rn, hr) array
    it was built from — one groupBy per symbol, no window wider than
    the calendar.
    """
    d = _daily_cents(daily)
    w = Window.partitionBy("event_type").orderBy("hr")
    wsum = w.rowsBetween(-(n - 1), 0)
    sf_fast, sf_slow = 2.0 / (fast + 1), 2.0 / (slow + 1)
    dd = (d.withColumn("ad", F.abs(F.col("c") - F.lag("c").over(w)))
          .withColumn("vol", F.sum("ad").over(wsum))
          .withColumn("mom", F.abs(F.col("c") - F.lag("c", n).over(w))))
    er = F.when(F.col("vol") > 0,
                F.col("mom") / F.col("vol")).otherwise(F.lit(0.0))
    sc = F.pow(er * (sf_fast - sf_slow) + sf_slow, F.lit(2.0))
    scd = (dd.filter(F.col("rn") > n)
           .select("event_type", "hr", "rn", sc.alias("sc"),
                   (F.col("c") / 100.0).alias("cd")))
    grp = (scd.groupBy("event_type")
           .agg(F.sort_array(
               F.collect_list(F.struct("rn", "hr", "sc", "cd")))
               .alias("xs")))
    xs = F.col("xs")
    elems = F.concat(
        F.array(F.array(F.element_at(xs, 1)["cd"])),
        F.transform(F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
                    lambda x: F.array(x["sc"], x["cd"])))
    folded = F.aggregate(
        F.slice(F.col("es"), 2, F.greatest(F.size("es") - 1, F.lit(0))),
        F.element_at(F.col("es"), 1),
        lambda acc, x: F.concat(acc, F.array(
            F.element_at(acc, -1)
            + F.element_at(x, 1)
            * (F.element_at(x, 2) - F.element_at(acc, -1)))))
    out = (grp.withColumn("es", elems)
           .withColumn("path", folded)
           .select("event_type",
                   F.posexplode(F.arrays_zip("xs", "path"))
                   .alias("_i", "z")))
    return (out.select("event_type", F.col("z.xs.hr").alias("hr"),
                       F.round(F.col("z.path"), 6).alias("kama"))
            .orderBy("event_type", "hr"))


def mass_index(daily: DataFrame, ema_n: int = MASS_EMA_N,
               sum_n: int = MASS_SUM_N) -> DataFrame:
    """Mass index on daily bars: Σ over the trailing ``sum_n`` days of
    EMA(range)/EMA(EMA(range)) with period ``ema_n`` — Dorsey's
    range-bulge reversal signal. Both EMAs are seeded with the first
    value (the standard convention) and run as the same sequential
    per-symbol fold as :func:`kama`; the trailing sum re-folds a
    bounded slice per day so its association order is sequential too.
    Emitted as NULL until ``sum_n`` days of ratio exist.
    """
    w = Window.partitionBy("event_type").orderBy("hr")
    d = daily.select(
        "event_type", "hr",
        ((F.round(F.col("high") * 100, 0).cast("long")
          - F.round(F.col("low") * 100, 0).cast("long")) / 100.0)
        .alias("rng"),
        F.row_number().over(w).alias("rn"))
    alpha = 2.0 / (ema_n + 1)
    grp = (d.groupBy("event_type")
           .agg(F.sort_array(F.collect_list(F.struct("rn", "hr", "rng")))
                .alias("xs")))

    def _ema_fold(values: F.Column) -> F.Column:
        sl = F.slice(values, 2, F.greatest(F.size(values) - 1, F.lit(0)))
        return F.aggregate(
            sl, F.slice(values, 1, 1),
            lambda acc, x: F.concat(acc, F.array(
                F.element_at(acc, -1) * (1.0 - alpha) + x * alpha)))

    # stage the raw-range array in its own projection: _ema_fold
    # references its input three times (two slices + size) and
    # CollapseProject would otherwise inline the transform per
    # reference (the minhash_signature staging rule)
    grp = grp.withColumn(
        "rv", F.transform(F.col("xs"), lambda x: x["rng"]))
    t = (grp.withColumn("ema1", _ema_fold(F.col("rv")))
         .withColumn("ema2", _ema_fold(F.col("ema1")))
         .withColumn("ratio", F.zip_with(
             "ema1", "ema2",
             lambda a, b: F.when(b > 0, a / b).otherwise(F.lit(0.0)))))
    mass = F.transform(
        F.sequence(F.lit(1), F.size("ratio")),
        lambda i: F.when(i >= sum_n, F.aggregate(
            F.slice(F.col("ratio"), i - F.lit(sum_n - 1), F.lit(sum_n)),
            F.lit(0.0), lambda a, x: a + x)))
    out = (t.withColumn("mass", mass)
           .select("event_type",
                   F.posexplode(F.arrays_zip("xs", "mass"))
                   .alias("_i", "z")))
    return (out.select("event_type", F.col("z.xs.hr").alias("hr"),
                       F.round(F.col("z.mass"), 6).alias("mass_index"))
            .orderBy("event_type", "hr"))


def coppock(daily: DataFrame, roc_long: int = COPPOCK_ROC_LONG,
            roc_short: int = COPPOCK_ROC_SHORT,
            wma_n: int = COPPOCK_WMA_N) -> DataFrame:
    """Coppock curve on daily closes: WMA_{wma_n}(ROC_{roc_long} +
    ROC_{roc_short}). The WMA is an EXPLICIT 10-term lag expression
    (weights wma_n..1 over the trailing days, /Σweights), so the float
    association order is a fixed expression tree — identical on any
    engine — rather than a window-aggregate implementation detail.
    NULL until every lag term exists.
    """
    d = _daily_cents(daily)
    w = Window.partitionBy("event_type").orderBy("hr")
    roc = (d.withColumn(
        "s",
        (F.col("c") - F.lag("c", roc_long).over(w))
        / F.lag("c", roc_long).over(w)
        + (F.col("c") - F.lag("c", roc_short).over(w))
        / F.lag("c", roc_short).over(w)))
    denom = float(wma_n * (wma_n + 1) / 2)
    expr = None
    for j in range(wma_n):
        term = F.lag("s", j).over(w) * F.lit(float(wma_n - j))
        expr = term if expr is None else expr + term
    return (roc.select("event_type", "hr",
                       F.round(expr / F.lit(denom), 6).alias("coppock"))
            .orderBy("event_type", "hr"))

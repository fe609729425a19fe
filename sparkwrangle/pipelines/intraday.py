"""EP2 — intraday cross-exchange arbitrage backtest (intra_day_arbitrage.ipynb).

Feed construction (SURVEY.md §3 EP2), all pure Catalyst until the S2 UDF:

1. block tagging       — weekly time_blocks range join (C7, cell 16)
2. per-company grid    — union of the company's tick timestamps × its
                         tickers (C1: pd.concat(axis=1) index semantics)
3. FX snap             — exact-ts join + ffill within block (C3:
                         eur_usd.reindex(price_df.index).ffill(), cell 7)
4. conditional convert — EU tickers ('.'-suffixed) × rate (C4), applied to
                         PRICES only; normalized returns stay unconverted
                         (faithful to get_price_data, cell 7)
5. min-max normalize   — per (company, block, ticker) over the WHOLE block
                         incl. out-of-session rows, before ffill (W3/D2)
6. ffill               — per ticker over the block grid (B8, cell 6)
7. session band        — between_time 14:30–16:30 inclusive (B9)
8. base-relative ret   — norm ÷ base_norm − 1 with pandas /0→±inf
                         semantics (W4, df_basing cell 4)
9. feed order          — day-of-month grouping (quirk K.2) makes feed
                         order differ from ts order across month
                         boundaries; dense_rank over (block, dom, ts)

The S2 trader (stateful.trader) then runs per company — the reference's
fan-out loop over 41 companies (S4) becomes the shuffle axis. At 100 TB
companies × blocks bound every window partition; nothing here is a global
sort or unpartitioned window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkwrangle.ops.filters import minute_of_day, safe_div_pandas
from sparkwrangle.stateful.trader import (
    _check_scope,
    _combined_local,
    _stitch_balances,
    _stitch_ledger,
)


def build_intraday_feed(
    bars: DataFrame,
    fx: DataFrame,
    blocks: DataFrame,
    listings: DataFrame,
    session_start: tuple[int, int] = (14, 30),
    session_end: tuple[int, int] = (16, 30),
    strict_reference: bool = True,
    with_block_id: bool = False,
) -> DataFrame:
    """Build the per-tick trader feed.

    bars:     (company, ticker, ts, close) raw 5-minute closes, native ccy
    fx:       (ts, rate) EURUSD series
    blocks:   (block_id, start_ts, end_ts) — membership is [start, end)
    listings: (company, ticker, ticker_idx) — idx 0 is the base (first US
              listing, IntradayRegionArbitrage.py:47)

    Returns (company, feed_seq, ts, ticker_idx, price, ret), plus
    block_id when ``with_block_id=True`` (required by the trader's relaxed
    ``state_scope="block"`` mode — see stateful.trader).
    """
    b = bars.join(
        F.broadcast(blocks),
        (bars.ts >= blocks.start_ts) & (bars.ts < blocks.end_ts),
        "inner",
    ).select("company", "ticker", "ts", "close", "block_id")
    # ONE shuffle feeds the whole grid phase: hash(company, block_id) is a
    # SUBSET of every downstream clustering key — the tick-grid distinct
    # (company, block_id, ts), the grid⋈bars join (4 keys), the wg/wb
    # windows (company, block_id, ticker) and wbase (company, block_id,
    # ts) — so EnsureRequirements inserts no further exchanges until the
    # final per-company feed_seq/trader stage (inherent: the state machine
    # is sequential per company). Parallelism stays at company×block
    # granularity for the heavy normalize/ffill work, which is the scale
    # axis at 100 TB; measured 2× cold-plan win at sf0.1 (6.2s → 2.8s).
    b = b.repartition("company", "block_id")

    # 2. grid = company-block tick timeline × the company's tickers
    ticks = b.select("company", "block_id", "ts").distinct()
    grid = ticks.join(F.broadcast(listings), "company")
    g = grid.join(b, ["company", "block_id", "ts", "ticker"], "left")

    # 3. FX: exact-ts match then ffill over the block grid (reindex+ffill
    #    semantics — a grid ts before the first in-block fx row stays null)
    g = g.join(F.broadcast(fx.select("ts", "rate")), "ts", "left")
    wg = (
        Window.partitionBy("company", "block_id", "ticker")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g = g.withColumn("rate_ff", F.last("rate", ignorenulls=True).over(wg))

    # 4. convert prices (not returns) for EU listings, at each row's own ts
    g = g.withColumn(
        "price_conv",
        F.when(
            F.col("ticker").contains("."), F.col("close") * F.col("rate_ff")
        ).otherwise(F.col("close")),
    )

    # 5. block-wide min-max normalize of the RAW close
    wb = Window.partitionBy("company", "block_id", "ticker").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lo, hi = F.min("close").over(wb), F.max("close").over(wb)
    g = g.withColumn("norm", safe_div_pandas(F.col("close") - lo, hi - lo))

    # 6. ffill both series over the block grid
    g = g.withColumn("price_ff", F.last("price_conv", ignorenulls=True).over(wg))
    g = g.withColumn("norm_ff", F.last("norm", ignorenulls=True).over(wg))

    # 7. session band (inclusive, pandas between_time)
    lo_m = session_start[0] * 60 + session_start[1]
    hi_m = session_end[0] * 60 + session_end[1]
    g = g.filter(minute_of_day(F.col("ts")).between(lo_m, hi_m))

    # 8. base-relative deviation: norm ÷ base_norm − 1, pandas /0 → ±inf.
    #    The base row (ticker_idx = 0) is unique per (company, block, ts),
    #    so a grouped window lifts its norm onto every row — same result
    #    as the earlier filter + self-join but WITHOUT re-evaluating the
    #    whole feed subtree for the base branch (and without its shuffle);
    #    max() over the single non-null candidate is the identity, NaN
    #    included (NaN orders above doubles, and there is nothing else).
    wbase = Window.partitionBy("company", "block_id", "ts")
    g = g.withColumn(
        "base_norm",
        F.max(F.when(F.col("ticker_idx") == 0, F.col("norm_ff"))).over(wbase),
    )
    g = g.withColumn(
        "ret",
        F.when(
            F.col("ticker_idx") > 0,
            safe_div_pandas(F.col("norm_ff"), F.col("base_norm")) - 1,
        ),
    )

    # 9. feed order: blocks, then day grouping, then ts. strict mode keys
    #    days by DAY-OF-MONTH (quirk K.2 — pandas groupby(index.day) sorts
    #    group keys, feeding Jan days before late-Dec days inside a block
    #    that spans the month boundary); corrected mode uses the calendar
    #    date, i.e. plain ts order.
    day_key = F.dayofmonth("ts") if strict_reference else F.to_date("ts")
    wseq = Window.partitionBy("company").orderBy("block_id", day_key, "ts")
    g = g.withColumn("feed_seq", F.dense_rank().over(wseq))

    out_cols = [
        "company", "feed_seq", "ts", "ticker_idx",
        F.col("price_ff").alias("price"), "ret",
    ]
    if with_block_id:
        out_cols.append("block_id")
    return g.select(*out_cols)


def intraday_backtest(
    feed: DataFrame, params: dict, state_scope: str = "company"
) -> tuple[DataFrame, DataFrame]:
    """Run S2 over the feed → (trades, balance_history).

    Both scopes run the Python state machine ONCE per call: one combined
    local pass (``stateful.trader._combined_local``) emits the trade rows
    and the per-tick balance rows as a tagged union, grouped by company
    (faithful mode) or by (company, block_id) (relaxed mode,
    ``state_scope="block"``). The union is localCheckpoint'ed eagerly and
    split JVM-side. The lineage break is what makes every downstream read
    share one applyInPandas execution: ``balance_report`` reads the
    balances twice and ``trade_report`` reads the trades, so the two
    standalone operators would run the trader (and rebuild the feed)
    three times per backtest. The package's cache/persist ban is about
    unbounded memory pinning; this materialization is the tick relation
    the operator produces anyway. Faithful mode selects the local columns
    as they are; relaxed mode stitches the carried ledger and balances.
    """
    _check_scope(feed, state_scope, params)
    keys = {"company": ("company",), "block": ("company", "block_id")}[state_scope]
    local = _combined_local(feed, params, keys).localCheckpoint(eager=True)
    trades_local = local.filter(F.col("is_trade"))
    ticks = local.filter(~F.col("is_trade"))
    if state_scope == "block":
        trades = _stitch_ledger(trades_local, params)
        return (
            trades.select("company", "trade_seq", "close_type", "roi"),
            _stitch_balances(ticks, params),
        )
    trades = trades_local.select(
        "company",
        F.col("trade_seq_local").alias("trade_seq"),
        "close_type",
        F.col("roi_local").alias("roi"),
    )
    return trades, ticks.select("company", "ts", "balance")


def balance_report(balances: DataFrame) -> DataFrame:
    """Cells 29-31: ROI/annualization of the portfolio TOTAL (D5/D8/W6).

    Reference semantics: align every company's balance series on the union
    tick grid, ffill, drop the first row, row-sum to TOTAL, then
    first/last. Materializing that grid is O(|ts| × |companies|) — at
    100 TB that cross join dwarfs the answer. But the report only reads
    TOTAL at two timestamps: the SECOND distinct tick (after the W6 drop)
    and the last. TOTAL at tick t = Σ per company of its latest balance at
    or before t (ffill definition), so two bounded aggregations suffice:
    per company max_by(balance, ts ≤ t) — companies with no data yet drop
    out, exactly like the NaN rows pandas' row-sum skips.
    """
    t2 = (
        balances.select("ts")
        .distinct()
        .orderBy("ts")
        .limit(2)
        .agg(F.max("ts").alias("t2"))
    )
    g = balances.crossJoin(F.broadcast(t2))
    per_company = g.groupBy("company").agg(
        F.max_by("balance", F.when(F.col("ts") <= F.col("t2"), F.col("ts"))).alias(
            "bal_at_t2"
        ),
        F.max_by("balance", "ts").alias("final_bal"),
        F.max(F.to_date("ts")).alias("max_d"),
        F.max(F.to_date("t2")).alias("t2_d"),
    )
    agg = per_company.agg(
        # Exact decimal accumulators: plain double SUM is partial-aggregation
        # order-dependent, which breaks cross-engine value hashes (and makes
        # the report itself nondeterministic across partition counts).
        F.sum(F.col("bal_at_t2").cast("decimal(25,8)")).cast("double").alias(
            "first_total"
        ),
        F.sum(F.col("final_bal").cast("decimal(25,8)")).cast("double").alias(
            "last_total"
        ),
        F.datediff(F.max("max_d"), F.max("t2_d")).alias("span_days"),
    )
    ratio = F.col("last_total") / F.col("first_total")
    return agg.select(
        (ratio - 1).alias("roi"),
        "span_days",
        (F.pow(ratio, 365.0 / F.col("span_days")) - 1).alias("annualized_roi"),
        # Bounded-magnitude twin of annualized_roi: ln(1+a) = ln(ratio)·365/span.
        # pow at extreme magnitudes (1e32 at driver SFs) makes fixed-digit
        # rounding a no-op, so one ulp of libm divergence flips a value hash;
        # the log form stays O(100) and rounds stably.
        F.when(ratio > 0, F.log(ratio) * (365.0 / F.col("span_days"))).alias(
            "log_annualized_roi"
        ),
    )


def trade_report(trades: DataFrame) -> DataFrame:
    """Cell 33: win share, avg profit/loss, market-close loss share (D7).
    The aggregate expressions are SHARED with ops.aggregates.trade_stats
    (trade_report_cols) so the two report surfaces cannot drift."""
    from sparkwrangle.ops.aggregates import trade_report_cols

    c = trade_report_cols()
    return trades.agg(*[expr.alias(name) for name, expr in c.items()])

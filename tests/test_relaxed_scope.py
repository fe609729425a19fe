"""Relaxed-mode S2 (``state_scope="block"``) — parity and difference tests.

Faithful mode is the reference protocol: one TraderState per company,
state surviving the weekly block loop (intra_day_arbitrage.ipynb:11122-
11125). Relaxed mode resets state per (company, block) and stitches the
carried ledger with a JVM scan. The contract proven here:

* EXACT parity (1e-9) with faithful mode on market-close-bounded feeds —
  the reference's own regime: every position force-closes strictly after
  16:29 daily (IntradayRegionArbitrage.py:152-159), so block-boundary
  state is empty and only the scalar balance carries, which the stitch
  reconstructs (∏(1+roi) under percent sizing, Σdelta under fixed).
* EXPLICIT difference on a crafted feed where a position spans a block
  boundary: relaxed mode drops the carried position — that is the
  documented semantic cost of the scale mode.
* The applyInPandas keys by (company, block_id) — the parallelism axis
  actually widens (checked in the physical plan).
"""

from __future__ import annotations

import pandas as pd
import pytest

from sparkwrangle.pipelines.intraday import build_intraday_feed, intraday_backtest
from sparkwrangle.stateful.trader import (
    backtest_balances,
    backtest_trades,
    backtest_trades_ledger,
)

from fixtures import TRADER_PARAMS, intraday_fixture


@pytest.fixture(scope="module")
def feed_with_blocks(spark):
    bars, fx, blocks, listings = intraday_fixture()

    def naive(df, cols):
        out = df.copy()
        for c in cols:
            out[c] = out[c].dt.tz_localize(None)
        return out

    return build_intraday_feed(
        spark.createDataFrame(naive(bars, ["ts"])),
        spark.createDataFrame(naive(fx, ["ts"])),
        spark.createDataFrame(naive(blocks, ["start_ts", "end_ts"])),
        spark.createDataFrame(listings),
        with_block_id=True,
    ).localCheckpoint()  # one feed build for the whole module's comparisons


def _trades_pdf(df):
    return df.orderBy("company", "trade_seq").toPandas()


def _assert_trade_parity(faithful, relaxed, ledger=False):
    assert len(faithful) == len(relaxed)
    assert len(faithful) > 3, "fixture must produce trades"
    assert list(faithful.company) == list(relaxed.company)
    assert list(faithful.trade_seq) == list(relaxed.trade_seq)
    assert list(faithful.close_type) == list(relaxed.close_type)
    assert max(abs(faithful.roi.to_numpy() - relaxed.roi.to_numpy())) < 1e-9
    if ledger:
        assert (
            max(abs(faithful.bal_after.to_numpy() - relaxed.bal_after.to_numpy()))
            < 1e-9
        )


@pytest.mark.parametrize(
    "params",
    [
        TRADER_PARAMS,  # percent sizing (scale-invariant blocks)
        {**TRADER_PARAMS, "trade_size": 50.0, "trade_size_percent": False},
    ],
    ids=["percent_sizing", "fixed_sizing"],
)
def test_relaxed_equals_faithful_on_close_bounded_feed(spark, feed_with_blocks, params):
    """The fixture's positions all force-close at 16:29 daily, so block
    boundaries are flat — relaxed must reproduce faithful exactly: trade
    log, carried ledger, and the full per-tick balance history."""
    f_ledger = _trades_pdf(backtest_trades_ledger(feed_with_blocks, params))
    r_ledger = _trades_pdf(
        backtest_trades_ledger(feed_with_blocks, params, state_scope="block")
    )
    _assert_trade_parity(f_ledger, r_ledger, ledger=True)

    f_trades = _trades_pdf(backtest_trades(feed_with_blocks, params))
    r_trades = _trades_pdf(backtest_trades(feed_with_blocks, params, state_scope="block"))
    _assert_trade_parity(f_trades, r_trades)

    f_bal = (
        backtest_balances(feed_with_blocks, params)
        .orderBy("company", "ts")
        .toPandas()
    )
    r_bal = (
        backtest_balances(feed_with_blocks, params, state_scope="block")
        .orderBy("company", "ts")
        .toPandas()
    )
    assert len(f_bal) == len(r_bal)
    assert list(f_bal.company) == list(r_bal.company)
    assert list(f_bal.ts) == list(r_bal.ts)
    assert max(abs(f_bal.balance.to_numpy() - r_bal.balance.to_numpy())) < 1e-9


def _cross_block_feed(spark):
    """A position opens in block 1 and is still open at the block
    boundary (the feed has NO tick after 16:29 in block 1, so no market
    close fires); block 2's first tick would take-profit it."""
    rows = []

    def tick(seq, block, ts, ret1, p0, p1):
        rows.append(("X", block, seq, pd.Timestamp(ts), 0, p0, float("nan")))
        rows.append(("X", block, seq, pd.Timestamp(ts), 1, p1, ret1))

    tick(1, 1, "2026-01-05 15:00:00", 0.20, 100.0, 50.0)  # opens (0.20 > 0.1)
    tick(2, 1, "2026-01-05 15:05:00", 0.15, 100.0, 50.5)  # stays open
    tick(3, 2, "2026-01-12 15:00:00", 0.00, 100.0, 49.0)  # faithful: TP close
    pdf = pd.DataFrame(
        rows,
        columns=["company", "block_id", "feed_seq", "ts", "ticker_idx", "price", "ret"],
    )
    return spark.createDataFrame(pdf)


def test_relaxed_differs_on_cross_block_position(spark):
    """The documented semantic cost: relaxed mode discards a position
    that spans a block boundary (fresh state per block), so the
    faithful TP close in block 2 never happens."""
    feed = _cross_block_feed(spark)
    faithful = _trades_pdf(backtest_trades(feed, TRADER_PARAMS))
    relaxed = _trades_pdf(backtest_trades(feed, TRADER_PARAMS, state_scope="block"))
    assert list(faithful.close_type) == ["tp"], "faithful must carry + close"
    assert len(relaxed) == 0, "relaxed must drop the carried position"
    # and the balance histories diverge once block 2 settles the trade
    f_bal = backtest_balances(feed, TRADER_PARAMS).orderBy("ts").toPandas()
    r_bal = (
        backtest_balances(feed, TRADER_PARAMS, state_scope="block")
        .orderBy("ts")
        .toPandas()
    )
    assert abs(f_bal.balance.iloc[-1] - r_bal.balance.iloc[-1]) > 1e-6


def test_relaxed_stitch_follows_feed_order_not_block_id(spark):
    """The stitch orders blocks by their first feed_seq (consumption
    order), not by block_id: a feed where block 5 is consumed BEFORE
    block 1 must still reproduce faithful mode exactly."""
    rows = []

    def tick(seq, block, ts, ret1, p0, p1):
        rows.append(("X", block, seq, pd.Timestamp(ts), 0, p0, float("nan")))
        rows.append(("X", block, seq, pd.Timestamp(ts), 1, p1, ret1))

    # block 5 first in feed order: open, then market-close drain
    tick(1, 5, "2026-01-05 15:00:00", 0.20, 100.0, 50.0)
    tick(2, 5, "2026-01-05 16:30:00", 0.18, 101.0, 52.0)
    # block 1 second: different-magnitude trade so order is observable
    tick(3, 1, "2026-01-12 15:00:00", 0.25, 90.0, 40.0)
    tick(4, 1, "2026-01-12 16:30:00", 0.22, 92.0, 44.0)
    feed = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["company", "block_id", "feed_seq", "ts",
                     "ticker_idx", "price", "ret"],
        )
    )
    faithful = _trades_pdf(backtest_trades_ledger(feed, TRADER_PARAMS))
    relaxed = _trades_pdf(
        backtest_trades_ledger(feed, TRADER_PARAMS, state_scope="block")
    )
    assert list(faithful.close_type) == ["mc", "mc"]
    _assert_trade_parity_loose(faithful, relaxed)

    f_bal = backtest_balances(feed, TRADER_PARAMS).orderBy("ts").toPandas()
    r_bal = (
        backtest_balances(feed, TRADER_PARAMS, state_scope="block")
        .orderBy("ts")
        .toPandas()
    )
    assert max(abs(f_bal.balance.to_numpy() - r_bal.balance.to_numpy())) < 1e-9


def _assert_trade_parity_loose(faithful, relaxed):
    assert list(faithful.trade_seq) == list(relaxed.trade_seq)
    assert list(faithful.close_type) == list(relaxed.close_type)
    assert max(abs(faithful.roi.to_numpy() - relaxed.roi.to_numpy())) < 1e-9
    assert max(abs(faithful.bal_after.to_numpy() - relaxed.bal_after.to_numpy())) < 1e-9


def test_relaxed_mode_validation(spark, feed_with_blocks):
    no_block = feed_with_blocks.drop("block_id")
    with pytest.raises(ValueError, match="block_id"):
        backtest_trades(no_block, TRADER_PARAMS, state_scope="block")
    with pytest.raises(ValueError, match="state_scope"):
        backtest_trades(feed_with_blocks, TRADER_PARAMS, state_scope="weekly")


def test_relaxed_plan_keys_by_company_and_block(spark, feed_with_blocks):
    """The scale point of the mode: the Python stage's grouping keys are
    (company, block_id), so parallelism is company × block, not company."""
    relaxed = backtest_trades(feed_with_blocks, TRADER_PARAMS, state_scope="block")
    plan = relaxed._jdf.queryExecution().executedPlan().toString()
    fmg = [ln for ln in plan.splitlines() if "FlatMapGroupsInPandas" in ln]
    assert fmg, "relaxed mode must run through FlatMapGroupsInPandas"
    assert all("company" in ln and "block_id" in ln for ln in fmg)


def test_relaxed_through_pipeline_entry(spark, feed_with_blocks):
    """intraday_backtest passes the scope through both outputs."""
    trades, balances = intraday_backtest(
        feed_with_blocks, TRADER_PARAMS, state_scope="block"
    )
    f_trades, f_balances = intraday_backtest(feed_with_blocks, TRADER_PARAMS)
    assert trades.count() == f_trades.count()
    assert balances.count() == f_balances.count()


def test_relaxed_fixed_sizing_warns_at_call_time(spark, feed_with_blocks):
    """Round-12 ADVICE: the fixed-sizing SL-denominator caveat must
    surface at call time (warnings.warn), not only in docstrings —
    percent sizing stays silent (it is exact by scale invariance)."""
    import warnings

    fixed = {**TRADER_PARAMS, "trade_size": 50.0, "trade_size_percent": False}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        backtest_trades(feed_with_blocks, fixed, state_scope="block")
    msgs = [str(w.message) for w in caught]
    assert any("SL" in m and "bal0" in m for m in msgs), msgs

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        backtest_trades(feed_with_blocks, TRADER_PARAMS, state_scope="block")
        backtest_trades(feed_with_blocks, fixed)  # faithful: no warning
    assert not [w for w in caught if "SL" in str(w.message)], (
        "percent sizing / faithful mode must not warn"
    )


def _assert_single_pass(feed, state_scope):
    """intraday_backtest runs the Python state machine ONCE per call — a
    combined tagged-union local pass, checkpointed and split JVM-side.
    Pinned two ways: (a) value parity with the standalone operators of
    the same scope, (b) the returned plans read from the checkpoint (no
    FlatMapGroupsInPandas left in either output's physical plan)."""
    trades, balances = intraday_backtest(feed, TRADER_PARAMS, state_scope=state_scope)
    ref_trades = _trades_pdf(
        backtest_trades(feed, TRADER_PARAMS, state_scope=state_scope)
    )
    got_trades = _trades_pdf(trades)
    assert len(got_trades) > 3, "fixture must produce trades"
    assert list(got_trades.company) == list(ref_trades.company)
    assert list(got_trades.trade_seq) == list(ref_trades.trade_seq)
    assert list(got_trades.close_type) == list(ref_trades.close_type)
    assert (
        max(abs(got_trades.roi.to_numpy() - ref_trades.roi.to_numpy())) < 1e-9
    )

    ref_bal = (
        backtest_balances(feed, TRADER_PARAMS, state_scope=state_scope)
        .orderBy("company", "ts")
        .toPandas()
    )
    got_bal = balances.orderBy("company", "ts").toPandas()
    assert list(got_bal.ts) == list(ref_bal.ts)
    assert max(abs(got_bal.balance.to_numpy() - ref_bal.balance.to_numpy())) < 1e-9

    for df in (trades, balances):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan, (
            "combined-pass outputs must read the checkpointed local "
            "relation, not re-run the Python stage"
        )


def test_intraday_backtest_relaxed_single_pass(spark, feed_with_blocks):
    _assert_single_pass(feed_with_blocks, "block")


def test_intraday_backtest_faithful_single_pass(spark, feed_with_blocks):
    """Faithful mode shares the single pass, grouped by company alone, on
    the default feed shape (no block_id column)."""
    no_block = feed_with_blocks.drop("block_id")
    _assert_single_pass(no_block, "company")
    with pytest.raises(ValueError, match="state_scope"):
        intraday_backtest(no_block, TRADER_PARAMS, state_scope="weekly")

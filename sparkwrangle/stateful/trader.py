"""S2/S3 — intraday region-arbitrage trader state machine (SURVEY.md §2.S2).

A fresh implementation of the per-tick protocol of the reference's
``IntradayRegionArbitrage`` class (IntradayRegionArbitrage.py:35-159),
reproducing its semantics exactly, including the quirks:

* K.1 — opportunity triggers only on ``ret > min_deviation`` (no abs), so
  ``signal`` is always True for triggered indices (:75-79).
* K.3 — take-profit ``break``: at most one TP close per tick (:117); and
  both the SL path and the market-close path iterate the live position
  list while ``close_trade`` removes from it (:112/:150 and :57-58 —
  ``tmp = self._cpt`` aliases, it does not copy), so Python's
  skip-after-remove behavior is part of the semantics.
* K.5 — feed shape: ``tickers`` includes the base at index 0;
  ``price_data`` aligns with ``tickers``; ``return_data`` excludes the
  base (:44-49).
* market close: any tick strictly after 16:29:00 (:152-159); positions
  are marked 'mc'. Ledger arithmetic per :90-99 (open, net-zero cash) and
  :137-139 (close, roi vs pre-close balance).

The protocol consumes one tick at a time, so state is a plain object; the
distributed operator (``backtest_trades`` / ``backtest_balances``) runs it
inside ``applyInPandas`` keyed by company — Spark's parallelism axis is
companies (S4's fan-out loop, intra_day_arbitrage.ipynb:11121-11126), and
per-company history is bounded, so the sequential core never sees more
than one group.

Scale lever — ``state_scope="block"`` (relaxed mode): faithful mode is
per-company sequential because the reference trader object survives the
weekly block loop (intra_day_arbitrage.ipynb:11122-11125), so one company
with years of 5-minute history is ONE sequential task. But the reference's
own protocol force-closes every position strictly after 16:29 daily, so at
any block boundary the position book is empty and the ONLY state that
crosses the boundary is the scalar balance. Relaxed mode exploits that:
the Python state machine runs with a FRESH TraderState per
(company, block_id) — the applyInPandas keys by both, so parallelism is
company × block — and the carried balance is reconstructed afterwards with
a cheap JVM scan (scan decomposition):

* percent sizing (``trade_size_percent=True``): the whole within-block
  trajectory is scale-invariant in the starting balance (shares ∝ balance,
  SL pnl is a ratio), so per-block ROIs equal faithful ROIs and the global
  ledger is ``bal₀ · ∏(1+roi)`` — a cumulative-product window. Relaxed is
  EXACT (up to FP roundoff) for market-close-bounded feeds.
* fixed sizing: per-trade cash deltas are balance-independent, so the
  global ledger is ``bal₀ + Σdelta`` and per-trade roi is re-derived from
  the stitched series. One caveat: the SL check divides mark-to-market by
  the CURRENT balance (ref :121), and relaxed blocks start from bal₀
  instead of the carried balance — SL decisions that are balance-marginal
  can flip. Exact only when no SL decision is marginal (always true under
  percent sizing, where the ratio is invariant).

A position held across a block boundary is silently dropped by relaxed
mode (the per-block state object is discarded) — that is the explicit,
tested difference from faithful mode, and why faithful stays the default.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame


# strictly after 16:29:00 (ref :152-159) — single source of truth; the
# vectorized skip-ahead mask in run_trader_on_feed reuses this constant,
# so a cutoff change cannot silently desync the two paths
_MARKET_CLOSE_CUTOFF_SEC = 16 * 3600 + 29 * 60


def _is_closing(minute_of_day_sec: int) -> bool:
    """Market closing check: strictly after 16:29:00 (ref :152-159)."""
    return minute_of_day_sec > _MARKET_CLOSE_CUTOFF_SEC


class TraderState:
    """Mutable per-company trading state (ref :22-33)."""

    __slots__ = (
        "min_deviation",
        "sl_percent",
        "trigger_range",
        "trade_size",
        "trade_size_percent",
        "strict_reference",
        "balance",
        "trades",
        "trade_balances",
        "shares",
        "base_shares",
        "cpt",
    )

    def __init__(
        self,
        bal: float,
        min_deviation: float,
        sl_percent: float,
        trigger_range: float,
        trade_size: float,
        trade_size_percent: bool = False,
        strict_reference: bool = True,
    ):
        if not min_deviation > 0:
            raise ValueError("min_deviation must be > 0")
        if not sl_percent > 0:
            raise ValueError("sl_percent must be > 0")
        if not (min_deviation > trigger_range > 0):
            raise ValueError("need min_deviation > trigger_range > 0")
        if trade_size_percent and not trade_size < 1:
            raise ValueError("percentage trade_size must be < 1")
        self.min_deviation = min_deviation
        self.sl_percent = sl_percent
        self.trigger_range = trigger_range
        self.trade_size = trade_size
        self.trade_size_percent = trade_size_percent
        # strict_reference=True reproduces the published quirks (K.1 no-abs
        # opportunity check, K.3 one-TP-per-tick break + live-list skip on
        # market close); False applies the corrected semantics.
        self.strict_reference = strict_reference
        self.balance = bal
        self.trades: list[tuple[str, float]] = []
        # balance AFTER each close, parallel to ``trades`` — the ledger
        # series the percent-sizing oracle twin checks (kept out of the
        # trades tuples so the reference-shaped API stays 2-tuples)
        self.trade_balances: list[float] = []
        self.shares: dict[int, float] = {}  # keyed by arb-ticker index
        self.base_shares: dict[int, float] = {}
        self.cpt: list[int] = []  # open-position ticker indices

    # -- protocol ----------------------------------------------------------

    def data_feed(
        self, second_of_day: int, return_data: list[float], price_data: list[float]
    ) -> None:
        """One tick (ref :35-65). ``price_data[0]`` is the base price;
        ``return_data[i]`` aligns with ``price_data[i+1]``."""
        closing = _is_closing(second_of_day)
        base_price = price_data[0]
        arb_prices = price_data[1:]
        if self.cpt:
            self._price_check(return_data, arb_prices, base_price)
            if closing:
                if self.strict_reference:
                    # ref :57-58 — iterates the LIVE list (tmp aliases
                    # _cpt), so each close skips the following element.
                    for i in self.cpt:
                        self._close_trade(i, "mc", arb_prices, base_price)
                else:
                    for i in list(self.cpt):  # corrected: snapshot copy
                        self._close_trade(i, "mc", arb_prices, base_price)
        elif not closing:
            if self.strict_reference:
                # K.1: positive deviations only, no abs (ref :75-79)
                self.cpt = [
                    i for i, r in enumerate(return_data) if r > self.min_deviation
                ]
            else:
                self.cpt = [
                    i
                    for i, r in enumerate(return_data)
                    if abs(r) > self.min_deviation
                ]
            if self.cpt:
                self._trade_signal(return_data, arb_prices, base_price)

    def _trade_signal(
        self, return_data: list[float], arb_prices: list[float], base_price: float
    ) -> None:
        """Open zero-net-cost pair positions (ref :81-102)."""
        order_size = (
            (self.trade_size * self.balance if self.trade_size_percent else self.trade_size)
            / len(self.cpt)
            * 2
        )
        for idx in self.cpt:
            price = arb_prices[idx]
            long_arb = return_data[idx] > 0  # 'signal' (always True under K.1)
            self.shares[idx] = order_size / price * (1 if long_arb else -1)
            self.base_shares[idx] = order_size / base_price * (-1 if long_arb else 1)
            self.balance += self.shares[idx] * price
            self.balance += self.base_shares[idx] * base_price

    def _price_check(
        self, return_data: list[float], arb_prices: list[float], base_price: float
    ) -> None:
        """TP/SL checks on open positions (ref :104-124)."""
        positions = self.cpt if self.strict_reference else list(self.cpt)
        for i in positions:
            r = return_data[i]
            # take profit: deviation back inside ±trigger_range; at most
            # one TP per tick in strict mode (K.3 break)
            if -self.trigger_range <= r <= self.trigger_range:
                self._close_trade(i, "tp", arb_prices, base_price)
                if self.strict_reference:
                    break
                continue
            # stop loss on mark-to-market pnl (ref :121)
            pnl = (
                self.balance
                + (self.base_shares[i] * base_price * -1)
                + (self.shares[i] * arb_prices[i] * -1)
            ) / self.balance - 1
            if pnl < -self.sl_percent:
                self._close_trade(i, "sl", arb_prices, base_price)

    def _close_trade(
        self, idx: int, close_type: str, arb_prices: list[float], base_price: float
    ) -> None:
        """Settle both legs at current prices; roi vs pre-close balance
        (ref :126-150)."""
        tmp_bal = self.balance
        self.balance += (self.base_shares[idx] * base_price * -1) + (
            self.shares[idx] * arb_prices[idx] * -1
        )
        roi = self.balance / tmp_bal - 1
        del self.shares[idx]
        del self.base_shares[idx]
        self.trades.append((close_type, roi))
        self.trade_balances.append(self.balance)
        self.cpt.remove(idx)


def run_trader_on_feed(
    feed: pd.DataFrame, params: dict
) -> tuple[list[tuple[str, float]], list[tuple], list[float]]:
    """Run one company's feed through the state machine.

    ``feed`` is long format with columns: ts, ticker_idx (0 = base, listing
    order — IntradayRegionArbitrage.py:47 ``tickers[0]``), price (converted
    + ffilled), ret (base-relative normalized deviation; NaN for idx 0).
    Returns (trades, balance_history, trade_balances) where
    balance_history is [(ts, balance)] with one row per tick, recorded
    AFTER the tick is fed (intra_day_arbitrage.ipynb:145-147, cell 8),
    and trade_balances is the post-close balance parallel to trades.
    """
    st = TraderState(**params)
    # pivot on feed_seq, not ts: the reference's day-of-month grouping
    # (quirk K.2) feeds days OUT of ts order across month boundaries, and
    # state must see ticks in that exact order.
    # (feed_seq, ticker_idx) is unique per group → plain pivot (errors on
    # duplicates, which would mean a malformed feed) and much faster than
    # pivot_table's aggregation machinery
    try:
        wide_p = feed.pivot(index="feed_seq", columns="ticker_idx", values="price").sort_index()
    except ValueError as e:
        # name the company and the offending feed_seq values so a user
        # debugging a malformed 100 TB feed can locate the rows instead
        # of re-deriving them from pandas' generic "duplicate entries"
        dup = feed[feed.duplicated(["feed_seq", "ticker_idx"], keep=False)]
        company = feed["company"].iloc[0] if "company" in feed.columns else "<unknown>"
        seqs = sorted(dup["feed_seq"].unique().tolist())[:10]
        raise ValueError(
            f"malformed feed for company {company!r}: duplicate "
            f"(feed_seq, ticker_idx) rows at feed_seq={seqs}"
            f"{' (first 10 shown)' if dup['feed_seq'].nunique() > 10 else ''} "
            "— each (feed_seq, ticker_idx) must be unique per company"
        ) from e
    wide_r = feed.pivot(index="feed_seq", columns="ticker_idx", values="ret").sort_index()
    n_idx = int(feed["ticker_idx"].max()) + 1
    wide_p = wide_p.reindex(columns=range(n_idx))
    wide_r = wide_r.reindex(columns=range(1, n_idx))
    seq_ts = (
        feed.drop_duplicates("feed_seq")
        .set_index("feed_seq")["ts"]
        .reindex(wide_p.index)
    )
    ts_list = seq_ts.to_list()
    # vectorized second-of-day (the per-tick attribute access dominates
    # otherwise)
    sods = (
        seq_ts.dt.hour.to_numpy() * 3600
        + seq_ts.dt.minute.to_numpy() * 60
        + seq_ts.dt.second.to_numpy()
    )

    p_vals = wide_p.to_numpy()
    r_vals = wide_r.to_numpy()
    n = len(ts_list)

    # Vectorized skip-ahead: a tick is a strict no-op whenever no position
    # is open AND (the tick is in closing time OR nothing triggers) — in
    # data_feed terms, cpt stays empty and only the balance history grows.
    # Those stretches (the vast majority of a feed) are filled with a
    # numpy slice write; the sequential protocol runs only from a trigger
    # until the book is flat again, so quirk semantics (K.1/K.2/K.3) are
    # byte-identical to the per-tick loop. NaN returns compare False in
    # both the numpy mask and the list comprehension.
    import numpy as np

    if st.strict_reference:
        trig_any = (r_vals > st.min_deviation).any(axis=1) if r_vals.size else np.zeros(n, bool)
    else:
        trig_any = (np.abs(r_vals) > st.min_deviation).any(axis=1) if r_vals.size else np.zeros(n, bool)
    closing = sods > _MARKET_CLOSE_CUTOFF_SEC
    cand_idx = np.flatnonzero(trig_any & ~closing)

    bal = np.empty(n, dtype=float)
    k = 0
    while k < n:
        if not st.cpt:
            p = int(np.searchsorted(cand_idx, k))
            nxt = int(cand_idx[p]) if p < len(cand_idx) else n
            if nxt > k:
                bal[k:nxt] = st.balance
                k = nxt
                continue
        st.data_feed(int(sods[k]), list(r_vals[k]), list(p_vals[k]))
        bal[k] = st.balance
        k += 1
    return st.trades, list(zip(ts_list, bal.tolist())), st.trade_balances


def _col_type(feed: DataFrame, name: str) -> str:
    return {f.name: f.dataType.simpleString() for f in feed.schema.fields}[name]


def _key_type(feed: DataFrame) -> str:
    return _col_type(feed, "company")


def _check_scope(feed: DataFrame, state_scope: str, params: dict | None = None) -> None:
    if state_scope not in ("company", "block"):
        raise ValueError(f"state_scope must be 'company' or 'block', got {state_scope!r}")
    if state_scope == "block":
        if "block_id" not in feed.columns:
            raise ValueError(
                "state_scope='block' needs a block_id column in the feed — "
                "build it with build_intraday_feed(..., with_block_id=True)"
            )
        if params is not None and not params.get("trade_size_percent", False):
            # Surface the documented fixed-sizing caveat (module docstring,
            # SCALE.md) at CALL time, not only in docs: relaxed blocks
            # restart the SL denominator from bal0, so balance-marginal SL
            # decisions can flip vs faithful mode. Percent sizing is exact
            # (scale-invariant trajectory) and stays silent.
            import warnings

            warnings.warn(
                "state_scope='block' with fixed sizing "
                "(trade_size_percent=False): relaxed blocks restart from "
                "bal0, so the SL check's balance denominator differs from "
                "faithful mode — balance-marginal SL decisions can flip. "
                "Exact only when no SL decision is marginal; use "
                "trade_size_percent=True for guaranteed parity on "
                "market-close-bounded feeds.",
                stacklevel=3,
            )


def _block_trades_local(feed: DataFrame, params: dict) -> DataFrame:
    """Relaxed-mode local pass: fresh TraderState per (company, block_id).

    Emits, per trade, everything the JVM stitch needs to reconstruct the
    carried ledger without re-running Python: ``roi_local`` (the within-
    block roi starting from bal₀ — equal to the faithful roi under percent
    sizing's scale invariance) and ``bal_delta`` (the within-block cash
    delta of this close — balance-independent under fixed sizing).
    """
    bal0 = float(params["bal"])
    schema = (
        f"company {_key_type(feed)}, block_id {_col_type(feed, 'block_id')}, "
        "first_seq long, trade_seq_local int, close_type string, "
        "roi_local double, bal_delta double"
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        trades, _, balances = run_trader_on_feed(pdf, params)
        prev = [bal0] + balances[:-1]
        first_seq = int(pdf["feed_seq"].min())
        return pd.DataFrame(
            [
                {
                    "company": pdf["company"].iloc[0],
                    "block_id": pdf["block_id"].iloc[0],
                    "first_seq": first_seq,
                    "trade_seq_local": i,
                    "close_type": t,
                    "roi_local": r,
                    "bal_delta": b - p,
                }
                for i, ((t, r), b, p) in enumerate(zip(trades, balances, prev))
            ],
            columns=[
                "company", "block_id", "first_seq", "trade_seq_local",
                "close_type", "roi_local", "bal_delta",
            ],
        )

    cols = ["company", "block_id", "feed_seq", "ts", "ticker_idx", "price", "ret"]
    return feed.select(*cols).groupBy("company", "block_id").applyInPandas(run, schema)


def _stitch_ledger(local: DataFrame, params: dict) -> DataFrame:
    """JVM scan that turns per-block relaxed trades into the carried
    ledger: (company, trade_seq, close_type, roi, bal_after). The windows
    run over the TRADE relation (≪ ticks), ordered by each block's FIRST
    feed_seq then the local trade seq — i.e. by the feed order the blocks
    were actually consumed in, not by block_id, so a feed whose block ids
    are not feed-order-aligned still stitches to faithful semantics.
    (Blocks whose feed_seq ranges INTERLEAVE are outside the
    decomposition's domain entirely — there the faithful trader's state
    alternates between blocks mid-stream and no per-block run can
    reproduce it; build_intraday_feed always emits block-contiguous
    feed_seq.)"""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    bal0 = F.lit(float(params["bal"]))
    w = Window.partitionBy("company").orderBy("first_seq", "trade_seq_local")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    out = local.withColumn("trade_seq", (F.row_number().over(w) - 1).cast("int"))
    if params.get("trade_size_percent", False):
        # scale-invariant trajectory: roi_local IS the faithful roi and the
        # carried balance is bal₀·∏(1+roi) — ordered cumulative product
        out = out.withColumn(
            "bal_after", bal0 * F.product(1.0 + F.col("roi_local")).over(wcum)
        ).withColumn("roi", F.col("roi_local"))
    else:
        # fixed sizing: cash deltas are context-free; carried balance is
        # bal₀ + Σdelta and roi is re-derived against the carried series
        out = out.withColumn("bal_after", bal0 + F.sum("bal_delta").over(wcum))
        out = out.withColumn(
            "roi",
            F.col("bal_after") / F.coalesce(F.lag("bal_after").over(w), bal0) - 1.0,
        )
    return out


def backtest_trades(
    feed: DataFrame, params: dict, state_scope: str = "company"
) -> DataFrame:
    """Distributed S2 trade log: (company, trade_seq, close_type, roi).

    ``state_scope="company"`` (default) is the faithful reference protocol
    (state persists across blocks); ``"block"`` is the relaxed scale mode
    (fresh state per block, JVM-stitched ledger — see module docstring).
    """
    _check_scope(feed, state_scope, params)
    if state_scope == "block":
        return _stitch_ledger(_block_trades_local(feed, params), params).select(
            "company", "trade_seq", "close_type", "roi"
        )
    schema = f"company {_key_type(feed)}, trade_seq int, close_type string, roi double"

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        trades, _, _ = run_trader_on_feed(pdf, params)
        company = pdf["company"].iloc[0]
        return pd.DataFrame(
            [
                {"company": company, "trade_seq": i, "close_type": t, "roi": r}
                for i, (t, r) in enumerate(trades)
            ],
            columns=["company", "trade_seq", "close_type", "roi"],
        )

    cols = ["company", "feed_seq", "ts", "ticker_idx", "price", "ret"]
    return feed.select(*cols).groupBy("company").applyInPandas(run, schema)


def backtest_trades_ledger(
    feed: DataFrame, params: dict, state_scope: str = "company"
) -> DataFrame:
    """Distributed S2/S3 trade log WITH the ledger: (company, trade_seq,
    close_type, roi, bal_after). ``bal_after`` is the state machine's
    balance right after each close — under percent sizing the compounded
    series bal₀·∏(1+roiⱼ), which is what the recursive-CTE oracle twin
    re-derives independently (ref :90-99 open / :137-139 close)."""
    _check_scope(feed, state_scope, params)
    if state_scope == "block":
        return _stitch_ledger(_block_trades_local(feed, params), params).select(
            "company", "trade_seq", "close_type", "roi", "bal_after"
        )
    schema = (
        f"company {_key_type(feed)}, trade_seq int, close_type string, "
        "roi double, bal_after double"
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        trades, _, balances = run_trader_on_feed(pdf, params)
        company = pdf["company"].iloc[0]
        return pd.DataFrame(
            [
                {
                    "company": company,
                    "trade_seq": i,
                    "close_type": t,
                    "roi": r,
                    "bal_after": b,
                }
                for i, ((t, r), b) in enumerate(zip(trades, balances))
            ],
            columns=["company", "trade_seq", "close_type", "roi", "bal_after"],
        )

    cols = ["company", "feed_seq", "ts", "ticker_idx", "price", "ret"]
    return feed.select(*cols).groupBy("company").applyInPandas(run, schema)


def _block_balances_local(feed: DataFrame, params: dict) -> DataFrame:
    """Relaxed-mode local pass for the balance history: one fresh-state
    run per (company, block_id), emitting the per-tick within-block
    balance plus ``tick_seq`` (feed order inside the block — NOT ts order,
    quirk K.2) and ``block_last`` so the stitch can read each block's end
    balance without a second aggregation pass over the Python output."""
    schema = (
        f"company {_key_type(feed)}, block_id {_col_type(feed, 'block_id')}, "
        "first_seq long, tick_seq int, ts timestamp, balance double, "
        "block_last boolean"
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        _, history, _ = run_trader_on_feed(pdf, params)
        n = len(history)
        ts, bals = zip(*history) if history else ((), ())
        return pd.DataFrame(
            {
                "company": pdf["company"].iloc[0],
                "block_id": pdf["block_id"].iloc[0],
                "first_seq": int(pdf["feed_seq"].min()),
                "tick_seq": range(n),
                "ts": list(ts),
                "balance": list(bals),
                "block_last": [i == n - 1 for i in range(n)],
            },
            columns=["company", "block_id", "first_seq", "tick_seq", "ts",
                     "balance", "block_last"],
        )

    cols = ["company", "block_id", "feed_seq", "ts", "ticker_idx", "price", "ret"]
    return feed.select(*cols).groupBy("company", "block_id").applyInPandas(run, schema)


def _combined_local(
    feed: DataFrame, params: dict, keys: tuple[str, ...]
) -> DataFrame:
    """ONE Python pass per ``keys`` group emitting BOTH trader relations as
    a tagged union: one row per trade (``is_trade=true``; tick columns
    null) and one row per tick with its balance (``is_trade=false``;
    trade columns null). ``keys`` is ``("company",)`` for faithful mode —
    the feed needs no ``block_id`` — or ``("company", "block_id")`` for
    relaxed mode, where ``first_seq``, ``bal_delta`` and ``block_last``
    feed the two JVM stitches. ``pipelines.intraday.intraday_backtest``
    checkpoints this once and splits it JVM-side, so a backtest whose
    reports read both outputs (balances twice) runs the trader once
    instead of once per read."""
    bal0 = float(params["bal"])
    key_schema = ", ".join(f"{k} {_col_type(feed, k)}" for k in keys)
    schema = (
        f"{key_schema}, first_seq long, is_trade boolean, "
        "trade_seq_local int, close_type string, roi_local double, "
        "bal_delta double, "
        "tick_seq int, ts timestamp, balance double, block_last boolean"
    )
    cols = [
        *keys, "first_seq", "is_trade",
        "trade_seq_local", "close_type", "roi_local", "bal_delta",
        "tick_seq", "ts", "balance", "block_last",
    ]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        trades, history, balances = run_trader_on_feed(pdf, params)
        key_vals = {k: pdf[k].iloc[0] for k in keys}
        first_seq = int(pdf["feed_seq"].min())
        prev = [bal0] + balances[:-1]
        n = len(history)
        ts, bals = zip(*history) if history else ((), ())
        trade_rows = pd.DataFrame(
            {
                **key_vals,
                "first_seq": first_seq,
                "is_trade": True,
                "trade_seq_local": range(len(trades)),
                "close_type": [t for t, _ in trades],
                "roi_local": [r for _, r in trades],
                "bal_delta": [b - p for b, p in zip(balances, prev)],
                "tick_seq": None,
                "ts": pd.NaT,
                "balance": None,
                "block_last": None,
            },
            columns=cols,
        )
        tick_rows = pd.DataFrame(
            {
                **key_vals,
                "first_seq": first_seq,
                "is_trade": False,
                "trade_seq_local": None,
                "close_type": None,
                "roi_local": None,
                "bal_delta": None,
                "tick_seq": range(n),
                "ts": list(ts),
                "balance": list(bals),
                "block_last": [i == n - 1 for i in range(n)],
            },
            columns=cols,
        )
        # the tagged union leaves the other tag's columns as object-NaN;
        # coerce each half to Arrow-friendly nullable dtypes BEFORE the
        # concat (uniformly-typed inputs — avoids both the all-NA concat
        # FutureWarning and the serializer failing int/bool/ts casts)
        dtypes = {
            "trade_seq_local": "Int32",
            "tick_seq": "Int32",
            "roi_local": "Float64",
            "bal_delta": "Float64",
            "balance": "Float64",
            "block_last": "boolean",
        }
        for half in (trade_rows, tick_rows):
            half["ts"] = pd.to_datetime(half["ts"])
        return pd.concat(
            [trade_rows.astype(dtypes), tick_rows.astype(dtypes)],
            ignore_index=True,
        )

    in_cols = [*keys, "feed_seq", "ts", "ticker_idx", "price", "ret"]
    return feed.select(*in_cols).groupBy(*keys).applyInPandas(run, schema)


def _stitch_balances(local: DataFrame, params: dict) -> DataFrame:
    """JVM stitch for the relaxed-mode balance history: lift each block's
    within-block per-tick balances onto the carried ledger. The
    prior-blocks adjustment is ``∏ end_bal/bal₀`` (percent sizing) or
    ``Σ (end_bal − bal₀)`` (fixed sizing) read off the ``block_last``
    rows; one window per company ordered by each block's first feed_seq
    (= consumption order; see _stitch_ledger on why not block_id), then
    within-block tick."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    bal0 = F.lit(float(params["bal"]))
    wprior = (
        Window.partitionBy("company")
        .orderBy("first_seq", "tick_seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    if params.get("trade_size_percent", False):
        factor = F.coalesce(
            F.product(
                F.when(F.col("block_last"), F.col("balance") / bal0)
            ).over(wprior),
            F.lit(1.0),
        )
        stitched = F.col("balance") * factor
    else:
        offset = F.coalesce(
            F.sum(F.when(F.col("block_last"), F.col("balance") - bal0)).over(
                wprior
            ),
            F.lit(0.0),
        )
        stitched = F.col("balance") + offset
    return local.select("company", "ts", stitched.alias("balance"))


def backtest_balances(
    feed: DataFrame, params: dict, state_scope: str = "company"
) -> DataFrame:
    """Distributed S2 balance history: (company, ts, balance) per tick,
    in feed order (which is NOT ts order across month boundaries — quirk
    K.2's day-of-month grouping reorders days; see pipelines.intraday).

    Relaxed mode (``state_scope="block"``) runs the Python state machine
    per block and lifts each block's history onto the carried ledger with
    one JVM window: the prior-blocks adjustment is ``∏ end_bal/bal₀``
    (percent sizing) or ``Σ (end_bal − bal₀)`` (fixed sizing) read off the
    ``block_last`` rows. The window partitions by company — the same
    granularity as the feed's own feed_seq window — but it is a pure
    linear JVM scan; the expensive Python pass above it is per-block."""
    _check_scope(feed, state_scope, params)
    if state_scope == "block":
        return _stitch_balances(_block_balances_local(feed, params), params)
    schema = f"company {_key_type(feed)}, ts timestamp, balance double"

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        _, history, _ = run_trader_on_feed(pdf, params)
        company = pdf["company"].iloc[0]
        ts, bals = zip(*history) if history else ((), ())
        return pd.DataFrame(
            {"company": company, "ts": list(ts), "balance": list(bals)},
            columns=["company", "ts", "balance"],
        )

    cols = ["company", "feed_seq", "ts", "ticker_idx", "price", "ret"]
    return feed.select(*cols).groupBy("company").applyInPandas(run, schema)

"""The benchmark's three workloads, written against the engine's public
entry points (``pipelines``, ``stateful``, ``ext``, ``io``, ``catalog``).

A workload loads its inputs once (``load``), then runs ops one after
another (``op``), each a full user-level request whose result is drained.
Outputs are kept and checked once, after the timed loop, against an
independent oracle (``check``): the EP2 pandas transcription in
``tests/pandas_oracle.py`` or the catalog's DuckDB SQL.
"""

from __future__ import annotations

import itertools
import math
import os
import random
import shutil
import sys
from contextlib import contextmanager

import duckdb
import pandas as pd

from sparkwrangle.io import TABLES, load_table, load_user_parquet, write_table


class NullTrace:
    """Stand-in for ``spans.OpTrace`` in the untraced run: no job groups,
    no spans, nothing read back."""

    @contextmanager
    def span(self, name, group=None):
        yield

    def drained(self, df):
        return df


def _close(a, b, tol: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


# ---------------------------------------------------------------------------
# backtest: EP2 end to end over a parameter sweep
# ---------------------------------------------------------------------------

SWEEP = list(
    itertools.product(
        (0.06, 0.08, 0.1, 0.12),  # min_deviation
        (0.02, 0.03, 0.05),  # sl_percent
        (0.005, 0.01, 0.02),  # trigger_range
        (0.05, 0.1, 0.2),  # trade_size (share of balance)
    )
)


def sweep_params(k: tuple) -> dict:
    md, sl, tr, size = k
    return dict(
        bal=1000.0,
        min_deviation=md,
        sl_percent=sl,
        trigger_range=tr,
        trade_size=size,
        trade_size_percent=True,
    )


class Backtest:
    """EP2 as a quant runs it: feed build -> faithful trader -> balance and
    trade reports, one sweep point per op."""

    name = "backtest"
    warm_ops = 4
    level_window = 1
    round_ops = 1

    def __init__(self, spark, data_dir: str, seed: int, repo: str):
        self.spark, self.dir, self.repo = spark, data_dir, repo
        self.grid = list(SWEEP)
        random.Random(seed).shuffle(self.grid)

    def load(self) -> None:
        def read(name, ts_cols=()):
            return load_user_parquet(
                self.spark, os.path.join(self.dir, f"{name}.parquet"), ts_cols=ts_cols
            )

        self.bars = read("bars", ("ts",))
        self.fx = read("fx", ("ts",))
        self.blocks = read("blocks", ("start_ts", "end_ts"))
        self.listings = read("listings")

    def op(self, i: int, t) -> tuple:
        from sparkwrangle.pipelines.intraday import (
            balance_report,
            build_intraday_feed,
            intraday_backtest,
            trade_report,
        )

        k = i % len(self.grid)
        with t.span("build", "build"):
            feed = build_intraday_feed(self.bars, self.fx, self.blocks, self.listings)
            trades, balances = intraday_backtest(feed, sweep_params(self.grid[k]))
            br, tr = balance_report(balances), trade_report(trades)
        with t.span("drain", "drain"):
            b = t.drained(br).collect()[0].asDict()
            r = t.drained(tr).collect()[0].asDict()
        return k, b, r

    def check(self, outputs: list) -> list[bool]:
        sys.path.insert(0, os.path.join(self.repo, "tests"))
        from pandas_oracle import ep2_run_company

        def rd(name):
            return pd.read_parquet(os.path.join(self.dir, f"{name}.parquet"))

        bars, fx, blocks, listings = rd("bars"), rd("fx"), rd("blocks"), rd("listings")
        # the oracle works on tz-aware UTC frames, like tests/fixtures.py
        for df, cols in ((bars, ["ts"]), (fx, ["ts"]), (blocks, ["start_ts", "end_ts"])):
            for c in cols:
                df[c] = df[c].dt.tz_localize("UTC")
        per_company = {
            c: (bars[bars.company == c], g.sort_values("ticker_idx")["ticker"].tolist())
            for c, g in listings.groupby("company")
        }
        expected = {}
        ok = []
        for k, b, r in outputs:
            if k not in expected:
                expected[k] = _ep2_reports(
                    ep2_run_company, per_company, fx, blocks, sweep_params(self.grid[k])
                )
            eb, er = expected[k]
            ok.append(
                all(_close(b[n], eb[n]) for n in eb) and all(_close(r[n], er[n]) for n in er)
            )
        return ok


def _ep2_reports(run_company, per_company, fx, blocks, params):
    """The reference's report math over the pandas oracle's per-company
    runs: union grid, ffill, drop the first row, row-sum, first/last."""
    trades, series = [], {}
    for company, (bars, tickers) in per_company.items():
        tr, hist = run_company(bars, fx, blocks, tickers, params)
        trades += tr
        series[company] = pd.Series(
            [v for _, v in hist], index=pd.DatetimeIndex([ts for ts, _ in hist])
        ).sort_index()
    total = pd.concat(series, axis=1).sort_index().ffill().iloc[1:].sum(axis=1)
    ratio = total.iloc[-1] / total.iloc[0]
    span = (total.index[-1].date() - total.index[0].date()).days
    wins = [x for _, x in trades if x > 0]
    losses = [x for _, x in trades if x < 0]
    mc_losses = [x for kind, x in trades if x < 0 and kind == "mc"]
    n = len(wins) + len(losses)
    bal = {
        "roi": ratio - 1,
        "span_days": span,
        "log_annualized_roi": math.log(ratio) * 365.0 / span if ratio > 0 else None,
    }
    rep = {
        "n_wins": len(wins),
        "n_losses": len(losses),
        "win_share": len(wins) / n if n else None,
        "avg_profit": sum(wins) / len(wins) if wins else None,
        "avg_loss": sum(losses) / len(losses) if losses else None,
        "mc_loss_share": len(mc_losses) / len(losses) if losses else None,
    }
    return bal, rep


# ---------------------------------------------------------------------------
# curation: tools/curate.py's flow, written out partitioned by language
# ---------------------------------------------------------------------------

CURATION_QUERY = "x_curation_pipeline_end_to_end"


class Curation:
    """Quality prune -> MinHash-LSH + verified connected-components dedup ->
    decontamination, joined back to the full documents and written with
    ``io.write_table`` partitioned by ``lang``."""

    name = "curation"
    warm_ops = 3
    level_window = 1
    round_ops = 1

    def __init__(self, spark, data_dir: str, seed: int, repo: str, out_dir: str):
        self.spark, self.dir, self.out = spark, data_dir, out_dir

    def load(self) -> None:
        self.docs = load_table(self.spark, self.dir, "documents")

    def op(self, i: int, t) -> str:
        from sparkwrangle.catalog import CATALOG

        path = os.path.join(self.out, f"op{i}", "documents.parquet")
        with t.span("build", "build"):
            keep = CATALOG[CURATION_QUERY].fn(self.spark, self.dir)
            curated = self.docs.join(keep.select("doc_id"), "doc_id").select(
                "doc_id", "lang", "source", "text", "n_chars"
            )
        with t.span("drain", "drain"), t.span("io.write"):
            write_table(t.drained(curated), path, partition_by=["lang"])
        return path

    def check(self, outputs: list) -> list[bool]:
        from sparkwrangle.catalog import CATALOG

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(self.dir, 'documents.parquet')}')"
        )
        want = sorted(
            con.execute(
                "SELECT k.doc_id, d.lang, d.source, d.text, d.n_chars "
                f"FROM ({CATALOG[CURATION_QUERY].oracle}) k JOIN documents d USING (doc_id)"
            ).fetchall()
        )
        ok = []
        for path in outputs:
            got = con.execute(
                "SELECT doc_id, lang, source, text, n_chars FROM read_parquet("
                f"'{path}/*/*.parquet', hive_partitioning = true)"
            ).fetchall()
            ok.append(sorted(got) == want)
            shutil.rmtree(os.path.dirname(path), ignore_errors=True)
        con.close()
        return ok


# ---------------------------------------------------------------------------
# queries: single catalog entries, short, over a read-only table set
# ---------------------------------------------------------------------------

# Relational, window, text and small-scale dedup entries of the catalog.
# Every one has a DuckDB oracle; the seed fixes the order they run in. The
# pool size is odd, so the traced run's every-other-op tracing reaches each
# entry in alternate passes.
QUERY_POOL = (
    "tpch_q1_pricing_summary",
    "tpch_q6_forecast_revenue",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q18_large_orders",
    "q_rank_family",
    "q_anti_semi_join",
    "q_rollup_revenue",
    "w_pct_change_log_returns",
    "w_sessionize_gaps",
    "d_exceedance_share",
    "x_events_funnel",
    "x_text_stats",
    "x_dedup_exact",
    "x_dedup_minhash_lsh",
)


def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _norm_rows(cols, rows) -> list[str]:
    """Order-insensitive rows with columns sorted by name, headed by the
    column names (the catalog's oracle comparison)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    return ["|".join(sorted(cols))] + body


class Queries:
    """One catalog entry per op: build the DataFrame, collect it."""

    name = "queries"
    warm_ops = 3 * len(QUERY_POOL)
    level_window = len(QUERY_POOL)
    round_ops = len(QUERY_POOL)

    def __init__(self, spark, data_dir: str, seed: int, repo: str):
        self.spark, self.dir = spark, data_dir
        self.order = list(QUERY_POOL)
        random.Random(seed).shuffle(self.order)

    def load(self) -> None:
        for name in TABLES:
            load_table(self.spark, self.dir, name)

    def op(self, i: int, t) -> tuple:
        from sparkwrangle.catalog import CATALOG

        name = self.order[i % len(self.order)]
        with t.span("build", "build"):
            df = CATALOG[name].fn(self.spark, self.dir)
        with t.span("drain", "drain"):
            rows = t.drained(df).collect()
        return name, df.columns, rows

    def check(self, outputs: list) -> list[bool]:
        from sparkwrangle.catalog import CATALOG

        con = duckdb.connect()
        for name in TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.dir, name + '.parquet')}')"
            )
        expected = {}
        ok = []
        for name, cols, rows in outputs:
            if name not in expected:
                res = con.execute(CATALOG[name].oracle)
                expected[name] = _norm_rows([d[0] for d in res.description], res.fetchall())
            ok.append(_norm_rows(cols, [tuple(r) for r in rows]) == expected[name])
        con.close()
        return ok

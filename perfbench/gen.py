"""Seeded input generators for the three benchmark workloads.

Each generator writes parquet into a per-seed cache directory and returns a
small dict of input sizes that the benchmark prints with its result. The
same (workload, seed) always yields byte-identical inputs, so a cache hit
is safe. Generation runs in its own process, before the timed process
starts, so it never counts towards ``setup_s``.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd

# Shape of the backtest universe (scaled up from FIXTURES.md A2-A5: 3
# companies x 2 weekly blocks there).
BT_COMPANIES = 8
BT_BLOCKS = 3

# Curation corpus (the LLM-data workload).
CUR_DOCS = 600
CUR_NEAR_DUP_SHARE = 0.2
CUR_EVAL_SHARE = 0.05
CUR_CONTAM_SHARE = 0.03

# The queries tables stand in for the fixed sf0.01 test data (seed 42 in
# TESTDATA.md): they are the same for every run, and the run's seed only
# orders the query pool, so runs differ in schedule, not in work.
QUERIES_DATA_SEED = 42

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = np.array([0.44, 0.15, 0.15, 0.14, 0.12])


def _ar1(rng: np.random.Generator, n: int, phi: float, sd: float) -> np.ndarray:
    """AR(1) path x[i] = phi * x[i-1] + N(0, sd), x[0] = 0."""
    eps = rng.normal(0.0, sd, n)
    eps[0] = 0.0
    out = np.empty(n)
    acc = 0.0
    for i in range(n):
        acc = phi * acc + eps[i]
        out[i] = acc
    return out


def backtest_inputs(seed: int, companies: int = BT_COMPANIES, blocks: int = BT_BLOCKS):
    """A2-A5 shaped frames: 5-minute bars, a sparse EURUSD series, weekly
    blocks and a listings dimension. Companies have 2-4 listings; the first
    is the US base, the rest are EU ('.'-suffixed, quoted in EUR). Blocks
    cross month boundaries, so the day-of-month feed order (quirk K.2) is
    exercised. Timestamps are naive UTC."""
    rng = np.random.default_rng(seed)
    start = pd.Timestamp("2023-01-02")
    blk = pd.DataFrame(
        {
            "block_id": np.arange(blocks, dtype=np.int32),
            "start_ts": [start + pd.Timedelta(days=7 * b) for b in range(blocks)],
            "end_ts": [start + pd.Timedelta(days=7 * (b + 1)) for b in range(blocks)],
        }
    )
    days = pd.bdate_range(start, start + pd.Timedelta(days=7 * blocks - 1))
    grid = pd.DatetimeIndex(
        np.concatenate(
            [
                pd.date_range(
                    d + pd.Timedelta(hours=13, minutes=30),
                    d + pd.Timedelta(hours=17, minutes=30),
                    freq="5min",
                ).values
                for d in days
            ]
        )
    )
    n = len(grid)
    fx_mask = rng.random(n) < 0.6
    fx_rate = 1.05 + np.cumsum(rng.normal(0, 0.0005, n))
    fx = pd.DataFrame({"ts": grid[fx_mask], "rate": fx_rate[fx_mask]})

    bars, listings = [], []
    for c in range(companies):
        company = f"Co{c:03d}"
        tickers = [f"T{c:03d}"] + [f"T{c:03d}.{x}" for x in ("DE", "F", "MI")[: 1 + c % 3]]
        base = rng.uniform(20, 200) * np.exp(np.cumsum(rng.normal(0, 0.002, n)))
        for k, tkr in enumerate(tickers):
            listings.append((company, tkr, k))
            px = base if k == 0 else base * (1.0 + _ar1(rng, n, 0.97, 0.012))
            if "." in tkr:
                px = px / 1.05
            keep = rng.random(n) > 0.06
            bars.append(
                pd.DataFrame(
                    {"company": company, "ticker": tkr, "ts": grid[keep], "close": px[keep]}
                )
            )
    bars_df = pd.concat(bars, ignore_index=True)
    listings_df = pd.DataFrame(listings, columns=["company", "ticker", "ticker_idx"])
    listings_df["ticker_idx"] = listings_df["ticker_idx"].astype(np.int32)
    return bars_df, fx, blk, listings_df


def _doc_text(rng: np.random.Generator, n_tok: int) -> list[str]:
    return list(rng.choice(WORDS, n_tok))


def documents(seed: int, n_docs: int) -> tuple[pd.DataFrame, dict]:
    """``documents(doc_id, text, lang, source, n_chars)`` with a fixed
    near-duplicate share (a copy of an earlier training doc with ~10% of
    its tokens replaced), an ``src0`` eval slice, and training docs that
    embed a 12-token span of an eval doc (decontamination targets)."""
    rng = np.random.default_rng(seed)
    n_eval = max(2, int(n_docs * CUR_EVAL_SHARE))
    texts: list[list[str]] = []
    sources: list[str] = []
    n_dup = n_contam = 0
    for i in range(n_docs):
        if i < n_eval:
            toks = _doc_text(rng, int(rng.integers(30, 80)))
            src = "src0"
        else:
            src = f"src{1 + int(rng.integers(0, 19))}"
            u = rng.random()
            if u < CUR_NEAR_DUP_SHARE and i > n_eval + 10:
                toks = list(texts[int(rng.integers(n_eval, i))])
                for j in rng.choice(len(toks), max(1, len(toks) // 10), replace=False):
                    toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
                n_dup += 1
            elif u < CUR_NEAR_DUP_SHARE + CUR_CONTAM_SHARE:
                ev = texts[int(rng.integers(0, n_eval))]
                s = int(rng.integers(0, len(ev) - 12))
                toks = _doc_text(rng, int(rng.integers(5, 30))) + ev[s : s + 12]
                toks += _doc_text(rng, int(rng.integers(5, 30)))
                n_contam += 1
            else:
                toks = _doc_text(rng, int(rng.integers(8, 90)))
        texts.append(toks)
        sources.append(src)
    text = [" ".join(t) for t in texts]
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": text,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": sources,
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    sizes = {
        "documents": n_docs,
        "eval_docs": n_eval,
        "near_dup_docs": n_dup,
        "near_dup_share": round(n_dup / n_docs, 4),
        "contaminated_docs": n_contam,
    }
    return df, sizes


def tpch_tables(seed: int) -> dict[str, pd.DataFrame]:
    """The TPC-H-ish star schema plus ``events`` and ``embeddings`` at the
    sf0.01 sizes of TESTDATA.md, with the same column names, types and
    value domains as the tables the catalog's oracles were written for."""
    rng = np.random.default_rng(seed)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    n_cust, n_supp, n_part, n_ord = 1500, 100, 2000, 15000
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust
            ),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = ["small", "red", "hot", "old", "large", "blue", "green", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "nut"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.05, 2),
        }
    )
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n_ord), 2),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    n_lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), n_lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    pkey = rng.integers(0, n_part, n_li).astype(np.int64)
    ship = odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": pkey,
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900.0 + pkey * 0.05) * rng.uniform(0.9, 2.3, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": ship.astype("datetime64[us]"),
        }
    )
    n_ev = 10000
    gaps = rng.exponential(259.0, n_ev)
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps * 1e6).astype(
        "timedelta64[us]"
    )
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
            "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    emb = rng.normal(0, 1, (500, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(500, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, 500).astype(np.int32),
        }
    )
    t["documents"], _ = documents(seed + 1, 500)
    return t


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``out`` and
    return the recorded input sizes."""
    os.makedirs(out, exist_ok=True)
    if workload == "backtest":
        bars, fx, blocks, listings = backtest_inputs(seed)
        for name, df in (("bars", bars), ("fx", fx), ("blocks", blocks), ("listings", listings)):
            df.to_parquet(
                os.path.join(out, f"{name}.parquet"), index=False, coerce_timestamps="us"
            )
        sizes = {
            "companies": int(listings.company.nunique()),
            "listings": len(listings),
            "blocks": len(blocks),
            "ticks": int(bars.ts.nunique()),
            "bar_rows": len(bars),
        }
    elif workload == "curation":
        docs, sizes = documents(seed, CUR_DOCS)
        docs.to_parquet(os.path.join(out, "documents.parquet"), index=False)
    elif workload == "queries":
        tables = tpch_tables(QUERIES_DATA_SEED)
        for name, df in tables.items():
            df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)
        sizes = {name: len(df) for name, df in tables.items()}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump(sizes, f)
    return sizes


if __name__ == "__main__":
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(workload, seed, out)))

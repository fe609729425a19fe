"""A1 ingest wrangle: sparse wide ticker matrix → long eligible listings
(cells 11-14 + eligibility of cell 27), plus the MLlib MinHashLSH interop
check — the pyspark.ml implementation must find the same planted near-dup
our SQL LSH finds."""

from __future__ import annotations

import functools

import pytest

from pyspark.sql import functions as F

from sparkwrangle.jobs.ingest import read_ticker_workbook, wrangle_listings


def test_wrangle_listings(spark):
    rows = [
        # Company, NMS, NYQ, GER, FRA, LSE (LSE must be ignored entirely)
        ("Acme", "ACM", None, "ACM.DE", None, "ACM.L"),
        ("Beta", None, "BET", None, "BET.F", None),
        ("Fujitsu", "FJT", None, "FJT.DE", None, None),  # dropped by name
        ("OnlyUS", "OUS", None, None, None, None),  # no EU → ineligible
        ("Solo", None, None, "SOL.DE", None, None),  # 1 ticker → ineligible
    ]
    wide = spark.createDataFrame(
        rows, "Company string, NMS string, NYQ string, GER string, FRA string, LSE string"
    )
    out = wrangle_listings(wide).orderBy("company", "ticker_idx").collect()
    by_company = {}
    for r in out:
        by_company.setdefault(r.company, []).append((r.ticker_idx, r.ticker, r.exchange))
    assert set(by_company) == {"Acme", "Beta"}
    # base (idx 0) is the first US listing; LSE column never appears
    assert by_company["Acme"] == [(0, "ACM", "NMS"), (1, "ACM.DE", "GER")]
    assert by_company["Beta"] == [(0, "BET", "NYQ"), (1, "BET.F", "FRA")]


def _skip_without_workbook(test):
    """Skip (with the missing path as the reason) when the reference
    workbook is not present on this host; any other error still fails."""

    @functools.wraps(test)
    def run(*args, **kwargs):
        try:
            return test(*args, **kwargs)
        except FileNotFoundError as e:
            if not str(e.filename).endswith("Stocks.xlsx"):
                raise
            pytest.skip(f"reference workbook not present: {e.filename}")

    return run


@_skip_without_workbook
def test_real_workbook_reproduces_reference_universe(spark):
    """Ground truth from the reference's own committed outputs: the
    wrangled eligible universe is exactly 41 companies (the cell-32
    balance matrix has 41 company columns + TOTAL), Fujitsu excluded
    (cell 14), base tickers drawn from the US columns."""
    wide = read_ticker_workbook(spark, "/root/reference/Stocks.xlsx")
    assert "Company" in wide.columns and "NMS" in wide.columns
    out = wrangle_listings(wide)
    companies = {r.company for r in out.select("company").distinct().collect()}
    assert len(companies) == 41
    assert "Fujitsu" not in companies
    # base = FIRST listing in sheet-column order (tickers[0] semantics,
    # IntradayRegionArbitrage.py:47): US when the company has one, else
    # its first EU listing — both occur in the real workbook
    bases = out.filter(F.col("ticker_idx") == 0).collect()
    assert len(bases) == 41
    us_based = [r for r in bases if r.exchange in ("NMS", "NMS2", "NYQ")]
    assert len(us_based) >= 35  # most of the universe is US-based
    for r in us_based:
        assert "." not in r.ticker


def test_mllib_minhash_lsh_agrees_on_planted_neardup(spark):
    """Interop: pyspark.ml's MinHashLSH over shingle count-vectors finds
    the same near-duplicate pair as the engine's SQL LSH."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    from sparkwrangle.ext.dedup import shingles

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = "the quick brown fox jumps over the lazy dog near the old river bank now"
    docs = spark.createDataFrame(
        [
            (0, base),
            (2, near),
            (3, "completely different words about spark catalyst plans and shuffles here"),
        ],
        "doc_id long, text string",
    )
    sh = shingles(docs, "doc_id", "text", 3)
    sets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("sh"))
    cv = CountVectorizer(inputCol="sh", outputCol="features", binary=True).fit(sets)
    vecs = cv.transform(sets)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(vecs)
    pairs = model.approxSimilarityJoin(vecs, vecs, 0.5, distCol="jaccard_dist")
    found = {
        (r.datasetA.doc_id, r.datasetB.doc_id)
        for r in pairs.collect()
        if r.datasetA.doc_id < r.datasetB.doc_id
    }
    assert (0, 2) in found
    assert (0, 3) not in found and (2, 3) not in found

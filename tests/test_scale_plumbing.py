"""Scale-plumbing tests: partitioned write → partition pruning on read;
salted two-phase aggregation equals the plain aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkwrangle.io import load_table, write_table
from sparkwrangle.ops.skew import salted_agg

from conftest import SF_SMOKE


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_part")
    write_table(ev, path, partition_by=["event_date"])

    back = spark.read.parquet(path).filter(F.col("event_date") == "2024-01-05")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "2024-01-05" in plan  # static partition pruning reached the scan
    expected = ev.filter(F.to_date("ts") == "2024-01-05").count()
    assert back.count() == expected


def test_salted_agg_matches_plain(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    plain = {
        (r.event_type,): (r.n, r.total, r.vmin, r.vmax)
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    salted = {
        (r.event_type,): (r.n, round(r.total, 6), r.vmin, r.vmax)
        for r in salted_agg(
            ev,
            ["event_type"],
            {
                "n": ("count", "*"),
                "total": ("sum", "value"),
                "vmin": ("min", "value"),
                "vmax": ("max", "value"),
            },
            salt_buckets=8,
        ).collect()
    }
    assert plain.keys() == salted.keys()
    for k in plain:
        pn, pt, pmin, pmax = plain[k]
        sn, st_, smin, smax = salted[k]
        assert pn == sn and pmin == smin and pmax == smax
        assert abs(pt - st_) < 1e-5


def test_bucketed_join_avoids_shuffle(spark):
    """Two tables bucketed on the join key join without an Exchange —
    the co-located-join layout SCALE.md promises for repeated fact joins."""
    from sparkwrangle.io import write_bucketed

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_bucketed", "l_orderkey", 8, sort_col="l_orderkey")
    write_bucketed(o, "o_bucketed", "o_orderkey", 8, sort_col="o_orderkey")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.table("li_bucketed")
        b = spark.table("o_bucketed")
        j = a.join(b, a.l_orderkey == b.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        assert j.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_curated_corpus_write_matches_keep_list(spark, tmp_path):
    """tools/curate.py's write path: the curated corpus holds exactly the
    keep-list's documents, partitioned by language for pruning."""
    from sparkwrangle.catalog import CATALOG
    from sparkwrangle.io import load_table, write_table

    sf = SF_SMOKE
    out = str(tmp_path / "curated")
    docs = load_table(spark, sf, "documents")
    keep = CATALOG["x_curation_pipeline_end_to_end"].fn(spark, sf)
    curated = docs.join(keep.select("doc_id"), "doc_id").select(
        "doc_id", "lang", "source", "text", "n_chars"
    )
    write_table(curated, f"{out}/documents.parquet", partition_by=["lang"])
    back = spark.read.parquet(f"{out}/documents.parquet")
    assert back.count() == keep.count()
    kept_ids = {r.doc_id for r in keep.select("doc_id").collect()}
    got_ids = {r.doc_id for r in back.select("doc_id").collect()}
    assert got_ids == kept_ids


def test_eager_partitions_window(spark):
    """The eager-phase window sizes the count to the input, caps it at the
    session's count, restores the session value, and leaves a non-integer
    session value (a foreign session's ``auto``) untouched."""
    from types import SimpleNamespace

    from sparkwrangle.session import eager_partitions

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with eager_partitions(spark, rows=120_000):
        assert spark.conf.get(key) == "3"
    with eager_partitions(spark, rows=10**9):
        assert spark.conf.get(key) == before
    assert spark.conf.get(key) == before

    writes = []
    conf = SimpleNamespace(get=lambda k: "auto", set=lambda k, v: writes.append(v))
    with eager_partitions(SimpleNamespace(conf=conf), rows=10):
        pass
    assert writes == []


def test_eager_partitions_windows_never_interleave(spark):
    """Concurrent windows on one session are serialized: inside each, the
    conf holds that window's own count, and the session value is back
    once all have closed."""
    import sys
    import threading

    from sparkwrangle.session import eager_partitions

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    seen = []

    def worker(n):
        for _ in range(10):
            with eager_partitions(spark, rows=n * 40_000):
                seen.append((n, spark.conf.get(key)))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(n,)) for n in range(1, 9)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 80
    assert all(got == str(n) for n, got in seen), [x for x in seen if x[1] != str(x[0])]
    assert spark.conf.get(key) == before

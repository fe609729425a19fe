"""Window / time-series operators (SURVEY.md §2.W, §2.B8).

All are ordinary Spark window expressions — partition by the series key,
order by timestamp. At 100 TB the partition key (ticker/company/user)
bounds state per task; no window here is global/unpartitioned, so the
sort is a per-key sort inside the shuffle, not a total order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from sparkwrangle.session import shuffle_partitions


def series_window(keys: list[str], order: list[str]) -> WindowSpec:
    return Window.partitionBy(*keys).orderBy(*order)


def ffill(
    df: DataFrame,
    col: str,
    keys: list[str],
    order: list[str],
    out_col: str | None = None,
) -> DataFrame:
    """Forward fill — THE core missing-data idiom of the reference
    (``fillna(method='ffill')``, intra_day_arbitrage.ipynb:58,91,111,11189).

    ``F.last(ignorenulls=True)`` over an unbounded-preceding running frame.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_col or col, F.last(F.col(col), ignorenulls=True).over(w))


def lag_pct_change(
    df: DataFrame, col: str, keys: list[str], order: list[str], out_col: str = "pct_change"
) -> DataFrame:
    """``Series.pct_change()`` (stock_arbitrage.ipynb:266-267, cell 5)."""
    w = series_window(keys, order)
    return df.withColumn(out_col, F.col(col) / F.lag(col).over(w) - 1)


def log_returns(
    df: DataFrame, col: str, keys: list[str], order: list[str], out_col: str = "log_ret"
) -> DataFrame:
    """``np.log(1 + pct_change())`` == log(x_t / x_{t-1})
    (stock_arbitrage.ipynb:266-267, cell 5)."""
    w = series_window(keys, order)
    return df.withColumn(out_col, F.log(F.col(col) / F.lag(col).over(w)))


def minmax_normalize(
    df: DataFrame, col: str, keys: list[str], out_col: str = "norm"
) -> DataFrame:
    """Per-group min-max normalization, ``(x - min)/(max - min)``
    (normalize_col, intra_day_arbitrage.ipynb:46-47 cell 3; applied :118-119).

    Unbounded frame (whole group), keeps row grain. Degenerate groups
    (min == max) yield NULL, matching pandas' 0/0 → NaN once /0 is emulated.
    """
    w = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lo, hi = F.min(col).over(w), F.max(col).over(w)
    return df.withColumn(
        out_col, F.when(hi != lo, (F.col(col) - lo) / (hi - lo))
    )


def rel_to_base(
    df: DataFrame,
    value_col: str,
    base_col: str,
    out_col: str = "rel_ret",
) -> DataFrame:
    """Relative-to-base return: value ÷ base − 1 (df_basing,
    intra_day_arbitrage.ipynb:57-63 cell 4). ``base_col`` is the already
    ffilled base-ticker series joined onto each row (see joins.asof)."""
    return df.withColumn(out_col, F.col(value_col) / F.col(base_col) - 1)


def next_bar(
    df: DataFrame, cols: list[str], keys: list[str], order: list[str], prefix: str = "next_"
) -> DataFrame:
    """Next-row lookup — entry prices one bar after the signal
    (``iloc[get_loc(index)+1]``, stock_arbitrage.ipynb:407, cell 6 / W5)."""
    w = series_window(keys, order)
    out = df
    for c in cols:
        out = out.withColumn(prefix + c, F.lead(c).over(w))
    return out


def running_sum(
    df: DataFrame, col: str, keys: list[str], order: list[str], out_col: str = "cum_sum"
) -> DataFrame:
    """Running sum over the ordered series — the engine's building block for
    interval sums between events (D3): sum over [open, close] =
    cum(close) − cum(row before open)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_col, F.sum(col).over(w))


def drop_first_row(df: DataFrame, keys: list[str], order: list[str]) -> DataFrame:
    """``.iloc[1:]`` per series (intra_day_arbitrage.ipynb:11189, cell 30 / W6)."""
    w = series_window(keys, order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .drop("__rn")
    )


def business_days(start: Column, end: Column) -> Column:
    """Business-day sequence (pd.bdate_range,
    intra_day_arbitrage.ipynb:1146-1148 cell 16 / W8) as an array column:
    sequence + filter out Sat/Sun. Spark dayofweek: 1=Sun … 7=Sat."""
    seq = F.sequence(start, end)
    return F.filter(seq, lambda d: ~F.dayofweek(d).isin(1, 7))


def grouped_percent_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    out_col: str = "pr",
    num_partitions: int | None = None,
    order_block: Column | None = None,
) -> DataFrame:
    """EXACT ``percent_rank() OVER (PARTITION BY group ORDER BY order)``
    without a one-task-per-group sort — the scale form for
    LOW-CARDINALITY strata (language, source, event type), where a plain
    window funnels each stratum's entire corpus through a single task.

    Two-level ranking (same family as x_sequence_packing's prefix sums):

    1. every row gets a deterministic quantile-bucketed BLOCK id — an
       order-contiguous slice of the (group, order) keyspace computed
       from the row's VALUES against driver-materialized literal
       boundaries (``_quantile_block_expr``), sized by a bounded
       sample, NOT by stratum;
    2. within-block ``row_number`` keyed by (block, group) — the hash
       exchange this window inserts is balanced (each (block, group)
       cell is at most one quantile slice's rows);
    3. per-(block, group) counts roll into per-group prefix offsets over
       a tiny (≤ blocks + groups rows) table, broadcast-joined back:
       global rank = prefix offset + local row_number;
    4. ``pr = (rank − 1) / (n − 1)`` (0.0 for single-row groups, matching
       Spark's and DuckDB's percent_rank).

    EXACT equality with the window form requires ``order_cols`` to be a
    TOTAL order within each group (include a unique tiebreak like
    doc_id): percent_rank assigns EQUAL values to tied rows while this
    construction numbers rows, so ties must not exist. (Identical keys
    always share a block — blocks are value-determined — so tie
    placement across blocks is not a concern.) Ordering is ASCENDING on
    every column (what both engines' percent_rank defaults to).

    The group columns may also be empty — that computes a GLOBAL exact
    percent_rank with no single-partition exchange anywhere.

    ``order_block`` (optional) replaces the sampled boundaries with a
    caller-supplied ZERO-JOB bucketing column — see
    ``_grouped_global_rank`` for its contract.

    BUILD-TIME COST (applies to every function in this family unless
    ``order_block`` is given): deriving the literal block boundaries runs
    Spark jobs EAGERLY at call time — one ``approxQuantile`` aggregate
    when the leading order column is numeric, else a count plus a bounded
    sample — and each such job re-evaluates the input's plan subtree.
    If ``df`` sits on an expensive unmaterialized subtree (joins, UDFs),
    either slim/checkpoint it first or supply ``order_block`` (zero
    build-time jobs); details in ``_quantile_block_expr``.
    """
    joined = _grouped_global_rank(df, group_cols, order_cols, num_partitions, order_block)
    rank = F.col("_gpr_off") + F.col("_gpr_lrn")
    pr = F.when(
        F.col("_gpr_n") > 1,
        (rank - 1).cast("double") / (F.col("_gpr_n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    return joined.withColumn(out_col, pr).drop(
        "_gpr_blk", "_gpr_lrn", "_gpr_off", "_gpr_n"
    )


def grouped_row_number(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
    order_block: Column | None = None,
) -> DataFrame:
    """EXACT ``row_number() OVER (PARTITION BY group ORDER BY order)``
    without a one-task-per-group sort — same two-level range-ranking
    machinery and the same contracts as ``grouped_percent_rank``
    (low-cardinality strata; ``order_cols`` must be a total order within
    each group; ascending; empty ``group_cols`` = exact global
    row_number with no single-partition exchange; optional
    ``order_block`` = caller-supplied zero-job bucketing; without it,
    boundary jobs run EAGERLY at call time and re-evaluate the input
    subtree — see ``grouped_percent_rank`` BUILD-TIME COST)."""
    joined = _grouped_global_rank(df, group_cols, order_cols, num_partitions, order_block)
    return joined.withColumn(
        out_col, (F.col("_gpr_off") + F.col("_gpr_lrn")).cast("bigint")
    ).drop("_gpr_blk", "_gpr_lrn", "_gpr_off", "_gpr_n")


_NUMERIC_APPROX_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _quantile_block_expr(
    df: DataFrame, group_cols: list[str], order_cols: list[str], n_blocks: int
) -> Column:
    """Deterministic order-contiguous block id derived from row VALUES.

    Numeric fast path (ONE job): when the LEADING order column is
    numeric, boundaries are its ``approxQuantile`` (Greenwald-Khanna —
    a single aggregate pass, nothing but the ~n_blocks boundary values
    reaches the driver) and block id = count of boundaries ``<= value``
    on the double cast. Non-decreasing in the order key by
    construction (the double cast is monotone, equal keys share a
    block), NULLs fall to block 0 via three-valued logic (they sort
    FIRST), and NaN compares largest in Spark so it lands in the top
    block — both exactly where the sort puts them. Approximation error
    only unbalances blocks; it can never mis-rank. Blocks ignore the
    group columns entirely — the offsets roll up per (block, group), so
    only within-group monotonicity matters.

    General path (count + bounded sample): a uniform sample of the
    composite (group, order) key (≈64 keys per block, collected to the
    driver — the same bounded sampling job Spark's own RangePartitioner
    runs inside ``repartitionByRange``, made explicit so the boundaries
    become plan LITERALS). This costs TWO build-time passes over the
    key subtree (count to size the fraction, then the sample) where
    RangePartitioner's Scala-side reservoir needs one — a single-pass
    reservoir from PySpark would mean RDD/Python on the hot path, the
    wrong trade; callers with expensive subtrees should slim/checkpoint
    them or supply ``order_block``. The sample is sorted under Spark's ordering
    (ASC, NULLS FIRST, NaN last) and ``n_blocks - 1`` evenly spaced
    boundary keys are embedded as a literal array of structs; block id
    = COUNT of boundaries ``<= key`` (Spark struct comparison is a
    nulls-first TOTAL order returning true/false, never null — probed
    and pinned by test).

    Either way each boundary indicator is monotone in the key, so
    blocks are always order-contiguous regardless of sampling quality,
    identical keys always share a block (value-determined, unlike
    partition ids), and the expression is a pure function of the row —
    every consumer of the tagged frame recomputes the SAME block id: no
    exchange-reuse or checkpoint dependency. Cost per row is
    O(n_blocks) compares (JVM-side, codegen); key columns must be
    scalar orderable types.
    """
    if n_blocks <= 1:
        return F.lit(0)
    key_cols = [*group_cols, *order_cols]
    lead = order_cols[0] if order_cols else None
    dtypes = dict(df.dtypes)
    if lead is not None and dtypes.get(lead) in _NUMERIC_APPROX_TYPES:
        probs = [i / n_blocks for i in range(1, n_blocks)]
        bnds = sorted(set(df.approxQuantile(lead, probs, 0.01)))
        if not bnds:
            return F.lit(0)
        arr = F.array(*[F.lit(float(b)) for b in bnds])
        key = F.col(lead).cast("double")
        # filter() drops NULL predicate results, so NULL keys get block
        # 0 (nulls-first) with no special case; NaN >= every boundary
        # in Spark's ordering, so it gets the top block (NaN-last)
        return F.size(F.filter(arr, lambda b: b <= key))
    vals = df.select(*key_cols)
    n = vals.count()
    if n == 0:
        return F.lit(0)
    target = n_blocks * 64
    frac = min(1.0, target / n)
    samp = [tuple(r) for r in vals.sample(False, frac, seed=0x5EED).collect()]
    if not samp:
        return F.lit(0)

    def _skey(row):
        # Spark sort order per field: NULL first, NaN last, values asc.
        # (0,0)/(2,0) sentinels short-circuit before the payload compares.
        out = []
        for v in row:
            if v is None:
                out.append((0, 0))
            elif isinstance(v, float) and v != v:
                out.append((2, 0))
            else:
                out.append((1, v))
        return tuple(out)

    samp.sort(key=_skey)
    m = len(samp)
    idxs = sorted({(m * i) // n_blocks for i in range(1, n_blocks)})
    bnds, seen = [], set()
    for i in idxs:
        k = _skey(samp[i])
        if k not in seen:
            seen.add(k)
            bnds.append(samp[i])
    dtypes = {f.name: f.dataType for f in vals.schema.fields}
    structs = [
        F.struct(*[F.lit(v).cast(dtypes[c]).alias(c) for c, v in zip(key_cols, row)])
        for row in bnds
    ]
    key = F.struct(*[F.col(c).alias(c) for c in key_cols])
    return F.size(F.filter(F.array(*structs), lambda b: b <= key))


def _grouped_global_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    num_partitions: int | None,
    order_block: Column | None = None,
) -> DataFrame:
    """Shared core of grouped_percent_rank / grouped_row_number: returns
    ``df`` plus the internal columns ``_gpr_blk``, ``_gpr_lrn`` (local
    rank), ``_gpr_off`` (per-group prefix offset — global rank is
    off + lrn), and ``_gpr_n`` (group size).

    Blocks are quantile-bucketed slices of the (group, order) keyspace
    whose ids are computed FROM ROW VALUES against driver-materialized
    literal boundaries (``_quantile_block_expr``), not from
    ``spark_partition_id()`` over a sampled range exchange. The count
    branch and the probe branch therefore agree on every row's block
    unconditionally — correctness does not depend on
    ``spark.sql.exchange.reuse``, AQE stage reuse, or plan
    canonicalization, and the count branch needs no window at all (a
    plain combinable ``count(*)`` per (block, group)).

    ``order_block`` (optional) skips the boundary count/sample jobs
    entirely: a caller-supplied bucketing Column that must be (a) a pure
    function of the row, (b) never NULL, and (c) NON-DECREASING along
    ``order_cols`` within every group — e.g. ``floor(score * 32)`` for a
    score in [0, 1], or ``shiftright(hash, 55)`` for a uniform 60-bit
    hash. Map NULL order values to the MINIMUM block (NULLS sort first)
    and double NaNs to the maximum. Balance is the caller's concern;
    a violated monotonicity contract silently mis-ranks.

    NULL group keys form their own group, exactly like a window's
    PARTITION BY (the offsets join is null-safe)."""
    if num_partitions is None:
        num_partitions = shuffle_partitions(df.sparkSession) or 32
    if order_block is None:
        order_block = _quantile_block_expr(df, group_cols, order_cols, num_partitions)
    else:
        # a NULL block would silently vanish in the offsets equi-join
        # (the sampled paths can never produce one) — fail loudly on a
        # violated caller contract instead of dropping rows
        order_block = F.when(order_block.isNotNull(), order_block).otherwise(
            F.raise_error(F.lit("grouped ranking: order_block must never be NULL"))
        )
    tagged = df.withColumn("_gpr_blk", order_block)
    wloc = Window.partitionBy("_gpr_blk", *group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    ranked = tagged.withColumn("_gpr_lrn", F.row_number().over(wloc))
    # count branch reads `ranked` (not `tagged`) so exchange reuse can
    # serve both consumers from the window's one shuffle — with the
    # value-derived blocks that is purely a PERF optimization: if reuse
    # is off or fails, both branches recompute identical block ids and
    # identical counts (max(lrn) per cell == count(*), recomputation-
    # invariant even under tied orderings)
    cnt = ranked.groupBy("_gpr_blk", *group_cols).agg(
        F.max("_gpr_lrn").alias("_gpr_cnt")
    )
    wgrp = Window.partitionBy(*group_cols)
    woff = wgrp.orderBy("_gpr_blk").rowsBetween(Window.unboundedPreceding, -1)
    offs = cnt.select(
        F.col("_gpr_blk").alias("_gpr_blk2"),
        *[F.col(c).alias(f"_gpr_g_{c}") for c in group_cols],
        F.coalesce(F.sum("_gpr_cnt").over(woff), F.lit(0)).alias("_gpr_off"),
        F.sum("_gpr_cnt").over(wgrp).alias("_gpr_n"),
    )
    # null-safe equality on the group keys: a NULL group is a real group
    # (window PARTITION BY semantics); plain EqualTo would drop its rows
    cond = F.col("_gpr_blk") == F.col("_gpr_blk2")
    for c in group_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_gpr_g_{c}"))
    return (
        ranked.join(F.broadcast(offs), cond, "inner")
        .drop("_gpr_blk2", *[f"_gpr_g_{c}" for c in group_cols])
    )


def grouped_top_k(
    df: DataFrame,
    group_cols: list[str],
    order_exprs: list[Column],
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Per-group top-k with rank, for LOW-CARDINALITY groups — without
    sorting each group's whole population in one task. A plain
    ``row_number() OVER (PARTITION BY group ...) <= k`` funnels
    corpus/|groups| rows through each of |groups| sort tasks; this runs
    the classic two-level form instead:

    1. local pass: top-k within (input partition, group) — the window's
       hash exchange on (partition id, group) is balanced, every cell at
       most one input partition's rows. Any row in the global top-k is
       necessarily in its own partition's top-k, so no true row is lost.
    2. global pass: the real window over the survivor set — bounded by
       k × partitions × |groups| rows, never the corpus.

    ``order_exprs`` are Column orderings (e.g. ``[F.desc("value"),
    F.asc("event_id")]``) and must form a TOTAL order within each group
    for a deterministic result (same contract as every rank window in
    the engine)."""
    local = (
        df.withColumn("_gtk_pid", F.spark_partition_id())
        .withColumn(
            "_gtk_lrk",
            F.row_number().over(
                Window.partitionBy("_gtk_pid", *group_cols).orderBy(*order_exprs)
            ),
        )
        .filter(F.col("_gtk_lrk") <= k)
        .drop("_gtk_pid", "_gtk_lrk")
    )
    wglob = Window.partitionBy(*group_cols).orderBy(*order_exprs)
    return local.withColumn(rank_col, F.row_number().over(wglob)).filter(
        F.col(rank_col) <= k
    )


def grouped_exact_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    ps: list[float],
    tiebreak_cols: list[str] | None = None,
    out_p: str = "p",
    out_v: str = "v",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT linear-interpolated quantiles per group — the same result as
    ``percentile()`` / DuckDB ``quantile_cont`` — WITHOUT the exact
    aggregate's whole-multiset buffer (corpus/|groups| values in one
    task). Two-level range row_number per group, combinable group
    counts, then pick + interpolate the two rows framing each 0-based
    target position ``(n-1)*p`` via a broadcast target join (the SAME
    position arithmetic percentile() uses, so the interpolation
    fraction is bit-identical): touched rows bounded by
    2 × |groups| × |ps|.

    Nulls in ``value_col`` are ignored, and — matching percentile() /
    quantile_cont under GROUP BY — a group whose values are ALL null
    still yields its rows, with NULL quantiles. NULL group keys form
    their own group (null-safe target join), like any GROUP BY.
    ``tiebreak_cols`` make the rank deterministic; quantile VALUES are
    tie-insensitive either way (tied rows carry equal values, so any
    position assignment within a tie yields the same pick). Returns one
    row per (group, p): ``(*group_cols, out_p, out_v)``.

    Runs build-time boundary jobs EAGERLY at call time (usually one
    ``approxQuantile`` — ``value_col`` leads the order and is typically
    numeric) that re-evaluate ``df``'s plan subtree; slim/checkpoint an
    expensive input first — see ``grouped_percent_rank`` BUILD-TIME COST.
    """
    tiebreak_cols = list(tiebreak_cols or [])
    vals = df.select(*group_cols, value_col, *tiebreak_cols).filter(
        F.col(value_col).isNotNull()
    )
    ranked = grouped_row_number(
        vals,
        group_cols,
        [value_col, *tiebreak_cols],
        out_col="_geq_rn",
        num_partitions=num_partitions,
    )
    # count(value_col) skips nulls, and grouping df (not vals) keeps
    # all-null groups alive with _geq_n = 0 so they can surface below
    nt = df.groupBy(*group_cols).agg(F.count(value_col).alias("_geq_n"))
    qs = F.array(*[F.lit(float(p)) for p in ps])
    tgt_groups = [F.col(c).alias(f"_geq_{c}") for c in group_cols]
    targets = (
        nt.filter(F.col("_geq_n") > 0)
        .select(*tgt_groups, "_geq_n", F.explode(qs).alias(out_p))
        .withColumn(
            # 0-based position, exactly percentile()'s (n-1)*p — adding
            # 1.0 first can shift the fractional part by an ulp
            "_geq_pos",
            (F.col("_geq_n") - 1).cast("double") * F.col(out_p),
        )
        .select(
            *[f"_geq_{c}" for c in group_cols],
            out_p,
            "_geq_pos",
            (F.floor("_geq_pos").cast("bigint") + 1).alias("_geq_lo"),
            (F.ceil("_geq_pos").cast("bigint") + 1).alias("_geq_hi"),
        )
    )
    cond = (F.col("_geq_rn") == F.col("_geq_lo")) | (
        F.col("_geq_rn") == F.col("_geq_hi")
    )
    for c in group_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_geq_{c}"))
    hits = ranked.join(F.broadcast(targets), cond).select(
        *group_cols, out_p, "_geq_pos", "_geq_lo", "_geq_rn", F.col(value_col).alias("_geq_v")
    )
    out = (
        hits.groupBy(*group_cols, out_p, "_geq_pos", "_geq_lo")
        .agg(
            F.min(F.when(F.col("_geq_rn") == F.col("_geq_lo"), F.col("_geq_v"))).alias("_geq_vlo"),
            F.min(F.when(F.col("_geq_rn") != F.col("_geq_lo"), F.col("_geq_v"))).alias("_geq_vhi"),
        )
        .select(
            *group_cols,
            out_p,
            # Spark's Percentile branches on an integral position and
            # otherwise interpolates (higher−pos)·lo + (pos−lower)·hi —
            # NOT lo + frac·(hi−lo), which is algebraically equal but
            # differs by an ulp (e.g. 2.65 vs 2.6500000000000004 for
            # lo=1, hi=6, frac=0.33); reproduce the same arithmetic so
            # the result is bit-identical (fuzz-caught)
            F.when(
                F.col("_geq_vhi").isNull()
                | (F.col("_geq_pos") == F.floor("_geq_pos")),
                F.col("_geq_vlo"),
            )
            .otherwise(
                (F.ceil("_geq_pos") - F.col("_geq_pos")) * F.col("_geq_vlo")
                + (F.col("_geq_pos") - F.floor("_geq_pos")) * F.col("_geq_vhi")
            )
            .alias(out_v),
        )
    )
    # all-null groups: percentile()/quantile_cont emit the group with
    # NULL quantiles; reproduce that instead of dropping the group
    empty = nt.filter(F.col("_geq_n") == 0).select(
        *group_cols,
        F.explode(qs).alias(out_p),
        F.lit(None).cast("double").alias(out_v),
    )
    return out.unionByName(empty)

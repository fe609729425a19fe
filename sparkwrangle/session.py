"""SparkSession construction and normalization.

The engine assumes: UTC session timezone (the reference's data is UTC —
see SURVEY.md §1.2), Arrow-backed pandas UDF exchange, and AQE enabled so
runtime statistics pick broadcast/skew strategies at scale.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "sparkwrangle",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for the engine.

    On a real cluster, ``master``/cores come from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``. ``spark.sql.shuffle.partitions``
    is a floor — AQE coalesces down and splits skewed partitions up.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # Non-ANSI semantics: x/0 → NULL (matches DuckDB and the pandas
        # emulation layer; explicit ±inf handling lives in ops.filters).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing is sized by shuffle BYTES and blind to downstream
        # PYTHON cost: with the default 1MB floor a few-MB trader feed
        # collapses to 2 post-shuffle partitions and the per-company state
        # machines run 2-wide on a 32-core box. A 64KB floor lets
        # parallelismFirst actually reach the core count on small inputs;
        # at cluster scale partitions dwarf both floors, so this only
        # changes the small-data regime. (An explicit repartition(N, key)
        # is NOT a fix: Catalyst removes it as redundant against the
        # window/groupBy exchange, whose read AQE then coalesces.)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Subset co-partitioning for joins (guide §2.4 "remove shuffles
        # outright"): by default Spark only treats two join children as
        # co-partitioned when they are hash-partitioned on ALL join keys,
        # so a frame pre-partitioned on (k1) feeding a join on (k1, k2)
        # re-shuffles BOTH sides on (k1, k2) — and the join output's
        # 4-key partitioning then fails every downstream window's
        # 3-key/1-key clustering, cascading re-shuffles. Allowing subset
        # co-partition lets EnsureRequirements accept hash(k1) on both
        # sides (same rule aggregations/windows already use), which cut
        # the EP2 feed plan from 6 data exchanges to 3 (plans/r13/
        # ep2_feed_builder_{before,after}.txt). Scale note: this is not a
        # local[32] tune — partition COUNT is unchanged; the only risk is
        # key-space collapse when k1 has few distinct values, which AQE
        # skew-join splitting (enabled above) handles for joins.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def prep_session(spark: SparkSession) -> SparkSession:
    """Normalize a session we did not build (e.g. the driver's).

    Only touches runtime-settable confs that affect result *values*
    (timezone, Arrow) — never restarts the session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # see get_spark: keep python-bound stages parallel on small shuffles
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    # see get_spark: subset co-partitioning removes cascaded join/window
    # re-shuffles; runtime-settable, affects plans only, never values
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    # a foreign session may carry the 200-partition default; AQE coalesces,
    # but a sane floor cuts scheduling overhead on small-SF runs
    if (shuffle_partitions(spark) or 0) > 64:
        spark.conf.set("spark.sql.shuffle.partitions", "64")
    return spark


def shuffle_partitions(spark: SparkSession) -> int | None:
    """The session's ``spark.sql.shuffle.partitions``, or None when it is
    not an integer (a foreign session may carry e.g. ``auto``)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return None


# One eager-phase partition per this many rows / bytes (the byte figure
# is the session's AQE coalescePartitions.minPartitionSize).
ROWS_PER_PARTITION = 40_000
BYTES_PER_PARTITION = 64 * 1024
_EAGER_WINDOW = threading.RLock()


@contextmanager
def eager_partitions(
    spark: SparkSession, rows: int = 0, sized: DataFrame | None = None
) -> Iterator[None]:
    """Run an operator's eager phase (the checkpoint and observation jobs
    inside the ``with`` block) at a shuffle-partition count sized to its
    input: one partition per ``ROWS_PER_PARTITION`` of ``rows`` or per
    ``BYTES_PER_PARTITION`` of ``sized``'s optimizer size estimate,
    whichever needs more, at least 1 and at most the session's count —
    so a cluster-sized input keeps the cluster's partitioning, and an
    unknown estimate or a non-integer session value (e.g. ``auto``)
    leaves the conf alone. Lazy plans returned after the block run at
    the session's count.

    The count reaches Spark through the session conf: the shuffles
    Spark inserts take their partition count from it, and coalescing the
    operators' checkpoints instead was measured 15% slower on the dedup
    entries at sf0.1. The window is therefore locked — windows never
    interleave and each restores the session's count — but a query
    planned on another thread during the window sees the smaller
    count."""
    try:
        nbytes = 0 if sized is None else int(
            str(sized._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Py4JError:
        nbytes = None
    with _EAGER_WINDOW:
        cap = shuffle_partitions(spark)
        if cap is None or nbytes is None:
            yield
            return
        derived = max(-(-rows // ROWS_PER_PARTITION), -(-nbytes // BYTES_PER_PARTITION))
        spark.conf.set("spark.sql.shuffle.partitions", str(max(1, min(cap, derived))))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", str(cap))

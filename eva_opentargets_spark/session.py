"""SparkSession factory with scale-oriented defaults.

Defaults target the sandbox (local[N], 128 GiB) but every knob is the one
you would set on a 1000-executor cluster: AQE on (runtime re-plan +
skew-join splitting), modest advisory partition sizes, Arrow enabled for
the pandas-UDF mention/linking path.

Cache lifetime: every cached intermediate goes through :func:`persist`,
which records the frame with each open owner. A ``with cache_scope():``
block unpersists what was recorded inside it at exit; a registry query
(:func:`registry_query`) releases what the previous registry call
recorded, because its consumer reads lazy frames after the call returns.
A frame persisted outside any owner stays cached until the session ends.
"""

from __future__ import annotations

import functools
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_owners: list[list[DataFrame]] = []  # open owners, innermost last
_last_query: list[DataFrame] = []  # what the last registry call recorded


def persist(df: DataFrame) -> DataFrame:
    """Persist `df` and record it with every open owner."""
    df = df.persist()
    for held in _owners:
        held.append(df)
    return df


def _release(held: list[DataFrame]) -> None:
    while held:
        held.pop().unpersist()


@contextmanager
def cache_scope():
    """Unpersist, at exit, everything persisted inside the block."""
    held: list[DataFrame] = []
    _owners.append(held)
    try:
        yield
    finally:
        _owners.pop()
        _release(held)


def release_last_query() -> None:
    """Unpersist what the last registry query recorded."""
    _release(_last_query)


def registry_query(fn):
    """Wrap a registry query so it first releases the previous one's caches."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        release_last_query()
        _owners.append(_last_query)
        try:
            return fn(*args, **kwargs)
        finally:
            _owners.pop()

    return run


def estimated_input_splits(df) -> int:
    """Cheap estimate of how many scan tasks a DataFrame's input will
    produce: optimizer plan-size statistics / maxPartitionBytes. Used by
    the input-splits-vs-cores repartition guards (narrow in-row chains
    inherit input partitioning, which serializes them on the single-file
    bench corpus). Round-6: the old probe — `df.rdd.getNumPartitions()` —
    forced a full plan->RDD conversion costing ~160 ms of driver latency
    PER QUERY CONSTRUCTION; plan statistics answer the same coarse
    question (are there far fewer splits than cores?) in ~1 ms. For a
    parquet scan sizeInBytes is the exact file-size sum, so the estimate
    matches Spark's own split math to within openCost rounding; both
    over- and under-estimates only move a heuristic whose two outcomes
    are 'repartition to cores' vs 'inherit input layout'.

    Sources without statistics (RDD- or Python-list-backed frames) report
    spark.sql.defaultSizeInBytes; that reads as "unknown", and the frame's
    own partition count answers instead."""
    jqe = df._jdf.queryExecution()
    size = int(str(jqe.optimizedPlan().stats().sizeInBytes()))
    if size >= df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes():
        return df.rdd.getNumPartitions()
    conf = df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    unit = {"k": 1024, "m": 1024**2, "g": 1024**3, "b": 1}
    low = conf.strip().lower()
    mult, digits = 1, low
    for suffix in ("kb", "mb", "gb", "k", "m", "g", "b"):
        if low.endswith(suffix):
            mult, digits = unit[suffix[0]], low[: -len(suffix)]
            break
    max_bytes = max(1, int(digits) * mult)
    return max(1, (size + max_bytes - 1) // max_bytes)


def get_spark(
    app_name: str = "eva_opentargets_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size shuffles to DATA, not cores: start every shuffle fine-grained
        # and let AQE coalesce down. With initialPartitionNum = cores, the
        # round-5 10x scale run showed the minhash candidate distinct
        # spilling 7M-row partial-agg maps per partition (first run 139 s vs
        # 21 s at 256 partitions); small dictionary-scale shuffles coalesce
        # back to a handful of tasks, so the 1x suite measured neutral-to-
        # faster under the same setting (BENCH.md scale-curve section).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_INITIAL_PARTITIONS", str(max(256, 8 * shuffle))),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-partition CACHED plans too (off by default): the
        # persisted intermediates (bpe vocab, band/fingerprint tables, cascade
        # aggregates, propagation rounds) otherwise materialize at
        # initialPartitionNum granularity no matter how small the data is —
        # the 31-row BPE vocab cached as 256 partitions, so every merge-round
        # job scheduled 256 tasks to scan 31 rows. With the flag, AQE sizes
        # the cached plan by DATA (same advisory target as any shuffle), so
        # dictionary-scale caches collapse to 1 task and corpus-scale caches
        # keep their parallelism at any SF.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()

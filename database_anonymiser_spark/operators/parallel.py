"""Scan-parallelism floor — ONE policy for widening few-partition inputs.

The problem (r15, guide §2.5/§6): the per-row compute bulk of many
operators (shingle/minhash md5 chains, gate regex trees, bloom-probe
hashes) runs in the stage that PRODUCES its input. A corpus read from a
handful of parquet files — or ONE single-row-group file, as the bench
fixtures are — evaluates that chain on that many tasks regardless of
cluster size. At 100 TB the scan has natural parallelism and every floor
below is a no-op; the floor exists so small inputs (samples, fixtures,
tails of incremental loads) don't serialize onto one core.

Three shapes. The first two widen after the scan, chosen by what
Catalyst would otherwise push BELOW the repartition:

- **projection-only consumers** (``barrier_slot=None``): a plain
  repartition suffices — projections are never pushed below an exchange,
  so the heavy chain runs post-shuffle at cluster width.
- **filter consumers** (``barrier_slot="..."``): ``PushDownPredicates``
  crosses ``RepartitionByExpression``, so a FILTER over the derived
  columns (curate's gates, the bloom membership probe) would sink
  through the repartition back into the scan. A scoped cache is the
  pushdown barrier — filters stop at the InMemoryRelation, whose
  partitioning is already cluster-wide. The cache is MEMORY_AND_DISK
  (spills, never OOMs) and scoped to the slot
  (:func:`~database_anonymiser_spark.operators.cachectl.scoped_cache`).

``key_col=None`` repartitions round-robin (even spread, pays the
sort-before-repartition noted in SPARK-23207); a key column gives a
deterministic hash layout that downstream same-key operations can reuse.

The third widens AT the source, for a write that must keep its input's
row order and take no shuffle (the apply, :func:`row_index_slices`).
Spark plans a file's byte-range splits from ``spark.sql.files.*``, but a
row group cannot be split: a file with fewer row groups than splits
leaves the extra splits empty and is decoded by as many tasks as it has
row groups. Reading the file as ``n`` scans, each filtered to one
contiguous ``_metadata.row_index`` range, and coalescing their union to
``n`` partitions runs Spark's own plan: one task per range, in row
order. At 100 TB each split holds a row group and the rule never fires.

The NEED-A-FLOOR probe (r16) is a logical-plan size estimate, not
``df.rdd.getNumPartitions()``: with AQE on, converting a mid-pipeline
frame to an RDD materializes every exchange below it (AdaptiveSparkPlan's
``execute`` builds the final plan by RUNNING its shuffle stages), so the
old probe executed real jobs — and even on a bare scan it paid full
physical planning per call. ``optimizedPlan().stats().sizeInBytes`` runs
the analyzer/optimizer only (memoized on the DataFrame's own
QueryExecution, so the following action reuses it), launches nothing,
and makes the policy bytes-aware: the floor fires only when the input
is too small to fill ``defaultParallelism`` scan partitions at
``spark.sql.files.maxPartitionBytes`` — i.e. exactly the sample/fixture/
incremental-tail regime it exists for. At 100 TB the estimate is over
the threshold and the call is a pure driver no-op.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _needs_floor(df: DataFrame, parallelism: int) -> bool:
    """True iff ``df``'s optimizer-estimated size cannot fill
    ``parallelism`` scan partitions — the non-materializing twin of the
    old ``rdd.getNumPartitions() < defaultParallelism`` probe (equal on
    scan-rooted inputs, where partitions ≈ bytes/maxPartitionBytes;
    never runs jobs on mid-pipeline inputs like the old probe did)."""
    raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    # py4j maps scala BigInt to int for word-sized values, to a Java
    # object above that — both spellings must parse
    size = raw if isinstance(raw, int) else int(raw.toString())
    max_pb = int(
        df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    return size < parallelism * max_pb


def scan_floor(
    df: DataFrame,
    key_col: str | None = None,
    barrier_slot: str | None = None,
) -> DataFrame:
    """Widen ``df`` to ``defaultParallelism`` partitions when its input
    is too small for the scan to reach that width — no-op otherwise
    (i.e. always at scale). See module docstring for when
    ``barrier_slot`` is required."""
    sc = df.sparkSession.sparkContext
    try:
        fire = _needs_floor(df, sc.defaultParallelism)
    except Exception:
        # internal-API drift: fall back to the materializing probe
        fire = df.rdd.getNumPartitions() < sc.defaultParallelism
    if not fire:
        return df
    wide = (
        df.repartition(sc.defaultParallelism, F.col(key_col))
        if key_col is not None
        else df.repartition(sc.defaultParallelism)
    )
    if barrier_slot is None:
        return wide
    from database_anonymiser_spark.operators.cachectl import scoped_cache

    return scoped_cache(barrier_slot, wide)


def _planned_splits(spark, file_bytes: int) -> int:
    """The byte-range splits Spark plans for one file read on its own:
    ``FilePartition.maxSplitBytes`` over the ``spark.sql.files.*``
    settings, then one split per ``maxSplitBytes`` of the file."""
    jspark = spark._jsparkSession
    conf = jspark.sessionState().conf()
    open_cost = int(conf.filesOpenCostInBytes())
    min_num = conf.filesMinPartitionNum()
    cores = int(min_num.get() if min_num.isDefined() else jspark.leafNodeDefaultParallelism())
    split = min(int(conf.filesMaxPartitionBytes()), max(open_cost, (file_bytes + open_cost) // cores))
    return -(-file_bytes // split)


def row_index_slices(df: DataFrame, stats, apply_rows: int) -> tuple[DataFrame, int]:
    """``df`` — a scan of the one parquet file ``stats`` describes (a
    :class:`~database_anonymiser_spark.catalog.FooterStats`) — as ``n``
    contiguous row-index slices, one write task each; ``(df, 1)`` when
    the rule does not fire.

    ``n = min(splits Spark plans for the file, ⌈rows ÷ ⌈apply_rows ÷
    cores⌉⌉)``: never more tasks than Spark's own split plan, nor more
    than the table's share of a write of ``apply_rows`` rows spread over
    every core. The rule fires only on one file with fewer row groups
    than ``n``; every other input is already split by Spark. Each slice
    decodes the whole row group and keeps its range, so the slices pay
    ``n`` decodes of the file for ``n``-way parallel masking and writing.
    Spark ignores ``localhost`` block hosts, so local and object-store
    scans carry no locality and ``coalesce`` groups the union's
    partitions in contiguous runs: slice ``k`` is partition ``k``."""
    if stats.files != 1 or stats.rows == 0:
        return df, 1
    spark = df.sparkSession
    share = max(1, -(-apply_rows // spark.sparkContext.defaultParallelism))
    n = min(_planned_splits(spark, stats.bytes), -(-stats.rows // share))
    if stats.row_groups >= n:
        return df, 1
    index = F.col("_metadata.row_index")
    bounds = [k * stats.rows // n for k in range(n + 1)]
    slices = [df.where((index >= lo) & (index < hi)) for lo, hi in zip(bounds, bounds[1:])]
    return reduce(DataFrame.union, slices).coalesce(n), n

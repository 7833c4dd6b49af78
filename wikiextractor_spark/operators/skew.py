"""Skew mitigation for hot join keys: salted replicated join.

At 100 TB a handful of hot keys (the `null` user, a viral document, a
default category) can put one shuffle partition hours behind the
rest.  AQE's skew-join splitting (`spark.sql.adaptive.skewJoin`,
enabled by this engine's session tuning) fixes most sort-merge cases
at runtime; explicit salting remains the tool when

* the skewed side must join a MID-SIZED dimension (too big to
  broadcast, small enough to replicate a few times), or
* the engine can't see the skew up front (AQE splits only what the
  runtime statistics of a materialized stage reveal — not skew that
  appears after per-partition filters), or
* you need deterministic partition sizing (capacity planning).

``salted_join`` routes each fact row to one of ``buckets`` salted
copies of its key and replicates the dimension side ``buckets``× so
every salted key finds its match: the hot key's rows spread over
``buckets`` tasks at the cost of a ``buckets``× larger (but still
small) dimension shuffle.  Join RESULTS are identical to the plain
equi-join — salt only routes.
"""

from __future__ import annotations

from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``fact`` to ``dim`` on ``on`` with the fact side
    salted across ``buckets``.  ``how`` supports 'inner' and 'left'
    (the fact side is the preserved side; other types don't compose
    with replication).  Column names must be disjoint apart from
    ``on``."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    # row-id round-robin: spreads even identical rows of the hot key
    # (a content-hash salt would re-concentrate them)
    f = fact.withColumn(
        "_salt",
        F.pmod(F.monotonically_increasing_id(), F.lit(buckets)).cast("int"),
    )
    # (a generator can't nest inside cast(); sequence of int literals
    # already explodes to int, matching the fact side's cast)
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    return f.join(d, [on, "_salt"], how).drop("_salt")


def spread_for_compute(
    df: DataFrame, min_partitions: int | None = None,
    assume_splits: int | None = None,
) -> DataFrame:
    """Repartition a narrow frame so compute-bound passes use every
    core — a NO-OP whenever upstream already has enough splits.

    Sketch/signature passes (MinHash, SimHash, Arrow-UDF chains) cost
    far more CPU per row than the scan that feeds them.  When the
    input layout is unsplittable below its file/row-group grain (one
    bz2 or XML dump, a single-row-group parquet — parquet cannot split
    inside a row group), the scan's parallelism caps the whole
    pipeline: a 32-core executor runs a 2-split corpus on 2 cores.
    Spreading the narrow projection first costs one shuffle of the
    projected columns and unlocks full parallelism (measured 2.3 s →
    1.1 s on the sf0.1 SimHash pipeline, single-row-group input).

    At corpus scale the condition never fires: 100 TB of input has
    orders of magnitude more splits than the cluster has slots, so the
    frame passes through untouched — this is explicitly NOT a
    repartition-always (which would shuffle the full corpus for
    nothing).

    The split count is :func:`packed_file_splits`, read from the scan
    leaves Spark's planner builds for ``df``.  AQE re-plans exchanges
    at runtime, never file-scan partitions, so that count is what the
    query runs.  When it is unknown (no file-scan leaf: in-memory
    frames, checkpoints, streams) the frame passes through untouched;
    callers that KNOW their input is low-split can force the spread
    with ``assume_splits``.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    splits = assume_splits if assume_splits is not None else packed_file_splits(df)
    if splits is not None and splits < target:
        return df.repartition(target)
    return df


def packed_file_splits(df: DataFrame) -> int | None:
    """Scan parallelism of ``df``: the partition count of the
    file-scan leaves in the physical plan Spark's planner builds for
    it (``queryExecution().sparkPlan()``), summed over the leaves.

    Spark's own ``FilePartition`` rule made that count, so every conf
    (``maxPartitionBytes``, ``openCostInBytes``, ``minPartitionNum``),
    codec splittability, small-file bin-packing and filesystem scheme
    is already applied.  The probe builds the plan only; it never
    touches ``df.rdd`` and runs no job.

    Parquet cannot split inside a row group, and Spark still cuts
    byte ranges that hold none, whose tasks do no work.  So when a
    parquet leaf has fewer local (``file:``) files than the default
    parallelism, its count is capped by the row groups in their
    footers: a multi-MB single-row-group file counts 1.

    Returns None when the plan has no file-scan leaf or planning
    fails.
    """
    try:
        leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
        target = df.sparkSession.sparkContext.defaultParallelism
        counts = []
        for leaf in (leaves.apply(i) for i in range(leaves.size())):
            if leaf.getClass().getSimpleName() != "FileSourceScanExec":
                continue
            planned = leaf.inputRDD().getNumPartitions()
            relation = leaf.relation()
            if relation.fileFormat().toString() == "Parquet":
                row_groups = _local_row_groups(
                    list(relation.inputFiles()), target
                )
                if row_groups is not None:
                    planned = min(planned, row_groups)
            counts.append(planned)
    except (Py4JError, PySparkException):
        return None
    return sum(counts) if counts else None


def _local_row_groups(files: list[str], limit: int) -> int | None:
    """Total row groups of local parquet ``files``; None when there
    are ``limit`` or more files, a path is not ``file:``, or a footer
    is unreadable."""
    if len(files) >= limit or not all(f.startswith("file:") for f in files):
        return None
    import pyarrow.parquet as pq

    try:
        return sum(
            pq.ParquetFile(unquote(urlparse(f).path)).metadata.num_row_groups
            for f in files
        )
    except (OSError, ValueError):  # pyarrow's IO / invalid-footer errors
        return None

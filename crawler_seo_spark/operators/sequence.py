"""Deterministic, shuffle-friendly global sequence assignment.

The crawl order and the frontier's ``discovery_seq`` are *total orders* —
the hardest thing to produce scalably on a cluster. The naive
``row_number() OVER (ORDER BY ...)`` plans as a single-partition window: one
reducer sees every row, which dies at 10^10 scale.

:func:`global_sequence` produces the identical numbering with no single
reducer and no Python round-trip: range-repartition on the sort key, sort
within partitions, pin the partitioning (localCheckpoint — range sampling
must not re-run between passes), count rows per partition (a tiny
aggregate), then number each row as ``offset[partition] + local_rank``
where the local rank is a per-partition window. Two fully-parallel passes;
the only driver data is one (partition, count) pair per partition. This is
the standard distributed prefix-sum construction (the shape Spark uses
internally for ``zipWithIndex``) — but expressed in DataFrame ops so rows
stay in Tungsten format end to end (the round-1 version went through
``df.rdd.zipWithIndex``, which pickles every row to Python and back).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_sequence(df: DataFrame, order_by: list[Column], out_col: str,
                    start: int = 0,
                    num_partitions: int | None = None,
                    with_total: bool = False):
    """Add ``out_col`` = ``start + rank`` of each row in the total order
    defined by ``order_by`` (which must be a unique key of ``df``).

    Returns a DataFrame whose lineage is pinned (internally checkpointed) —
    downstream re-evaluation recomputes only the cheap per-partition window.
    With ``with_total=True`` returns ``(df, row_count)`` — the count is free
    (it is the sum of the per-partition offsets this pass computes anyway),
    so callers never need a separate count job or checkpoint.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    arranged = (
        df.repartitionByRange(n, *order_by)
          .sortWithinPartitions(*order_by)
          .localCheckpoint(eager=True)   # pin range boundaries + partitions
          .withColumn("_pid", F.spark_partition_id())
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in arranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n"))
        .collect())
    offsets, acc = {}, start
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    w = Window.partitionBy("_pid").orderBy(*order_by)
    out = (arranged
           .withColumn(out_col,
                       F.row_number().over(w).cast("long") - 1
                       + _offset_of(offsets, F.col("_pid")))
           .drop("_pid"))
    return (out, acc - start) if with_total else out


def global_sequence_arith(df: DataFrame, pid: Column,
                          order_by: list[Column], out_col: str,
                          class_col: str, class_starts: list[int],
                          class_out: str, start: int = 0,
                          num_partitions: int | None = None):
    """Prefix-sum sequence like :func:`global_sequence`, but the partition
    id is computed by ARITHMETIC instead of ``repartitionByRange``, and
    each row also gets a dense position within its class.

    ``repartitionByRange`` must first run a range-boundary *sampling job*,
    which re-evaluates the whole upstream plan once before the real
    shuffle evaluates it again — ruinous when the input's lineage is an
    expensive pipeline (explode → dedup → filter-probe). When the sort key
    is arithmetically mappable to a balanced, order-monotone bucket (e.g.
    a contiguous ``parent_seq`` range), the caller passes that bucket as
    ``pid`` and the sampling pass disappears: one hash shuffle on ``pid``,
    one checkpoint, one tiny count aggregate.

    Correctness requirement on ``pid``: for any two rows a, b with
    ``order_by(a) < order_by(b)``, ``pid(a) <= pid(b)`` — i.e. buckets
    partition the total order into contiguous runs.

    ``class_col`` is an int column valued in ``range(len(class_starts))``;
    each row gets ``class_out`` = ``class_starts[c]`` + its rank among the
    rows of its class ``c`` in the same total order. Both numberings come
    from the SAME pass: the count aggregate groups by ``(_pid, class)``.
    Returns ``(df, per_class_counts)``.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    arranged = (
        df.withColumn("_pid", pid.cast("int"))
          .repartition(n, "_pid")
          .localCheckpoint(eager=True)
    )
    n_cls = len(class_starts)
    counts = sorted(
        (r["_pid"], r[class_col], r["n"])
        for r in arranged.groupBy("_pid", class_col)
        .agg(F.count(F.lit(1)).alias("n")).collect())
    offsets, acc = {}, start
    cls_offsets, cls_acc = {}, list(class_starts)
    for p, c, k in counts:
        offsets.setdefault(p, acc)
        acc += k
        cls_offsets[p * n_cls + c] = cls_acc[c]
        cls_acc[c] += k
    w = Window.partitionBy("_pid").orderBy(*order_by)
    wc = Window.partitionBy("_pid", class_col).orderBy(*order_by)
    out = (arranged
           .withColumn(out_col,
                       F.row_number().over(w).cast("long") - 1
                       + _offset_of(offsets, F.col("_pid")))
           .withColumn(class_out,
                       F.row_number().over(wc).cast("long") - 1
                       + _offset_of(cls_offsets,
                                    F.col("_pid") * n_cls
                                    + F.col(class_col)))
           .drop("_pid"))
    return out, [a - b for a, b in zip(cls_acc, class_starts)]


def _offset_of(offsets: dict[int, int], key: Column) -> Column:
    """``offsets[key]`` as a LONG literal-map lookup (0 for an absent key).
    int32 lit + int32 row_number would wrap (not error) once a sequence
    crosses 2^31, which the 10^10 design point does."""
    if not offsets:
        return F.lit(0).cast("long")
    return F.coalesce(
        F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(p) for p in offsets]),
                F.array(*[F.lit(o).cast("long") for o in offsets.values()])),
            key),
        F.lit(0).cast("long"))


def global_sequence_small(df: DataFrame, order_by: list[Column], out_col: str,
                          start: int = 0) -> DataFrame:
    """Window-based variant for *small* inputs (a dequeued batch): a single
    round's batch fits one task comfortably; the window avoids the extra
    repartition pass. Use :func:`global_sequence` for unbounded inputs."""
    w = Window.orderBy(*order_by)
    num = F.row_number().over(w).cast("long") - 1 + F.lit(start).cast("long")
    return df.withColumn(out_col, num)

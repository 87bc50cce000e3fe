"""Distributed total-order ranking primitives.

A window with no PARTITION BY collapses the whole input onto ONE task
(Spark's single-partition ``WindowExec`` — the ``WARN WindowExec: No
Partition Defined`` path).  Fine for bounded inputs; a scale-killer for
anything that grows with the data.  These helpers produce the same
exact answers with a distributed plan:

``global_rank``: ``repartitionByRange`` on the sort key gives ordered,
parallel partitions; per-partition dense indexes come from
``monotonically_increasing_id`` after ``sortWithinPartitions``; one
tiny aggregation (one row per partition) yields the cumulative offsets
that turn local indexes into the exact global rank.  This is the same
offsets pattern ``dml.assign_serials`` uses for the serial columns of a
distributed batch — nothing bigger than #partitions rows ever reaches the driver.

``ntile_exact``: exact SQL NTILE(k) derived from that rank.  NTILE
semantics put the larger buckets FIRST — with n = q*k + r, the first r
buckets hold q+1 rows and the rest hold q — which is NOT the
``floor((rank-1)*k/n)`` equi-split (that spreads the +1 buckets out),
so the piecewise formula is applied literally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark.sql.column import Column

from ..session import local_frame

_PID = "__rk_pid"
_MID = "__rk_mid"
_OFF = "__rk_off"
_MN = "__rk_mn"


def global_rank(
    df: DataFrame,
    order_cols: list[Column | str],
    out_col: str,
    num_partitions: int = 32,
) -> tuple[DataFrame, int]:
    """Exact 1-based global rank over a total order, distributed.

    ``order_cols`` must be a total order (include a unique tiebreak) —
    the rank is then deterministic.  Returns ``(df + out_col, n_rows)``;
    the input's other columns pass through untouched.

    Driver-side data: one (count, min_id) row per partition — O(32),
    independent of table size.
    """
    spark = df.sparkSession
    # Pin the layout so the offsets job and the output job see the same
    # partitioning and physical row order.
    part = (
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .withColumn(_MID, F.monotonically_increasing_id())
        .localCheckpoint()
    )
    stats = (
        part.groupBy(_PID)
        .agg(F.count("*").alias("__cnt"), F.min(_MID).alias(_MN))
        .collect()
    )
    offsets, acc = [], 0
    # Range partitioning orders partitions by key, so cumulative counts
    # in partition-id order ARE the global rank offsets.
    for r in sorted(stats, key=lambda r: r[_PID]):
        offsets.append((r[_PID], r[_MN], acc))
        acc += r["__cnt"]
    n = acc
    if n == 0:
        return df.withColumn(out_col, F.lit(None).cast("long")), 0
    odf = local_frame(
        spark,
        offsets,
        T.StructType(
            [
                T.StructField(_PID, T.IntegerType(), False),
                T.StructField(_MN, T.LongType(), False),
                T.StructField(_OFF, T.LongType(), False),
            ]
        ),
    )
    out = (
        part.join(F.broadcast(odf), _PID)
        .withColumn(out_col, F.col(_OFF) + (F.col(_MID) - F.col(_MN)) + 1)
        .drop(_PID, _MID, _MN, _OFF)
    )
    return out, n


def ntile_from_rank(rank: Column, n: int, k: int) -> Column:
    """Exact SQL NTILE(k) for a 1-based ``rank`` over ``n`` rows.

    First ``n % k`` buckets hold ``n // k + 1`` rows, the rest
    ``n // k`` — matching Spark's and DuckDB's NTILE exactly (the
    equi-split floor formula does not: for n=13, k=5 it yields bucket
    sizes 3,3,2,3,2 where NTILE gives 3,3,3,2,2).
    """
    q, r = divmod(n, k)
    big = (q + 1) * r  # rows living in the size-(q+1) buckets
    qd = q if q > 0 else 1  # q == 0 => every rank <= big; branch unused

    def idiv(num: Column, den: int) -> Column:  # exact floor div (num >= 0)
        return ((num - (num % den)) / den).cast("long")

    return (
        F.when(rank <= big, idiv(rank - 1, q + 1))
        .otherwise(r + idiv(rank - big - 1, qd))
        + 1
    ).cast("int")


def ntile_exact(
    df: DataFrame,
    k: int,
    order_cols: list[Column | str],
    out_col: str,
    num_partitions: int = 32,
) -> DataFrame:
    """``NTILE(k) OVER (ORDER BY order_cols)`` without the
    single-partition window: distributed rank, then the exact piecewise
    bucket formula."""
    rank_col = f"__{out_col}_rank"
    ranked, n = global_rank(df, order_cols, rank_col, num_partitions)
    if n == 0:
        return ranked.withColumn(out_col, F.lit(None).cast("int")).drop(rank_col)
    return ranked.withColumn(
        out_col, ntile_from_rank(F.col(rank_col), n, k)
    ).drop(rank_col)


def grouped_running_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column | str],
    value_col: str,
    out_col: str,
    num_partitions: int = 32,
) -> DataFrame:
    """Exact per-group running (prefix) sum over a total order within
    each group, WITHOUT per-group single-task windows.

    ``Window.partitionBy(group)`` ships each whole group to one task —
    fine for bounded groups, a scale-killer when a group holds a
    terabyte (exactly the shape of per-(lang, source) corpus buckets).
    Here: range-partition on (group, order) so each partition holds a
    contiguous slice of the total order; per-partition PER-GROUP sums
    (≤ #partitions + #groups rows, since a group spans contiguous
    partitions) come back to the driver once; their group-wise prefix
    totals become broadcast offsets; the remaining window runs
    partition-LOCALLY (partitioned by (physical partition, group)), so
    no task ever sees more than one partition's rows.

    ``order_cols`` must be a total order within each group (include a
    unique tiebreak) for the prefix sum to be deterministic, and
    ``value_col`` integral: the offsets are exact long sums.
    """
    spark = df.sparkSession
    keys = [F.col(c) for c in group_cols]
    part = (
        df.repartitionByRange(num_partitions, *keys, *order_cols)
        .sortWithinPartitions(*keys, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint()
    )
    stats = (
        part.groupBy(_PID, *group_cols)
        .agg(F.sum(value_col).alias("__gs"))
        .collect()
    )
    # group-wise prefix totals in partition order = the group offsets
    offsets: list[tuple] = []
    acc: dict[tuple, int] = {}
    for r in sorted(stats, key=lambda r: r[_PID]):
        gkey = tuple(r[c] for c in group_cols)
        offsets.append((r[_PID], *gkey, acc.get(gkey, 0)))
        acc[gkey] = acc.get(gkey, 0) + (r["__gs"] or 0)
    if not offsets:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    odf = local_frame(
        spark,
        offsets,
        T.StructType(
            [T.StructField("__o_pid", T.IntegerType(), False)]
            + [
                T.StructField(f"__g_{c}", part.schema[c].dataType)
                for c in group_cols
            ]
            + [T.StructField(_OFF, T.LongType(), False)]
        ),
    )
    cond = [F.col(_PID) == F.col("__o_pid")] + [
        F.col(c).eqNullSafe(F.col(f"__g_{c}")) for c in group_cols
    ]
    w = (
        W.partitionBy(_PID, *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    joined = part.withColumn("__local", F.sum(value_col).over(w)).join(
        F.broadcast(odf), cond
    )
    drop_cols = [_PID, "__o_pid", _OFF, "__local"] + [
        f"__g_{c}" for c in group_cols
    ]
    return joined.withColumn(
        out_col, (F.col("__local") + F.col(_OFF)).cast("long")
    ).drop(*drop_cols)

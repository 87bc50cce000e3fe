"""INSERT execution: validation, serial assignment, unique enforcement,
snapshot append.

≙ the reference's InsertExec + prefill_row + insert_rows_once
(reference: src/sql/plan/insert.rs:55-247, src/sql/client.rs:247-313):
- defaults/NULL handling and type/nullability validation
  (client.rs:247-264),
- serial ids allocated from the metastore counter
  (≙ KV increment, client.rs:276-307),
- uniqueness enforced per index with NULLS [NOT] DISTINCT semantics
  (≙ put-if-absent key construction, src/sql/row.rs:89-109; e2e tests
  src/sql/mod.rs:277-426),
- returns a single-row ``count`` result (insert.rs:50-53,232-234).

Spark-first: uniqueness = in-batch groupBy duplicate check + anti-join
against the current snapshot — both distributed, no driver loop. The
whole statement commits atomically via the snapshot manifest swap; a
constraint violation aborts before any manifest change.

Scale notes (100 TB): the existing-side join prunes to the index
columns only (column pruning at the parquet scan); for huge tables this
is the documented bucketed-index design — bucket the snapshot by the
unique key so the anti-join co-locates without a full shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import Metastore
from .errors import NullViolationError, TypeMismatchError, UniqueIndexError
from .session import local_frame
from .snapshots import TableSnapshots
from .types import TableDescriptor, spark_type

_KIND_FAMILY = {
    "boolean": "bool",
    "int16": "num",
    "int32": "num",
    "int64": "num",
    "float32": "num",
    "float64": "num",
    "bytes": "bytes",
    "string": "str",
}

_SPARK_FAMILY = {
    "boolean": "bool",
    "tinyint": "num",
    "smallint": "num",
    "int": "num",
    "bigint": "num",
    "float": "num",
    "double": "num",
    "decimal": "num",
    "binary": "bytes",
    "string": "str",
    "void": "null",
}


def _family_of_spark(dt: str) -> str:
    base = dt.split("(")[0]
    return _SPARK_FAMILY.get(base, base)


def align_and_validate(
    df: DataFrame,
    desc: TableDescriptor,
    insert_columns: list[str] | None,
) -> DataFrame:
    """Map positional/named input columns onto the table schema, fill
    unmentioned columns with NULL, check type-kind compatibility, cast."""
    target_cols = [c.name for c in desc.columns]
    names = insert_columns if insert_columns is not None else target_cols
    if len(df.columns) != len(names):
        raise TypeMismatchError(
            f"INSERT has {len(df.columns)} expressions but {len(names)} target columns"
        )
    for n in names:
        desc.column(n)  # raises KeyError → surfaced by engine
    renamed = df.toDF(*names)

    exprs = []
    for col in desc.columns:
        if col.name in names:
            src_type = dict(renamed.dtypes)[col.name]
            src_fam = _family_of_spark(src_type)
            dst_fam = _KIND_FAMILY[col.kind]
            if src_fam not in (dst_fam, "null"):
                raise TypeMismatchError(
                    f"column {col.name}: cannot insert {src_type} into {col.kind}"
                )
            exprs.append(
                F.col(col.name).cast(spark_type(col.kind)).alias(col.name)
            )
        else:
            exprs.append(
                F.lit(None).cast(spark_type(col.kind)).alias(col.name)
            )
    return renamed.select(*exprs)


def assign_serials(
    df: DataFrame,
    desc: TableDescriptor,
    store: Metastore,
    database: str,
    insert_columns: list[str] | None,
) -> DataFrame:
    """Fill serial columns OMITTED from the insert column list with
    consecutive counter values (one metastore allocation per statement,
    ≙ per-row KV increment batched; reference: src/sql/client.rs:276-307).

    Matching the reference's ``prefill_row`` (src/sql/client.rs:247-264):
    a serial is assigned only when the column is absent from the row;
    an explicit NULL flows through to the nullability check and is
    rejected there for non-nullable serials.

    Scale path, all JVM-side (no .rdd round-trip through Python): a
    dense row number is derived from ``monotonically_increasing_id`` —
    consecutive within each partition by construction — plus
    per-partition offsets from one tiny aggregation (#partitions rows to
    the driver). No global sort, no single partition (a row_number()
    window over the whole batch would collapse an INSERT..SELECT of
    billions of rows onto one task).
    """
    names = (
        insert_columns if insert_columns is not None else [c.name for c in desc.columns]
    )
    fill_cols = [c for c in desc.columns if c.serial and c.name not in names]
    if not fill_cols:
        return df
    spark = df.sparkSession
    # Pin the batch so the offsets job and the fill job see the same
    # partition layout and row order.
    with_idx = (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    stats = (
        with_idx.groupBy("__pid")
        .agg(F.count("*").alias("__cnt"), F.min("__mid").alias("__mn"))
        .collect()
    )
    offsets, acc = [], 0
    for r in sorted(stats, key=lambda r: r["__pid"]):
        offsets.append((r["__pid"], r["__mn"], acc))
        acc += r["__cnt"]
    n = acc
    if n == 0:
        return df
    odf = local_frame(
        spark,
        offsets,
        T.StructType(
            [
                T.StructField("__pid", T.IntegerType(), False),
                T.StructField("__mn", T.LongType(), False),
                T.StructField("__off", T.LongType(), False),
            ]
        ),
    )
    out = with_idx.join(F.broadcast(odf), "__pid").withColumn(
        "__rn", F.col("__off") + (F.col("__mid") - F.col("__mn")) + 1
    )
    for c in fill_cols:
        ids = store.next_serial(database, desc.name, c.name, c.kind, count=n)
        base = ids[0] - 1
        out = out.withColumn(
            c.name, (F.lit(base) + F.col("__rn")).cast(spark_type(c.kind))
        )
    return out.drop("__pid", "__mid", "__mn", "__off", "__rn")


def validate_batch(
    filled: DataFrame,
    existing: DataFrame,
    desc: TableDescriptor,
    pruned: dict[tuple, DataFrame] | None = None,
) -> int:
    """All constraint checks in ONE Spark action; returns the row count.

    The row count, every non-nullable column's null flag
    (≙ reference: src/sql/client.rs:253-256), and every unique index's
    in-batch-duplicate and existing-key-clash flags
    (≙ src/sql/row.rs:89-109; tests src/sql/mod.rs:277-426) are computed
    as 1-row aggregates cross-joined into a single 1-row result, so an
    INSERT pays one validation job regardless of how many constraints
    the table declares (previously up to 4 jobs per index).

    NULLS [NOT] DISTINCT semantics:
    - nulls_distinct: rows with any NULL key column never conflict —
      excluded from the dup count and equi-joined (NULL never matches);
    - nulls_not_distinct: NULLs compare equal — counted in groups and
      null-safe-joined.

    Violations raise in the reference's order: nullability first, then
    per-index (declaration order) in-batch duplicate before existing
    clash.

    ``pruned`` maps an index's column tuple to a bucket-pruned snapshot
    read to use instead of ``existing`` for that index's clash check
    (the bucketed unique-index path, SCALING.md Engine §).
    """
    non_nullable = [c.name for c in desc.columns if not c.nullable]
    flags = filled.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.max(F.col(c).isNull()).alias(f"__null_{c}")
            for c in non_nullable
        ],
    )

    unique_ixs = [
        ix
        for ix in desc.indexes
        if ix.kind
        in ("primary_key", "unique_nulls_distinct", "unique_nulls_not_distinct")
    ]
    for i, ix in enumerate(unique_ixs):
        nulls_conflict = ix.kind == "unique_nulls_not_distinct"
        cols = ix.columns
        batch = filled.select(*cols)
        if not nulls_conflict:
            cond = None
            for c in cols:
                nn = F.col(c).isNotNull()
                cond = nn if cond is None else cond & nn
            batch = batch.filter(cond)
        # In-batch duplicates: eligible rows vs distinct keys (a struct
        # with equal NULL fields compares equal under DISTINCT, which is
        # exactly nulls_not_distinct; nulls_distinct filtered them out).
        key = F.struct(*[F.col(c) for c in cols])
        dup = batch.agg(
            (F.count(F.lit(1)) > F.count_distinct(key)).alias(f"__dup_{i}")
        )
        # Against the existing snapshot: semi-join survivors, capped at 1.
        table_side = (pruned or {}).get(tuple(cols), existing)
        if nulls_conflict:
            join_cond = [batch[c].eqNullSafe(table_side[c]) for c in cols]
        else:
            join_cond = [batch[c] == table_side[c] for c in cols]
        cond_expr = join_cond[0]
        for jc in join_cond[1:]:
            cond_expr = cond_expr & jc
        clash = (
            batch.join(table_side.select(*cols), cond_expr, "left_semi")
            .limit(1)
            .agg((F.count(F.lit(1)) > 0).alias(f"__clash_{i}"))
        )
        flags = flags.crossJoin(dup).crossJoin(clash)

    row = flags.collect()[0]  # the single validation action
    for c in non_nullable:
        if row[f"__null_{c}"]:
            raise NullViolationError(f"null value in non-null column {c}")
    for i, ix in enumerate(unique_ixs):
        if row[f"__dup_{i}"] or row[f"__clash_{i}"]:
            raise UniqueIndexError(
                "duplicate key value violates unique constraint on "
                f"({', '.join(ix.columns)})"
            )
    return row["__n"]


def execute_insert(
    input_df: DataFrame,
    desc: TableDescriptor,
    insert_columns: list[str] | None,
    store: Metastore,
    database: str,
    snapshots: TableSnapshots,
) -> int:
    """Full insert pipeline; returns affected-row count."""
    spark = input_df.sparkSession
    aligned = align_and_validate(input_df, desc, insert_columns)
    filled = assign_serials(aligned, desc, store, database, insert_columns)
    # Materialize once: serial assignment + validation + commit must see
    # one deterministic batch.
    filled = filled.cache()
    try:
        existing = snapshots.read(spark, desc.spark_schema())
        # Bucketed unique-index path (SCALING.md Engine §): when the
        # table is hash-clustered on an index's columns, the clash check
        # reads only the segment files whose bucket ids appear in the
        # batch — O(touched buckets), not O(table). One tiny extra
        # action computes the batch's bucket set; legacy (pre-bucketing)
        # segments carry no bucket id and are always included.
        bucketing = snapshots.current_extra().get("bucketing")
        pruned: dict[tuple, DataFrame] = {}
        if bucketing:
            bcols, n_buckets = bucketing["cols"], int(bucketing["n"])
            bucket_expr = F.pmod(
                F.xxhash64(*[F.col(c) for c in bcols]), F.lit(n_buckets)
            ).cast("int")
            batch_buckets = {
                r[0]
                for r in filled.select(bucket_expr.alias("b")).distinct().collect()
            }
            pruned_read = snapshots.read(
                spark, desc.spark_schema(), buckets=batch_buckets
            )
            for ix in desc.indexes:
                if set(ix.columns) == set(bcols):
                    pruned[tuple(ix.columns)] = pruned_read
        count = validate_batch(filled, existing, desc, pruned=pruned)
        snapshots.commit(filled, mode="append", bucketing=bucketing)
    finally:
        filled.unpersist()
    return count

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

Two paths, picked by a property of the input, never by a setting or a
row count:
- A VALUES list (the input is a local relation: its rows are in the
  plan, bounded by the statement text) is checked on the driver
  (``_insert_rows``). Catalyst folds the aligning casts into the
  relation, so collecting it runs no job; serial columns are numbered
  from the statement's counter range, the null and in-batch duplicate
  checks run in Python, one filtered scan of the snapshot finds clashes
  with existing keys, and the rows commit as a local relation. These
  are the reference's per-key point checks; a 50-row statement runs
  ≤3 Spark jobs.
- Any other input (INSERT … SELECT) stays distributed: serials from
  ``monotonically_increasing_id`` plus per-partition offsets
  (``assign_serials``), and ``validate_batch``'s groupBy duplicate
  check and semi-join against the current snapshot. No row of the
  batch reaches the driver.

Both raise in the reference's order (nullability, then each unique
index in declaration order, in-batch duplicate before clash) with the
same key equality. The whole statement commits atomically via the
snapshot manifest swap; a constraint violation aborts before any
manifest change.

Scale notes (100 TB): the existing-side join prunes to the index
columns only (column pruning at the parquet scan); for huge tables this
is the documented bucketed-index design — bucket the snapshot by the
unique key so the anti-join co-locates without a full shuffle.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import Metastore
from .errors import (
    InvalidArgumentError,
    NullViolationError,
    TypeMismatchError,
    UniqueIndexError,
)
from .session import local_frame
from .snapshots import TableSnapshots, bucket_column
from .types import IndexDescriptor, TableDescriptor, spark_type

_UNIQUE_KINDS = ("primary_key", "unique_nulls_distinct", "unique_nulls_not_distinct")

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
    width = len(df.columns)
    if width != len(names):
        raise TypeMismatchError(
            f"INSERT has {width} expressions but {len(names)} target columns"
        )
    for n in names:
        if n not in target_cols:
            raise InvalidArgumentError(f"unknown column {n!r}")
    renamed = df.toDF(*names)
    src_types = dict(renamed.dtypes)  # one schema read, not one per column

    exprs = []
    for col in desc.columns:
        if col.name in names:
            src_type = src_types[col.name]
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
    """All constraint checks of a distributed batch in one Spark action;
    returns the row count.

    The row count, every non-nullable column's null flag
    (≙ reference: src/sql/client.rs:253-256), and every unique index's
    in-batch-duplicate and existing-key-clash flags
    (≙ src/sql/row.rs:89-109; tests src/sql/mod.rs:277-426) are computed
    as 1-row aggregates cross-joined into a single 1-row result and
    read by one ``collect``. That one action is still several Spark
    jobs: under AQE each aggregate's shuffle stage runs as its own job
    (14–20 jobs for a table with a serial key and one unique column),
    which is why a VALUES list takes the driver path
    (``_insert_rows``) instead.

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

    unique_ixs = _unique_indexes(desc)
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
            raise _unique_error(ix)
    return row["__n"]


def _unique_indexes(desc: TableDescriptor) -> list[IndexDescriptor]:
    return [ix for ix in desc.indexes if ix.kind in _UNIQUE_KINDS]


def _unique_error(ix: IndexDescriptor) -> UniqueIndexError:
    return UniqueIndexError(
        "duplicate key value violates unique constraint on "
        f"({', '.join(ix.columns)})"
    )


def _is_values_list(df: DataFrame) -> bool:
    """The input is a VALUES list: its analyzed plan is a local
    relation, so its rows are already on the driver."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.getClass().getSimpleName() == "LocalRelation"


_NAN = object()


def _key(values) -> tuple:
    """A batch key that Python compares as Spark compares keys: NaN
    equals NaN (a Python NaN equals nothing, not even itself inside a
    tuple), and 0.0 equals -0.0 (Python agrees already)."""
    return tuple(_NAN if v != v else v for v in values)


def execute_insert(
    input_df: DataFrame,
    desc: TableDescriptor,
    insert_columns: list[str] | None,
    store: Metastore,
    database: str,
    snapshots: TableSnapshots,
) -> int:
    """Full insert pipeline; returns affected-row count. A VALUES list
    is checked on the driver (``_insert_rows``); any other input runs
    the distributed pipeline below."""
    spark = input_df.sparkSession
    aligned = align_and_validate(input_df, desc, insert_columns)
    if _is_values_list(input_df):
        return _insert_rows(aligned, desc, insert_columns, store, database, snapshots)
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
            batch_buckets = {
                r[0]
                for r in filled.select(bucket_column(bucketing))
                .distinct()
                .collect()
            }
            pruned_read = snapshots.read(
                spark, desc.spark_schema(), buckets=batch_buckets
            )
            for ix in desc.indexes:
                if set(ix.columns) == set(bucketing["cols"]):
                    pruned[tuple(ix.columns)] = pruned_read
        count = validate_batch(filled, existing, desc, pruned=pruned)
        snapshots.commit(filled, mode="append", bucketing=bucketing)
    finally:
        filled.unpersist()
    return count


def _insert_rows(
    aligned: DataFrame,
    desc: TableDescriptor,
    insert_columns: list[str] | None,
    store: Metastore,
    database: str,
    snapshots: TableSnapshots,
) -> int:
    """Check, number and commit a VALUES batch on the driver.

    Same outcomes as ``assign_serials`` + ``validate_batch``: the same
    ids on the same rows, the same errors in the same order, the same
    key equality (NaN equals NaN, 0.0 equals -0.0, ``bytea`` by
    bytes). ANSI cast errors (e.g. CAST_OVERFLOW) raise from the
    collect, before any serial is taken."""
    spark = aligned.sparkSession
    rows = [
        [bytes(v) if isinstance(v, bytearray) else v for v in r]
        for r in aligned.collect()
    ]
    pos = {c.name: i for i, c in enumerate(desc.columns)}
    names = insert_columns if insert_columns is not None else list(pos)
    # Serials before any check: a rejected INSERT still consumes its
    # range, as a Postgres sequence does. Statement order numbers the
    # rows, as monotonically_increasing_id does over a local relation.
    serial_ranges: dict[str, range] = {}
    for c in desc.columns:
        if c.serial and c.name not in names:
            ids = store.next_serial(
                database, desc.name, c.name, c.kind, count=len(rows)
            )
            for row, v in zip(rows, ids):
                row[pos[c.name]] = v
            serial_ranges[c.name] = ids
    for c in desc.columns:
        if not c.nullable and any(r[pos[c.name]] is None for r in rows):
            raise NullViolationError(f"null value in non-null column {c.name}")

    # Each index's key filter on the snapshot, in declaration order, up
    # to the first index with an in-batch duplicate (its error wins
    # unless an earlier index clashes).
    indexes = _unique_indexes(desc)
    probes: list[tuple[IndexDescriptor, Column]] = []
    duplicate = None
    for ix in indexes:
        if len(ix.columns) == 1 and ix.columns[0] in serial_ranges:
            # Filled by this statement: distinct, and exactly lo..hi.
            ids = serial_ranges[ix.columns[0]]
            probes.append((ix, F.col(ix.columns[0]).between(ids[0], ids[-1])))
            continue
        keys = [tuple(r[pos[c]] for c in ix.columns) for r in rows]
        if ix.kind != "unique_nulls_not_distinct":
            keys = [k for k in keys if None not in k]
        distinct = {_key(k): k for k in keys}
        if len(distinct) < len(keys):
            duplicate = ix
            break
        if keys:
            probes.append((ix, _key_probe(desc, ix, list(distinct.values()))))

    batch = local_frame(spark, [tuple(r) for r in rows], desc.spark_schema())
    bucketing = snapshots.current_extra().get("bucketing")
    clash = _first_clash(spark, desc, snapshots, probes, batch, bucketing)
    if clash is not None:
        raise _unique_error(clash)
    if duplicate is not None:
        raise _unique_error(duplicate)
    snapshots.commit(batch, mode="append", bucketing=bucketing)
    return len(rows)


def _key_probe(
    desc: TableDescriptor, ix: IndexDescriptor, keys: list[tuple]
) -> Column:
    """Existing rows holding one of the batch ``keys``, as one IN list
    parsed from text (one py4j call; ``Column.isin`` makes one per
    value). Spark's IN compares NaN equal to NaN and 0.0 to -0.0, and a
    struct compares NULL fields as equal: a multi-column key matched as
    one struct is NULLS NOT DISTINCT, and under NULLS DISTINCT the batch
    keys hold no NULL. A single column keeps a plain IN, which parquet
    row-group statistics can prune."""
    kinds = [desc.column(c).kind for c in ix.columns]
    cols = [f"`{c.replace('`', '``')}`" for c in ix.columns]
    if len(cols) == 1:
        values = [k[0] for k in keys if k[0] is not None]
        terms = [f"{cols[0]} IS NULL"] if len(values) < len(keys) else []
        if values:
            listed = ", ".join(_sql_literal(v, kinds[0]) for v in values)
            terms.append(f"{cols[0]} IN ({listed})")
        return F.expr(" OR ".join(terms))

    def struct(fields) -> str:
        return "named_struct(" + ", ".join(
            f"'k{i}', {f}" for i, f in enumerate(fields)
        ) + ")"

    listed = ", ".join(
        struct(_sql_literal(v, kind) for v, kind in zip(k, kinds)) for k in keys
    )
    return F.expr(f"{struct(cols)} IN ({listed})")


def _sql_literal(v, kind: str) -> str:
    """``v`` as a Spark SQL literal of the column's type that parses back
    to exactly ``v`` under any string-escape setting: text and bytes as
    hex, floats from their repr (NaN and infinities by name)."""
    if v is None:
        src = "NULL"
    elif kind in ("string", "bytes"):
        src = "X'" + (v.encode() if kind == "string" else v).hex() + "'"
    elif kind in ("float32", "float64"):
        src = "'" + ("NaN" if v != v else repr(v).replace("inf", "Infinity")) + "'"
    else:
        src = str(v)  # an integer, or True / False
    return f"CAST({src} AS {spark_type(kind).simpleString()})"


def _first_clash(
    spark: SparkSession,
    desc: TableDescriptor,
    snapshots: TableSnapshots,
    probes: list[tuple[IndexDescriptor, Column]],
    batch: DataFrame,
    bucketing: dict | None,
) -> IndexDescriptor | None:
    """The first probed index whose key an existing row already holds,
    from one filtered scan of the current snapshot. The scan returns the
    probes' flags for each existing row that matches one; stored keys
    are unique per index, so at most one row matches each batch key and
    the statement bounds the result. On a table bucketed on every probed
    index's columns, the scan reads only the batch's buckets (projected
    over the local relation: no job)."""
    if not probes:
        return None
    buckets = None
    if bucketing and all(
        set(ix.columns) == set(bucketing["cols"]) for ix, _ in probes
    ):
        buckets = {r[0] for r in batch.select(bucket_column(bucketing)).collect()}
    existing = snapshots.read(spark, desc.spark_schema(), buckets=buckets)
    hits = (
        existing.where(reduce(or_, [p for _, p in probes]))
        .select(*[p.alias(f"p{i}") for i, (_, p) in enumerate(probes)])
        .collect()
    )
    for i, (ix, _) in enumerate(probes):
        if any(r[i] for r in hits):
            return ix
    return None

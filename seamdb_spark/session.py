"""SparkSession construction with scale-aware defaults.

Single place where engine-wide Spark configs are set so tests, bench, and
the driver entry all execute with the same plan-shaping knobs.

Scale notes (100 TB target):
- AQE on: runtime coalescing, skew-join splitting, and dynamic join
  strategy switching are what keep a fixed logical plan viable when the
  input is 1000x larger than the test fixture.
- ``spark.sql.shuffle.partitions`` is a *local-mode* default here; on a
  real cluster it is superseded by AQE's
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` sizing
  (set explicitly below so AQE can split skew upward as well as coalesce
  downward).
- Arrow enabled so every Pandas-UDF path (the minority) is batch-
  vectorized, never row-at-a-time pickling.
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (UTC-naive) exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """A DataFrame over driver-held ``rows`` (tuples in ``schema``'s field
    order), built as a JVM local relation.

    ``createDataFrame(<list>)`` parallelizes a pickled RDD, so reading a
    three-row catalog answer runs a Spark job (~150 ms at local[2]). An
    Arrow table goes through ``PythonSQLUtils.toDataFrame`` instead: the
    rows live in the plan, so reading them, or broadcasting them, runs
    no job. That path ignores the Arrow conf, so it works on a vanilla
    session too. Rows get the same checks as ``verifySchema``: a wrong
    Python type or a ``None`` in a non-nullable field raises here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def build_session(
    app_name: str = "seamdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    par = default_parallelism()
    master = master or f"local[{par}]"
    shuffle = shuffle_partitions or max(par, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 10 MB, the stock-Spark order of magnitude. The previous 64 MB
        # made Catalyst broadcast column-pruned FACT-table sides (q04
        # semi-join build, d10's exploded-shingle corpus) — wrong shape
        # at any scale and measurably slower even at sf0.1 (q04 1.9s →
        # 0.8s, d10 3.9s → 1.2s). Dims/probe tables stay broadcast; AQE
        # re-decides from actual runtime sizes either way.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(*thunks):
    """Run independent Spark-action thunks from a thread pool and return
    their results in order, re-raising the first failure.

    Spark's scheduler runs several jobs at once inside one application;
    actions are only sequential because driver code calls them
    sequentially. The streaming ingest gates' per-micro-batch jobs are
    SMALL (bounded-batch work, a handful of tasks each), so run serially
    they leave most cores idle — submitting the independent chains
    (e.g. the LSH and SimHash refresh→lookup→write legs) concurrently
    lets the FIFO scheduler back-fill the idle capacity. Results are
    written to disjoint outputs, so overlap cannot change any result."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]

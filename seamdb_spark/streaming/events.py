"""Structured Streaming over the events table.

Extension beyond the reference: seamdb has no streaming query surface —
its log is an internal WAL (reference: src/log/mod.rs:243-305), not
queryable. Here the events fixture drives real streaming plans:
watermarked tumbling windows, gap-based session windows, and a custom
stateful operator via ``applyInPandasWithState``.

The batch queries in ``operators/events.py`` define the semantics these
streaming versions must agree with (tested in
tests/test_streaming.py by running the stream to completion over the
same fixture and comparing to the batch answer).

Scale notes: in production the source is Kafka/object-store file
streams; state stores shard by the groupBy key (user_id / window), and
watermarks bound state size. Locally the parquet fixture is replayed as
a file-source micro-batch stream.
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SESSION_GAP = "30 minutes"

_log = logging.getLogger(__name__)


def stream_state_partitions(
    spark: SparkSession, sf_dir: str, table: str = "events"
) -> int | None:
    """Shuffle/state-store partition count for the finite-replay parity
    gates, derived from the streamed input's size instead of the core
    count. Motivation (measured, round 14): every stateful-operator
    partition is a set of HDFSBackedStateStore instances (a stream-
    stream join keeps FOUR per partition) paying a fixed per-micro-batch
    load + eviction-scan + commit cost that dominates until per-
    partition state reaches tens of MB — e45's one-batch join spent
    ~130 summed seconds in store commits for 40k buffered rows across
    32 partitions, and dropping to 8 partitions halved the warm run
    (10.0 s -> 4.9 s) with byte-identical output. Sizing partitions
    from input bytes (~16 MB of streamed input per partition, floored
    at min(8, core budget) for parallelism, capped at the session core
    budget — the cap wins when the two conflict) is the scale-adaptive
    form: a 100 TB stream saturates the cap and keeps today's behavior,
    while a MB-scale replay stops paying hundreds of empty store
    round-trips.

    The size comes from the Hadoop FileSystem of the path's own scheme
    (a recursive ``listFiles`` — s3a/hdfs/local alike), and only
    ``*.parquet`` bytes count (never ``.crc`` or ``_SUCCESS``). Returns
    ``None`` — "don't override; keep the session's core-count default"
    — when the size cannot be measured: the FileSystem lookup fails
    (logged once), or the path is missing or holds no parquet bytes.
    Never a silently-pinned floor (ADVICE r14)."""
    import math
    import os

    from ..session import default_parallelism

    path = os.path.join(sf_dir, f"{table}.parquet")
    size = 0
    try:
        hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(hpath):
            it = fs.listFiles(hpath, True)
            while it.hasNext():
                st = it.next()
                if st.getPath().getName().endswith(".parquet"):
                    size += int(st.getLen())
    except Exception:  # noqa: BLE001 — estimation must never kill a gate
        _log.warning("cannot size %s via Hadoop FS", path, exc_info=True)
        return None
    if size <= 0:
        return None  # unmeasurable input: keep the session default
    cap = default_parallelism()
    return min(cap, max(min(8, cap), math.ceil(size / (16 << 20))))


# Guards _shuffle_partitions_during: the override mutates SESSION-GLOBAL
# conf for the duration of a stream run, which is only sound while no
# second conf-scoped stream is active — two scopes could interleave
# set/restore and clobber each other, and an overlapped run would
# silently plan with the other scope's width (ADVICE r14). The engine
# never nests stream runs today (run_concurrently overlaps only batch
# actions); this makes the invariant loud instead of latent.
_SHUFFLE_SCOPE_LOCK = threading.Lock()


class _shuffle_partitions_during:
    """Scoped spark.sql.shuffle.partitions override for one streaming
    run: the value is captured into the query's checkpoint metadata at
    start, so it must be live from .start() through awaitTermination();
    restoring it afterwards keeps the session's batch plans on the
    engine-wide default. No-op when n is None. At most one conf-scoped
    stream may be active per driver (see _SHUFFLE_SCOPE_LOCK); batch
    actions launched INSIDE the scope (foreachBatch legs) intentionally
    see the lowered width — results are partitioning-independent."""

    def __init__(self, spark: SparkSession, n: int | None):
        self.spark, self.n = spark, n

    def __enter__(self):
        if self.n is not None:
            if not _SHUFFLE_SCOPE_LOCK.acquire(blocking=False):
                raise RuntimeError(
                    "another conf-scoped stream run is active: overlapping "
                    "_shuffle_partitions_during scopes would clobber the "
                    "session-global spark.sql.shuffle.partitions"
                )
            try:
                self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
                self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
            except BaseException:
                _SHUFFLE_SCOPE_LOCK.release()
                raise
        return self

    def __exit__(self, *exc):
        if self.n is not None:
            try:
                self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
            finally:
                _SHUFFLE_SCOPE_LOCK.release()
        return False

def _events_raw_schema(sf_dir: str) -> tuple[T.StructType, bool]:
    """File-stream sources need an explicit schema; fixture generations
    differ (TIMESTAMP(NANOS) vs TIMESTAMP(MICROS)), so sniff the parquet
    footer (metadata-only read) and return (schema, ts_is_nanos_long)."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):  # directory layout: sniff any part file
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:  # only _SUCCESS / interrupted write: diagnosable error
            raise ValueError(f"no parquet part files under {path}")
        path = parts[0]
    ts_arrow = pq.read_schema(path).field("ts").type
    nanos = "ns" in str(ts_arrow)
    ts_field = T.LongType() if nanos else T.TimestampNTZType()
    return (
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", ts_field),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        ),
        nanos,
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events fixture as a file-source stream, ts normalized to micros
    TimestampType like the batch loader in sources.py."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema, nanos = _events_raw_schema(sf_dir)
    raw = _stream_table(spark, sf_dir, "events", schema)
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _stream_table(spark: SparkSession, sf_dir: str, table: str, schema):
    """File-source stream over ``<sf_dir>/<table>.parquet`` in EITHER
    layout: a directory of part files (the normal production layout —
    streamed directly, new part files are new stream input) or the
    driver fixture's single file (the file-stream source requires a
    directory, so stream the sf dir with a filename glob; the glob is
    matched against leaf file NAMES, which is why it cannot also cover
    the directory layout)."""
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    reader = spark.readStream.schema(schema).format("parquet")
    if os.path.isdir(path):
        return reader.load(path)
    return reader.option("pathGlobFilter", f"{table}.parquet").load(sf_dir)


def hourly_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of e01_hourly_rollup (watermark bounds
    state; late events beyond 2h are dropped)."""
    ev = stream_events(spark, sf_dir)
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization with the built-in session_window —
    the streaming counterpart of e02_sessionization's lag+cumsum.
    e41_native_session_window registers the identical aggregation as
    an oracle-checked batch query, so this stream is batch-equality
    pinned against it (tests/test_streaming.py)."""
    ev = stream_events(spark, sf_dir)
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def user_running_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total carried in explicit state across
    micro-batches (the pattern for operators Spark's built-ins lack)."""
    return user_running_totals_over(stream_events(spark, sf_dir))


def user_running_totals_over(ev: DataFrame) -> DataFrame:
    """The applyInPandasWithState running-totals kernel over ANY
    events-shaped streaming DataFrame — ONE definition shared by e47
    (full-fixture stream) and e48 (checkpoint-restart over a
    two-commit source), so the stateful semantics can never fork."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_foreach_batch_parquet(
    df: DataFrame, checkpoint_dir: str, out_dir: str,
    output_mode: str = "update",
    state_partitions: int | None = None,
) -> int:
    """Drive a streaming DataFrame to completion (availableNow) through
    foreachBatch, writing each micro-batch to ``out_dir/bid=<batchId>``
    as parquet — the production exactly-once custom-sink pattern
    (idempotent per-batchId overwrite; a replayed batch lands on the
    same path), and the sink class that supports RESTART from a
    checkpoint (memory/console sinks refuse recovery). Returns the
    number of input rows THIS run processed (summed over its progress
    events) — a restarted run over an already-processed source must
    report only the NEW rows, which is how e48 pins that recovery
    resumed instead of reprocessing.

    The count comes from the run's progress events (the only place
    INPUT rows are visible — ``df`` is typically a stateful
    transformation, so the foreachBatch DataFrame holds its OUTPUT
    rows, a different quantity). recentProgress is a ring buffer
    capped at spark.sql.streaming.numRecentProgressUpdates (default
    100): a run exceeding the cap would silently undercount, flipping
    e48's restart verdict to a false failure (or masking a real
    reprocess) on larger sources — so a saturated buffer is a LOUD
    error here, with the config knob to raise (round-11 ADVICE)."""

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(f"{out_dir}/bid={batch_id}")

    with _shuffle_partitions_during(df.sparkSession, state_partitions):
        q = (
            df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    progress = q.recentProgress or []
    cap = int(
        df.sparkSession.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
    )
    if len(progress) >= cap:
        raise RuntimeError(
            f"recentProgress ring buffer saturated ({len(progress)} >= "
            f"{cap}): the input-row total would silently undercount; raise "
            f"spark.sql.streaming.numRecentProgressUpdates above the run's "
            f"micro-batch count before trusting this sum"
        )
    return int(sum(p["numInputRows"] for p in progress))


def run_stream_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame to completion over the (finite)
    fixture and return the materialized result as a batch DataFrame.
    ``state_partitions`` (see stream_state_partitions) scopes the
    stateful-shuffle width to the run; partitioning never changes the
    emitted row set."""
    with _shuffle_partitions_during(df.sparkSession, state_partitions):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def click_purchase_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases matched to the same user's
    clicks in the preceding 30 minutes. Watermarks on both sides bound
    the join state; the time-range condition lets Spark expire buffered
    rows (the canonical stream-stream join pattern)."""
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts < p_ts"
        ),
        "inner",
    ).select("purchase_id", "click_id", "p_user", "p_ts", "c_ts", "value")


_DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents fixture as a file-source stream (an ingestion pipeline's
    view of a document feed). Directory or single-file layout — see
    ``_stream_table``."""
    return _stream_table(spark, sf_dir, "documents", _DOCS_RAW_SCHEMA)


def doc_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup — the streaming counterpart of d01:
    first-seen-wins on the content hash, so an ingestion pipeline
    emits each distinct text exactly once across micro-batches.

    State = one row per distinct hash. In production the feed carries an
    ingest timestamp and this becomes ``withWatermark(ingest_ts, ...)``
    + ``dropDuplicatesWithinWatermark`` so state ages out; the fixture
    has no time column, so the demo keeps unbounded state (fine for a
    finite replay, documented here for the scale path).
    """
    docs = stream_documents(spark, sf_dir)
    return docs.withColumn("content_hash", F.md5("text")).dropDuplicates(
        ["content_hash"]
    ).select("doc_id", "content_hash", "lang", "source")


def funnel_stage_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of e07_funnel_steps via
    applyInPandasWithState: per-user state carries the earliest
    sequential (view, click, purchase) times; each micro-batch folds its
    events in time order into that state and emits the user's current
    stage. Micro-batches from the replayed log arrive in time order, so
    cross-batch event order matches e07's global ORDER BY ts.

    Timestamps ride as int64 epoch-micros inside state/output (exact,
    engine-neutral — same trick as the batch quantization paths).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir).withColumn("ts_us", F.unix_micros("ts"))

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("view_us", T.LongType()),
            T.StructField("click_us", T.LongType()),
            T.StructField("purchase_us", T.LongType()),
            T.StructField("funnel_stage", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("view_us", T.LongType()),
            T.StructField("click_us", T.LongType()),
            T.StructField("purchase_us", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        v, c, p = state.get if state.exists else (None, None, None)
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for et, ts_us in zip(pdf["event_type"], pdf["ts_us"]):
                ts_us = int(ts_us)
                if et == "view" and v is None:
                    v = ts_us
                elif et == "click" and c is None and v is not None and ts_us > v:
                    c = ts_us
                elif et == "purchase" and p is None and c is not None and ts_us > c:
                    p = ts_us
        state.update((v, c, p))
        stage = 3 if p is not None else 2 if c is not None else 1 if v is not None else 0
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "view_us": [v],
                "click_us": [c],
                "purchase_us": [p],
                "funnel_stage": [stage],
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of e10_last_touch_attribution via
    applyInPandasWithState: per-user state carries the latest marketing
    touch (type + epoch-micros); each micro-batch folds its events in
    time order and emits one row per purchase with the attributed
    channel and exact integer lag. The carry-forward survives across
    micro-batches — precisely what the batch window's UNBOUNDED
    PRECEDING frame computes over the full log.

    Scale: state is two scalars per user (bounded, no timeline kept);
    the state store shards on user_id like every keyed stateful op.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir).withColumn("ts_us", F.unix_micros("ts"))

    out_schema = T.StructType(
        [
            T.StructField("purchase_event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("channel", T.StringType()),
            T.StructField("lag_us", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("touch_type", T.StringType()),
            T.StructField("touch_us", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        touch_type, touch_us = state.get if state.exists else (None, None)
        out_id, out_ch, out_lag, out_val = [], [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for eid, et, ts_us, val in zip(
                pdf["event_id"], pdf["event_type"], pdf["ts_us"], pdf["value"]
            ):
                ts_us = int(ts_us)
                if et == "purchase":
                    out_id.append(int(eid))
                    out_ch.append(touch_type or "organic")
                    out_lag.append(
                        None if touch_us is None else ts_us - touch_us
                    )
                    out_val.append(float(val))
                elif et in ("view", "click"):
                    touch_type, touch_us = et, ts_us
        state.update((touch_type, touch_us))
        yield pd.DataFrame(
            {
                "purchase_event_id": pd.array(out_id, dtype="Int64"),
                "user_id": pd.array([key[0]] * len(out_id), dtype="Int64"),
                "channel": out_ch,
                "lag_us": pd.array(out_lag, dtype="Int64"),
                "value": out_val,
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def transitions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of e11_event_transitions via
    applyInPandasWithState: per-user state carries only the LAST event
    type; each micro-batch folds its events in time order and emits one
    row per observed (prev → next) transition. Aggregating the emitted
    pairs reproduces the batch transition matrix exactly.

    Scale: state is one string per user; emission is linear in the
    batch. The downstream count-by-pair is a normal bounded-cardinality
    aggregation (~|types|²)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir).withColumn("ts_us", F.unix_micros("ts"))

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("prev_type", T.StringType()),
            T.StructField("next_type", T.StringType()),
        ]
    )
    state_schema = T.StructType([T.StructField("last_type", T.StringType())])

    def update(key, pdfs, state: GroupState):
        (last,) = state.get if state.exists else (None,)
        prevs, nexts = [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for et in pdf["event_type"]:
                if last is not None:
                    prevs.append(last)
                    nexts.append(et)
                last = et
        state.update((last,))
        yield pd.DataFrame(
            {
                "user_id": pd.array([key[0]] * len(prevs), dtype="Int64"),
                "prev_type": pd.array(prevs, dtype="string"),
                "next_type": pd.array(nexts, dtype="string"),
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hopping_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of e16_hopping_windows: the same
    F.window(size, slide) call runs incrementally — each event updates
    its size/slide = 4 open windows, and the watermark closes windows
    (and frees their state) once event time passes window_end + delay.
    The summed measure is integer-quantized millis exactly like the
    batch query, so stream and batch agree bit-for-bit."""
    ev = stream_events(spark, sf_dir)
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "120 minutes", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000.0).cast("long")).alias("sum_millis"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_millis",
        )
    )


def cms_grid_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of the x07 count-min-sketch grid: the
    sketch is a pure monoid (cell-wise integer addition), so the SAME
    DEPTH×WIDTH aggregate runs incrementally — each micro-batch's
    partial grid merges into the running one by the aggregate's own
    combine step. This is why CMS (and HLL, x06) are the 100 TB
    streaming frequency pattern: state is DEPTH×WIDTH integers forever,
    regardless of stream length.

    Run to completion over the finite fixture, the grid equals the
    batch x07 grid cell-for-cell (tested)."""
    from ..operators.hashing import md5_prefix_long
    from ..operators.text import CMS_DEPTH, CMS_WIDTH

    docs = stream_documents(spark, sf_dir)
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    rows = F.array(*[F.lit(r) for r in range(CMS_DEPTH)])
    updates = toks.select("token", F.explode(rows).alias("r")).select(
        "r",
        (
            md5_prefix_long(
                F.concat(F.col("r").cast("string"), F.lit("|"), F.col("token"))
            )
            % CMS_WIDTH
        ).alias("pos"),
    )
    return updates.groupBy("r", "pos").agg(F.count("*").alias("cell_cnt"))


def bitmap_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of x08's packed-bitmap distinct: bit_or is
    a monoid, so the per-(day, word) bitmap aggregate runs
    incrementally — each micro-batch ORs its users' bits into the
    running words. Exact distinct counting over an unbounded stream
    with DAY x |id-space|/63 longs of state, no distinct-set
    materialization. Run to completion, the words equal the batch
    merged bitmap (tested); SUM(bit_count(wbits)) per day is then the
    exact streaming DAU."""
    ev = stream_events(spark, sf_dir)
    return (
        ev.select(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            (F.col("user_id") / 63).cast("long").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("day", "word_idx")
        .agg(F.bit_or("bit").alias("wbits"))
    )


def interarrival_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of e19_interarrival_profile via
    applyInPandasWithState: per-user state carries the last event
    timestamp plus exact integer gap accumulators (count, sum, min,
    max, seconds-resolution sum/sum-of-squares); each micro-batch folds
    its events in time order and emits the updated profile. The LAST
    update per user equals the batch e19 integer columns exactly, and
    the burstiness inputs (s1, s2) are exposed so the coefficient can
    be finished downstream.

    Scale: state is six integers per user; within-batch work is linear
    after a per-user sort. Watermarking bounds state only if users
    expire — profiles are naturally compact, so NoTimeout is sound.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir).withColumn("ts_us", F.unix_micros("ts"))

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_gaps", T.LongType()),
            T.StructField("min_gap_us", T.LongType()),
            T.StructField("max_gap_us", T.LongType()),
            T.StructField("sum_gap_us", T.LongType()),
            T.StructField("s1", T.LongType()),
            T.StructField("s2", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("mn", T.LongType()),
            T.StructField("mx", T.LongType()),
            T.StructField("sm", T.LongType()),
            T.StructField("s1", T.LongType()),
            T.StructField("s2", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        last, n, mn, mx, sm, s1, s2 = (
            state.get if state.exists else (None, 0, None, None, 0, 0, 0)
        )
        # One group's batch may arrive as MULTIPLE Arrow chunks with no
        # cross-chunk ordering guarantee — concatenate first, then sort
        # ONCE, so gaps never fold across chunk boundaries out of time
        # order (per-chunk sorting would).
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts_us", "event_id"])
            for ts_us in pdf["ts_us"]:
                ts_us = int(ts_us)
                if last is not None:
                    g = ts_us - last
                    gs = g // 1_000_000
                    n += 1
                    sm += g
                    s1 += gs
                    s2 += gs * gs
                    mn = g if mn is None else min(mn, g)
                    mx = g if mx is None else max(mx, g)
                last = ts_us
        state.update((last, n, mn, mx, sm, s1, s2))
        yield pd.DataFrame(
            {
                "user_id": pd.array([key[0]], dtype="Int64"),
                "n_gaps": pd.array([n], dtype="Int64"),
                "min_gap_us": pd.array([mn], dtype="Int64"),
                "max_gap_us": pd.array([mx], dtype="Int64"),
                "sum_gap_us": pd.array([sm], dtype="Int64"),
                "s1": pd.array([s1], dtype="Int64"),
                "s2": pd.array([s2], dtype="Int64"),
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def decontaminate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of d15_bloom_prefilter: a training-doc
    FEED is decontaminated against a STATIC eval set. The 8 KiB Bloom
    bitmap of the eval shingles is built once batch-side (the
    IncrementalEvalIndex role) and broadcast as a plan literal into
    the streaming stage, so non-candidate shingles die row-local
    inside each micro-batch; only Bloom survivors reach the
    stream-static join against the exact eval universe. Output: per
    train doc, bloom hits, exact hits, and the drop verdict — the d15
    columns.

    Scale: the static side is eval-sized (bitmap O(1) broadcast,
    universe a normal broadcast/shuffle join candidate); streaming
    state is only the aggregation's per-doc counters, bounded by docs
    in flight. In production the feed carries an ingest timestamp and
    the agg takes a watermark so state ages out; the fixture has no
    time column, so the finite replay runs in complete mode.
    """
    from ..dedup_index import shingle_hash_rows
    from ..operators.dedup import (
        DECONTAM_MIN_SHINGLES,
        EVAL_SET_MOD,
        bloom_hits_of,
        bloom_words_of,
    )
    from ..sources import load_table

    # Static eval side (batch): universe + packed bitmap words — the
    # EXACT d15 kernels (shared helpers), so stream == batch by
    # construction. The universe is persisted: it feeds the bitmap
    # build once and then the stream-static join of EVERY micro-batch,
    # which would otherwise re-derive the eval shingle pipeline per
    # batch.
    eval_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % EVAL_SET_MOD == 0
    )
    univ = (
        shingle_hash_rows(eval_docs, "doc_id", "text")
        .select("h")
        .distinct()
        .persist()
    )
    bitmap = bloom_words_of(univ)

    train = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % EVAL_SET_MOD != 0
    )
    hashed = shingle_hash_rows(train, "doc_id", "text")
    hits = bloom_hits_of(hashed, bitmap)
    # Stream-static LEFT join marks exact membership; one aggregation
    # then yields both counters.
    marked = hits.join(
        univ.withColumn("exact", F.lit(1)), "h", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bloom_hits"),
            F.count("exact").alias("n_exact_hits"),
        )
        .select(
            "doc_id",
            "n_bloom_hits",
            "n_exact_hits",
            (F.col("n_bloom_hits") - F.col("n_exact_hits")).alias("n_false_pos"),
            (F.col("n_exact_hits") >= DECONTAM_MIN_SHINGLES)
            .cast("long")
            .alias("drop_doc"),
        )
    )


def group_sample_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of x12_uniform_group_sample via
    applyInPandasWithState: per-source state keeps the K smallest
    (md5-rank, doc_id) pairs seen so far, so an ingestion pipeline
    maintains a LIVE deterministic QA sample that converges to exactly
    the batch x12 membership once the feed is drained (same hash, same
    tie-break — batch-equality is asserted in tests).

    State: 2·K int64s per source — bounded regardless of feed size.
    Each micro-batch folds in one pass over its rows (no sort needed:
    a K-sized insertion against the current worst member). Update mode
    emits the sample after every batch; downstream readers take the
    last update per source.
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.text import X12_K

    docs = stream_documents(spark, sf_dir).select("source", "doc_id")

    out_schema = T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("sample_rank", T.LongType()),
            T.StructField("doc_id", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("hks", T.ArrayType(T.LongType())),
            T.StructField("ids", T.ArrayType(T.LongType())),
        ]
    )

    def _hk(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            hks, ids = state.get
            members = sorted(zip(hks, ids))
        else:
            members = []
        for pdf in pdfs:
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                cand = (_hk(doc_id), doc_id)
                if len(members) < X12_K:
                    members.append(cand)
                    members.sort()
                elif cand < members[-1]:
                    members[-1] = cand
                    members.sort()
        state.update(([h for h, _ in members], [i for _, i in members]))
        yield pd.DataFrame(
            {
                "source": [key[0]] * len(members),
                "sample_rank": pd.array(
                    range(1, len(members) + 1), dtype="Int64"
                ),
                "doc_id": pd.array([i for _, i in members], dtype="Int64"),
            }
        )

    return docs.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def log2_histogram_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of x14's power-of-two histogram: the
    (source, bucket) count grid is a pure monoid (cell-wise addition),
    so the SAME broadcast range-join + aggregate runs incrementally —
    each micro-batch's partial counts merge through the aggregate's own
    combine step, and the quantile read-off happens at query time over
    the ≤ 41-longs-per-source state. This is the streaming shape of
    the q63 SCALING note's percentile answer: exact percentile needs
    the full multiset, the log2 histogram needs a fixed grid forever.

    Run to completion over the finite fixture, the grid equals x14's
    batch histogram cell-for-cell (tested)."""
    from ..operators.events import X14_BUCKETS

    docs = stream_documents(spark, sf_dir)
    vals = docs.select(
        "source", F.size(F.split("text", " ")).cast("long").alias("v")
    )
    bounds = spark.range(X14_BUCKETS).select(
        F.col("id").cast("long").alias("k"),
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(id AS INT)) AS BIGINT)")
        .alias("lo"),
        F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), CAST(id + 1 AS INT)) - 1"
            " AS BIGINT)"
        ).alias("hi"),
    )
    return (
        vals.join(
            F.broadcast(bounds),
            (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")),
        )
        .groupBy("source", "k")
        .agg(F.count("*").alias("c"))
    )


def frequency_cap_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of x15's frequency cap via
    applyInPandasWithState: per-user state is two integers (events
    seen, events kept); each micro-batch folds its events in
    (ts, event_type) order and admits only while the running count is
    under X15_CAP — the live admission decision a streaming ingest
    makes, where the batch x15 is the retrospective audit. The LAST
    update per user satisfies n_kept == min(n_seen, X15_CAP) against
    the batch per-user counts (tested).

    Scale: state is two integers per user, forever — the cap is the
    point: unbounded per-user history is exactly what this operator
    exists to avoid."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.events import X15_CAP

    ev = stream_events(spark, sf_dir).withColumn("ts_us", F.unix_micros("ts"))

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_seen", T.LongType()),
            T.StructField("n_kept", T.LongType()),
            T.StructField("capped", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_seen", T.LongType()),
            T.StructField("n_kept", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n_seen, n_kept = state.get if state.exists else (0, 0)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts_us", "event_type"])
            for _ in range(len(pdf)):
                n_seen += 1
                if n_kept < X15_CAP:
                    n_kept += 1
        state.update((n_seen, n_kept))
        yield pd.DataFrame(
            {
                "user_id": pd.array([key[0]], dtype="Int64"),
                "n_seen": pd.array([n_seen], dtype="Int64"),
                "n_kept": pd.array([n_kept], dtype="Int64"),
                "capped": [n_seen > X15_CAP],
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def kmv_sketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of x11/x16's KMV sketches via
    applyInPandasWithState: per event type the state is the KMV_K
    smallest DISTINCT user-id hashes — a true mergeable sketch (k
    longs forever), folded incrementally per micro-batch. Run to
    completion, the LAST update per type equals the batch KMV
    construction hash-for-hash, and x16's A-not-B audience estimate
    derives from the two final sketches ALONE (tested) — the live form
    of the exclusion query, where batch x16 is the retrospective
    audit."""
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.events import KMV_K, X11_A, X11_B

    ev = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type").isin(X11_A, X11_B))
        .select("event_type", "user_id")
    )
    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("k_used", T.LongType()),
            T.StructField("kth_min", T.LongType()),
            T.StructField("hashes", T.ArrayType(T.LongType())),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("hs", T.ArrayType(T.LongType()))]
    )

    def _hk(uid: int) -> int:
        # same 32-bit md5-prefix value as operators.hashing.md5_prefix_long
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16)

    def update(key, pdfs, state: GroupState):
        hs = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            hs.update(_hk(int(u)) for u in pdf["user_id"])
            if len(hs) > KMV_K:  # trim once per batch, not per event
                hs = set(sorted(hs)[:KMV_K])
        out = sorted(hs)[:KMV_K]
        state.update((out,))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "k_used": pd.array([len(out)], dtype="Int64"),
                "kth_min": pd.array(
                    [max(out) if out else 0], dtype="Int64"
                ),
                "hashes": [out],
            }
        )

    return ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def lsh_candidates_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming counterpart of p17's per-batch LSH candidate lookup:
    a document FEED (the odd-doc_id half of the fixture, standing in
    for newly ingested docs) is near-dup-checked against a STATIC
    band-index snapshot of the full corpus (the IncrementalLSHIndex
    role) as each micro-batch lands.

    The banding on the stream side is STATELESS by construction —
    dedup_index.band_rows_stateless computes each document's minhash_j
    as array_min over its own shingle array, so no streaming
    aggregation (and no aggregate-then-join restriction) is ever
    involved. Identical values by the min-over-elements identity; the
    signature expressions and band layout are SHARED definitions with
    the batch kernel (hashing.band_select and its hash helpers), so a
    constant change cannot break one side silently; the batch-equality
    test pins stream == p17 kernel exactly.

    Scale: per-batch work is shingle+signature projection (row-local,
    Arrow-free, all JVM expressions) + one stream-static join on
    (band_id, band_key) against the materialized index — O(batch) per
    trigger, index-size-independent on the stream side. The stateful
    bit is only the final dropDuplicates on the emitted pair key; in
    production the pair stream carries an ingest timestamp and this
    becomes dropDuplicatesWithinWatermark so state ages out.
    """
    from ..dedup_index import band_rows_stateless

    # Static side: the maintained index's band rows over the FULL
    # corpus (what the IncrementalLSHIndex holds after its refreshes),
    # materialized through the session memo so every micro-batch — and
    # every re-construction of this stream in the session — joins ONE
    # localCheckpointed table instead of re-deriving the banding or
    # stacking a new persist() per call; the memo's documented
    # lifetime (pruned on session change, blocks die with the session)
    # replaces the raw never-unpersisted cache flagged in ADVICE r9.
    # the session-wide banding memo (operators.dedup) — identical rows
    # to band_rows over the documents table; the former private
    # "lsh_stream_static_bands" memo duplicated the same derivation
    from ..operators.dedup import _docs_band_rows_hint

    static_bands = _docs_band_rows_hint(spark, sf_dir)()

    feed = stream_documents(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    feed_bands = band_rows_stateless(feed, "doc_id", "text").select(
        F.col("doc_id").alias("feed_doc"), "band_id", "band_key"
    )
    return (
        feed_bands.join(static_bands, ["band_id", "band_key"])
        .filter(F.col("feed_doc") != F.col("doc_id"))
        .select(
            F.least("feed_doc", "doc_id").alias("doc_a"),
            F.greatest("feed_doc", "doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )

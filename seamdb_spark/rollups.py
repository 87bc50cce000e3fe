"""Incremental rollup maintenance over engine tables (continuous
aggregates / materialized-view maintenance — the hypertable pattern).

A rollup stores MERGEABLE partial aggregates (count + per-column sums)
grouped by user-declared key expressions. ``refresh()`` diffs the
source table's snapshot manifest (seamdb_spark.snapshots) against the
file set already processed and aggregates ONLY the newly appended
segment files, merging their partials into the stored state — work per
refresh is O(new data), never O(table). The read path finalizes
derived aggregates (averages) from the partials.

Correctness stance: the rollup state after any refresh equals the full
recompute over the source snapshot (tested in tests/test_rollups.py),
because count/sum partials form a commutative monoid — merge order and
batching cannot change the result. If the manifest shows processed
files DISAPPEARING (compaction / overwrite rewrote history), the
refresh detects it and falls back to a full rebuild from the current
snapshot — incrementality is an optimization, never a correctness
assumption.

Scale notes (100 TB): the per-refresh scan is the new segments only;
the merge shuffles (old state ∪ new partials) on the rollup key, whose
cardinality is the rollup's, not the fact table's. State commits reuse
the snapshot writer (atomic manifest swap), so rollup readers see
either the pre- or post-refresh state, never a torn merge.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import local_frame
from .snapshots import TableSnapshots


class ContinuousRollup:
    """Materialized incremental rollup of an Engine table.

    keys: list of (alias, sql_expr) grouping expressions evaluated
          against the source table (e.g. ("hour_bucket", "ts DIV 3600")).
    sum_cols: numeric source columns to maintain sums (and averages) for.
    """

    def __init__(self, engine, name: str, source: str,
                 keys: list[tuple[str, str]], sum_cols: list[str]) -> None:
        self.engine = engine
        self.name = name
        self.source = source
        self.keys = keys
        self.sum_cols = sum_cols
        base = os.path.join(
            engine.store.warehouse_dir, "_rollups", engine.database, name
        )
        self.state = TableSnapshots(os.path.join(base, "state"))

    # ------------------------------------------------------------ meta
    # The processed-source-file list is stored INSIDE the state
    # snapshot's manifest (TableSnapshots extra=), so data and metadata
    # become durable in one os.replace — there is no window where the
    # merged partials exist but the processed list doesn't (which would
    # silently double-count those segments on the next refresh).
    def _processed(self) -> list[str] | None:
        """Processed file list, or None if the state predates it /
        lost it — in which case incremental diffing is unsound and the
        caller must rebuild."""
        extra = self.state.current_extra()
        if "processed" in extra:
            return extra["processed"]
        return None if self.state.current_version() > 0 else []

    # --------------------------------------------------------- helpers
    def _source_snaps(self) -> TableSnapshots:
        store = self.engine.store
        return TableSnapshots(store.table_dir(self.engine.database, self.source))

    def _source_schema(self):
        return self.engine.store.get_table(
            self.engine.database, self.source
        ).spark_schema()

    def _partials(self, df: DataFrame) -> DataFrame:
        grouped = df.select(
            *[F.expr(expr).alias(alias) for alias, expr in self.keys],
            *self.sum_cols,
        )
        return grouped.groupBy(*[a for a, _ in self.keys]).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.sum(c).alias(f"sum_{c}") for c in self.sum_cols],
        )

    def _state_schema(self, partials: DataFrame):
        return partials.schema

    # ------------------------------------------------------------- api
    def refresh(self) -> dict:
        """Fold newly appended source segments into the rollup state.

        Returns {"mode": "incremental"|"rebuild"|"noop",
                 "files_read": <segments scanned this refresh>}.
        """
        spark = self.engine.spark
        snaps = self._source_snaps()
        current = snaps.current_files()
        processed_list = self._processed()
        processed = set(processed_list or [])
        unsound = processed_list is None  # state exists but lineage lost
        vanished = processed - set(current)
        new_files = [f for f in current if f not in processed]

        if vanished or unsound:
            # History rewritten (compaction/overwrite) or lineage
            # unknown: incremental diff is no longer sound — rebuild
            # from the current snapshot. An EMPTY current snapshot must
            # still commit (empty state, processed=[]) so readers stop
            # seeing aggregates for data that no longer exists.
            full = spark.read.schema(self._source_schema()).parquet(*current) \
                if current else local_frame(spark, [], self._source_schema())
            self.state.commit(
                self._partials(full), mode="overwrite",
                extra={"processed": current},
            )
            return {"mode": "rebuild", "files_read": len(current)}

        if not new_files:
            return {"mode": "noop", "files_read": 0}

        fresh = self._partials(
            spark.read.schema(self._source_schema()).parquet(*new_files)
        )
        if self.state.current_files():
            old = self.state.read(spark, self._state_schema(fresh))
            key_names = [a for a, _ in self.keys]
            merged = (
                old.unionByName(fresh)
                .groupBy(*key_names)
                .agg(
                    F.sum("n_rows").alias("n_rows"),
                    *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in self.sum_cols],
                )
            )
        else:
            merged = fresh
        self.state.commit(merged, mode="overwrite", extra={"processed": current})
        return {"mode": "incremental", "files_read": len(new_files)}

    def read(self) -> DataFrame:
        """Finalized rollup: keys, row count, sums, and derived averages."""
        spark = self.engine.spark
        probe = self._partials(local_frame(spark, [], self._source_schema()))
        state = self.state.read(spark, self._state_schema(probe))
        return state.select(
            *[a for a, _ in self.keys],
            "n_rows",
            *[F.col(f"sum_{c}") for c in self.sum_cols],
            *[
                (F.col(f"sum_{c}") / F.col("n_rows")).alias(f"avg_{c}")
                for c in self.sum_cols
            ],
        )

"""Incremental rollup maintenance over engine tables (continuous
aggregates / materialized-view maintenance — the hypertable pattern).

A rollup stores MERGEABLE partial aggregates (count + per-column sums)
grouped by user-declared key expressions. ``refresh()`` takes the
source's manifest diff (``snapshots.source_delta``, shared with the
text and IVF indexes) and aggregates ONLY the newly appended segment
files, merging their partials into the stored state — work per
refresh is O(new data), never O(table). The read path finalizes
derived aggregates (averages) from the partials.

Correctness stance: the rollup state after any refresh equals the full
recompute over the source snapshot (tested in tests/test_rollups.py),
because count/sum partials form a commutative monoid — merge order and
batching cannot change the result. When the diff says rebuild (lineage
lost, or compaction / overwrite rewrote history), the partials are
recomputed from the current snapshot.

Scale notes (100 TB): the per-refresh scan is the new segments only;
the merge shuffles (old state ∪ new partials) on the rollup key, whose
cardinality is the rollup's, not the fact table's. State commits reuse
the snapshot writer (atomic manifest swap), so rollup readers see
either the pre- or post-refresh state, never a torn merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import local_frame
from .snapshots import Incremental


class ContinuousRollup(Incremental):
    """Materialized incremental rollup of an Engine table.

    keys: list of (alias, sql_expr) grouping expressions evaluated
          against the source table (e.g. ("hour_bucket", "ts DIV 3600")).
    sum_cols: numeric source columns to maintain sums (and averages) for.
    """

    def __init__(self, engine, name: str, source: str,
                 keys: list[tuple[str, str]], sum_cols: list[str]) -> None:
        super().__init__(*self.engine_table(engine, source, "_rollups", name))
        self.name = name
        self.keys = keys
        self.sum_cols = sum_cols

    def _partials(self, df: DataFrame) -> DataFrame:
        grouped = df.select(
            *[F.expr(expr).alias(alias) for alias, expr in self.keys],
            *self.sum_cols,
        )
        return grouped.groupBy(*[a for a, _ in self.keys]).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.sum(c).alias(f"sum_{c}") for c in self.sum_cols],
        )

    # ------------------------------------------------------------- api
    def refresh(self) -> dict:
        """Fold newly appended source segments into the rollup state.

        Returns {"mode": "incremental"|"rebuild"|"noop",
                 "files_read": <segments scanned this refresh>}.
        """
        delta = self.delta()
        if delta.mode == "noop":
            return {"mode": "noop", "files_read": 0}
        merged = self._partials(self.read_source(delta.files))
        if delta.mode == "incremental" and self.state.current_files():
            old = self.state.read(self._spark, merged.schema)
            merged = (
                old.unionByName(merged)
                .groupBy(*[a for a, _ in self.keys])
                .agg(
                    F.sum("n_rows").alias("n_rows"),
                    *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in self.sum_cols],
                )
            )
        # the processed list rides in the state manifest (one os.replace
        # with the partials), so a crash can never double-count segments
        self.state.commit(
            merged, mode="overwrite", extra={"processed": delta.processed}
        )
        return {"mode": delta.mode, "files_read": len(delta.files)}

    def read(self) -> DataFrame:
        """Finalized rollup: keys, row count, sums, and derived averages."""
        probe = self._partials(local_frame(self._spark, [], self.source_schema()))
        state = self.state.read(self._spark, probe.schema)
        return state.select(
            *[a for a, _ in self.keys],
            "n_rows",
            *[F.col(f"sum_{c}") for c in self.sum_cols],
            *[
                (F.col(f"sum_{c}") / F.col("n_rows")).alias(f"avg_{c}")
                for c in self.sum_cols
            ],
        )

"""Incremental IVF (inverted-file) ANN index maintenance — the p16
snapshot-backed-index move (dedup_index.py) applied to the similarity
family: instead of re-training a coarse quantizer and re-assigning the
whole corpus per query run (s03's build), the index PERSISTS centroids
+ cell assignments in a snapshot table and ``refresh()`` folds in only
newly appended source segments.

Maintenance contract (the p20 oracle identity):

- **train** (first refresh): Lloyd centroids (similarity._centroid_rows
  — the s03 trainer, one definition) over the seed snapshot; every
  seed vector assigned to its nearest centroid (assign_cells — shared
  with s03).
- **incremental** (append batches): new vectors are assigned to the
  EXISTING centroids — O(batch × K), corpus-independent — and appended
  to the index. Because assignment is per-vector deterministic given
  centroids, the index after any append sequence equals one-shot
  assignment of the full corpus against the seed-trained centroids:
  batch splits are invisible, which is exactly what the DuckDB full
  replay checks (operators/similarity._p20_oracle).
- **per-cell running stats**: each refresh folds the batch's per-cell
  (count, Σvec) into manifest ``extra`` — counts and element sums are
  commutative monoids, so the running values equal a full groupBy over
  all assignments (the p15 rollup identity). Candidate re-centered
  centroids (one exact Lloyd-step mean, ``sum div count``) then cost
  O(K) driver work, never a corpus scan. The p20 gate pins this
  transitively: its per-cell move counts only match the oracle if the
  running sums equal the replay's full-aggregate means.
- **drift / retrain**: drift = how many indexed vectors would move to
  a different cell under the candidate centroids (s17's reassignment
  metric against the index's own next step). When
  1000·moves > retrain_permille·n_indexed (exact integer compare — no
  float thresholds), ``refresh()`` re-centers: candidate centroids
  become the index centroids and all index rows are reassigned
  (mode="retrain"). The gate fixture stays below the default
  threshold, so the oracle replay pins the NOT-retrained state with
  per-cell move counts as checked columns; the retrain path is pinned
  in tests/test_dedup_index.py with retrain_permille=0.
- **rebuild** / **noop**: what to read is the source's manifest diff
  (``snapshots.source_delta``, the one diff the rollup and the text
  indexes use too). When it says rebuild (lineage lost, or compaction
  rewrote history), retrain from the current snapshot; with no new
  segment, nothing is read or committed.

Scale notes (100 TB): per-refresh assignment scans new segments only
(K×64 int64 centroids broadcast as a plan literal); index rows carry
the quantized vector so no source re-read ever happens after indexing;
candidate centroids are O(K) from the running stats. The exact drift
count scans index rows × K broadcast — cheap relative to a retrain,
and at full scale it runs on a deterministic vec_id-sample (same
integer compare on the sampled counts); the gate SFs compute it
exactly.

Reference parity: the reference has no vector index; this is part of
the training-data-pipeline surface the brief adds (ANN family,
SURVEY.md §2 additions), completing the incremental-index story for
both retrieval families (LSH: dedup_index.py, IVF: here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import local_frame
from .snapshots import Incremental, SourceDelta, recorded_bytes, segment_files

# Re-center when >50% of indexed vectors would change cells under the
# one-step re-centered centroids. Deliberately high: appends drawn from
# the same distribution as the seed corpus move few vectors (the seed
# centroids already ≈ full-corpus centroids), so steady state is
# incremental; a genuine distribution shift (new domain, new encoder)
# moves a large fraction and forces the re-center.
IVF_RETRAIN_PERMILLE = 500

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cid", T.IntegerType()),
        T.StructField("q", T.ArrayType(T.LongType())),
    ]
)
_CELL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("cid", T.IntegerType()),
        T.StructField("sums", T.ArrayType(T.LongType())),
        T.StructField("n", T.LongType()),
    ]
)


class IncrementalIVFIndex(Incremental):
    """Snapshot-backed IVF index over a TableSnapshots source of
    (vec_id, embedding array<float>) rows."""

    def __init__(
        self,
        spark: SparkSession,
        source_path: str,
        source_schema: T.StructType,
        state_path: str,
        retrain_permille: int = IVF_RETRAIN_PERMILLE,
    ) -> None:
        super().__init__(spark, source_path, source_schema, state_path)
        self.retrain_permille = retrain_permille

    # --------------------------------------------------------- helpers
    def _quant_of(self, files: list[str]) -> DataFrame:
        """(vec_id, q) fixed-point vectors of the given source segments
        (similarity._qemb — one quantization definition), spread across
        cores first (``read_source``). Each state commit then coalesces
        its pinned batch to ``segment_files`` of the input's
        manifest-recorded bytes (no shuffle, no recompute); unmeasured
        input keeps the spread."""
        from .operators.similarity import _qemb

        return _qemb(self.read_source(files, spread_by="vec_id"))

    def _cdf(self, centroids: list) -> DataFrame:
        """The K×64 centroid table (similarity.centroid_frame);
        assign_cells broadcasts it at its join."""
        from .operators.similarity import centroid_frame

        return centroid_frame(self._spark, centroids)

    def centroids(self) -> list[tuple[int, list[int]]]:
        return [
            (int(c), [int(x) for x in v])
            for c, v in self.state.current_extra().get("centroids", [])
        ]

    def index(self) -> DataFrame:
        """The current index rows (vec_id, cid, q)."""
        return self.state.read(self._spark, _STATE_SCHEMA)

    def candidate_centroids(self) -> DataFrame:
        """(cid, cvec) one-step re-centered centroids from the running
        per-cell stats — O(K) driver state in, O(K) rows out, never a
        corpus scan. ``sum div count`` runs IN SPARK so the integer
        division matches the trainer's means (and the oracle's ``//``)
        exactly; empty cells yield no row, like lloyd_means. The frame
        carries no join hint: assign_cells, which joins it, applies
        the broadcast at its join (a hint on a frame that is only
        collected is logged as "not part of a join relation")."""
        extra = self.state.current_extra()
        rows = [
            (int(cid), [int(x) for x in sums], int(extra["cell_counts"][cid]))
            for cid, sums in extra["cell_sums"].items()
            if int(extra["cell_counts"][cid]) > 0
        ]
        return local_frame(self._spark, rows, _CELL_STATS_SCHEMA).select(
            "cid", F.expr("transform(sums, s -> s div n)").alias("cvec")
        )

    def drift_report(self) -> DataFrame:
        """(cid, n_vecs, n_moved) per current cell: how many of its
        vectors would move under the candidate re-centered centroids
        (s17's reassignment metric against the index's own next step).

        Single pass over the index: the stored cid rides the
        re-assignment aggregate (assign_cells ``carry``) instead of a
        second index scan joined back on vec_id — the join was 1:1 by
        construction (both sides the same index rows), so dropping it
        removes one full index scan plus a vec_id shuffle join per
        drift evaluation while producing identical rows."""
        from .operators.similarity import assign_cells

        re_assigned = assign_cells(
            self.index().select(
                "vec_id", F.col("cid").alias("prev_cid"), "q"
            ),
            self.candidate_centroids(),
            carry=("prev_cid",),
        )
        return (
            re_assigned.select(
                "prev_cid",
                F.when(F.col("cid") != F.col("prev_cid"), 1)
                .otherwise(0)
                .alias("moved"),
            )
            .groupBy(F.col("prev_cid").alias("cid"))
            .agg(
                F.count("*").alias("n_vecs"),
                F.sum("moved").alias("n_moved"),
            )
        )

    @staticmethod
    def _stats_of(assigned: DataFrame) -> tuple[int, dict, dict]:
        """(n_vecs, counts{cid}, sums{cid: [dim ints]}) of an assigned
        batch. The batch must be pinned (localCheckpoint) by the
        caller so this aggregate and the snapshot commit share ONE
        derivation; only K×dim bounded rows reach the driver."""
        rows = (
            assigned.select("cid", F.posexplode("q").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        counts: dict[str, int] = {}
        by_pos: dict[str, dict[int, int]] = {}
        for r in rows:
            key = str(int(r.cid))
            by_pos.setdefault(key, {})[int(r.pos)] = int(r.s)
            counts[key] = int(r.n)
        sums = {
            key: [pos_map[p] for p in range(len(pos_map))]
            for key, pos_map in by_pos.items()
        }
        return sum(counts.values()), counts, sums

    @staticmethod
    def _merge_stats(extra: dict, counts: dict, sums: dict) -> dict:
        merged_c = {k: int(v) for k, v in extra.get("cell_counts", {}).items()}
        merged_s = {k: list(v) for k, v in extra.get("cell_sums", {}).items()}
        for cid, n in counts.items():
            merged_c[cid] = merged_c.get(cid, 0) + n
            if cid in merged_s:
                merged_s[cid] = [a + b for a, b in zip(merged_s[cid], sums[cid])]
            else:
                merged_s[cid] = sums[cid]
        return {"cell_counts": merged_c, "cell_sums": merged_s}

    def _train_commit(self, delta: SourceDelta) -> int:
        """Train Lloyd on the delta's source files, assign them, and
        overwrite the index state with them (one derivation: the
        assigned batch is pinned, then both the stats aggregate and the
        commit read the pin). Returns the number of indexed vectors."""
        from .operators.similarity import _centroid_rows, assign_cells

        quant = self._quant_of(delta.files).localCheckpoint(eager=True)
        centroids = _centroid_rows(quant)
        assigned = assign_cells(quant, self._cdf(centroids)).localCheckpoint(
            eager=True
        )
        n, counts, sums = self._stats_of(assigned)
        if delta.in_bytes is not None:
            assigned = assigned.coalesce(segment_files(delta.in_bytes))
        self.state.commit(
            assigned,
            mode="overwrite",
            extra={
                "processed": delta.processed,
                "centroids": centroids,
                **self._merge_stats({}, counts, sums),
            },
        )
        return n

    # ------------------------------------------------------------- api
    def refresh(self) -> dict:
        """Fold newly appended source segments into the index.

        Returns {"mode": "train"|"incremental"|"retrain"|"rebuild"|
        "noop", "files_read", "n_new_vecs", "n_indexed", "n_moved"}.
        """
        from .operators.similarity import assign_cells

        delta = self.delta()
        extra = delta.extra
        if delta.mode == "noop":
            n_indexed = sum(int(v) for v in extra.get("cell_counts", {}).values())
            return {
                "mode": "noop", "files_read": 0,
                "n_new_vecs": 0, "n_indexed": n_indexed, "n_moved": 0,
            }
        if delta.mode == "rebuild" or not extra.get("centroids"):
            # no centroids yet: the files processed so far held no
            # vector, so training on the new files trains on them all
            n = self._train_commit(delta)
            return {
                "mode": "rebuild" if delta.mode == "rebuild" else "train",
                "files_read": len(delta.files),
                "n_new_vecs": n, "n_indexed": n, "n_moved": 0,
            }

        # incremental: assign ONLY the new batch against the stored
        # centroids (O(batch × K)), append, fold the batch's per-cell
        # stats into the running monoids (one derivation via the pin).
        assigned = assign_cells(
            self._quant_of(delta.files), self._cdf(self.centroids())
        ).localCheckpoint(eager=True)
        n_new, counts, sums = self._stats_of(assigned)
        if delta.in_bytes is not None:
            assigned = assigned.coalesce(segment_files(delta.in_bytes))
        new_extra = {
            "processed": delta.processed,
            "centroids": extra["centroids"],
            **self._merge_stats(extra, counts, sums),
        }
        self.state.commit(assigned, mode="append", extra=new_extra)

        # drift check: exact integer compare, no float thresholds
        n_indexed = sum(int(v) for v in new_extra["cell_counts"].values())
        moved_row = (
            self.drift_report().agg(F.sum("n_moved").alias("m")).collect()[0]
        )
        n_moved = int(moved_row.m or 0)
        out = {
            "mode": "incremental", "files_read": len(delta.files),
            "n_new_vecs": n_new, "n_indexed": n_indexed, "n_moved": n_moved,
        }
        if 1000 * n_moved > self.retrain_permille * n_indexed:
            cand = self.candidate_centroids().collect()
            centroids = sorted(
                (int(r.cid), [int(x) for x in r.cvec]) for r in cand
            )
            state_bytes = recorded_bytes(self.state.current_file_bytes().values())
            reassigned = assign_cells(
                self.index().select("vec_id", "q"), self._cdf(centroids)
            ).localCheckpoint(eager=True)
            _, counts, sums = self._stats_of(reassigned)
            if state_bytes is not None:
                reassigned = reassigned.coalesce(segment_files(state_bytes))
            self.state.commit(
                reassigned,
                mode="overwrite",
                extra={
                    "processed": delta.processed,
                    "centroids": centroids,
                    **self._merge_stats({}, counts, sums),
                },
            )
            out["mode"] = "retrain"
        return out

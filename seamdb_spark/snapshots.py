"""Versioned parquet table snapshots with atomic manifest swap.

Reproduces the query-visible consistency semantics of the reference's
MVCC/transactional KV layer (reference: src/kv.rs:110-115 KvSemantics;
per-statement transaction src/sql/client.rs:67-80) for the batch world:

- every statement *reads* one immutable snapshot — the file list named
  by the manifest current at statement start,
- every DML statement writes new parquet segment files and then
  atomically swaps the manifest (os.replace) to a new version whose
  file list includes them — statement-level atomicity and snapshot
  isolation without OLTP machinery, per the declared ``spark_approach``
  ("DataFrame batch queries, OLTP transactions unsupported").

The manifest is Delta/Iceberg-shaped (version → explicit file list), so
an INSERT is a true append: old segments are never rewritten. A crash
before the manifest swap leaves the previous snapshot intact
(write-manifest-last).

As in Delta and Iceberg, each file entry records its ``bytes`` (from
the listing ``commit`` makes of the files it wrote), so consumers size
input from the manifest they already read, never by a filesystem call.
``segment_files`` is the one rule mapping input bytes to an index or
compaction commit's file count. Legacy plain-path entries have no size:
a file set holding one is unmeasured and keeps its layout.

Incremental maintenance rests on these snapshot reads: a structure
derived from a source table (a rollup, a text or IVF index) records in
its own state manifest the source files it has folded in, and
``source_delta`` diffs that list against the source manifest — the one
decision between folding in only the new files, rebuilding (lineage
lost, or history rewritten so processed files vanished) and doing
nothing. ``Incremental`` holds a consumer's source, schema and state
and reads the files a delta names.

Scale notes (100 TB): appends add files, never rewrite; the commit
point is one rename regardless of table size. Old manifests are kept
for KEEP_MANIFESTS versions (time travel / debugging); segment files
are GC'd only when no retained manifest references them.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Iterable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import default_parallelism, local_frame

MANIFEST = "manifest.json"
KEEP_MANIFESTS = 3
# Rotate a bucketed segment's output file once a single bucket exceeds
# this many rows (spark.sql.files.maxRecordsPerFile per-write option):
# a skew-hot bucket then lands as several normally-sized files instead
# of one monster, while typical segments keep exactly one file per
# touched bucket. CONSTANT, corpus-independent (round-13 rule: caps
# that grow with n go quadratic where you least expect it); 1M rows
# x O(100B) rows ≈ a parquet file in the 100 MB class.
SEG_MAX_RECORDS_PER_FILE = 1_000_000
# Recorded input bytes per written segment file (segment_files).
# Constant, corpus-independent.
SEG_TARGET_BYTES = 64 * 1024 * 1024


def segment_files(in_bytes: int) -> int:
    """Output files for a commit of ``in_bytes`` recorded input bytes:
    a micro-batch lands as one file; with no core-count cap, a 100 TB
    rebuild writes ~bytes/64 MB files in parallel."""
    return in_bytes // SEG_TARGET_BYTES + 1


def recorded_bytes(sizes: Iterable[int | None]) -> int | None:
    """Total of recorded file sizes (values of ``current_file_bytes``);
    ``None`` when any file is a legacy entry with no recorded size."""
    sizes = list(sizes)
    return None if None in sizes else sum(sizes)


def bucket_column(bucketing: dict) -> Column:
    """A row's bucket id under ``bucketing`` ({"cols": [...], "n": int}):
    ``pmod(xxhash64(cols), n)``, the one expression the bucketed write
    and the insert clash checks share."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in bucketing["cols"]]),
        F.lit(int(bucketing["n"])),
    ).cast("int")


class TableSnapshots:
    def __init__(self, table_dir: str) -> None:
        self.table_dir = table_dir
        os.makedirs(table_dir, exist_ok=True)

    # ------------------------------------------------------------ io
    def _manifest_path(self) -> str:
        return os.path.join(self.table_dir, MANIFEST)

    def _read_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": 0, "files": []}

    def current_version(self) -> int:
        return self._read_manifest()["version"]

    @staticmethod
    def _entries(files: list) -> list[tuple[str, int | None]]:
        """Normalize manifest file entries to (path, bucket): legacy
        plain paths carry no bucket (always scanned); entries record
        {"path", "bytes"} plus, for bucketed segments, "bucket", so
        readers can prune at the FILE-LIST level (Iceberg-style
        partition pruning without reading a byte)."""
        out = []
        for f in files:
            if isinstance(f, str):
                out.append((f, None))
            else:
                out.append((f["path"], f.get("bucket")))
        return out

    def current_files(self) -> list[str]:
        return [p for p, _ in self._entries(self._read_manifest()["files"])]

    def current_file_entries(self) -> list[tuple[str, int | None]]:
        return self._entries(self._read_manifest()["files"])

    def current_file_bytes(self) -> dict[str, int | None]:
        """Path -> recorded bytes of every current file, in manifest
        order; ``None`` for a legacy plain-path entry (no size)."""
        files = self._read_manifest()["files"]
        return {
            p: None if isinstance(f, str) else f.get("bytes")
            for f, (p, _) in zip(files, self._entries(files))
        }

    # ---------------------------------------------------------- read
    def read(
        self,
        spark: SparkSession,
        schema: T.StructType,
        version: int | None = None,
        buckets: set[int] | None = None,
        entries: list[tuple[str, int | None]] | None = None,
    ) -> DataFrame:
        """Read the snapshot current *now* (or a retained historical
        ``version`` — time travel, ≙ the reference's read-at-timestamp
        MVCC semantics, reference: src/tablet/memory.rs:73-81). Callers
        resolve once per statement → per-statement snapshot isolation.

        ``buckets``: restrict to segment files recorded under those
        bucket ids (plus legacy unbucketed segments, which might hold
        any key). This is the partition-pruned path of the bucketed
        unique-index design (SCALING.md Engine §): the scan cost of a
        key-membership check becomes O(touched buckets), not O(table).

        ``entries``: the current manifest's file entries, already read
        by the caller (``current_file_entries``), so a caller that keys
        on the file list builds its frame from the same manifest read.
        """
        if entries is None:
            entries = (
                self.current_file_entries() if version is None
                else self._entries(self._version_files(version))
            )
        if buckets is not None:
            entries = [(p, b) for p, b in entries if b is None or b in buckets]
        files = [p for p, _ in entries]
        if not files:
            return local_frame(spark, [], schema)
        return spark.read.schema(schema).parquet(*files)

    def _version_files(self, version: int) -> list[str]:
        if version == 0:
            return []
        if version == self.current_version():
            return self.current_files()
        hist = os.path.join(self.table_dir, f"manifest-v{version:06d}.json")
        try:
            with open(hist) as f:
                return json.load(f)["files"]
        except FileNotFoundError:
            raise ValueError(
                f"version {version} not retained (kept: last {KEEP_MANIFESTS})"
            ) from None

    def current_extra(self) -> dict:
        """Caller-supplied metadata recorded by the last commit (e.g. a
        rollup's processed-source-file list). Lives inside the manifest
        so it becomes durable in the SAME os.replace as the data — a
        reader can never observe state and metadata from different
        commits."""
        return self._read_manifest().get("extra", {})

    # --------------------------------------------------------- write
    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        extra: dict | None = None,
        bucketing: dict | None = None,
    ) -> int:
        """Write ``df`` as new segment files, publish a new manifest.

        mode="append": new manifest = old files + new files.
        mode="overwrite": new manifest = new files only.
        extra: optional JSON-able metadata published atomically with the
        file list (carried forward unchanged when omitted on append).
        bucketing: {"cols": [...], "n": int} — write the segment
        hash-clustered on those columns (one parquet subdir per bucket;
        the __bucket column lives only in the directory name, never in
        the stored schema) and record each file's bucket id in the
        manifest so readers can prune by key.
        Every new entry records its file's ``bytes``; output sizing is
        the caller's (``segment_files``).
        """
        manifest = self._read_manifest()
        v = manifest["version"] + 1
        seg_dir = os.path.join(self.table_dir, f"seg-{v:06d}")
        if bucketing:
            # Cluster rows onto their bucket BEFORE the partitioned
            # write: without the repartition every upstream task writes
            # one file into every bucket directory it touches, so a
            # uniform batch emits tasks x n_buckets files per segment
            # (measured 16k files for a 100k-row 8-segment table in the
            # bucket spot-check) — the classic small-files explosion.
            # Repartitioning on __bucket lands each bucket's rows in
            # exactly one task: n_buckets files per segment (typical),
            # and the pruned clash probe's file count becomes
            # segments x touched_buckets exactly. The shuffle is the
            # price of a clustered layout — same trade as any bucketed
            # table write.
            # Skew caveat (ADVICE r13): the repartition concentrates a
            # bucket's ENTIRE row set in one writer task, so one
            # pathologically hot bucket key serializes in a single task
            # (memory + parallelism risk at scale) — choose bucket
            # counts so the hottest key's rows fit a task, the same
            # sizing rule as any hash-clustered layout. The
            # maxRecordsPerFile cap below at least keeps a huge
            # bucket's OUTPUT split across rotated files (readers take
            # every parquet under the bucket dir, so multi-file
            # buckets read identically); it does not split the task.
            (
                df.withColumn("__bucket", bucket_column(bucketing))
                .repartition(int(bucketing["n"]), "__bucket")
                .write.mode("overwrite")
                .option("maxRecordsPerFile", SEG_MAX_RECORDS_PER_FILE)
                .partitionBy("__bucket")
                .parquet(seg_dir)
            )
            new_files: list = []
            for sub in sorted(os.listdir(seg_dir)):
                subdir = os.path.join(seg_dir, sub)
                if not sub.startswith("__bucket=") or not os.path.isdir(subdir):
                    continue
                b = int(sub.split("=", 1)[1])
                new_files.extend(
                    {**f, "bucket": b} for f in _listed_parquet(subdir)
                )
        else:
            df.write.mode("overwrite").parquet(seg_dir)
            new_files = _listed_parquet(seg_dir)
        files = (manifest["files"] if mode == "append" else []) + new_files
        if extra is None and mode == "append":
            extra = manifest.get("extra")
        new_manifest = {"version": v, "files": files, "prev": manifest.get("version", 0)}
        if extra is not None:
            new_manifest["extra"] = extra
        self._publish(new_manifest)
        return v

    def commit_once(self, df: DataFrame, bid: int, mode: str = "append") -> bool:
        """Exactly-once micro-batch commit: guarded by the last-committed
        batch id riding in the manifest's ``extra`` blob, which publishes
        in the SAME os.replace as the file list — so a replayed
        micro-batch (task failure after commit, before the consumer's
        sink write) sees its own bid already recorded and skips the
        append instead of duplicating the segment. Returns True when the
        commit happened, False on a replay skip. Other extra keys are
        carried forward (merged), not clobbered. Used by the streaming
        ingest consumers (e49/e50)."""
        last = self.current_extra().get("last_bid")
        if last is not None and int(bid) <= int(last):
            return False
        self.commit(
            df,
            mode=mode,
            extra={**self.current_extra(), "last_bid": int(bid)},
        )
        return True

    def set_extra(self, updates: dict) -> int:
        """Publish a new manifest version with ``updates`` merged into
        extra — same file list, one atomic swap (used to declare
        bucketing on an existing table; old segments stay unbucketed and
        are always scanned until rewritten)."""
        manifest = self._read_manifest()
        extra = {**manifest.get("extra", {}), **updates}
        self._publish(
            {
                "version": manifest["version"] + 1,
                "files": manifest["files"],
                "prev": manifest.get("version", 0),
                "extra": extra,
            }
        )
        return manifest["version"] + 1

    def _publish(self, manifest: dict) -> None:
        # Retain a short history for debugging, then swap atomically.
        hist = os.path.join(self.table_dir, f"manifest-v{manifest['version']:06d}.json")
        with open(hist, "w") as f:
            json.dump(manifest, f)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())
        self._gc(manifest["version"])

    def _gc(self, current: int) -> None:
        """Prune manifests older than KEEP_MANIFESTS, then delete segment
        files no retained manifest references (overwrite/compaction would
        otherwise leak segments forever). Readers pinned to a retained
        version keep their files. Walks bucketed segments' __bucket=K
        subdirectories too."""
        referenced: set[str] = set(self.current_files())
        for name in os.listdir(self.table_dir):
            if name.startswith("manifest-v") and name.endswith(".json"):
                v = int(name[len("manifest-v"):-len(".json")])
                path = os.path.join(self.table_dir, name)
                if v <= current - KEEP_MANIFESTS:
                    os.unlink(path)
                else:
                    with open(path) as f:
                        referenced.update(
                            p for p, _ in self._entries(json.load(f)["files"])
                        )
        for seg in os.listdir(self.table_dir):
            seg_dir = os.path.join(self.table_dir, seg)
            if not seg.startswith("seg-") or not os.path.isdir(seg_dir):
                continue
            kept = False
            for root, _dirs, fnames in os.walk(seg_dir):
                for fname in fnames:
                    fpath = os.path.join(root, fname)
                    if fname.endswith(".parquet"):
                        if fpath in referenced:
                            kept = True
                        else:
                            os.unlink(fpath)
            if not kept:
                shutil.rmtree(seg_dir, ignore_errors=True)

    def drop(self) -> None:
        shutil.rmtree(self.table_dir, ignore_errors=True)


class SourceDelta(NamedTuple):
    """What one refresh of an incrementally maintained structure does,
    from one read of its source manifest (``source_delta``)."""

    mode: str  # "rebuild" | "incremental" | "noop"
    files: list[str]  # the source files to read
    in_bytes: int | None  # their recorded bytes (recorded_bytes)
    processed: list[str]  # every current source file: the next "processed"
    extra: dict  # the state manifest's extra the diff was taken against


def source_delta(source: TableSnapshots, state: TableSnapshots) -> SourceDelta:
    """Diff ``source``'s manifest against the ``processed`` file list in
    ``state``'s manifest extra (published in the same os.replace as the
    state data, so the list and the data it describes never disagree).

    - A committed state without ``processed`` (lineage lost), or a
      processed file gone from the source (compaction or an overwrite
      rewrote history): ``rebuild`` from every current file. An empty
      source still rebuilds, so the state stops serving removed rows.
    - Otherwise ``incremental`` over the new files, ``noop`` if none.

    Incrementality is an optimization, never a correctness assumption."""
    sizes = source.current_file_bytes()
    manifest = state._read_manifest()
    extra = manifest.get("extra", {})
    processed = extra.get("processed", None if manifest["version"] else [])
    current = list(sizes)
    if processed is None or not sizes.keys() >= set(processed):
        mode, files = "rebuild", current
    else:
        done = set(processed)
        files = [f for f in current if f not in done]
        mode = "incremental" if files else "noop"
    return SourceDelta(
        mode, files, recorded_bytes(sizes[f] for f in files), current, extra
    )


class Incremental:
    """A structure maintained incrementally from a snapshot source: its
    source snapshots, the source schema (a StructType, or a zero-arg
    callable resolved at each use, as an Engine table's columns come
    from the catalog) and its own state snapshots. Subclasses keep only
    their derivation and commit; ``delta()`` decides what to read."""

    def __init__(
        self,
        spark: SparkSession,
        source_path: str,
        source_schema: T.StructType | Callable[[], T.StructType],
        state_path: str,
    ) -> None:
        self._spark = spark
        self.source = TableSnapshots(source_path)
        self._schema = source_schema
        self.state = TableSnapshots(state_path)

    @staticmethod
    def engine_table(engine, table: str, kind: str, name: str) -> tuple:
        """Constructor arguments for structure ``name`` over the Engine
        table ``table``, its state under ``<warehouse>/<kind>/<db>/<name>``."""
        store, db = engine.store, engine.database
        return (
            engine.spark,
            store.table_dir(db, table),
            lambda: store.get_table(db, table).spark_schema(),
            os.path.join(store.warehouse_dir, kind, db, name, "state"),
        )

    def source_schema(self) -> T.StructType:
        return self._schema() if callable(self._schema) else self._schema

    def delta(self) -> SourceDelta:
        return source_delta(self.source, self.state)

    def refresh_after(self, commits: Iterable[Callable[[], object]]) -> list[str]:
        """Run each source commit and ``refresh()`` after it, then
        refresh once more: the mode of every refresh. The refresh gates
        compare this one list, whose last entry should read "noop"."""
        modes = []
        for commit in commits:
            commit()
            modes.append(self.refresh()["mode"])
        return modes + [self.refresh()["mode"]]

    def read_source(self, files: list[str], spread_by: str | None = None) -> DataFrame:
        """The given source files as one scan. ``spread_by``: hash-spread
        the rows across the session's cores first, for per-row work
        upstream of the first shuffle: an append batch is often one
        parquet file, one scan partition, and would run single-threaded
        (measured 5.5 s -> ~1 s per p16 refresh at sf0.1)."""
        df = self.source.read(
            self._spark, self.source_schema(), entries=[(f, None) for f in files]
        )
        if spread_by is not None:
            df = df.repartition(default_parallelism(), spread_by)
        return df


def _listed_parquet(directory: str) -> list[dict]:
    """Sorted {"path", "bytes"} entries of the parquet files in ``directory``."""
    with os.scandir(directory) as it:
        return [
            {"path": e.path, "bytes": e.stat().st_size}
            for e in sorted(it, key=lambda e: e.name)
            if e.name.endswith(".parquet")
        ]


def _rewrite_paths(obj, src: str, dst: str):
    if isinstance(obj, str):
        return obj.replace(src, dst) if src in obj else obj
    if isinstance(obj, list):
        return [_rewrite_paths(x, src, dst) for x in obj]
    if isinstance(obj, dict):
        return {k: _rewrite_paths(v, src, dst) for k, v in obj.items()}
    return obj


def clone_layout(src_root: str, dst_root: str) -> None:
    """Copy a directory tree of TableSnapshots tables into ``dst_root``
    and rewrite every absolute path inside the manifests (current +
    retained history — file lists AND extra blobs such as an index's
    processed-segment list) from the src prefix to the dst prefix.

    The snapshot-export pattern: segment files are byte-copied, the
    clone then evolves independently — commits, compaction and GC in
    the clone can never touch the source layout. Used by the streaming
    ingest gates to share one pre-stream corpus build (the identical
    evens-committed-and-indexed prologue) while keeping each gate's
    mutations isolated. At production scale the same operation is
    metadata-only (manifest copy referencing shared immutable
    segments); locally the byte copy of fixture-sized segments is
    cheaper than re-deriving them."""
    shutil.copytree(src_root, dst_root)
    for dirpath, _dirs, files in os.walk(dst_root):
        for name in files:
            if name == MANIFEST or (
                name.startswith("manifest-v") and name.endswith(".json")
            ):
                p = os.path.join(dirpath, name)
                with open(p) as f:
                    m = json.load(f)
                with open(p, "w") as f:
                    json.dump(_rewrite_paths(m, src_root, dst_root), f)

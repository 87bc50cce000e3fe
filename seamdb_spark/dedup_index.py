"""Incremental text-index maintenance over engine tables — the
operational form of the dedup/decontamination operators for a growing
corpus: instead of re-deriving 100 TB per run, ``refresh()`` diffs the
source table's snapshot manifest against the segments already indexed
(the ContinuousRollup pattern, rollups.py) and derives ONLY the newly
appended files, appending their rows to a persisted index snapshot.
Work per refresh is O(new documents). Two indexes share the machinery:

- ``IncrementalLSHIndex`` (the d02 kernel): near-dup candidate pairs
  from an equi-join on maintained band rows;
- ``IncrementalEvalIndex`` (the d10/d15 kernel): a maintained eval
  shingle-hash universe whose 8 KiB Bloom bitmap decontaminates any
  training DataFrame without re-deriving the eval side.

Correctness stance: the index after any refresh equals full re-banding
of the current snapshot (band rows are per-document and the banding is
deterministic, so append order cannot change the set — tested in
tests/test_dedup_index.py). If indexed segments DISAPPEAR from the
source manifest (compaction / overwrite rewrote history), refresh
detects it and rebuilds from the current snapshot — incrementality is
an optimization, never a correctness assumption.

Scale notes (100 TB): per-refresh banding scans new segments only; the
index table holds N_BANDS rows per document (tiny vs the corpus) and is
the ONLY thing the candidate join touches — the original text never
participates after indexing. `new_candidate_pairs` joins the new batch
(small) against the full index on (band_id, band_key): broadcast-sized
while the batch is, shuffle-on-band-key beyond.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from .operators.hashing import (
    MINHASH_PARAMS,
    N_BANDS,
    ROWS_PER_BAND,
    md5_prefix_long,
    minhash_value,
)
from .session import local_frame
from .snapshots import TableSnapshots

# Target input bytes per written index-state file (see _derive_of): a
# micro-batch lands as one file; a full-corpus (re)build writes
# ~bytes/64MB files in parallel. Constant, corpus-independent.
SEG_TARGET_BYTES = 64 * 1024 * 1024

# _derive_of only force-broadcasts a new segment set's id list while
# the SOURCE input stays under this constant — the id projection of
# 1 GiB of source text is a few MB, safely inside any broadcast
# budget. Beyond it (a compaction rebuild re-deriving the whole
# table), the join is left to the planner: the id set grows with the
# corpus and a forced broadcast would OOM at 100 TB.
HINT_IDS_BROADCAST_MAX_BYTES = 1024 * 1024 * 1024


def shingle_arrays(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, shingles) — distinct 3-word shingles per document, on
    an arbitrary (id, text) DataFrame; docs with <3 tokens are skipped
    (matches d02's ``_SHINGLES_SQL WHERE len >= 3``)."""
    # Two non-obvious constraints shape this expression:
    # (1) TOTALITY — safe on short docs regardless of filter placement:
    #     a bare sequence(0, size - 3) auto-descends for size < 3
    #     (ANSI-mode index error, or silent 1/2-gram pseudo-shingles
    #     with ANSI off), and Catalyst merges/reorders filters, so
    #     index positions are clamped INSIDE the expression: the
    #     i <= size-3 filter empties the sequence for short docs.
    # (2) SINGLE EVALUATION — the one-element-array binding
    #     (transform(array(split(..)), toks -> ...), d02's idiom):
    #     a two-step select would be collapsed by CollapseProject,
    #     inlining split(text) into EVERY toks reference inside the
    #     lambda — measured ~10x slower (4.5s -> 0.5s for the p16
    #     refresh banding at sf0.1) because the text re-splits per
    #     element access.
    shingle_expr = (
        "array_distinct(flatten(transform("
        f" array(split(`{text_col}`, ' ')),"
        " toks -> transform("
        "  filter(sequence(0, size(toks) - 1), i -> i <= size(toks) - 3),"
        "  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))))"
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.expr(shingle_expr).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
    )


def _band_select(sigs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mhN) signatures -> exploded (doc_id, band_id,
    band_key) band rows. ONE definition of the band layout, shared by
    the batch and stateless-streaming signature paths so a banding
    constant change can never silently break their pinned equality."""
    band_structs = []
    for band in range(N_BANDS):
        lo = band * ROWS_PER_BAND
        key = F.concat_ws(
            "-",
            *[F.col(f"mh{j}").cast("string") for j in range(lo, lo + ROWS_PER_BAND)],
        )
        band_structs.append(
            F.struct(F.lit(band).alias("band_id"), key.alias("band_key"))
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key"))


def band_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, band_id, band_key) LSH band rows for each document —
    the same deterministic banding as d02 (hashing.py constants), on an
    arbitrary (id, text) DataFrame."""
    sh = shingle_arrays(df, id_col, text_col)
    hashed = sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", md5_prefix_long(F.col("s")).alias("h")
    )
    sigs = hashed.groupBy("doc_id").agg(
        *[
            F.min(minhash_value(F.col("h"), a, b)).alias(f"mh{j}")
            for j, (a, b) in enumerate(MINHASH_PARAMS)
        ]
    )
    return _band_select(sigs)


def band_rows_stateless(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Row-local form of :func:`band_rows` for STREAMING inputs: each
    minhash_j is array_min over per-element ``minhash_value(
    md5_prefix_long(s))`` on the document's OWN shingle array —
    identical values to the explode+groupBy batch kernel by the
    min-over-elements identity, but with no aggregation, so it composes
    under Structured Streaming's aggregate-then-join restriction.
    Values are built from the SAME hashing helpers and the band layout
    from the SAME _band_select as the batch path (one definition each;
    the stream==batch equality test pins the identity end-to-end)."""
    sh = shingle_arrays(df, id_col, text_col)

    # closure factory, not lambda default-args: pyspark derives the
    # higher-order function's arity from the Python signature, so
    # `lambda s, a=a, b=b` would bind as a 3-arg (elem, index, ...) form
    def _mh(a: int, b: int):
        return F.array_min(
            F.transform(
                F.col("shingles"),
                lambda s: minhash_value(md5_prefix_long(s), a, b),
            )
        )

    sigs = sh.select(
        "doc_id",
        *[_mh(a, b).alias(f"mh{j}") for j, (a, b) in enumerate(MINHASH_PARAMS)],
    )
    return _band_select(sigs)


def shingle_hash_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, h, h64) — per-doc distinct shingle hashes on an
    arbitrary (id, text) DataFrame. ``h`` is the 32-bit md5-prefix (the
    d15 decontamination key, which the DuckDB oracles replay
    bit-for-bit in the Bloom arithmetic); ``h64`` is the full 64-bit
    xxhash64 of the same shingle, carried for EXACT-verification joins:
    at production shingle cardinalities a 32-bit space has real
    birthday-collision odds (~50 % at ~77k distinct shingles), which
    would inflate n_exact_hits/drop_doc vs a string-level replay, while
    64 bits push the same odds below 2e-10 (ADVICE r10)."""
    sh = shingle_arrays(df, id_col, text_col)
    return sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id",
        md5_prefix_long(F.col("s")).alias("h"),
        F.xxhash64(F.col("s")).alias("h64"),
    )


class _IncrementalTextIndex:
    """Shared manifest-diff machinery for persisted, incrementally-
    maintained per-document derivations of an Engine table: subclasses
    define ``_derive(df)`` (rows keyed by ``doc_id``); ``refresh()``
    derives ONLY newly appended segments and appends to the index
    snapshot, rebuilding from scratch when indexed segments disappear
    from the source manifest (compaction rewrote history)."""

    def __init__(self, engine, name: str, source: str,
                 id_col: str, text_col: str) -> None:
        self.engine = engine
        self.name = name
        self.source = source
        self.id_col = id_col
        self.text_col = text_col
        self._spark = engine.spark
        self._source_path = None
        self._schema = None
        self._derive_hint = None
        base = os.path.join(
            engine.store.warehouse_dir, "_dedup_index", engine.database, name
        )
        self.state = TableSnapshots(os.path.join(base, "state"))

    @classmethod
    def over_snapshots(cls, spark, source_path: str, source_schema,
                       id_col: str, text_col: str, state_path: str,
                       derive_hint=None):
        """Index a raw :class:`TableSnapshots` directory instead of an
        Engine table — the same manifest-diff refresh over any
        snapshot-backed parquet layout (p16 drives this path through
        the oracle gate; Engine tables route through ``__init__``).

        ``derive_hint``: optional zero-arg callable returning a
        DataFrame holding THIS index's derivation for a superset of
        every row the source table will ever hold (e.g. the session-
        memoized banding of the full fixture corpus that several gate
        layouts slice). When set, ``refresh()`` computes a new
        segment's rows by semi-joining the hint on the segment's ids
        instead of re-deriving text — identical rows (the derivation
        is per-document and deterministic), a fraction of the cost.
        The CALLER owns the superset guarantee; leave unset for
        arbitrary sources."""
        self = cls.__new__(cls)
        self.engine = None
        self.name = os.path.basename(state_path)
        self.source = source_path
        self.id_col = id_col
        self.text_col = text_col
        self._spark = spark
        self._source_path = source_path
        self._schema = source_schema
        self._derive_hint = derive_hint
        self.state = TableSnapshots(state_path)
        return self

    # --------------------------------------------------------- helpers
    def _derive(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _source_snaps(self) -> TableSnapshots:
        if self.engine is None:
            return TableSnapshots(self._source_path)
        store = self.engine.store
        return TableSnapshots(store.table_dir(self.engine.database, self.source))

    def _source_schema(self):
        if self.engine is None:
            return self._schema
        return self.engine.store.get_table(
            self.engine.database, self.source
        ).spark_schema()

    def _processed(self) -> list[str] | None:
        extra = self.state.current_extra()
        if "processed" in extra:
            return extra["processed"]
        return None if self.state.current_version() > 0 else []

    def _state_schema(self):
        return self._derive(local_frame(self._spark, [], self._source_schema())).schema

    def _derive_of(self, files: list[str]) -> DataFrame:
        spark = self._spark
        if not files:
            return self._derive(local_frame(spark, [], self._source_schema()))
        in_bytes = 0
        for f in files:
            try:
                in_bytes += os.path.getsize(f)
            except OSError:
                in_bytes = -1
                break
        if self._derive_hint is not None:
            # The caller provided the derivation of a superset corpus
            # (session-memoized, localCheckpointed): slice it by the new
            # segments' ids instead of re-deriving their text — an
            # id-projected scan plus a semi-join of index-sized rows
            # replaces the shingle/md5/minhash pass (measured
            # ~1.5-3 s -> ~0.3 s per refresh at sf0.1, and the e52
            # compaction rebuild re-derives the whole table).
            ids = (
                spark.read.schema(self._source_schema())
                .parquet(*files)
                .select(F.col(self.id_col).alias("doc_id"))
                .distinct()
            )
            if 0 <= in_bytes <= HINT_IDS_BROADCAST_MAX_BYTES:
                # A micro-batch-sized segment set: its id list is a
                # fraction of the CONSTANT input-byte bound, so the
                # broadcast is scale-safe and keeps the hint side
                # exchange-free. The slice INHERITS the memoized hint's
                # checkpoint partitioning (the session core budget), so
                # without re-clustering every micro-batch commit wrote
                # ~core-count near-empty state files (measured 32 files
                # / ~5 KB each, 96 files per stream-gate state at
                # sf0.1) — the round-14 byte-targeted sizing below only
                # covered the non-hint branch. One cheap exchange of
                # the (bounded, index-sized) slice buys size-targeted
                # segment files while the hint probe stays parallel;
                # same formula as the direct-derivation branch.
                from .session import default_parallelism

                sliced = self._derive_hint().join(F.broadcast(ids), "doc_id")
                n_out = max(1, min(
                    default_parallelism(), in_bytes // SEG_TARGET_BYTES + 1
                ))
                return sliced.repartition(int(n_out))
            # Rebuild-sized input (e.g. compaction rewrote the whole
            # table): the id set grows with the corpus — no forced
            # broadcast; the planner/AQE picks the join from actual
            # sizes.
            return self._derive_hint().join(ids, "doc_id")
        # Spread the new segments across cores BEFORE deriving: a small
        # append batch is often one parquet file = one scan partition,
        # and the expensive per-row work (shingle explode + md5 +
        # minhash) sits UPSTREAM of the derivation's first shuffle, so
        # without this it runs single-threaded (measured 5.5s -> ~1s
        # per p16 refresh at sf0.1). One cheap shuffle of the raw batch
        # text buys full parallelism; on a cluster it also spreads a
        # hot append file across executors. The count tracks the
        # session's core budget instead of a hard-coded 32.
        from .session import default_parallelism

        df = (
            spark.read.schema(self._source_schema())
            .parquet(*files)
            .repartition(default_parallelism(), self.id_col)
        )
        derived = self._derive(df)
        # Cluster the derivation's OUTPUT into size-targeted segment
        # files before the snapshot write: the derive parallelism above
        # leaves ~core-count near-empty output partitions (measured 32
        # files / 231 KiB per LSH state segment at sf0.1), and every
        # downstream index() read, candidate lookup, and manifest GC
        # then pays per-file listing+open cost times segments. One
        # cheap extra shuffle of the (tiny vs source text) index rows
        # buys segments of ~SEG_TARGET_BYTES files — derived from the
        # INPUT byte size, so a 100 TB rebuild still writes thousands
        # of full files in parallel while a micro-batch writes one.
        if in_bytes >= 0:
            n_out = max(1, min(
                default_parallelism(), in_bytes // SEG_TARGET_BYTES + 1
            ))
            derived = derived.repartition(int(n_out))
        return derived

    def _rows_per_doc(self) -> int | None:
        """Exact state rows emitted per indexed document, when the
        derivation has a fixed per-doc fan-out — lets ``refresh()``
        compute n_new_docs for free from an ``observe`` row count piggy-
        backed on the commit write instead of a second job that re-reads
        the written segments (measured ~0.9 s/refresh at sf0.1, ~1/3 of
        a micro-batch refresh). ``None`` = variable fan-out; fall back
        to the post-write distinct count."""
        return None

    def _committed_doc_count(self, before: set[str]) -> int:
        """Distinct doc_ids in the state segments a commit just added.

        Counting from the WRITTEN parquet instead of the derivation
        DataFrame matters: re-counting ``fresh`` would re-run the whole
        derivation (shingle→minhash→banding — the expensive half of a
        refresh) a second time, doubling refresh cost. The written band
        rows are ~100x smaller than the source text, so this is a cheap
        scan of exactly the new segments. (Only the variable-fan-out
        indexes take this path; see _rows_per_doc.)
        """
        added = [f for f in self.state.current_files() if f not in before]
        if not added:
            return 0
        return (
            self._spark.read.schema(self._state_schema())
            .parquet(*added)
            .select("doc_id")
            .distinct()
            .count()
        )

    def _commit_counted(self, files: list[str], mode: str, extra: dict) -> int:
        """Derive ``files``, commit the result, and return the number of
        documents the commit indexed — via the observe metric when the
        fan-out is fixed (no extra job), else via the post-write scan."""
        rows_per_doc = self._rows_per_doc()
        derived = self._derive_of(files)
        if rows_per_doc:
            obs = Observation()
            derived = derived.observe(obs, F.count(F.lit(1)).alias("rows"))
            self.state.commit(derived, mode=mode, extra=extra)
            return int(obs.get["rows"]) // rows_per_doc
        before = set(self.state.current_files()) if mode == "append" else set()
        self.state.commit(derived, mode=mode, extra=extra)
        return self._committed_doc_count(before)

    # ------------------------------------------------------------- api
    def refresh(self) -> dict:
        """Index newly appended source segments.

        Returns {"mode": "incremental"|"rebuild"|"noop",
                 "files_read": <segments derived this refresh>,
                 "n_new_docs": <documents indexed this refresh>}.
        """
        snaps = self._source_snaps()
        current = snaps.current_files()
        processed_list = self._processed()
        processed = set(processed_list or [])
        unsound = processed_list is None
        vanished = processed - set(current)
        new_files = [f for f in current if f not in processed]

        if vanished or unsound:
            n = self._commit_counted(
                current, mode="overwrite", extra={"processed": current}
            )
            return {"mode": "rebuild", "files_read": len(current), "n_new_docs": n}

        if not new_files:
            return {"mode": "noop", "files_read": 0, "n_new_docs": 0}

        n = self._commit_counted(
            new_files, mode="append", extra={"processed": current}
        )
        return {"mode": "incremental", "files_read": len(new_files), "n_new_docs": n}

    def index(self) -> DataFrame:
        """The current index rows."""
        return self.state.read(self._spark, self._state_schema())


class IncrementalLSHIndex(_IncrementalTextIndex):
    """Persisted, incrementally-maintained LSH band index of an Engine
    table's text column. ``index()`` rows: (doc_id, band_id, band_key)."""

    def _derive(self, df: DataFrame) -> DataFrame:
        return band_rows(df, self.id_col, self.text_col)

    def _rows_per_doc(self) -> int | None:
        # band_rows emits exactly N_BANDS rows per doc with >=1 shingle
        # and none otherwise — the same doc set the old distinct count
        # saw (docs with no state rows were never counted).
        return N_BANDS

    def candidate_pairs(self) -> DataFrame:
        """All near-dup candidate pairs (doc_a < doc_b) from the index."""
        # Explicit partition count before the self-join — the band table
        # is small enough that AQE would coalesce it to one partition and
        # single-thread the bucket join (the d02/d03 trap); band_key is
        # near-unique so 64 buckets keep every core busy.
        bands = self.index().repartition(64, "band_id", "band_key")
        b1 = bands.alias("b1")
        b2 = bands.alias("b2")
        return (
            b1.join(
                b2,
                (F.col("b1.band_id") == F.col("b2.band_id"))
                & (F.col("b1.band_key") == F.col("b2.band_key"))
                & (F.col("b1.doc_id") < F.col("b2.doc_id")),
            )
            .select(
                F.col("b1.doc_id").alias("doc_a"),
                F.col("b2.doc_id").alias("doc_b"),
            )
            .distinct()
        )

    def new_candidate_pairs(
        self, new_doc_ids: DataFrame, bounded: bool = False
    ) -> DataFrame:
        """Candidate pairs INVOLVING the given new documents — the
        per-batch dedup check a growing corpus actually runs: the new
        batch's band rows (small) join the full index, so existing
        documents are never re-banded and never pair among themselves.

        ``bounded``: the caller asserts ``new_doc_ids`` is a true
        micro-batch (bounded by ingest trigger size, NOT a corpus
        slice). Then the batch's band rows — N_BANDS x batch, a
        constant multiple of an already-bounded input — are broadcast
        so the index side stays exchange-free (guide §3.1: hint when
        you KNOW a side is small; Catalyst can't estimate the
        post-join size and would shuffle the full index per batch).
        Leave False for corpus-proportional id sets (the one-shot
        admission queries p17/p21/p27/p29 pass half the corpus): the
        planner/AQE then picks the join from actual sizes — a forced
        broadcast there would grow with the table and OOM at scale."""
        bands = self.index()
        new_bands = bands.join(
            F.broadcast(new_doc_ids.select(F.col(self.id_col).alias("doc_id"))),
            "doc_id",
        )
        if bounded:
            batch_bands = new_bands
            nb = F.broadcast(batch_bands).alias("nb")
        else:
            nb = new_bands.alias("nb")
        ib = bands.alias("ib")
        return (
            nb.join(
                ib,
                (F.col("nb.band_id") == F.col("ib.band_id"))
                & (F.col("nb.band_key") == F.col("ib.band_key"))
                & (F.col("nb.doc_id") != F.col("ib.doc_id")),
            )
            .select(
                F.least("nb.doc_id", "ib.doc_id").alias("doc_a"),
                F.greatest("nb.doc_id", "ib.doc_id").alias("doc_b"),
            )
            .distinct()
        )


class IncrementalSimHashIndex(_IncrementalTextIndex):
    """Persisted, incrementally-maintained SimHash signature index —
    the p16 move applied to the THIRD dedup sketch family (after the
    MinHash-LSH band index and the eval-shingle index): ``refresh()``
    computes d03's 32-bit signatures for newly appended segments only
    (signatures are per-document and deterministic — the manifest-diff
    contract), and candidates come from the exclude-2-of-8 multi-index
    blocking DERIVED from stored signatures at read time: the index
    persists ONE row per document; the 28 (table, key) block rows are
    cheap bit-arithmetic projections of the stored int, never stored.

    ``index()`` rows: (doc_id, simhash).
    """

    def _derive(self, df: DataFrame) -> DataFrame:
        from .operators.dedup import simhash_sigs

        return simhash_sigs(df, self.id_col, self.text_col)

    def _rows_per_doc(self) -> int | None:
        # simhash_sigs emits exactly one signature row per document
        # (split('') yields [''], so even an empty text votes 32 bits).
        return 1

    # ------------------------------------------------------------- api
    def candidate_pairs(self) -> DataFrame:
        """All verified near-dup pairs (doc_a < doc_b, hamming) from
        the maintained signatures — d03's full blocking + hamming
        verify, recall 1 for hamming <= SIMHASH_MAX_HAMMING by the
        pigeonhole construction."""
        from .operators.dedup import _simhash_block_pairs

        return _simhash_block_pairs(self.index(), "simhash")

    def new_candidate_pairs(
        self, new_doc_ids: DataFrame, bounded: bool = False
    ) -> DataFrame:
        """Verified pairs INVOLVING the given new documents — the
        per-batch check a growing corpus runs: the batch's 28-per-doc
        block keys join the full index's keys, so existing documents
        never re-key and never pair among themselves.

        ``bounded``: caller-asserted micro-batch contract, as
        :meth:`IncrementalLSHIndex.new_candidate_pairs`. When True the
        batch's block keys (28 x batch, a constant multiple of a
        bounded input) are broadcast and the blocking-key repartition
        is skipped — the exchange exists for the full SELF-join's
        bucket parallelism (candidate_pairs); in the per-batch lookup
        it re-shuffled the entire 28x-corpus key table on every
        micro-batch for no parallelism gain. When False (corpus-
        proportional id sets, e.g. p27/p29's half-corpus admission
        batch) the shuffle path is the scale-correct plan."""
        from .operators.dedup import (
            SIMHASH_MAX_HAMMING,
            simhash_block_keys,
        )

        keyed = simhash_block_keys(
            self.index(), "simhash", repartition=not bounded
        )
        batch_keyed = keyed.join(
            F.broadcast(
                new_doc_ids.select(F.col(self.id_col).alias("doc_id"))
            ),
            "doc_id",
        )
        batch_keys = batch_keyed.select(
            F.col("doc_id").alias("nb_id"), F.col("simhash").alias("nb_sh"),
            "c", "ck",
        )
        nb = F.broadcast(batch_keys) if bounded else batch_keys
        ib = keyed.select(
            F.col("doc_id").alias("ib_id"), F.col("simhash").alias("ib_sh"),
            "c", "ck",
        )
        hamming = F.bit_count(F.col("nb_sh").bitwiseXOR(F.col("ib_sh")))
        return (
            nb.join(ib, ["c", "ck"])
            .filter(F.col("nb_id") != F.col("ib_id"))
            .withColumn("hamming", hamming.cast("long"))
            .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
            .select(
                F.least("nb_id", "ib_id").alias("doc_a"),
                F.greatest("nb_id", "ib_id").alias("doc_b"),
                "hamming",
            )
            .distinct()
        )


class IncrementalEvalIndex(_IncrementalTextIndex):
    """Persisted, incrementally-maintained EVAL-SHINGLE index — the
    operational form of d10/d15 decontamination for a growing eval
    suite: instead of re-deriving the eval shingle universe per
    decontamination run, ``refresh()`` shingle-hashes only newly
    appended eval segments (manifest diff, compaction-safe rebuild —
    the ``_IncrementalTextIndex`` contract), and ``contaminated()``
    runs the d15 plan against the MAINTAINED index: the 8 KiB Bloom
    bitmap is re-packed from index rows (a 1024-row bit_or agg, never
    a corpus scan) and broadcast as a plan literal so non-candidate
    training shingles die inside the scan stage; only Bloom survivors
    reach the exact join against the indexed universe.

    ``index()`` rows: (doc_id, h, h64) — per-doc distinct shingle
    hashes; the universe is their distinct hash set, so append order
    and cross-batch duplicates cannot change it. ``h`` (32-bit
    md5-prefix, the d15 key) drives the Bloom bitmap — its arithmetic
    is what the DuckDB oracle replays bit-for-bit; ``h64`` (xxhash64
    of the shingle) drives the EXACT verification join, because a
    32-bit space has ~50 % birthday-collision odds at ~77k distinct
    shingles (a collision inflates n_exact_hits/drop_doc vs a
    string-level replay), vs < 2e-10 at 64 bits. Storing both keeps
    the persisted index string-verifiable later without re-reading
    the eval corpus (ADVICE r10).
    """

    def _derive(self, df: DataFrame) -> DataFrame:
        return shingle_hash_rows(df, self.id_col, self.text_col)

    # ------------------------------------------------------------- api
    def shingle_universe(self) -> DataFrame:
        """Distinct indexed shingle hashes (column ``h``)."""
        return self.index().select("h").distinct()

    def shingle_universe_wide(self) -> DataFrame:
        """Distinct indexed 64-bit shingle hashes (column ``h64``) —
        the collision-safe key for exact-verification joins."""
        return self.index().select("h64").distinct()

    def bloom_words(self) -> list[int]:
        """The d15 Bloom bitmap (BLOOM_BITS bits as m/64 packed int64
        words) of the indexed universe — O(1) driver state: only the
        1024 packed words ever reach the driver. Shares d15's exact
        kernel (operators.dedup.bloom_words_of)."""
        from .operators.dedup import bloom_words_of

        return bloom_words_of(self.shingle_universe())

    def contaminated(self, train_df: DataFrame, id_col: str, text_col: str,
                     min_shingles: int | None = None) -> DataFrame:
        """d15's Bloom-prefiltered decontamination of ``train_df``
        against the maintained eval index: per train doc, Bloom hits,
        exact hits, the false-positive gap, and the drop verdict."""
        from .operators.dedup import DECONTAM_MIN_SHINGLES, bloom_hits_of

        if min_shingles is None:
            min_shingles = DECONTAM_MIN_SHINGLES
        bitmap = self.bloom_words()
        hashed = shingle_hash_rows(train_df, id_col, text_col)
        hits = bloom_hits_of(hashed, bitmap)
        agg = hits.groupBy("doc_id").agg(F.count("*").alias("n_bloom_hits"))
        # exact verification joins on the 64-bit hash, not the Bloom's
        # 32-bit h — equivalent to a string-level join up to 2^-64
        # collision odds (see class docstring)
        exact = (
            hits.join(self.shingle_universe_wide(), "h64")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_exact_hits"))
        )
        return agg.join(exact, "doc_id", "left").select(
            "doc_id",
            "n_bloom_hits",
            F.coalesce(F.col("n_exact_hits"), F.lit(0)).alias("n_exact_hits"),
            (
                F.col("n_bloom_hits")
                - F.coalesce(F.col("n_exact_hits"), F.lit(0))
            ).alias("n_false_pos"),
            (
                F.coalesce(F.col("n_exact_hits"), F.lit(0)) >= min_shingles
            ).cast("long").alias("drop_doc"),
        )

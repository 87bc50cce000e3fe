"""The one vector-quantization kernel in ``operators/similarity.py``:
cell assignment, probe ranking and PQ encoding checked against a NumPy
brute-force argmin, with ties forced by duplicate centroids and
duplicate codewords (the lowest cid must win), and the driver frames
they join against."""

import numpy as np
from pyspark.sql import functions as F

from seamdb_spark.operators.similarity import (
    PQ_BLOCKS,
    PQ_K,
    PQ_SUB,
    assign_cells,
    centroid_frame,
    codebook_frame,
    pq_blocks,
    pq_encode,
    probe_cells,
)
from seamdb_spark.session import local_frame
from tests.test_engine import _counting_jobs

DIM = PQ_BLOCKS * PQ_SUB


def _frame(spark, q):
    rows = [(i, [int(x) for x in v]) for i, v in enumerate(q)]
    return local_frame(spark, rows, "vec_id long, q array<bigint>")


def _centroids(rng, k):
    """(cid-ordered matrix, rows in shuffled order): cid 5 duplicates
    cid 2 and cid 7 duplicates cid 0, so vectors nearest to either
    always tie."""
    c = rng.integers(-3, 4, size=(k, DIM))
    c[5], c[7] = c[2], c[0]
    order = rng.permutation(k)
    return c, [(int(cid), [int(x) for x in c[cid]]) for cid in order]


def _d2(a, b):
    return ((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=-1)


def test_assign_cells_and_probe_cells_match_numpy_argmin(spark):
    rng = np.random.default_rng(20261019)
    c, rows = _centroids(rng, 8)
    # small coordinates make ties common; vectors 0..7 copy the
    # centroids, so 5 and 7 sit on a duplicate pair (d2 = 0 to both)
    q = np.concatenate([c, rng.integers(-3, 4, size=(300, DIM))])
    quant = _frame(spark, q)
    cdf = centroid_frame(spark, rows)
    d2 = _d2(q, c)  # columns in cid order: argmin's first hit = lowest cid

    got = {r.vec_id: r.cid for r in assign_cells(quant, cdf).collect()}
    assert got == {i: int(np.argmin(d2[i])) for i in range(len(q))}
    assert (got[5], got[7]) == (2, 0)

    nprobe = 4
    ranked = probe_cells(quant.filter(F.col("vec_id") < 40), cdf, nprobe)
    got = {(r.vec_id, r.crk): r.cid for r in ranked.collect()}
    want = {
        (i, rk + 1): int(cid)
        for i in range(40)
        for rk, cid in enumerate(
            np.lexsort((np.arange(len(c)), d2[i]))[:nprobe]
        )
    }
    assert got == want


def test_pq_encode_matches_numpy_argmin(spark):
    rng = np.random.default_rng(7)
    cw = rng.integers(-3, 4, size=(PQ_BLOCKS, PQ_K, PQ_SUB))
    cw[:, 9], cw[:, 12] = cw[:, 3], cw[:, 0]  # duplicate codewords
    q = rng.integers(-3, 4, size=(200, DIM))
    q[0], q[1] = cw[:, 9].reshape(-1), cw[:, 12].reshape(-1)
    quant = _frame(spark, q)
    rows = [
        (b, int(cid), [int(x) for x in cw[b, cid]])
        for b in range(PQ_BLOCKS)
        for cid in rng.permutation(PQ_K)
    ]
    codes = pq_encode(pq_blocks(quant), codebook_frame(spark, rows))

    got = {(r.vec_id, r.b): (r.code, r.d2) for r in codes.collect()}
    want = {}
    for b in range(PQ_BLOCKS):
        d2 = _d2(q[:, b * PQ_SUB:(b + 1) * PQ_SUB], cw[b])
        for i in range(len(q)):
            code = int(np.argmin(d2[i]))
            want[(i, b)] = (code, int(d2[i, code]))
    assert got == want
    for b in range(PQ_BLOCKS):
        assert (got[(0, b)], got[(1, b)]) == ((3, 0), (0, 0))


def test_centroid_and_codebook_frames_run_no_spark_job(spark):
    # Both frames are local relations: building them, hinting them for
    # broadcast and reading them back schedules no job (a list-based
    # createDataFrame runs one per read).
    cents = [(1, [5, 6]), (0, [7, 8])]
    cb = [(0, 1, [1]), (0, 0, [2])]

    def build_and_read():
        cdf = F.broadcast(centroid_frame(spark, cents))
        cbf = F.broadcast(codebook_frame(spark, cb))
        return cdf.collect(), cbf.collect()

    (cdf_rows, cb_rows), jobs = _counting_jobs(spark, build_and_read)
    assert jobs == 0
    assert [tuple(r) for r in cdf_rows] == cents
    assert [tuple(r) for r in cb_rows] == cb

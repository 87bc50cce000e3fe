"""Cross-engine deterministic hashing helpers.

MinHash / SimHash / fingerprinting need an integer hash that is
*bit-identical* in Spark and in the DuckDB oracle. Engine-native hashes
(Spark murmur3 ``F.hash``, DuckDB ``hash()``) differ, so we derive a
32-bit integer from the first 8 hex chars of ``md5`` — both engines
expose md5 as a lowercase hex string — via positional hex-digit
arithmetic (``conv`` on the Spark side, ``strpos`` arithmetic on the
DuckDB side).

Universal-hash family for MinHash: h_j(x) = (a_j * x + b_j) mod P with
P prime > 2^32 and a_j < 2^30 so a*x never overflows int64 in either
engine (DuckDB raises on BIGINT overflow; Spark wraps silently).

The Spark side of the text kernels lives here too, one function per
decision: ``word_windows`` (every n-token window), ``minhash_sigs``
(the MinHash signature), ``band_select`` (the band layout) and
``band_pairs`` (the band self-join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Prime > 2^32 (same constant both engines).
MINHASH_PRIME = 4294967311

# (a, b) pairs — fixed, arbitrary primes; a < 2^30 to avoid int64 overflow.
MINHASH_PARAMS: list[tuple[int, int]] = [
    (973078513, 433494437),
    (910111237, 193877777),
    (805306457, 362436069),
    (741103597, 521288629),
    (688846501, 886459393),
    (611603,    97755331),
    (536870909, 13466917),
    (479001599, 257885161),
]

N_BANDS = 4
ROWS_PER_BAND = 2
assert N_BANDS * ROWS_PER_BAND == len(MINHASH_PARAMS)

_HEX_DIGITS = "0123456789abcdef"


def md5_prefix_long(col: Column) -> Column:
    """Spark: first 8 hex chars of md5 as a non-negative int64 (< 2^32)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def md5_prefix_long_sql(expr: str) -> str:
    """DuckDB SQL for the same 32-bit value as :func:`md5_prefix_long`.

    ``conv`` does not exist in DuckDB 1.0, so expand the hex parse into
    positional strpos arithmetic over the md5 hex string.
    """
    terms = []
    for i in range(8):
        weight = 16 ** (7 - i)
        terms.append(
            f"(strpos('{_HEX_DIGITS}', substr(md5({expr}), {i + 1}, 1)) - 1)"
            f" * CAST({weight} AS BIGINT)"
        )
    return "(" + " + ".join(terms) + ")"


def minhash_value(hash_col: Column, a: int, b: int) -> Column:
    return (F.lit(a) * hash_col + F.lit(b)) % F.lit(MINHASH_PRIME)


def minhash_value_sql(hash_expr: str, a: int, b: int) -> str:
    return f"((CAST({a} AS BIGINT) * {hash_expr} + {b}) % {MINHASH_PRIME})"


def word_windows(tokens_sql: str, n: int, elem: str | None = None) -> str:
    """SQL for the array of every ``n``-token window of the token array
    ``tokens_sql``, in position order.

    Inside ``elem`` the bound array is ``toks`` and the window starts
    at ``i``; the default element is the space-joined window. Two
    constraints shape the expression:

    - TOTALITY: a bare ``sequence(0, size - n)`` auto-descends for
      arrays shorter than ``n`` (an ANSI-mode ``INVALID_ARRAY_INDEX``,
      or 1-grams posing as n-grams with ANSI off), and Catalyst merges
      and reorders filters, so the positions are clamped inside the
      expression: ``i <= size - n`` empties the window list.
    - SINGLE EVALUATION: the token array is bound once per row through
      a one-element array. Referenced directly, CollapseProject inlines
      the ``split`` into every element access inside the lambda, so the
      text re-splits per access (measured ~10x slower on the p16
      refresh banding at sf0.1).
    """
    assert n >= 2, n
    if elem is None:
        toks = ", ".join("toks[i]" if k == 0 else f"toks[i+{k}]" for k in range(n))
        elem = f"concat_ws(' ', {toks})"
    return (
        "flatten(transform("
        f" array({tokens_sql}),"
        " toks -> transform("
        f"  filter(sequence(0, size(toks) - 1), i -> i <= size(toks) - {n}),"
        f"  i -> {elem})))"
    )


def minhash_sigs(df: DataFrame, keys: list[str]) -> DataFrame:
    """``keys`` + ``mh0..mhK`` MinHash signatures of each key's
    ``shingles`` array: the min over its shingles of every
    ``minhash_value(md5_prefix_long(shingle))``."""
    hashed = df.select(*keys, F.explode("shingles").alias("s")).select(
        *keys, md5_prefix_long(F.col("s")).alias("h")
    )
    return hashed.groupBy(*keys).agg(
        *[
            F.min(minhash_value(F.col("h"), a, b)).alias(f"mh{j}")
            for j, (a, b) in enumerate(MINHASH_PARAMS)
        ]
    )


def band_select(sigs: DataFrame, keys: list[str]) -> DataFrame:
    """``keys`` + ``mh0..mhK`` signatures -> exploded ``keys`` +
    ``(band_id, band_key)`` band rows: band ``b`` joins signatures
    ``b*ROWS_PER_BAND ..`` with ``-``."""
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
        *keys, F.explode(F.array(*band_structs)).alias("b")
    ).select(*keys, F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key"))


def band_pairs(bands: DataFrame, **out: str) -> DataFrame:
    """Every pair of band rows ``a``, ``b`` sharing ``(band_id,
    band_key)`` with ``a.doc_id < b.doc_id``, projected to ``out``
    (output name -> ``"a.<col>"`` / ``"b.<col>"``). A pair colliding
    in several bands appears once per band; callers that want a pair
    set add ``.distinct()``.

    The band table is small enough that AQE would coalesce it to one
    partition and single-thread the bucket join; ``band_key`` is
    near-unique, so an explicit 64-way repartition keeps every core
    busy."""
    bands = bands.repartition(64, "band_id", "band_key")
    a = bands.alias("a")
    b = bands.alias("b")
    return a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(*[F.col(src).alias(name) for name, src in out.items()])

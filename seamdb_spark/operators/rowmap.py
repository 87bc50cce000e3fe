"""One harness for the row-local Pandas UDFs.

A row-local UDF turns each input row into zero or more output rows,
independently of every other row. ``row_map`` owns everything around
that per-row function: the Arrow-batch loop, the per-batch column
accumulator and the ``mapInPandas`` call with its explicit schema.
Vectorised kernels that work on a whole batch at once (m01, m02 and
the grid kernels in ``dedup`` and ``similarity``) call ``mapInPandas``
themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def row_map(df: DataFrame, fn, schema: str) -> DataFrame:
    """``df.mapInPandas`` over a per-row function.

    ``fn`` is called with one input row's values, in the order of
    ``df.columns``, and yields zero or more tuples in ``schema`` order.
    Each Arrow batch's tuples are gathered column by column into one
    dict of lists and handed to ``pd.DataFrame``, so pandas infers each
    column's dtype from the values themselves (a ``None`` among ints
    makes a float64 column with NaN, which Arrow writes as null).
    """
    names = StructType.fromDDL(schema).names
    cols = df.columns

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {n: [] for n in names}
            appends = [out[n].append for n in names]
            for row in zip(*(pdf[c] for c in cols)):
                for values in fn(*row):
                    for append, v in zip(appends, values, strict=True):
                        append(v)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=schema)

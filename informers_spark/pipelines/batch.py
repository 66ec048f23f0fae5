"""The Arrow-batch boundary every inference pipeline runs through.

A pipeline supplies only its model math: `make(be)` is called once per
partition with the executor-singleton backend and returns a
`step(pdf) -> (rows, cols)` over one non-empty Arrow batch. `rows` is
None when the step emits one output row per input row, else the source
row index of every output row (an explode); `cols` holds one sequence
per output field, in field order. The shell owns everything else: the
output schema (input columns minus `drop`, then `fields`), backend
resolution, empty-batch skipping, the `spread_scan` rebalance ahead of
the UDF, and the columnar assembly — pass-through columns are replicated
with one `take`, never a per-row loop.

The Arrow batch IS the inference batch (it amortizes the model call like
the reference's padded-batch forward); its size is
spark.sql.execution.arrow.maxRecordsPerBatch (see session.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from informers_spark.rebalance import spread_scan

Step = Callable[[pd.DataFrame], tuple[Sequence[int] | None, Sequence[Sequence]]]

_NUMPY_DTYPES = {
    T.FloatType: np.float32,
    T.DoubleType: np.float64,
    T.IntegerType: np.int32,
    T.LongType: np.int64,
}


def map_batches(
    df: DataFrame,
    fields: list[T.StructField],
    make: Callable[[object], Step],
    backend: str,
    backend_opts: dict | None,
    drop: Sequence[str] = (),
) -> DataFrame:
    """Run `make(be)`'s step over every Arrow batch of `df`; the output
    rows carry the input columns (minus `drop`) followed by `fields`."""
    drop = list(drop)
    keep = [f for f in df.schema.fields if f.name not in drop]
    schema = T.StructType(keep + list(fields))
    dtypes = [(f.name, _NUMPY_DTYPES.get(type(f.dataType), object)) for f in fields]
    opts = backend_opts or {}

    def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from informers_spark.backend.base import get_backend

        step = make(get_backend(backend, **opts))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows, cols = step(pdf)
            out = pdf.drop(columns=drop) if drop else pdf
            if rows is not None:
                out = out.take(np.asarray(rows, dtype=np.intp)).reset_index(drop=True)
            for (name, dtype), values in zip(dtypes, cols, strict=True):
                if dtype is object:
                    out[name] = pd.Series(list(values), dtype=object).to_numpy()
                else:
                    out[name] = np.asarray(values, dtype=dtype)
            yield out

    return spread_scan(df).mapInPandas(infer, schema=schema)


def explode(per_row: Sequence[Sequence[tuple]], width: int):
    """(rows, cols) for a step whose input row i yields the output tuples
    per_row[i], each `width` values wide."""
    rows = [i for i, items in enumerate(per_row) for _ in items]
    flat = [item for items in per_row for item in items]
    return rows, (list(zip(*flat)) if flat else [()] * width)


def texts(pdf: pd.DataFrame, col: str) -> list[str]:
    """A text column as strings, nulls read as ""."""
    return pdf[col].fillna("").astype(str).tolist()

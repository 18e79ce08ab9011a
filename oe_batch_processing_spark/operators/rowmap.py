"""One row map for the Python-worker operators.

:func:`map_rows` is the single place where a per-row Python function meets
Spark's Arrow batches: every decode, transcode, sampler and feature
extractor that works on one input row at a time runs through it.

Each input row reaches ``fn`` as plain Python values (``to_pylist``: ``bytes``
for binary, ``int`` for integral columns, ``None`` for null), in the input
frame's column order, the same way ``outcome.parse_batch`` feeds
``parse_one``. ``fn`` yields zero or more output rows as dicts keyed by the
schema's column names, so a 1:1 decoder and a 1:n sampler have one form.
The output columns are stated once, in the schema; each input batch becomes
one output Arrow batch built against it. Values are converted with Arrow's
checked conversion: a value that does not fit its column's type raises
instead of wrapping.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

RowFn = Callable[..., Iterable[dict[str, Any]]]


def map_rows(df: DataFrame, fn: RowFn, schema: StructType | str) -> DataFrame:
    """Apply ``fn`` to every row of ``df`` inside one ``mapInArrow``.

    ``schema`` is a ``StructType`` or a DDL string; each output dict must
    carry every one of its column names. No shuffle; executor memory is
    bounded by the Arrow batch size
    (``spark.sql.execution.arrow.maxRecordsPerBatch``), not by partition size.
    """
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)

    def run(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            rows = [
                out
                for values in zip(*(col.to_pylist() for col in batch.columns))
                for out in fn(*values)
            ]
            yield pa.RecordBatch.from_arrays(
                [pa.array([r[f.name] for r in rows], f.type) for f in arrow_schema],
                schema=arrow_schema,
            )

    return df.mapInArrow(run, struct)

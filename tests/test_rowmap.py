"""``rowmap.map_rows``: the one row map every per-row Python-worker operator
runs through. Row shapes (1:1, 1:n, none for a whole batch) across several
Arrow batches, null and empty inputs, the output types the operators emit,
and checked conversion into the declared schema."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oe_batch_processing_spark.operators.rowmap import map_rows
from oe_batch_processing_spark.session import conf_overrides

SMALL_BATCHES = {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"}


def _ids(spark, n: int):
    """``n`` ids in one partition, so small batches split it several ways."""
    return spark.range(n).coalesce(1)


def test_one_to_one_n_and_none_across_batches(spark):
    """Row i yields i % 4 rows (none, 1:1 or 1:n), and ids 3..5 (one whole
    3-row batch) yield none; the output is exactly the per-row expansion,
    in input order."""

    def fan_out(i):
        if 3 <= i <= 5:
            return
        for k in range(i % 4):
            yield {"id": i, "k": k}

    with conf_overrides(spark, SMALL_BATCHES):
        got = [tuple(r) for r in map_rows(_ids(spark, 14), fan_out, "id long, k int").collect()]
    want = [(i, k) for i in range(14) if not 3 <= i <= 5 for k in range(i % 4)]
    assert got == want


def test_null_binary_and_output_types(spark):
    """Each input row arrives as plain Python values (``bytes``, ``None``
    for null); string, binary, boolean and array<int> columns come out as
    built."""
    df = _ids(spark, 7).select(
        "id",
        F.when(F.col("id") % 3 == 0, F.lit(None))
        .otherwise(F.encode(F.col("id").cast("string"), "UTF-8"))
        .alias("payload"),
    )

    def row(i, payload):
        if not (payload is None or type(payload) is bytes):
            raise TypeError(f"payload arrived as {type(payload).__name__}")
        yield {
            "id": i,
            "label": f"doc-{i}",
            "raw": payload,
            "is_null": payload is None,
            "bytes_list": list(payload or b""),
        }

    schema = "id long, label string, raw binary, is_null boolean, bytes_list array<int>"
    with conf_overrides(spark, SMALL_BATCHES):
        rows = map_rows(df, row, schema).collect()
    assert [r.id for r in rows] == list(range(7))
    for r in rows:
        want = None if r.id % 3 == 0 else str(r.id).encode()
        assert r.label == f"doc-{r.id}"
        assert (None if r.raw is None else bytes(r.raw)) == want
        assert r.is_null == (want is None)
        assert r.bytes_list == list(want or b"")


def test_empty_input_frame(spark):
    out = map_rows(spark.range(0), lambda i: iter([{"id": i}]), "id long")
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<id:bigint>"


def test_value_outside_int_column_raises(spark):
    """Conversion into the declared schema is checked: 2**40 does not fit an
    ``int`` column, so the task fails instead of writing a wrapped value."""
    out = map_rows(_ids(spark, 2), lambda i: iter([{"v": 2**40 + i}]), "v int")
    with pytest.raises(Exception, match="too large"):
        out.collect()

"""The Arrow-batched decode driver behind the media-decode queries
(`operators/multimodal.decode_rows`)."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from iris_project_database_refresh_spark.operators.multimodal import MAX_BATCH_ROWS, decode_rows

SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("label", T.StringType()),
        T.StructField("parser", T.StringType()),
    ]
)


def _rows(payload: bytes):
    """None for b"none", one row for b"one", a list of rows otherwise."""
    if payload == b"none":
        return None
    if payload == b"one":
        return {"n": 1, "label": "one", "unused": 7}
    return [{"n": i, "label": payload.decode()} for i in range(3)]


class _Frame:
    """Stands in for a (key, payload) DataFrame: keeps the function the
    driver hands to ``mapInArrow`` so a test can feed it batches."""

    def __init__(self, key: str = "media_id") -> None:
        self.columns = [key, "payload"]

    def mapInArrow(self, fn, schema):  # noqa: N802 — the DataFrame method's name
        self.fn, self.schema = fn, schema
        return self


def _batch(keys, payloads, key: str = "media_id") -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(keys, pa.int64()), pa.array(payloads, pa.binary())], names=[key, "payload"]
    )


def test_parser_none_one_row_and_list(spark):
    frame = spark.createDataFrame(
        [(1, b"none"), (2, b"one"), (3, b"abc")], "media_id long, payload binary"
    )
    out = decode_rows(frame, _rows, SCHEMA, "test-stdlib")
    assert out.schema == SCHEMA
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (2, 1, "one", "test-stdlib"),
        (3, 0, "abc", "test-stdlib"),
        (3, 1, "abc", "test-stdlib"),
        (3, 2, "abc", "test-stdlib"),
    ]


def test_batch_longer_than_max_batch_rows_is_sliced():
    frame = _Frame()
    decode_rows(frame, lambda p: {"n": len(p), "label": "x"}, SCHEMA, "t")
    n = 2 * MAX_BATCH_ROWS + 5
    out = list(frame.fn(iter([_batch(list(range(n)), [b"ab"] * n)])))
    assert [b.num_rows for b in out] == [MAX_BATCH_ROWS, MAX_BATCH_ROWS, 5]
    assert [k for b in out for k in b.column(0).to_pylist()] == list(range(n))


def test_empty_batch_yields_nothing():
    frame = _Frame()
    decode_rows(frame, _rows, SCHEMA, "t")
    assert list(frame.fn(iter([_batch([], [])]))) == []


def test_output_types_follow_the_schema():
    """An int32 schema column comes out int32 and a string one string;
    a row key the schema does not name is dropped, and a slice whose
    payloads all parse to None yields an empty batch of the schema."""
    frame = _Frame()
    decode_rows(frame, _rows, SCHEMA, "t")
    (one,) = frame.fn(iter([_batch([5], [b"one"])]))
    assert one.schema == to_arrow_schema(SCHEMA)
    assert one.schema.field("n").type == pa.int32()
    assert one.to_pylist() == [{"media_id": 5, "n": 1, "label": "one", "parser": "t"}]
    (empty,) = frame.fn(iter([_batch([6], [b"none"])]))
    assert empty.num_rows == 0 and empty.schema == to_arrow_schema(SCHEMA)


def test_key_is_the_first_column_and_schema_without_parser():
    """The key column takes the frame's first column name (``grp`` in
    the merged-PDF query); a schema with no ``parser`` column drops the
    tag."""
    schema = T.StructType([T.StructField("grp", T.LongType()), T.StructField("n", T.LongType())])
    frame = _Frame("grp")
    decode_rows(frame, lambda p: {"n": len(p)}, schema, None)
    (out,) = frame.fn(iter([_batch([9], [b"abcd"], key="grp")]))
    assert out.to_pylist() == [{"grp": 9, "n": 4}]

"""Driver-side pyarrow write fast-path for pandas-backed library writes.

A pandas-input ``lib.write()``/``append()``/``stage()`` of a few thousand
rows used to launch a full Spark job (createDataFrame -> shuffle/coalesce ->
parquet committer) costing ~0.2-0.35 s of scheduling/commit latency per
operation on a local cluster — pure harness, not data work (optimization
guide §5 "the driver should do almost no data work" cuts both ways: a
driver-RESIDENT frame gains nothing from a cluster round-trip). This module
writes the same physical parquet directly with pyarrow in ~1-10 ms.

The physical contract replicated here was probed from Spark-written files
in optimization round 1 (OPTIMIZATION_r13.md "Not yet optimized"):

* plain INT64 for the demoted ns index and uint64 bit-pattern columns
  (int64 carries no parquet logical annotation), INT32/INT(16)/INT(8) for
  the narrower ints, FLOAT/DOUBLE/BOOLEAN/BYTE_ARRAY-UTF8 as-is;
* SNAPPY compression, one row group per file, footer min/max statistics on
  every column (``create_column_stats`` and the manifest's ts_min/ts_max
  come from footer stats);
* the ``org.apache.spark.sql.parquet.row.metadata`` footer key holding the
  exact Spark schema JSON — Spark's schema inference prefers this key, so
  a pyarrow-written file infers the IDENTICAL StructType (nullability
  included) as a Spark-written one. (pyarrow 16 drops ALL custom footer
  keys under ``store_schema=False``, so the ``ARROW:schema`` key rides
  along; the whitelist below only admits types whose arrow-schema
  reconstruction equals the parquet-derived one, so readers that compare
  footer schemas — e.g. the staged static-schema validator — see the same
  {name: type} map for both writer identities.)

Writer identity is otherwise not load-bearing: every repo read path passes
an explicit schema, and write-dedup content hashes are VALUE-based
(xxhash64 row sums), not file-byte-based.

Eligibility is a strict whitelist — anything else falls back to the Spark
writer unchanged:

* the library's normalizer (``Library._normalize``) hands the writer a
  ``Normalized`` record whose arrow table came from
  :func:`pandas_table`: every column type is one :func:`physical_type`
  yields (int8/16/32/64, float32/64, bool, string). The record's Spark
  schema is derived from that table's schema in Python, as Spark's
  ``createDataFrame`` derives it, so no Spark frame exists unless a
  transform needs one (dict encoding, void-column drop, index alignment,
  a range filter) — and a transformed frame goes to the Spark writer;
* the physical layout must be exactly reproducible driver-side: the
  stable ascending index sort of an already-monotonic frame, or an
  order-preserving (rowcount / UNSORTED / DESCENDING) write, each sliced
  into consecutive ``rows_per_file`` ranges — the Spark writer slices both
  exactly too, numbering the rows by index order or by input position.
  Multi-file layouts whose boundaries Spark derives from sampling
  (repartitionByRange quantiles) are NOT replicated — those fall back.

The library's driver-side rewrites (update / delete_data_in_range splices,
compaction and sort_index, ``Library._rewrite_arrow``) and the staged
finalize (``Library._finalize_arrow``) write through :func:`write_slices`
as well, for stored columns whose Spark type :func:`physical_type` maps.
They cut exact ``rows_per_file`` slices where their Spark fallbacks
sample range boundaries, so above ``rows_per_file`` rows the two paths
hold the same rows in differently sized files.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

ROW_METADATA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _types():
    # Spark type -> the arrow type this writer stores it as
    from pyspark.sql import types as T
    return {
        T.LongType: pa.int64(),
        T.IntegerType: pa.int32(),
        T.ShortType: pa.int16(),
        T.ByteType: pa.int8(),
        T.DoubleType: pa.float64(),
        T.FloatType: pa.float32(),
        T.BooleanType: pa.bool_(),
        T.StringType: pa.string(),
    }


def physical_type(dtype) -> "pa.DataType | None":
    """The arrow type this writer stores a Spark ``dtype`` column as, or
    None when the type is outside the whitelist."""
    return _types().get(type(dtype))


def pandas_table(pdf) -> "pa.Table | str":
    """``pdf`` as the arrow table this writer writes, or why it cannot be
    written here (the caller then builds a Spark frame).

    The table is ``pa.Table.from_pandas`` of the frame, the conversion
    Spark's own ``createDataFrame`` infers its schema from, so
    ``from_arrow_schema`` of the table's schema is the Spark frame's
    schema. Every column type must be one :func:`physical_type` yields
    (``large_string``, from pyarrow-backed strings, is cast to
    ``string``)."""
    if len(pdf.columns) == 0:
        return "the frame has no columns"
    try:
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    except (pa.ArrowException, TypeError, ValueError) as e:
        return f"pyarrow cannot convert the frame ({type(e).__name__})"
    writable = set(_types().values())
    for i, f in enumerate(tbl.schema):
        if pa.types.is_large_string(f.type):
            tbl = tbl.set_column(i, f.name, tbl.column(i).cast(pa.string()))
        elif f.type not in writable:
            return (f"column {f.name!r} is {f.type}, outside "
                    "arrowwrite.physical_type")
    return tbl


def spark_schema(tbl: "pa.Table", uint64_cols=()) -> Any:
    """The Spark schema of a :func:`pandas_table` table, derived in Python
    as Spark's ``createDataFrame`` derives it from the same conversion,
    with the uint64 marker on the ``uint64_cols`` bit-pattern columns."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_schema

    from arcticdb_spark.expr import UINT64_META
    return T.StructType([
        T.StructField(f.name, f.dataType, f.nullable, {UINT64_META: True})
        if f.name in uint64_cols else f
        for f in from_arrow_schema(tbl.schema).fields])


@dataclass
class Normalized:
    """One write input after ``Library._normalize``: the normalized pandas
    frame (None for Spark, Arrow and ndarray input), its norm meta and its
    Spark schema. ``table`` is the arrow table this writer writes
    (:func:`pandas_table`), or None with ``why`` saying why not.
    ``frame()`` is the Spark frame; for a record with a table it is built
    on the first call, so a write that needs no transform builds none."""
    pdf: Any
    meta: "dict | None"
    schema: Any
    table: "pa.Table | None" = None
    why: "str | None" = None
    _frame: Any = None
    _build: Any = None

    @classmethod
    def of(cls, frame, meta, why: str, pdf=None) -> "Normalized":
        """A record for an input whose Spark frame is already built."""
        return cls(pdf, meta, frame.schema, why=why, _frame=frame)

    @property
    def columns(self) -> list:
        return self.schema.fieldNames()

    def with_meta(self, **entries) -> "Normalized":
        """This record with ``entries`` added to its norm meta."""
        self.meta = {**(self.meta or {}), **entries}
        return self

    def frame(self):
        if self._frame is None:
            self._frame, self._build = self._build(), None
        return self._frame


def write_slices(table: "pa.Table", out_dir: str, sizes,
                 spark_schema_json: str) -> list[str]:
    """Write ``table`` as consecutive slices, one file (one row group) per
    slice, named so lexicographic order is slice order. ``sizes`` is the
    list of slice lengths, or one length for slices of that many rows (the
    last one holding the remainder). Returns the file paths in slice
    order."""
    os.makedirs(out_dir, exist_ok=True)
    table = table.replace_schema_metadata(
        {ROW_METADATA_KEY: spark_schema_json.encode("utf-8")})
    n = table.num_rows
    if isinstance(sizes, int):
        sizes = [sizes] * -(-n // sizes)
    paths, start = [], 0
    for i, size in enumerate(sizes):
        sl = table.slice(start, size)
        start += size
        p = os.path.join(out_dir,
                         f"part-{i:05d}-{uuid.uuid4().hex}.snappy.parquet")
        pq.write_table(sl, p, compression="snappy",
                       row_group_size=size,
                       write_statistics=True)
        paths.append(p)
    return paths

"""Driver-side pyarrow read path for pandas/arrow/polars reads.

A plain ``lib.read(sym, output_format="pandas")`` used to build a Spark
plan over the pruned files, sort it by the physical row id and collect it
with ``toPandas()``: three Spark jobs and a range-partition shuffle to land
a few hundred KB on the driver, where every byte ends up anyway. The
manifest already orders the files by ``row_start`` and each file's rows
are in write order, so reading the same files with pyarrow in manifest
order yields the rows in write order with no sort and no job.

``LocalFrame`` is what the scan hands to ``Library._format_output``: it
carries the Spark schema the Spark read path would have produced for the
same columns (uint64 markers, µs index view, ns shadow, NULL void
columns) and collects through the same conversions Spark applies in
``DataFrame.toArrow()`` / ``toPandas()``, so the shared finisher sees
identical input from either collector.

QueryBuilder reads run their clauses on the same ``LocalFrame``
(``arrowquery.run``). ``read_files`` also feeds the driver-side rewrites
of update, delete_data_in_range, compaction and sort_index
(``Library._rewrite_arrow``) and the staged finalize
(``Library._finalize_arrow``), which read under the physical types and
write back through arrowwrite.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def arrow_type(dtype, large_types: bool) -> "pa.DataType":
    """The arrow type Spark's ``toArrow()`` gives a column of ``dtype``
    (``large_types``: the session's ``arrowUseLargeVarTypes``)."""
    from pyspark.sql.pandas.types import to_arrow_type
    return to_arrow_type(dtype, error_on_duplicated_field_names_in_struct=True,
                         prefers_large_types=large_types)


def read_files(files: list, want: dict, row_id: str, idx: str | None,
               date_range: tuple | None, rows: tuple | None) -> "pa.Table":
    """Read ``files`` — (path, row_start) pairs in row order, or (path,
    row_start, footer) triples whose parsed ``pq.FileMetaData`` the read
    reuses instead of parsing the footer again — into one table of a
    ``row_id`` column (row_start + position in file) followed by the
    ``want`` {name: arrow type} columns, cast to those types; a column a
    file lacks reads as NULL, like Spark's parquet reader.
    ``date_range`` keeps rows whose ``idx`` value (as int64) lies in the
    inclusive [lo, hi] pair (either bound may be None), ``rows`` those
    whose row id lies in [start, end)."""
    parts = []
    for path, row_start, *footer in files:
        with pq.ParquetFile(path, metadata=(footer or [None])[0]) as pf:
            have = set(pf.schema_arrow.names)
            t = pf.read(columns=[c for c in want if c in have])
        n = t.num_rows
        cols = {row_id: pa.array(np.arange(row_start, row_start + n))}
        for c, typ in want.items():
            cols[c] = (t.column(c).cast(typ) if c in t.column_names
                       else pa.nulls(n, typ))
        t = pa.table(cols)
        keep = []
        if date_range is not None:
            iv = t.column(idx).cast(pa.int64())
            lo, hi = date_range
            if lo is not None:
                keep.append(pc.greater_equal(iv, lo))
            if hi is not None:
                keep.append(pc.less_equal(iv, hi))
        if rows is not None:
            keep += [pc.greater_equal(cols[row_id], rows[0]),
                     pc.less(cols[row_id], rows[1])]
        if keep:
            # a NULL index (NaT) fails the range, as in the Spark filter
            t = t.filter(functools.reduce(pc.and_, keep))
        parts.append(t)
    if not parts:
        return pa.schema([(row_id, pa.int64())]
                         + list(want.items())).empty_table()
    return pa.concat_tables(parts)


def ns_to_us_view(ints) -> "pa.Array":
    """Exact int64 ns -> µs UTC timestamps by floor division (Spark's
    ``timestamp_micros((ns - pmod(ns, 1000)) div 1000)``); nulls stay."""
    ints = ints.combine_chunks() if isinstance(ints, pa.ChunkedArray) else ints
    us = np.floor_divide(pc.fill_null(ints, 0).to_numpy(), 1000)
    return pa.array(us, type=pa.timestamp("us", tz="UTC"),
                    mask=pc.is_null(ints).to_numpy(zero_copy_only=False))


def decode_codes(codes, mapping: dict) -> "pa.Array":
    """Dictionary codes -> strings through a driver-side {code: value} map;
    NULL and unknown codes decode to NULL (like the Spark decode)."""
    keys = pa.array(list(mapping), pa.int64())
    values = pa.array(list(mapping.values()), pa.string())
    return pc.take(values, pc.index_in(codes, value_set=keys))


class LocalFrame:
    """A driver-resident read result exposing the collection surface of a
    Spark DataFrame that ``Library._format_output`` uses: ``columns``,
    ``schema``, ``toArrow()`` and ``toPandas()``."""

    def __init__(self, spark, schema, table: "pa.Table"):
        self._spark = spark
        self.schema = schema
        self._table = table

    @property
    def columns(self) -> list[str]:
        return [f.name for f in self.schema.fields]

    def toArrow(self) -> "pa.Table":
        return self._table

    def select(self, names: list) -> "LocalFrame":
        fields = {f.name: f for f in self.schema.fields}
        return LocalFrame(self._spark,
                          type(self.schema)([fields[n] for n in names]),
                          self._table.select(names))

    def toPandas(self):
        """Spark's Arrow ``toPandas()`` conversion applied to the table:
        ``to_pandas`` with dates as objects and ns temporals, then the
        per-field Spark converters (integer/bool dtype correction, UTC
        timestamps localized to the session zone and made naive)."""
        import pandas as pd
        from pyspark.sql.pandas.types import _create_converter_to_pandas
        tbl = self._table
        names = self.columns
        if tbl.num_rows:
            pdf = tbl.rename_columns(
                [f"col_{i}" for i in range(tbl.num_columns)]).to_pandas(
                    date_as_object=True, coerce_temporal_nanoseconds=True)
            pdf.columns = names
        else:
            pdf = pd.DataFrame(columns=names)
        if not names:
            return pdf
        jconf = self._spark._jconf
        struct_in_pandas = jconf.pandasStructHandlingMode()
        dup_error = struct_in_pandas == "legacy"
        if dup_error:
            struct_in_pandas = "dict"
        timezone = jconf.sessionLocalTimeZone()
        return pd.concat(
            [_create_converter_to_pandas(
                f.dataType, f.nullable, timezone=timezone,
                struct_in_pandas=struct_in_pandas,
                error_on_duplicated_field_names=dup_error)(s)
             for (_, s), f in zip(pdf.items(), self.schema.fields)],
            axis="columns")

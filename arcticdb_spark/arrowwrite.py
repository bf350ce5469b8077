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

* the Spark frame handed to the writer must be the IDENTICAL object the
  normalizer produced from the pandas frame (no intervening transform —
  see :func:`source_table`);
* every column dtype maps 1:1 between the pandas frame and the Spark
  schema (plain numpy int8/16/32/64, float32/64, bool, and object columns
  holding only str/None);
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

Explicit source: the library's normalizer returns the normalized pandas
frame next to the Spark frame it built, and the write entry points hand
that ``(spark_frame, pandas_frame)`` pair to the writer as an argument.
No state outlives the call, so the pandas frame is released with the
write that produced it.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

ROW_METADATA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _type_map():
    # Spark type -> (arrow type, accepted pandas dtype names). Both the
    # plain numpy dtype and its nullable extension twin are accepted (the
    # normalizer's demoted ns index is extension Int64 so NaT can be NA);
    # pa.Array.from_pandas converts either, mask -> null.
    from pyspark.sql import types as T
    return {
        T.LongType: (pa.int64(), ("int64", "Int64")),
        T.IntegerType: (pa.int32(), ("int32", "Int32")),
        T.ShortType: (pa.int16(), ("int16", "Int16")),
        T.ByteType: (pa.int8(), ("int8", "Int8")),
        T.DoubleType: (pa.float64(), ("float64", "Float64")),
        T.FloatType: (pa.float32(), ("float32", "Float32")),
        T.BooleanType: (pa.bool_(), ("bool", "boolean")),
    }


def physical_type(dtype) -> "pa.DataType | None":
    """The arrow type this writer stores a Spark ``dtype`` column as, or
    None when the type is outside the whitelist."""
    from pyspark.sql import types as T
    if isinstance(dtype, T.StringType):
        return pa.string()
    m = _type_map().get(type(dtype))
    return None if m is None else m[0]


def source_table(df, src) -> "pa.Table | None":
    """The arrow table to write for the Spark frame ``df``, built from its
    pandas source, or None to mean "use the Spark writer".

    ``src`` is the normalizer's ``(spark_frame, pandas_frame)`` pair (the
    pandas frame is None for Spark, Arrow and ndarray inputs). The pandas
    frame is used only when ``df`` IS that Spark frame: any transform in
    between (dict encoding, void-column drop, index alignment, a range
    filter) could change values, so it falls back. None too when any
    column falls outside the whitelist."""
    import pandas as pd
    from pandas.api.types import infer_dtype
    from pyspark.sql import types as T

    if src is None or df is not src[0]:
        return None
    pdf = src[1]
    if pdf is None or len(pdf) == 0:
        return None
    spark_schema = df.schema
    names = [f.name for f in spark_schema.fields]
    if [str(c) for c in pdf.columns] != names:
        return None
    tmap = _type_map()
    arrays, fields = [], []
    for pos, f in enumerate(spark_schema.fields):
        col = pdf.iloc[:, pos]
        dt = col.dtype
        if isinstance(f.dataType, T.StringType):
            if isinstance(dt, pd.StringDtype):
                pass
            elif dt == object:
                # str/None only (binary payloads, lists, mixed go to
                # Spark); "empty" = all-null object column typed string
                if infer_dtype(col, skipna=True) not in ("string", "empty"):
                    return None
            else:
                return None
            arr = pa.Array.from_pandas(col, type=pa.string())
        else:
            m = tmap.get(type(f.dataType))
            if m is None or str(dt) not in m[1]:
                return None
            arr = pa.Array.from_pandas(col, type=m[0])
        arrays.append(arr)
        fields.append(pa.field(f.name, arr.type, nullable=True))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


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

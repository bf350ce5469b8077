"""Driver-side QueryBuilder executor for reads whose rows land on the driver.

A QueryBuilder read to pandas used to build a Spark plan over the pruned
files — filter, project, a hash aggregate behind an exchange, a
range-sorted ``orderBy`` — to collect a few dozen rows: four jobs, each
paying the per-job scheduling floor. ``run`` evaluates the same clause
list on the Arrow table of the driver scan (``Library._scan_files_arrow``)
with ``pyarrow.compute`` and returns an ``arrowread.LocalFrame`` whose
Spark schema is the one the Spark path produces (names, order, types,
nullability, ``UINT64_META`` on ``count`` and boolean ``sum``), so the
shared output finisher sees the same input from either executor.

Clauses: ``date_range`` (inclusive, on the exact ns shadow of the index),
``filter``, ``project``, ``resample_agg`` (every origin, offset, closed and
label; bucket edges in exact int64-ns floor arithmetic, ``start``/``end``
origins taken from the table itself) and ``groupby_agg`` (null and NaN keys
dropped; groups come back in key order), with the aggregators ``sum``,
``mean``, ``min``, ``max``, ``count``, ``first`` and ``last``.

Expressions follow ``expr._compile``'s kind rules: AND/OR are Kleene,
``NE`` is true on a missing operand, NaN never satisfies ``EQ`` or an
ordering, integer ``ADD``/``SUB``/``MUL`` is int64 and wraps, ``DIV`` is
IEEE double division, ``POW`` takes an integer exponent. ``sum`` of an
all-missing bucket is 0, ``min``/``max``/``first``/``last`` keep the input
type (float32 stays float32), and ``first``/``last`` take the value at the
smallest/largest index timestamp among the non-null rows (row order when
there is no timestamp column).

``run`` declines — returns None, and the read runs on Spark — for:

- a uint64 / small-unsigned marked column anywhere in the frame, or a
  uint64-range constant (the UINT kind);
- ``head``/``tail``/``row_range``/``concat`` clauses;
- any branch where ``expr._compile`` or the Spark clause kernels raise,
  so that every ``ExpressionError`` keeps one source;
- ``regex_match`` (Java and RE2 regex dialects differ), ``isin`` on
  timestamps, arithmetic with a None constant;
- an aggregator without an exact Arrow kernel (``std``/``var``/``median``,
  ``mean`` of timestamps) or on a type outside ints, floats, bool, string
  and timestamp.

The caller (``Library.read``) also keeps the Spark path for files over
``_DRIVER_READ_BYTES_MAX`` bytes and for every fallback of the scan.
Spark's own row order for a filter-only pipeline is its file-scan order
and for a groupby its hash order; this executor returns write order and
key order, both of which are orders the Spark result may take.
"""

from __future__ import annotations

import collections
import datetime as _dt
import functools

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T

from arcticdb_spark import arrowread as ar
from arcticdb_spark import expr as E
from arcticdb_spark.operators.resample import normalize_agg_spec, rule_to_nanos

AGGREGATORS = frozenset({"sum", "mean", "min", "max", "count", "first",
                         "last"})
_CLAUSES = frozenset({"date_range", "filter", "project", "groupby_agg",
                      "resample_agg"})
_INTS = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_UTC_US = pa.timestamp("us", tz="UTC")

# an evaluated expression: array (or scalar), expr kind, Spark type,
# Spark nullability and the field metadata a bare column reference carries
_V = collections.namedtuple("_V", "arr kind dtype nullable meta")


class _Decline(Exception):
    """The read takes the Spark path: it raises there, or computes
    something this executor does not mirror."""


def eligible(query_builder) -> bool:
    """Static check on a builder, no data read: every clause kind and
    aggregator name is one ``run`` covers and no groupby/resample awaits
    its ``agg``. ``run`` can still decline on the data's types."""
    if (getattr(query_builder, "_pending_groupby", None) is not None
            or getattr(query_builder, "_pending_resample", None) is not None):
        return False
    try:
        for kind, args in query_builder._clauses:
            if kind not in _CLAUSES:
                return False
            if kind in ("groupby_agg", "resample_agg") and not all(
                    isinstance(how, str) and how.lower() in AGGREGATORS
                    for _, _, how in normalize_agg_spec(args["aggs"])):
                return False
    except (AttributeError, TypeError, ValueError):
        return False
    return True


def run(clauses, frame: "ar.LocalFrame", idx) -> "ar.LocalFrame | None":
    """Apply ``clauses`` in order to ``frame`` (the driver scan of a
    symbol whose index column is ``idx``), or None to decline."""
    from arcticdb_spark.query import QueryBuilder
    fields = {f.name: f for f in frame.schema.fields}
    if any((f.metadata or {}).get(E.UINT64_META)
           or (f.metadata or {}).get(E.UNSIGNED_META)
           for f in fields.values()):
        return None
    tbl = frame.toArrow()
    try:
        for kind, args in clauses:
            ts_col = QueryBuilder._ts_col(idx)
            if kind == "date_range":
                tbl = _date_range(tbl, fields, args["range"], ts_col)
            elif kind == "filter":
                tbl = _filter(tbl, _eval(args["expr"], tbl, fields))
            elif kind == "project":
                tbl, fields = _project(tbl, fields, args["name"],
                                       args["expr"])
            elif kind == "groupby_agg":
                keys = args["keys"]
                idx = [keys] if isinstance(keys, str) else list(keys)
                tbl, fields = _groupby(tbl, fields, idx, args["aggs"],
                                       ts_col)
            elif kind == "resample_agg":
                tbl, fields = _resample(tbl, fields, args, ts_col)
                idx = ts_col
            else:
                raise _Decline
    except (_Decline, pa.ArrowException, ArithmeticError, TypeError,
            ValueError):
        return None
    return _local(frame, tbl, fields)


def _local(frame, tbl, fields) -> "ar.LocalFrame":
    """The result as a LocalFrame, its table cast to the Arrow schema
    Spark's ``toArrow()`` gives the same Spark schema."""
    from pyspark.sql.pandas.types import to_arrow_schema
    schema = T.StructType(list(fields.values()))
    asch = to_arrow_schema(
        schema, error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=frame._spark._jconf.arrowUseLargeVarTypes())
    cols = [_cast(tbl.column(f.name), f.type) for f in asch]
    return ar.LocalFrame(frame._spark, schema,
                         pa.Table.from_arrays(cols, schema=asch))


# -- helpers ----------------------------------------------------------------

def _cast(x, typ):
    # Spark's non-ANSI casts never fail: int64 -> double rounds, wraps
    return pc.cast(x, typ, safe=False)


def _arrow(dtype) -> "pa.DataType":
    return ar.arrow_type(dtype, False)


def _isnan(v: _V):
    """``F.isnan``: true for NaN, false for null or a non-float."""
    if v.kind != E.FLOAT:
        return pa.scalar(False)
    return pc.fill_null(pc.is_nan(v.arr), False)


def _nan_to_null(arr):
    return pc.if_else(pc.is_nan(arr), pa.scalar(None, arr.type), arr)


def _numeric_type(*vs: _V) -> "pa.DataType":
    """Spark's common type of numeric operands (numeric precedence: any
    double -> double, else any float -> float, else int64, exact for the
    narrower ints)."""
    if any(isinstance(v.dtype, T.DoubleType) for v in vs):
        return pa.float64()
    if any(isinstance(v.dtype, T.FloatType) for v in vs):
        return pa.float32()
    return pa.int64()


# -- expressions (expr._compile's rules; each raise there declines here) ----

def _eval(node, tbl, fields) -> _V:
    if isinstance(node, E.ColumnRef):
        f = fields.get(node.name)
        if f is None:
            raise _Decline
        k = E._field_kind(f)
        if k not in (E.INT, E.FLOAT, E.BOOL, E.STR) and not isinstance(
                f.dataType, T.TimestampType):
            raise _Decline
        return _V(tbl.column(node.name), k, f.dataType, f.nullable,
                  f.metadata or {})
    if isinstance(node, E.Constant):
        return _constant(node.value)
    if isinstance(node, E.UnaryOp):
        return _unary(node.op, _eval(node.child, tbl, fields))
    if isinstance(node, E.BinaryOp):
        return _binary(node, _eval(node.left, tbl, fields),
                       _eval(node.right, tbl, fields))
    if isinstance(node, E.IsInOp):
        return _isin(node, _eval(node.child, tbl, fields))
    if isinstance(node, E.TernaryOp):
        if isinstance(node.cond, E.Constant):
            raise _Decline
        return _ternary(_eval(node.cond, tbl, fields),
                        _eval(node.a, tbl, fields),
                        _eval(node.b, tbl, fields))
    raise _Decline


def _constant(v) -> _V:
    """A Constant as ``expr._compile`` lits it (``F.lit``'s Spark type)."""
    k = E._kind_of_value(v)
    if k == E.INT:
        i = int(v)
        if not E._I64_MIN <= i <= 2**63 - 1:
            raise _Decline      # UINT constant, or raises in _compile
        if isinstance(v, np.integer):
            if v.dtype.kind != "i":
                raise _Decline
            dtype = {1: T.ByteType, 2: T.ShortType, 4: T.IntegerType,
                     8: T.LongType}[v.dtype.itemsize]()
        else:
            dtype = (T.IntegerType() if -2**31 <= i < 2**31
                     else T.LongType())
        return _V(pa.scalar(i, _arrow(dtype)), k, dtype, False, {})
    if k == E.FLOAT:
        x = float(v)
        if x != x:
            return _V(pa.scalar(None, pa.float64()), k, T.DoubleType(),
                      True, {})
        dtype = T.FloatType() if isinstance(v, np.float32) else T.DoubleType()
        return _V(pa.scalar(x, _arrow(dtype)), k, dtype, False, {})
    if k == E.BOOL:
        return _V(pa.scalar(bool(v)), k, T.BooleanType(), False, {})
    if k == E.STR:
        return _V(pa.scalar(v, pa.large_string()), k, T.StringType(), False,
                  {})
    if k == E.TS:
        if pd.isna(v):
            return _V(pa.scalar(None, _UTC_US), k, T.TimestampType(), True,
                      {})
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            raise _Decline      # a DateType literal
        # µs literal, as to_pydatetime() truncates
        return _V(pa.scalar(pd.Timestamp(v).value // 1000, _UTC_US), k,
                  T.TimestampType(), False, {})
    if k == E.NULL:
        return _V(pa.scalar(None), k, T.NullType(), True, {})
    raise _Decline


def _unary(op: str, v: _V) -> _V:
    if op in ("ABS", "NEG"):
        allowed = (E.INT, E.FLOAT) if op == "ABS" else (E.INT, E.FLOAT,
                                                         E.BOOL)
        if v.kind not in allowed:
            raise _Decline
        if op == "ABS":
            return _V(pc.abs(v.arr), v.kind, v.dtype, v.nullable, {})
        if v.kind == E.BOOL:
            return _V(pc.negate(_cast(v.arr, pa.int64())), E.INT,
                      T.LongType(), v.nullable, {})
        return _V(pc.negate(v.arr), v.kind, v.dtype, v.nullable, {})
    if op == "NOT":
        if v.kind != E.BOOL:
            raise _Decline
        return _V(pc.invert(v.arr), E.BOOL, T.BooleanType(), v.nullable, {})
    if op in ("ISNULL", "NOTNULL"):
        miss = pc.is_null(v.arr, nan_is_null=v.kind == E.FLOAT)
        return _V(miss if op == "ISNULL" else pc.invert(miss), E.BOOL,
                  T.BooleanType(), False, {})
    raise _Decline


def _binary(node, lv: _V, rv: _V) -> _V:
    op = node.op
    kinds = {lv.kind, rv.kind}
    if op in E._ARITH:
        if kinds - {E.INT, E.FLOAT, E.BOOL}:
            raise _Decline      # strings/timestamps raise; UINT/None
        if lv.kind == E.BOOL:
            lv = lv._replace(arr=_cast(lv.arr, pa.int64()), kind=E.INT,
                             dtype=T.LongType())
        if rv.kind == E.BOOL:
            rv = rv._replace(arr=_cast(rv.arr, pa.int64()), kind=E.INT,
                             dtype=T.LongType())
        nullable = lv.nullable or rv.nullable
        if op in ("DIV", "POW"):
            if op == "POW" and rv.kind == E.FLOAT:
                raise _Decline
            fn = pc.divide if op == "DIV" else pc.power
            out = fn(_cast(lv.arr, pa.float64()), _cast(rv.arr, pa.float64()))
            # Spark's Divide is always nullable
            return _V(out, E.FLOAT, T.DoubleType(),
                      nullable or op == "DIV", {})
        kind = E.FLOAT if E.FLOAT in kinds else E.INT
        typ = pa.float64() if kind == E.FLOAT else pa.int64()
        fn = {"ADD": pc.add, "SUB": pc.subtract, "MUL": pc.multiply}[op]
        return _V(fn(_cast(lv.arr, typ), _cast(rv.arr, typ)), kind,
                  T.DoubleType() if kind == E.FLOAT else T.LongType(),
                  nullable, {})
    if op in E._COMPARISON:
        return _compare(op, lv, rv)
    if op in E._BOOLEAN:
        if lv.kind != E.BOOL or rv.kind != E.BOOL:
            raise _Decline
        fn = {"AND": pc.and_kleene, "OR": pc.or_kleene,
              "XOR": pc.not_equal}[op]
        return _V(fn(lv.arr, rv.arr), E.BOOL, T.BooleanType(),
                  lv.nullable or rv.nullable, {})
    raise _Decline


def _compare(op: str, lv: _V, rv: _V) -> _V:
    kinds = {lv.kind, rv.kind}
    if op in E._ORDERING and E.STR in kinds:
        raise _Decline
    la, ra = lv.arr, rv.arr
    if E.NULL in kinds:
        res = pa.scalar(None, pa.bool_())
    else:
        if kinds <= {E.INT, E.FLOAT}:
            typ = _numeric_type(lv, rv)
            la, ra = _cast(la, typ), _cast(ra, typ)
        elif kinds == {E.TS, E.INT}:
            # timestamps compare as exact int64 ns of the µs value
            ns = [pc.multiply(_cast(a, pa.int64()), 1000) if v.kind == E.TS
                  else _cast(a, pa.int64()) for a, v in ((la, lv), (ra, rv))]
            la, ra = ns
        elif kinds == {E.STR}:
            la, ra = _cast(la, pa.large_string()), _cast(ra, pa.large_string())
        elif len(kinds) != 1:
            raise _Decline      # cross-kind comparison
        res = {"EQ": pc.equal, "NE": pc.not_equal, "LT": pc.less,
               "LE": pc.less_equal, "GT": pc.greater,
               "GE": pc.greater_equal}[op](la, ra)
    nullable = lv.nullable or rv.nullable
    if op == "NE":
        miss = pc.or_(pc.or_(pc.is_null(lv.arr), pc.is_null(rv.arr)),
                      pc.or_(_isnan(lv), _isnan(rv)))
        return _V(pc.or_kleene(res, miss), E.BOOL, T.BooleanType(),
                  nullable, {})
    ok = pc.invert(pc.or_(_isnan(lv), _isnan(rv)))
    return _V(pc.and_kleene(res, ok), E.BOOL, T.BooleanType(), nullable, {})


def _isin(node, v: _V) -> _V:
    vals = [x for x in node.values if not E._is_missing(x)]
    if v.kind in (E.NULL, E.TS):
        raise _Decline
    vkinds = {E._kind_of_value(x) for x in vals}
    if vals and not ((vkinds <= {E.INT, E.FLOAT}
                      and v.kind in (E.INT, E.FLOAT)) or vkinds == {v.kind}):
        raise _Decline
    if v.kind == E.INT:
        vals = [x for x in vals if E._kind_of_value(x) != E.INT
                or E._I64_MIN <= int(x) <= 2**63 - 1]
    if v.kind in (E.INT, E.FLOAT):
        if any(isinstance(x, np.floating) and not isinstance(x, float)
               for x in vals):
            raise _Decline      # a float32 literal's own coercion
        if isinstance(v.dtype, T.DoubleType) or any(
                isinstance(x, float) for x in vals):
            typ, py = pa.float64(), float
        elif isinstance(v.dtype, T.FloatType):
            typ, py = pa.float32(), float
        else:
            typ, py = pa.int64(), int
        vals = [py(x) for x in vals]
    else:
        typ = pa.large_string() if v.kind == E.STR else pa.bool_()
    nan = _isnan(v)
    if not vals:
        res = pa.scalar(bool(node.negate))
        nullable = False
    else:
        probe = _cast(v.arr, typ)
        hit = pc.is_in(probe, value_set=pa.array(vals, typ))
        # Spark's In is NULL for a NULL probe
        res = pc.if_else(pc.is_valid(probe), hit, pa.scalar(None, pa.bool_()))
        nullable = v.nullable
        if node.negate:
            res = pc.invert(res)
    if node.negate:
        res = pc.or_kleene(pc.or_kleene(res, pc.is_null(v.arr)), nan)
    else:
        res = pc.and_kleene(res, pc.invert(nan))
    return _V(res, E.BOOL, T.BooleanType(), nullable, {})


def _wider(a, b):
    """Spark's common type of two same-kind branches."""
    if type(a) is type(b):
        return a
    order = _INTS + (T.FloatType, T.DoubleType)
    if isinstance(a, order) and isinstance(b, order):
        return max(a, b, key=lambda t: order.index(type(t)))
    raise _Decline


def _ternary(c: _V, a: _V, b: _V) -> _V:
    if c.kind != E.BOOL:
        raise _Decline
    if a.kind == b.kind and a.kind != E.NULL:
        kind, dtype = a.kind, _wider(a.dtype, b.dtype)
    elif {a.kind, b.kind} <= {E.INT, E.FLOAT}:
        kind, dtype = E.FLOAT, T.DoubleType()
    elif E.NULL in (a.kind, b.kind) and {a.kind, b.kind} != {E.NULL}:
        kind, dtype = (b.kind, b.dtype) if a.kind == E.NULL else (a.kind,
                                                                   a.dtype)
    else:
        raise _Decline
    typ = pa.large_string() if kind == E.STR else _arrow(dtype)
    out = pc.if_else(pc.fill_null(c.arr, False), _cast(a.arr, typ),
                     _cast(b.arr, typ))
    return _V(out, kind, dtype, a.nullable or b.nullable, {})


# -- clauses ----------------------------------------------------------------

def _date_range(tbl, fields, rng, ts_col):
    """``QueryBuilder._apply_date_range``: the exact ns shadow when the
    index has one, else the µs timestamp against µs-truncated bounds."""
    from arcticdb_spark.catalog import NAT_SENTINEL, ns_shadow_col
    lo, hi = rng
    if ts_col is None or ts_col not in fields:
        raise _Decline
    shadow = ns_shadow_col(ts_col)
    if shadow in fields:
        c, scale = tbl.column(shadow), 1
    elif isinstance(fields[ts_col].dataType, T.TimestampType):
        c, scale = _cast(tbl.column(ts_col), pa.int64()), 1000
    else:
        raise _Decline
    keep = []
    if lo is not None:
        keep.append(pc.greater_equal(c, pd.Timestamp(lo).value // scale))
    if hi is not None:
        keep.append(pc.less_equal(c, pd.Timestamp(hi).value // scale))
        if lo is None and scale == 1:
            keep.append(pc.not_equal(c, NAT_SENTINEL))
    return tbl.filter(functools.reduce(pc.and_, keep)) if keep else tbl


def _filter(tbl, v: _V):
    if v.kind != E.BOOL:
        raise _Decline
    if isinstance(v.arr, pa.Scalar):
        return tbl if v.arr.as_py() else tbl.slice(0, 0)
    return tbl.filter(v.arr)


def _project(tbl, fields, name, expr):
    if isinstance(expr, E.ExpressionNode):
        v = _eval(expr, tbl, fields)
        meta = v.meta if isinstance(expr, E.ColumnRef) else {}
    elif isinstance(expr, (bool, int, float, str)):
        # a broadcast constant: plain F.lit (a NaN stays NaN)
        if isinstance(expr, float):
            v = _V(pa.scalar(expr), E.FLOAT, T.DoubleType(), False, {})
        else:
            v = _constant(expr)
        meta = {}
    else:
        raise _Decline
    if v.kind == E.NULL:
        raise _Decline
    arr = (pa.repeat(v.arr, tbl.num_rows) if isinstance(v.arr, pa.Scalar)
           else v.arr)
    field = T.StructField(name, v.dtype, v.nullable, meta)
    fields = dict(fields)
    if name in fields:
        # withColumn replaces a column in place
        tbl = tbl.set_column(tbl.column_names.index(name), name, arr)
    else:
        tbl = tbl.append_column(name, arr)
    fields[name] = field
    return tbl, fields


def _agg_input(f: T.StructField, arr, how: str):
    """(input array, Spark type, nullable, metadata) of one aggregator,
    after ``operators.resample.compile_agg``."""
    dt = f.dataType
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        arr = _nan_to_null(arr)     # nan_safe: NaN is skipped like null
    elif not isinstance(dt, _INTS + (T.BooleanType, T.StringType,
                                     T.TimestampType)):
        raise _Decline
    if how == "count":
        return arr, T.LongType(), False, {E.UINT64_META: True}
    if isinstance(dt, T.StringType) and how in ("sum", "mean", "min", "max"):
        raise _Decline
    if isinstance(dt, T.TimestampType) and how in ("sum", "mean"):
        raise _Decline
    if how == "sum":
        if isinstance(dt, T.BooleanType):
            return (_cast(arr, pa.int64()), T.LongType(), False,
                    {E.UINT64_META: True})
        if isinstance(dt, _INTS):
            return _cast(arr, pa.int64()), T.LongType(), False, {}
        return _cast(arr, pa.float64()), T.DoubleType(), False, {}
    if how == "mean":
        return _cast(arr, pa.float64()), T.DoubleType(), True, {}
    return arr, dt, True, {}


def _aggregate(keys, tbl, fields, aggs, order, nulls_first: bool):
    """Group ``tbl`` on ``keys`` — (StructField, array) pairs — and apply
    the ``aggs`` spec; ``order`` orders first/last (None: row order).
    Returns the keys then the aggregates, sorted on the keys."""
    specs = [(o, i, h.lower()) for o, i, h in normalize_agg_spec(aggs)]
    names = [kf.name for kf, _ in keys] + [o for o, _, _ in specs]
    if not specs or len(set(names)) != len(names):
        raise _Decline
    cols, out_fields, plan = {}, [kf for kf, _ in keys], []
    for j, (_, arr) in enumerate(keys):
        cols[f"k{j}"] = arr
    ordered = any(h in ("first", "last") for _, _, h in specs)
    for j, (o, i, h) in enumerate(specs):
        if h not in AGGREGATORS or i not in fields:
            raise _Decline
        arr, dtype, nullable, meta = _agg_input(fields[i], tbl.column(i), h)
        if h in ("first", "last") and order is not None:
            # min_by/max_by skip rows whose ordering value is missing
            arr = pc.if_else(pc.is_valid(order), arr,
                             pa.scalar(None, arr.type))
        cols[f"v{j}"] = arr
        out_fields.append(T.StructField(o, dtype, nullable, meta))
        opts = (pc.CountOptions("only_valid") if h == "count"
                else pc.ScalarAggregateOptions(min_count=0 if h == "sum"
                                               else 1))
        plan.append((f"v{j}", h, opts))
    work = pa.table(cols)
    if ordered and order is not None:
        # a stable sort: ties keep row order
        work = work.take(pc.sort_indices(order, null_placement="at_end"))
    key_names = [f"k{j}" for j in range(len(keys))]
    # one thread: first/last follow input order, float sums one order
    res = work.group_by(key_names, use_threads=False).aggregate(plan)
    res = res.take(pc.sort_indices(
        res, [(k, "ascending") for k in key_names],
        null_placement="at_start" if nulls_first else "at_end"))
    arrays = [res.column(k) for k in key_names] + [
        res.column(f"v{j}_{h}") for j, (_, _, h) in enumerate(specs)]
    out = pa.Table.from_arrays(
        [_cast(a, _arrow(f.dataType)) for a, f in zip(arrays, out_fields)],
        names=names)
    return out, {f.name: f for f in out_fields}


def _groupby(tbl, fields, keys, aggs, ts_col):
    """``QueryBuilder._apply_groupby_agg``: null and NaN keys are dropped,
    float keys group as double with -0.0 folded into 0.0 (Spark normalizes
    float grouping keys)."""
    key_cols = []
    for k in keys:
        f = fields.get(k)
        if f is None:
            raise _Decline
        dt = f.dataType
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            arr = pc.add(_nan_to_null(_cast(tbl.column(k), pa.float64())), 0.0)
            f = T.StructField(k, T.DoubleType(), True)
        elif isinstance(dt, _INTS + (T.BooleanType, T.StringType,
                                     T.TimestampType)):
            arr = tbl.column(k)
        else:
            raise _Decline
        key_cols.append((f, arr))
    mask = functools.reduce(pc.and_, [pc.is_valid(a) for _, a in key_cols])
    tbl = tbl.filter(mask)
    key_cols = [(f, a.filter(mask)) for f, a in key_cols]
    order = (tbl.column(ts_col) if ts_col is not None and ts_col in fields
             else None)
    return _aggregate(key_cols, tbl, fields, aggs, order, nulls_first=False)


def _resample(tbl, fields, args, ts_col):
    """``operators.resample.resample`` on the table: bucket edges in exact
    int64 ns (``origin + floor((ts - origin [- 1 if closed right]) /
    rule) * rule``), labels floored to µs, buckets in ascending order with
    a NaT bucket first."""
    from arcticdb_spark.catalog import NAT_SENTINEL, ns_shadow_col
    if ts_col is None or ts_col not in fields or not isinstance(
            fields[ts_col].dataType, T.TimestampType):
        raise _Decline
    rule_ns = rule_to_nanos(args["rule"])
    if rule_ns % 1000:
        raise _Decline
    origin = args["origin"]
    end_origin = isinstance(origin, str) and origin in ("end", "end_day")
    closed = args["closed"] or ("right" if end_origin else "left")
    label = args["label"] or ("right" if end_origin else "left")
    if closed not in ("left", "right") or label not in ("left", "right"):
        raise _Decline
    shadow = ns_shadow_col(ts_col)
    if shadow in fields:
        sh = tbl.column(shadow)
        ts_ns = pc.if_else(pc.equal(sh, NAT_SENTINEL),
                           pa.scalar(None, pa.int64()), sh)
    else:
        ts_ns = pc.multiply(_cast(tbl.column(ts_col), pa.int64()), 1000)
    if isinstance(origin, str) and origin in ("start", "start_day", "end",
                                              "end_day"):
        edge = (pc.min if origin.startswith("start") else pc.max)(ts_ns)
        t = pd.Timestamp(edge.as_py() or 0)
        if origin == "start_day":
            t = t.normalize()
        elif origin == "end_day":
            t = t.ceil("D")
        origin_ns = t.value
    elif origin in (None, "epoch"):
        origin_ns = 0
    else:
        origin_ns = pd.Timestamp(origin).value
    if args["offset"]:
        origin_ns += pd.Timedelta(args["offset"]).value
    origin_ns = np.int64(origin_ns)
    ns = pc.fill_null(ts_ns, 0).to_numpy()
    d = ns - origin_ns - (1 if closed == "right" else 0)
    start = d - np.mod(d, rule_ns) + origin_ns
    lab = start + rule_ns if label == "right" else start
    bucket = pa.array(np.floor_divide(lab, 1000), _UTC_US,
                      mask=pc.is_null(ts_ns).to_numpy(zero_copy_only=False))
    key = T.StructField(ts_col, T.TimestampType(), True)
    return _aggregate([(key, bucket)], tbl, fields, args["aggs"],
                      tbl.column(ts_col), nulls_first=True)

"""Expression AST -> pyspark Column, with the reference engine's semantics.

Mirrors ArcticDB's ``ExpressionNode`` surface (reference:
``python/arcticdb/version_store/processing.py:64-285`` builds the AST;
``cpp/arcticdb/processing/operation_types.hpp:75-109`` is the op enum;
type-promotion rules ``operation_types.hpp:209-354``). We do NOT port the
C++ kernels — every op compiles to a built-in ``pyspark.sql.functions``
Column expression so Catalyst/Tungsten (whole-stage codegen) execute it
JVM-side. The load-bearing semantic differences vs plain Spark, handled here:

* **NaN ≡ null** (reference ``operation_types.hpp:377-406``): ArcticDB
  treats float NaN as a missing value. Spark treats NaN as a real value
  that is *greater than any number* and equal to itself. We normalize:
  every float-typed column reference compiles to
  ``nanvl(col, NULL)`` so NaN behaves as null in filters, arithmetic
  (propagates), and aggregations (skipped) — matching pandas/ArcticDB.
* **Division always yields float64** (``operation_types.hpp:248``):
  both operands cast to double before ``/``, with IEEE results for a zero
  divisor (±inf; NaN for 0/0 and NaN/0) where Spark's ``/`` gives NULL.
* **Integer arithmetic widens** to 64-bit (reference widens to the next
  size up; we go straight to long — same values for all inputs
  representable in 64 bits).
* **String ordering comparisons are rejected** at compile time
  (``operation_types.hpp:444-449``), equality/isin allowed.
* **regex_match is *search* semantics** (re2 partial match,
  ``util/regex_filter.hpp``) — Spark ``rlike`` is also unanchored: match.
* **where(cond, a, b)** ternary -> ``F.when`` with common-type promotion
  (``operation_dispatch_ternary.cpp``).
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# simplified type lattice for promotion decisions
# ---------------------------------------------------------------------------

INT, FLOAT, BOOL, STR, TS, NULL, OTHER = "int", "float", "bool", "str", "ts", "null", "other"
UINT = "uint"   # full-range uint64 stored as its int64 bit pattern

_SPARK_KIND = {
    T.ByteType: INT, T.ShortType: INT, T.IntegerType: INT, T.LongType: INT,
    T.FloatType: FLOAT, T.DoubleType: FLOAT,
    T.BooleanType: BOOL,
    T.StringType: STR,
    T.TimestampType: TS, T.TimestampNTZType: TS, T.DateType: TS,
    T.NullType: NULL,
}

# StructField metadata key marking a LONG column as a uint64 bit pattern
# (catalog write path sets it from norm_meta; flows through filters/selects)
UINT64_META = "arcticdb:uint64"

# StructField metadata key marking an integer column whose pandas source
# dtype was a SMALL unsigned int (uint8/16/32, stored widened to the next
# signed Spark type — exact in value). Only provenance: sum aggregation
# promotes these to uint64 like the reference
# (common_sum_aggregation_dtype: uint -> uint64, test.py:1178-1190) and
# append promotion treats uint64 + small-uint as a legal unsigned widen.
UNSIGNED_META = "arcticdb:unsigned"

_U64_WRAP = 1 << 64
_I64_MIN = -(1 << 63)


def _kind_of(dtype: T.DataType) -> str:
    return _SPARK_KIND.get(type(dtype), OTHER)


def _field_kind(field: T.StructField) -> str:
    if (isinstance(field.dataType, T.LongType)
            and (field.metadata or {}).get(UINT64_META)):
        return UINT
    return _kind_of(field.dataType)


def _u64_flip(c: Column) -> Column:
    """Monotone map from unsigned order to signed order: for a uint64 value
    u stored as bit pattern p, ``p XOR 2^63`` (as signed int64) equals
    ``u - 2^63`` — so signed comparisons on flipped patterns implement
    unsigned comparisons. Pure long codegen, no decimal.
    (reference semantics: processing/signed_unsigned_comparison.hpp:1)"""
    return c.bitwiseXOR(F.lit(_I64_MIN))


def _u64_to_double(c: Column) -> Column:
    """Unsigned value of a uint64 bit pattern as double (for DIV / mean /
    mixed-with-float math — the reference promotes uint64+float and
    uint64+signed combinations to double, entity/type_utils.cpp:254)."""
    return c.cast("double") + F.when(c < 0, F.lit(float(_U64_WRAP))) \
                               .otherwise(F.lit(0.0))


def _cmp_uint_const(op: str, uc: Column, v: int, uint_on_left: bool) -> Column:
    """uint64 column vs integer CONSTANT as plain signed predicates on the
    bit pattern — parquet-PUSHABLE, unlike the sign-bit-flip form (an XOR
    expression defeats row-group stats pruning). The unsigned domain maps
    to signed patterns as [0, 2^63) then [-2^63, 0), so any unsigned
    threshold splits into at most two signed ranges on the raw column."""
    if not uint_on_left:
        op = {"LT": "GT", "LE": "GE", "GT": "LT", "GE": "LE",
              "EQ": "EQ", "NE": "NE"}[op]
    if v < 0:
        # every uint64 value exceeds any negative constant
        if op == "NE":
            return F.lit(True)          # missing u: NE is true anyway
        if op in ("GT", "GE"):
            return uc.isNotNull()       # ordering vs missing u -> false
        return F.lit(False) & uc.isNotNull()   # EQ/LT/LE
    if v >= _U64_WRAP:
        if op == "NE":
            return F.lit(True)
        if op in ("LT", "LE"):
            return uc.isNotNull()
        return F.lit(False) & uc.isNotNull()   # EQ/GT/GE
    patt = F.lit(v - _U64_WRAP if v > 2**63 - 1 else v)
    if op == "EQ":
        return uc == patt
    if op == "NE":
        return uc != patt
    if v <= 2**63 - 1:        # pattern is non-negative
        return {"LT": (uc >= 0) & (uc < patt),
                "LE": (uc >= 0) & (uc <= patt),
                "GT": (uc < 0) | (uc > patt),
                "GE": (uc < 0) | (uc >= patt)}[op]
    return {"LT": (uc >= 0) | (uc < patt),   # pattern is negative
            "LE": (uc >= 0) | (uc <= patt),
            "GT": (uc < 0) & (uc > patt),
            "GE": (uc < 0) & (uc >= patt)}[op]


def _cmp_uint_int(op: str, uc: Column, ic: Column, uint_on_left: bool) -> Column:
    """Exact uint64-vs-int64 comparison on long columns (``uc`` holds the
    uint64 bit pattern, ``ic`` the signed value). Equivalent to the
    reference's msb_set dispatch (signed_unsigned_comparison.hpp:18-43):
    when the signed side is negative the unsigned side is strictly greater;
    otherwise both values are in [0, 2^63) ∪ [2^63, 2^64) and sign-bit
    flipping makes signed comparison implement unsigned comparison. Null
    operands propagate null (filter-false), as the caller expects."""
    neg, nonneg = ic < 0, ic >= 0
    fu, fi = _u64_flip(uc), _u64_flip(ic)
    if op == "EQ":
        return nonneg & (uc == ic)
    if op == "NE":
        return neg | (uc != ic)
    if not uint_on_left:   # signed op unsigned: mirror the operator
        op = {"LT": "GT", "LE": "GE", "GT": "LT", "GE": "LE"}[op]
    if op == "LT":   # u < s
        return nonneg & (fu < fi)
    if op == "LE":
        return nonneg & (fu <= fi)
    if op == "GT":   # u > s
        return neg | (fu > fi)
    return neg | (fu >= fi)   # GE


def _kind_of_value(v: Any) -> str:
    if v is None:
        return NULL
    if isinstance(v, bool):
        return BOOL
    if isinstance(v, int):
        return INT
    if isinstance(v, float):
        return FLOAT
    if isinstance(v, str):
        return STR
    if isinstance(v, (_dt.datetime, _dt.date)):
        return TS
    try:  # numpy / pandas scalars without importing hard deps at module load
        import numpy as np
        if isinstance(v, np.integer):
            return INT
        if isinstance(v, np.floating):
            return FLOAT
        if isinstance(v, np.datetime64):
            return TS
        if isinstance(v, np.bool_):
            return BOOL
    except ImportError:  # pragma: no cover
        pass
    return OTHER


def _is_missing(v) -> bool:
    """None, NaN or NaT: a value-set member that matches no row."""
    if v is None:
        return True
    try:
        return bool(v != v)   # NaN and NaT are both self-unequal
    except Exception:
        return False


def _is_value_set(v) -> bool:
    """`col == [a, b]` means isin (reference __eq__ sugar): lists, sets,
    frozensets, tuples, and 1D ndarrays count; strings/scalars don't."""
    if isinstance(v, (list, tuple, set, frozenset)):
        return True
    try:
        import numpy as np
        return isinstance(v, np.ndarray)
    except ImportError:  # pragma: no cover
        return False


class ExpressionError(TypeError):
    """Raised for pipelines the reference engine would reject (e.g. `<` on strings)."""


# ---------------------------------------------------------------------------
# AST nodes
# ---------------------------------------------------------------------------

class ExpressionNode:
    """Lazy expression; combine with operators, compile against a DataFrame."""

    # -- arithmetic --
    def __add__(self, other):  return BinaryOp("ADD", self, _wrap(other))
    def __radd__(self, other): return BinaryOp("ADD", _wrap(other), self)
    def __sub__(self, other):  return BinaryOp("SUB", self, _wrap(other))
    def __rsub__(self, other): return BinaryOp("SUB", _wrap(other), self)
    def __mul__(self, other):  return BinaryOp("MUL", self, _wrap(other))
    def __rmul__(self, other): return BinaryOp("MUL", _wrap(other), self)
    def __truediv__(self, other):  return BinaryOp("DIV", self, _wrap(other))
    def __rtruediv__(self, other): return BinaryOp("DIV", _wrap(other), self)
    def __pow__(self, other):  return BinaryOp("POW", self, _wrap(other))
    def __rpow__(self, other): return BinaryOp("POW", _wrap(other), self)
    def __neg__(self):         return UnaryOp("NEG", self)
    def __abs__(self):         return UnaryOp("ABS", self)
    def abs(self):             return UnaryOp("ABS", self)

    # -- comparisons --
    def __eq__(self, other):   # noqa: D105
        if _is_value_set(other):
            return self.isin(other)
        return BinaryOp("EQ", self, _wrap(other))

    def __ne__(self, other):   # noqa: D105
        if _is_value_set(other):
            return self.isnotin(other)
        return BinaryOp("NE", self, _wrap(other))

    def __lt__(self, other): return BinaryOp("LT", self, _wrap(other))
    def __le__(self, other): return BinaryOp("LE", self, _wrap(other))
    def __gt__(self, other): return BinaryOp("GT", self, _wrap(other))
    def __ge__(self, other): return BinaryOp("GE", self, _wrap(other))

    # -- boolean --
    # plain-bool operands SHORT-CIRCUIT at build time exactly like the
    # reference (processing.py:152-173): `expr & True` is `expr`,
    # `expr & False` collapses to the literal False (which QueryBuilder
    # refuses to filter by), `expr | True` to True, `expr ^ True` to
    # `~expr` — pinned by the ported test_filter_bool_short_circuiting.
    def __and__(self, other):
        if other is True:
            return self
        if other is False:
            return False
        return BinaryOp("AND", self, _wrap(other))

    def __rand__(self, other):
        if other is True:
            return self
        if other is False:
            return False
        return BinaryOp("AND", _wrap(other), self)

    def __or__(self, other):
        if other is True:
            return True
        if other is False:
            return self
        return BinaryOp("OR", self, _wrap(other))

    def __ror__(self, other):
        if other is True:
            return True
        if other is False:
            return self
        return BinaryOp("OR", _wrap(other), self)

    def __xor__(self, other):
        if other is True:
            return UnaryOp("NOT", self)
        if other is False:
            return self
        return BinaryOp("XOR", self, _wrap(other))

    def __rxor__(self, other):
        if other is True:
            return UnaryOp("NOT", self)
        if other is False:
            return self
        return BinaryOp("XOR", _wrap(other), self)
    def __invert__(self):      return UnaryOp("NOT", self)

    def __bool__(self):
        # reference processing.py:215-220 raises the same way — an
        # ExpressionNode used in `if`/`and` is a user error.
        raise ExpressionError(
            "ExpressionNode has no truth value; use & | ~ instead of and/or/not")

    # -- membership / null / regex --
    @staticmethod
    def _collect_set(values) -> list:
        # reference accepts lists, sets, frozensets, 1D ndarrays, or *args
        # (processing.py isin docstring); any non-string iterable works here
        if (len(values) == 1 and not isinstance(values[0], (str, bytes))
                and hasattr(values[0], "__iter__")):
            return list(values[0])
        return list(values)

    @staticmethod
    def _check_value_set(vals: list) -> list:
        """Reference value_list_from_args (processing.py:380-408): a set
        mixing negative signed integers with uint64-range values (> 2^63-1)
        np.concatenates to float64 and raises 'Invalid datatype conversion
        to double' — replicate that rejection at build time."""
        ints = [int(v) for v in vals
                if isinstance(v, int) and not isinstance(v, bool)
                or _kind_of_value(v) == INT]
        if ints and min(ints) < 0 and max(ints) > 2**63 - 1:
            raise ExpressionError(
                "Invalid datatype conversion to double: value set mixes "
                "negative integers with uint64-range values")
        return vals

    def isin(self, *values):
        return IsInOp(self, self._check_value_set(self._collect_set(values)),
                      negate=False)

    def isnotin(self, *values):
        return IsInOp(self, self._check_value_set(self._collect_set(values)),
                      negate=True)

    def isnull(self):  return UnaryOp("ISNULL", self)
    def isna(self):    return UnaryOp("ISNULL", self)
    def notnull(self): return UnaryOp("NOTNULL", self)
    def notna(self):   return UnaryOp("NOTNULL", self)

    def regex_match(self, pattern: str):
        return RegexMatchOp(self, pattern)

    def __hash__(self):
        return id(self)

    # -- compilation --
    def compile(self, df: DataFrame) -> Column:
        col, _ = _compile(self, {f.name: f for f in df.schema.fields})
        return col


class ColumnRef(ExpressionNode):
    def __init__(self, name: str):
        self.name = name

    def __repr__(self):
        return f"col({self.name!r})"


class Constant(ExpressionNode):
    def __init__(self, value: Any):
        self.value = value

    def __repr__(self):
        return f"lit({self.value!r})"


class UnaryOp(ExpressionNode):
    def __init__(self, op: str, child: ExpressionNode):
        self.op, self.child = op, child


class BinaryOp(ExpressionNode):
    def __init__(self, op: str, left: ExpressionNode, right: ExpressionNode):
        self.op, self.left, self.right = op, left, right


class IsInOp(ExpressionNode):
    def __init__(self, child: ExpressionNode, values: list, negate: bool):
        self.child, self.values, self.negate = child, values, negate


class RegexMatchOp(ExpressionNode):
    def __init__(self, child: ExpressionNode, pattern: str):
        self.child, self.pattern = child, pattern


class TernaryOp(ExpressionNode):
    def __init__(self, cond: ExpressionNode, a: ExpressionNode, b: ExpressionNode):
        self.cond, self.a, self.b = cond, a, b


def where(cond, a, b) -> ExpressionNode:
    """Ternary operator, reference ``processing.py:288-361``."""
    return TernaryOp(_wrap(cond), _wrap(a), _wrap(b))


def _wrap(v) -> ExpressionNode:
    return v if isinstance(v, ExpressionNode) else Constant(v)


# ---------------------------------------------------------------------------
# compiler
# ---------------------------------------------------------------------------

_ORDERING = {"LT", "LE", "GT", "GE"}
_COMPARISON = _ORDERING | {"EQ", "NE"}
_ARITH = {"ADD", "SUB", "MUL", "DIV", "POW"}
_BOOLEAN = {"AND", "OR", "XOR"}


def _ts_to_nanos(c: Column) -> Column:
    """Timestamp column -> exact int64 nanoseconds since epoch.

    ``unix_micros`` is exact long arithmetic (Spark timestamps are µs
    precision), so ``* 1000`` is the exact ns value — unlike
    ``cast("double") * 1e9`` which loses ~256 ns of precision at 2020-era
    epochs. NTZ/date inputs are cast to TIMESTAMP first (value-preserving
    under the UTC session we enforce).
    """
    return F.unix_micros(c.cast("timestamp")) * F.lit(1000).cast("long")


def _ieee_div(lc: Column, rc: Column) -> Column:
    """IEEE-754 double division. Spark's ``/`` yields NULL for a zero
    divisor; pandas and the reference give ±inf, and NaN for 0/0 and
    NaN/0. The sign of a zero divisor comes from its string form, the one
    Spark expression that tells -0.0 from 0.0."""
    inf = lc * F.lit(float("inf"))
    return F.when(rc == F.lit(0.0),
                  F.when(rc.cast("string").startswith("-"), -inf)
                  .otherwise(inf)).otherwise(lc / rc)


def _lit(v) -> Column:
    # pandas Timestamps / numpy datetime64 to Spark literal
    k = _kind_of_value(v)
    if k == TS and not isinstance(v, (_dt.datetime, _dt.date)):
        import pandas as pd
        v = pd.Timestamp(v).to_pydatetime()
    return F.lit(v)


def _compile(node: ExpressionNode, schema: dict[str, T.StructField]) -> tuple[Column, str]:
    """Return (spark Column, kind). ``schema`` maps name -> StructField so
    the uint64 bit-pattern marker (field metadata) is visible."""
    if isinstance(node, ColumnRef):
        if node.name not in schema:
            raise ExpressionError(f"column {node.name!r} not in schema {sorted(schema)}")
        kind = _field_kind(schema[node.name])
        # NOTE: floats are NOT nanvl-wrapped here — a wrapped column defeats
        # Parquet filter pushdown (PushedFilters goes empty). NaN ≡ null is
        # instead enforced per-operation below: comparisons/isin get a
        # ~isnan guard (a separate, pushdown-preserving conjunct), isnull
        # checks add isnan, and aggregation inputs are nanvl-wrapped by the
        # query layer (see query.py nan_safe_input).
        return F.col(node.name), kind

    if isinstance(node, Constant):
        k = _kind_of_value(node.value)
        if k == INT:
            v = int(node.value)
            if v > 2**63 - 1:
                if v >= _U64_WRAP:
                    raise ExpressionError(
                        f"integer constant {v} exceeds uint64 range")
                # uint64-range constant: carry its int64 BIT PATTERN with
                # kind UINT — comparisons/arithmetic then use the unsigned
                # semantics paths (a plain long literal would overflow)
                return F.lit(v - _U64_WRAP), UINT
            if v < _I64_MIN:
                raise ExpressionError(
                    f"integer constant {v} below int64 range")
        if k == FLOAT:
            import math
            if math.isnan(node.value):
                return F.lit(None).cast("double"), FLOAT
        if k == TS:
            # pd.NaT is a datetime subclass; F.lit(NaT) crashes in py4j
            # conversion — it is a missing value (reference
            # test_query_builder_nat.py)
            import pandas as pd
            if pd.isna(node.value):
                return F.lit(None).cast("timestamp"), TS
        return _lit(node.value), k

    if isinstance(node, UnaryOp):
        c, k = _compile(node.child, schema)
        if node.op == "ABS":
            if k == UINT:
                return c, UINT   # abs of unsigned is the identity
            if k not in (INT, FLOAT):
                raise ExpressionError(f"ABS unsupported on {k}")
            return F.abs(c), k
        if node.op == "NEG":
            if k == UINT:
                # negation leaves [0, 2^64): promote to double like the
                # reference's permissive uint64/signed combine
                return -_u64_to_double(c), FLOAT
            if k not in (INT, FLOAT, BOOL):
                raise ExpressionError(f"NEG unsupported on {k}")
            return -(c.cast("long") if k == BOOL else c), INT if k == BOOL else k
        if node.op == "NOT":
            if k != BOOL:
                raise ExpressionError("NOT requires a boolean expression")
            return ~c, BOOL
        if node.op == "ISNULL":
            # NaN ≡ missing (reference operation_types.hpp:377-406)
            if k == FLOAT:
                return c.isNull() | F.isnan(c), BOOL
            return c.isNull(), BOOL
        if node.op == "NOTNULL":
            if k == FLOAT:
                return c.isNotNull() & ~F.isnan(c), BOOL
            return c.isNotNull(), BOOL
        raise ExpressionError(f"unknown unary op {node.op}")

    if isinstance(node, BinaryOp):
        lc, lk = _compile(node.left, schema)
        rc, rk = _compile(node.right, schema)
        op = node.op
        if op in _ARITH:
            if STR in (lk, rk):
                raise ExpressionError(f"{op} unsupported on strings")
            if TS in (lk, rk):
                # intended reference behaviour: timestamp operands in
                # projection arithmetic raise (test_project_datetime_col_
                # with_numeric_scalar and its three mirrors, xfail-pinned as
                # UserInputException); Spark's implicit cast would silently
                # compute epoch-seconds math instead
                raise ExpressionError(f"{op} unsupported on timestamps")
            if BOOL == lk:
                lc, lk = lc.cast("long"), INT
            if BOOL == rk:
                rc, rk = rc.cast("long"), INT
            if UINT in (lk, rk):
                # uint64 arithmetic (reference operation_types.hpp promotion
                # + type_utils.cpp:254 permissive combine):
                #   uint64 op uint64 -> uint64 mod 2^64: identical bit
                #     patterns under two's-complement long ADD/SUB/MUL
                #     (session runs ansi=false, so long math wraps);
                #   uint64 op signed/float or DIV/POW -> double via exact
                #     unsigned conversion.
                if lk == rk == UINT and op in ("ADD", "SUB", "MUL"):
                    # a nonneg int CONSTANT operand also lands here via the
                    # coercion below; column-vs-column keeps bit patterns
                    spark_op = {"ADD": lambda a, b: a + b,
                                "SUB": lambda a, b: a - b,
                                "MUL": lambda a, b: a * b}[op]
                    return spark_op(lc, rc), UINT
                lc = _u64_to_double(lc) if lk == UINT else lc.cast("double")
                rc = _u64_to_double(rc) if rk == UINT else rc.cast("double")
                if op == "DIV":
                    return _ieee_div(lc, rc), FLOAT
                if op == "POW":
                    if rk == FLOAT:
                        raise ExpressionError(
                            "POW with a float exponent is not supported")
                    d = F.pow(lc, rc)
                    if rk == UINT and lk == UINT:
                        # uint ^ uint -> uint64 (operation_types.hpp:238
                        # PowOperator integer special case). The reference
                        # computes std::pow in double then casts to uint64
                        # (PowOperator::apply :625), so the result carries
                        # double precision; mirror the unsigned cast by
                        # mapping [2^63, 2^64) back to negative bit
                        # patterns. >= 2^64 is UB upstream — saturates here.
                        bits = F.when(
                            d >= F.lit(float(1 << 63)),
                            (d - F.lit(float(1 << 64))).cast("long")
                        ).otherwise(d.cast("long"))
                        return bits, UINT
                    if rk == UINT and lk == INT:
                        # int ^ uint -> int64 (same table)
                        return d.cast("long"), INT
                    # signed exponent (or float base) -> double: a negative
                    # exponent produces fractional results
                    return d, FLOAT
                spark_op = {"ADD": lambda a, b: a + b,
                            "SUB": lambda a, b: a - b,
                            "MUL": lambda a, b: a * b}[op]
                return spark_op(lc, rc), FLOAT
            if op == "DIV":
                return _ieee_div(lc.cast("double"), rc.cast("double")), FLOAT
            if op == "POW":
                # the reference rejects float exponents (test_project_pow_
                # float_exponent_raises); signed int exponents produce
                # float64 (negative powers are fractions). Unsigned-exponent
                # integer pow stays integer — handled in the UINT branch
                # above (uint**uint -> uint64, int**uint -> int64).
                if rk == FLOAT:
                    raise ExpressionError(
                        "POW with a float exponent is not supported")
                return F.pow(lc.cast("double"), rc.cast("double")), FLOAT
            out_k = FLOAT if FLOAT in (lk, rk) else INT
            if out_k == INT:
                lc, rc = lc.cast("long"), rc.cast("long")
            else:
                lc, rc = lc.cast("double"), rc.cast("double")
            spark_op = {"ADD": lambda a, b: a + b,
                        "SUB": lambda a, b: a - b,
                        "MUL": lambda a, b: a * b}[op]
            return spark_op(lc, rc), out_k
        if op in _COMPARISON:
            if op in _ORDERING and (lk == STR or rk == STR):
                # reference operation_types.hpp:444-449
                raise ExpressionError("ordering comparisons on strings are not supported")
            cmp = {"EQ": lambda a, b: a == b, "NE": lambda a, b: a != b,
                   "LT": lambda a, b: a < b, "LE": lambda a, b: a <= b,
                   "GT": lambda a, b: a > b, "GE": lambda a, b: a >= b}[op]
            res = None
            if UINT in (lk, rk):
                # constant side: compile to pushable signed range predicates
                # on the raw bit pattern (covers both small-INT constants
                # and uint64-range constants that compiled to UINT kind)
                lconst = isinstance(node.left, Constant) and \
                    _kind_of_value(node.left.value) == INT
                rconst = isinstance(node.right, Constant) and \
                    _kind_of_value(node.right.value) == INT
                if lk == UINT and not lconst and rconst:
                    res = _cmp_uint_const(op, lc, int(node.right.value),
                                          uint_on_left=True)
                elif rk == UINT and not rconst and lconst:
                    res = _cmp_uint_const(op, rc, int(node.left.value),
                                          uint_on_left=False)
                elif lk == UINT and rk == UINT:
                    # unsigned order == signed order of sign-bit-flipped
                    # patterns; EQ/NE compare patterns directly
                    if op in _ORDERING:
                        res = cmp(_u64_flip(lc), _u64_flip(rc))
                    else:
                        res = cmp(lc, rc)
                elif {lk, rk} == {UINT, INT}:
                    # mixed signed/unsigned, exact mathematical comparison
                    # (reference signed_unsigned_comparison.hpp:1)
                    uc, ic = (lc, rc) if lk == UINT else (rc, lc)
                    res = _cmp_uint_int(op, uc, ic.cast("long"),
                                        uint_on_left=(lk == UINT))
                elif FLOAT in (lk, rk):
                    res = cmp(_u64_to_double(lc) if lk == UINT else lc,
                              _u64_to_double(rc) if rk == UINT else rc)
                elif NULL in (lk, rk):
                    res = cmp(lc, rc)
                else:
                    raise ExpressionError(f"cannot compare {lk} with {rk}")
            elif lk == rk or NULL in (lk, rk):
                pass
            elif {lk, rk} <= {INT, FLOAT}:
                pass
            elif {lk, rk} == {TS, INT}:
                # timestamps compared as int64 nanos (processing.py:368-377).
                # Exact long math — a double at ~1.7e18 ns has ~256 ns ulp and
                # would misclassify boundary rows; unix_micros stays integral.
                if lk == TS:
                    lc = _ts_to_nanos(lc)
                else:
                    rc = _ts_to_nanos(rc)
            else:
                # cross-kind comparisons (string vs number, bool vs anything
                # non-bool, ts vs float/string) are user errors in the
                # reference (UserInputException — test_filter_string_number_
                # comparison, test_filter_bool_nonbool_comparison); Spark's
                # implicit casts would silently "succeed" with different
                # results, so reject before compiling.
                raise ExpressionError(f"cannot compare {lk} with {rk}")
            if res is None:
                res = cmp(lc, rc)
            # Missing semantics follow pandas (reference
            # test_query_builder_nat.py, test_filter_string_nans_col_col):
            # a missing operand (null / NaN / NaT) makes EQ and every
            # ordering FALSE, but makes NE TRUE — "x != anything" holds
            # when x is unknown. Spark's native null-propagation already
            # gives False-after-filter for EQ/orderings; NE needs the
            # explicit missing-mask OR. NaN is missing too (Spark would
            # order it greater-than-everything and NaN == NaN true), so
            # EQ/orderings get ~isnan as SEPARATE conjuncts to keep the
            # comparison itself a pushable Parquet filter.
            if op == "NE":
                miss = lc.isNull() | rc.isNull()
                if lk == FLOAT:
                    miss = miss | F.isnan(lc)
                if rk == FLOAT:
                    miss = miss | F.isnan(rc)
                return res | miss, BOOL
            if lk == FLOAT:
                res = res & ~F.isnan(lc)
            if rk == FLOAT:
                res = res & ~F.isnan(rc)
            return res, BOOL
        if op in _BOOLEAN:
            if lk != BOOL or rk != BOOL:
                raise ExpressionError(f"{op} requires boolean operands")
            if op == "AND":
                return lc & rc, BOOL
            if op == "OR":
                return lc | rc, BOOL
            return lc != rc, BOOL  # XOR
        raise ExpressionError(f"unknown binary op {op}")

    if isinstance(node, IsInOp):
        c, k = _compile(node.child, schema)
        vals = [v for v in node.values if not _is_missing(v)]
        # the value set must be kind-compatible with the column: a numeric
        # set on a string column (or vice versa) is a user error in the
        # reference (UserInputException — test_filter_string_number_set_
        # membership); Spark's implicit casts would silently mis-answer.
        if vals and k not in (NULL, OTHER):
            kinds = {_kind_of_value(v) for v in vals}
            ok = (kinds <= {INT, FLOAT} and k in (INT, FLOAT, UINT)) or kinds == {k}
            if not ok:
                raise ExpressionError(
                    f"isin/isnotin value set of kind {sorted(kinds)} is "
                    f"incompatible with column kind {k}")
        if k == UINT:
            # uint64 membership: map integer set values in [0, 2^64) to
            # their int64 bit patterns; out-of-range / negative values can
            # never match (reference ValueSet coercion +
            # test_filter_numeric_isin_unsigned)
            ints = [int(v) for v in vals
                    if _kind_of_value(v) == INT
                    or (_kind_of_value(v) == FLOAT and float(v).is_integer())]
            vals = [v - _U64_WRAP if v > 2**63 - 1 else v
                    for v in ints if 0 <= v < _U64_WRAP]
        elif k == INT:
            # a signed column can never hold uint64-range (> int64 max) or
            # below-int64-min values — drop them instead of overflowing the
            # long literal (reference test_filter_numeric_membership_mixing
            # _int64_and_uint64: int64 col isnotin([uint64_max]) keeps all)
            vals = [v for v in vals
                    if _kind_of_value(v) != INT
                    or _I64_MIN <= int(v) <= 2**63 - 1]
        # reference coerces the value set to the column type (processing.py:
        # 380-408) and treats missing (None/NaN/NaT) as a member of NO set:
        # isin never matches a missing row, isnotin always retains it
        # (reference test_filter_isin_with_nan_in_set / _nat_in_set — NaN/NaT
        # stripped from the set, NaN/NaT rows survive isnotin)
        if node.negate:
            res = (~c.isin(vals)) if vals else F.lit(True)
            res = res | c.isNull()
            if k == FLOAT:
                res = res | F.isnan(c)
        else:
            res = c.isin(vals) if vals else F.lit(False)
            if k == FLOAT:
                res = res & ~F.isnan(c)
        return res, BOOL

    if isinstance(node, RegexMatchOp):
        c, k = _compile(node.child, schema)
        if k != STR:
            raise ExpressionError("regex_match requires a string column")
        return c.rlike(node.pattern), BOOL

    if isinstance(node, TernaryOp):
        if isinstance(node.cond, Constant):
            # reference rejects a plain value condition (test_ternary.py
            # test_filter_ternary_invalid_conditions: where(True, ...) raises)
            raise ExpressionError(
                "where() condition must be a column expression, not a value")
        cc, ck = _compile(node.cond, schema)
        ac, ak = _compile(node.a, schema)
        bc, bk = _compile(node.b, schema)
        if ck != BOOL:
            raise ExpressionError("where() condition must be boolean")
        if ak == bk:
            out_k = ak
        elif UINT in (ak, bk) and {ak, bk} <= {UINT, INT, FLOAT}:
            # uint64 branch mixed with signed/float -> double (permissive
            # combine, type_utils.cpp:254), exact unsigned conversion
            ac = _u64_to_double(ac) if ak == UINT else ac.cast("double")
            bc = _u64_to_double(bc) if bk == UINT else bc.cast("double")
            out_k = FLOAT
        elif {ak, bk} <= {INT, FLOAT}:
            # numeric promotion: mixed int/float branches -> float64
            # (reference ternary_operation_with_types_to_proceed)
            ac, bc = ac.cast("double"), bc.cast("double")
            out_k = FLOAT
        elif NULL in (ak, bk):
            out_k = bk if ak == NULL else ak
        else:
            # reference raises UserInputException for e.g. int vs str,
            # bool vs numeric branches (test_filter_ternary_invalid_arguments)
            raise ExpressionError(
                f"where() branches have incompatible kinds {ak} vs {bk}")
        return F.when(cc, ac).otherwise(bc), out_k

    raise ExpressionError(f"cannot compile {type(node).__name__}")


def compile_expression_with_kind(node: ExpressionNode,
                                 df: DataFrame) -> tuple[Column, str]:
    """Compile an AST against a DataFrame's schema and return the result
    kind too, so the projection layer can re-attach the uint64 marker
    (kind == UINT) to derived columns."""
    schema = {f.name: f for f in df.schema.fields}
    return _compile(node, schema)


def compile_predicate(node: ExpressionNode, df: DataFrame) -> Column:
    """Compile a filter expression, requiring a boolean result.

    The reference's FilterClause only accepts a bitset-producing expression
    (``q[q["int_col"]]`` raises); Spark would otherwise implicitly cast a
    numeric column to boolean and silently mis-filter.
    """
    schema = {f.name: f for f in df.schema.fields}
    col, kind = _compile(node, schema)
    if kind != BOOL:
        raise ExpressionError(
            f"filter expression must be boolean, got kind {kind}")
    return col

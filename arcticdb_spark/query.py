"""QueryBuilder — the reference's query surface, compiled to Spark plans.

Mirrors ``python/arcticdb/version_store/processing.py:443`` (QueryBuilder) and
the clause list it assembles (``processing.py:535-541``): filter -> project
(apply) -> groupby/agg -> resample -> row/date-range -> concat, applied **in
the order the user chained them** (reference executes clauses sequentially per
work unit, ``version_core.cpp:920-959``).

Spark-first: each clause is a closure over a DataFrame; the whole chain stays
one lazy Catalyst plan, so filter pushdown / column pruning / filter merging
happen across clause boundaries for free (reference has to hand-roll these,
``query_planner.cpp``). Nothing here materializes.

A second executor runs the same clause list where the result lands on the
driver anyway: ``Library.read`` with pandas/arrow/polars output hands the
pyarrow scan of the pruned files to ``arrowquery.run``, which evaluates
date_range, filter, project, groupby and resample (sum/mean/min/max/count/
first/last) with ``pyarrow.compute`` and no Spark job. It declines — and
the plan built here runs instead — for head/tail/row_range/concat clauses,
uint64 or small-unsigned columns, any pipeline these kernels reject with an
error, aggregators without an exact Arrow kernel, files over the driver
read cap and every fallback of the driver scan (see arrowquery.py).

Usage (same shape as the reference)::

    q = QueryBuilder()
    q = q[q["l_quantity"] > 30]                       # FilterClause
    q = q.apply("revenue", q["p"] * (1 - q["d"]))     # ProjectClause
    q = q.groupby("l_returnflag").agg({"s": ("revenue", "sum")})
    df_out = q.to_df(df)                              # or lib.read(sym, query_builder=q)
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arcticdb_spark.expr import (ColumnRef, ExpressionError, ExpressionNode,
                                 compile_predicate, where)
from arcticdb_spark.operators.concat import concat as _concat
from arcticdb_spark.operators.resample import (compile_agg, normalize_agg_spec,
                                               resample as _resample)
from arcticdb_spark.plans.rowid import ROW_ID, with_row_id


def col(name: str) -> ColumnRef:
    """Reference ``arcticdb.col`` (LazyDataFrame surface, library.py:442)."""
    return ColumnRef(name)


def _to_ts(v) -> _dt.datetime:
    import pandas as pd
    return pd.Timestamp(v).to_pydatetime()


class QueryBuilder:
    """Chainable clause list; immutable-ish (each op appends and returns self,
    matching the reference's fluent mutation style)."""

    def __init__(self, index_column: str | list[str] = "ts"):
        # index_column may be a list (MultiIndex-style composite): the first
        # element is the event-time column used by date_range/resample/
        # first-last aggs; the full list is the deterministic positional
        # order for head/tail/row_range (tie-break columns).
        self._clauses: list[tuple[str, dict]] = []
        self._index_column = index_column
        self._pending_groupby: str | list[str] | None = None
        self._pending_resample: dict | None = None

    # -- expression entry --
    def __getitem__(self, item):
        if isinstance(item, str):
            return ColumnRef(item)
        if isinstance(item, ExpressionNode):
            # filtering returns a COPY — the receiver is untouched
            # (reference test_querybuilder_getitem_idempotency: two names
            # aliasing one builder diverge on their first filters). Shallow
            # object copy + fresh clause list: expression nodes are
            # immutable once built, and a LazyDataFrame's library handle
            # must be shared, never deep-copied.
            import copy as _copy
            new = _copy.copy(self)
            new._clauses = list(self._clauses) + [("filter",
                                                   {"expr": item})]
            return new
        if isinstance(item, bool):
            # a short-circuited constant filter (expr & False, expr | True)
            # reaches here as a plain bool — the reference refuses it
            # (ArcticNativeException on q[True]/q[False])
            from arcticdb_spark.exceptions import InternalException
            raise InternalException(
                "Filtering by a constant boolean is not supported (a "
                "boolean short-circuit collapsed the expression)")
        raise TypeError(f"QueryBuilder[{type(item).__name__}] unsupported")

    def __copy__(self):
        # bypass pickling hooks (LazyDataFrame's __getstate__ reduces the
        # library handle for serialization — a same-process copy must
        # SHARE it instead)
        new = object.__new__(type(self))
        new.__dict__.update(self.__dict__)
        return new

    @staticmethod
    def _canon(v):
        """Structural key for equality: expression nodes canonicalize to
        (type, sorted attrs) tuples recursively."""
        if isinstance(v, ExpressionNode):
            return (type(v).__name__,
                    tuple((k, QueryBuilder._canon(x))
                          for k, x in sorted(vars(v).items())))
        if isinstance(v, dict):
            return tuple((k, QueryBuilder._canon(x))
                         for k, x in sorted(v.items()))
        if isinstance(v, (list, tuple)):
            return tuple(QueryBuilder._canon(x) for x in v)
        return repr(v)

    def _eq_key(self):
        return (self._canon(self._clauses), repr(self._index_column),
                self._canon(self._pending_groupby),
                self._canon(self._pending_resample))

    def __eq__(self, other):
        """Reference test_query_builder_equality_checks: builders with the
        same clause chains compare equal."""
        if not isinstance(other, QueryBuilder):
            return NotImplemented
        return self._eq_key() == other._eq_key()

    # Mutable builder (apply/groupby/resample mutate in place, only
    # __getitem__ copies): defining __hash__ would let a dict/set key's
    # hash drift after further chaining. The reference defines __eq__
    # only (processing.py:1129), making builders unhashable — match it.
    __hash__ = None

    def __setitem__(self, name: str, expr) -> None:
        """``q["c"] = q["a"] * 2`` — sugar for ``apply`` (reference
        processing.py __setitem__)."""
        if not isinstance(name, str):
            raise TypeError("projection target must be a column name")
        self.apply(name, expr)

    def __getattr__(self, name: str):
        """``q.col_name`` -> ColumnRef, like ``q["col_name"]`` (reference
        processing.py __getattr__). Only for non-underscore names that are
        not real attributes."""
        if name.startswith("_"):
            raise AttributeError(name)
        return ColumnRef(name)

    def __str__(self) -> str:
        return " | ".join(k.upper() for k, _ in self._clauses) or "<empty>"

    # keep the reference's `where` available as a method too
    @staticmethod
    def where(cond, a, b):
        return where(cond, a, b)

    # -- clauses --
    def apply(self, name: str, expr: ExpressionNode | Any) -> "QueryBuilder":
        """ProjectClause: append ONE computed column; never drops columns
        (reference clause.hpp:201-258)."""
        self._clauses.append(("project", {"name": name, "expr": expr}))
        return self

    def groupby(self, column: str | list[str]) -> "QueryBuilder":
        """Reference supports a single grouping column (processing.py:607);
        we accept a list as a documented extension."""
        self._pending_groupby = column
        return self

    def resample(self, rule: str, closed: str | None = None,
                 label: str | None = None, offset: str | None = None,
                 origin: Any = "epoch") -> "QueryBuilder":
        # calendar-anchored frequencies (ME, QS, YE, BMS, ...) — and Week,
        # which pd.Timestamp.floor() also refuses — have data-dependent or
        # anchored bucket edges; the reference rejects them at builder time
        # (ArcticDbNotYetImplemented,
        # test_resample_rejects_unsupported_frequency_strings). Only Tick
        # (fixed-nanosecond) rules build; use '7D' for week-width buckets.
        from pandas.tseries.frequencies import to_offset
        from pandas.tseries.offsets import Tick
        try:
            off = to_offset(rule)
        except ValueError:
            off = None
        if off is None or not isinstance(off, Tick):
            raise ExpressionError(
                f"resample rule {rule!r} is not a fixed-width frequency "
                "(calendar-anchored rules are unsupported)")
        self._pending_resample = dict(rule=rule, closed=closed, label=label,
                                      offset=offset, origin=origin)
        return self

    def agg(self, aggregations: dict) -> "QueryBuilder":
        if self._pending_groupby is not None:
            self._clauses.append(("groupby_agg", {
                "keys": self._pending_groupby, "aggs": aggregations}))
            self._pending_groupby = None
        elif self._pending_resample is not None:
            self._clauses.append(("resample_agg", {
                **self._pending_resample, "aggs": aggregations}))
            self._pending_resample = None
        else:
            raise ExpressionError("agg() must follow groupby() or resample()")
        return self

    def date_range(self, rng: tuple) -> "QueryBuilder":
        """Inclusive both ends (reference DateRangeClause clause.hpp:725-769)."""
        self._clauses.append(("date_range", {"range": rng}))
        return self

    def head(self, n: int = 5) -> "QueryBuilder":
        self._clauses.append(("head", {"n": n}))
        return self

    def tail(self, n: int = 5) -> "QueryBuilder":
        self._clauses.append(("tail", {"n": n}))
        return self

    def row_range(self, rng: tuple) -> "QueryBuilder":
        """iloc semantics incl. negative indices (processing.py:999-1030)."""
        self._clauses.append(("row_range", {"range": rng}))
        return self

    def concat(self, join: str = "outer") -> "QueryBuilder":
        """Multi-symbol concatenation marker (used via to_df_multi /
        read_batch_and_join)."""
        self._clauses.insert(0, ("concat", {"join": join}))
        return self

    # -- composition (reference processing.py:927-961) --
    def then(self, other: "QueryBuilder") -> "QueryBuilder":
        """Run ``other``'s clauses after this builder's (reference
        ``QueryBuilder.then``). Both builders must be complete (no pending
        groupby/resample awaiting agg)."""
        if (self._pending_groupby is not None
                or self._pending_resample is not None
                or other._pending_groupby is not None
                or other._pending_resample is not None):
            raise ExpressionError(
                "then() requires complete builders (agg() after "
                "groupby()/resample())")
        out = QueryBuilder(self._index_column)
        out._clauses = list(self._clauses) + list(other._clauses)
        return out

    def prepend(self, other: "QueryBuilder") -> "QueryBuilder":
        """Run ``other``'s clauses before this builder's (reference
        ``QueryBuilder.prepend``)."""
        return other.then(self)

    # -- execution hints: Catalyst/Tungsten manage operator strategy and
    # -- spill behaviour, so the reference's memory/speed toggles
    # -- (processing.py:1220-1233) are accepted for API compatibility and
    # -- are no-ops here
    def optimise_for_speed(self) -> "QueryBuilder":
        return self

    def optimise_for_memory(self) -> "QueryBuilder":
        return self

    # -- compilation --
    def to_df(self, df: DataFrame, index_column: str | list[str] | None = None
              ) -> DataFrame:
        """Apply all clauses to one DataFrame, in order."""
        return self._run(df, index_column or self._index_column)

    def to_df_multi(self, dfs: list[DataFrame],
                    index_column: str | list[str] | None = None) -> DataFrame:
        """Reference ``read_batch_and_join``: concat first, then clauses."""
        clauses = list(self._clauses)
        join = "outer"
        if clauses and clauses[0][0] == "concat":
            join = clauses[0][1]["join"]
        idx = index_column or self._index_column
        idx_list = (list(idx) if isinstance(idx, (list, tuple))
                    else [idx] if idx else [])
        df = _concat(dfs, join=join, index_cols=idx_list)
        return self._run(df, idx, skip_concat=True)

    @staticmethod
    def _ts_col(idx) -> str | None:
        """Event-time column: first element of a composite index."""
        if isinstance(idx, (list, tuple)):
            return idx[0] if idx else None
        return idx

    @staticmethod
    def _order_cols(idx, df: DataFrame) -> list[str]:
        """Deterministic positional ordering: every index column present."""
        cols = list(idx) if isinstance(idx, (list, tuple)) else [idx]
        return [c for c in cols if c is not None and c in df.columns]

    def _run(self, df: DataFrame, index_column,
             skip_concat: bool = False) -> DataFrame:
        for kind, args in self._clauses:
            if kind == "concat":
                if not skip_concat:
                    raise ExpressionError(
                        "concat() requires multiple frames: use to_df_multi / read_batch_and_join")
                continue
            df = getattr(self, f"_apply_{kind}")(df, args, index_column)
            # the frame's logical index evolves through the chain: a groupby
            # re-indexes by the group keys, a resample by the bucketed ts
            # column (reference: clause output index; positional clauses
            # downstream order by it — e.g. groupby().agg().head(2) returns
            # the first 2 groups in key order, test_query_builder.py
            # test_querybuilder_groupby_then_* / _resample_then_*)
            if kind == "groupby_agg":
                keys = args["keys"]
                index_column = ([keys] if isinstance(keys, str)
                                else list(keys))
            elif kind == "resample_agg":
                index_column = self._ts_col(index_column)
        if self._pending_groupby is not None or self._pending_resample is not None:
            raise ExpressionError("groupby()/resample() without agg()")
        return df

    # -- clause kernels (each returns a still-lazy DataFrame) --
    def _apply_filter(self, df, args, idx):
        out = df.filter(compile_predicate(args["expr"], df))
        # positional row-ids are invalidated by row-membership changes
        # (iloc/head positions refer to the *current* frame, like pandas)
        return out.drop(ROW_ID) if ROW_ID in out.columns else out

    def _apply_project(self, df, args, idx):
        expr = args["expr"]
        if isinstance(expr, ExpressionNode):
            from arcticdb_spark.expr import (UINT, UINT64_META,
                                             compile_expression_with_kind)
            c, kind = compile_expression_with_kind(expr, df)
            out = df.withColumn(args["name"], c)
            if kind == UINT:
                # a uint64-derived projection stays uint64 (bit-pattern
                # long) — re-attach the marker the withColumn dropped
                out = out.withMetadata(args["name"], {UINT64_META: True})
            return out
        # broadcast constant projection (reference clause.cpp:174-205)
        return df.withColumn(args["name"], F.lit(expr))

    def _apply_groupby_agg(self, df, args, idx):
        keys = args["keys"]
        keys = [keys] if isinstance(keys, str) else list(keys)
        # reference drops null/NaN group keys (grouper.hpp:30-40) — pandas
        # dropna=True; Spark keeps them, so filter first. NaN≡null via expr.
        from arcticdb_spark.operators.resample import nan_safe
        dtypes = dict(df.dtypes)
        key_cols = []
        cond = None
        for k in keys:
            if k not in df.columns:
                raise ExpressionError(f"grouping column {k!r} not in schema")
            kc = nan_safe(F.col(k), dtypes.get(k))  # NaN keys -> null -> dropped
            key_cols.append(kc.alias(k))
            c = kc.isNotNull()
            cond = c if cond is None else (cond & c)
        specs = normalize_agg_spec(args["aggs"])
        ts = self._ts_col(idx)
        if (any(h in ("first", "last") for (_, _, h) in specs)
                and (ts is None or ts not in df.columns)):
            # rowcount/named-index symbols have no timestamp order column:
            # first/last are by ROW ORDER (reference first/last use segment
            # row order) — attach the exact distributed row-id and order by
            # it; it never reaches the output (groupBy keeps keys + aggs)
            if ROW_ID not in df.columns:
                df = with_row_id(df)
            ts = ROW_ID
            dtypes = dict(df.dtypes)
        from arcticdb_spark.expr import UINT64_META, UNSIGNED_META
        u64 = frozenset(f.name for f in df.schema.fields
                        if (f.metadata or {}).get(UINT64_META))
        unsigned = frozenset(f.name for f in df.schema.fields
                             if (f.metadata or {}).get(UNSIGNED_META))
        aggs = [compile_agg(o, i, h, ts, dtypes, u64, unsigned)
                for (o, i, h) in specs]
        return df.filter(cond).groupBy(*key_cols).agg(*aggs)

    def _apply_resample_agg(self, df, args, idx):
        ts_col = self._ts_col(idx)
        if ts_col is None or ts_col not in df.columns:
            # reference raises UserInputException for resampling a
            # non-timeseries symbol (nonreg test_resampling_non_timeseries)
            # instead of leaking an unresolved-column analysis error
            raise ExpressionError(
                "resample requires a datetime-indexed symbol; this symbol "
                "has no datetime index")
        return _resample(df, ts_col, args["rule"], args["aggs"],
                         closed=args["closed"], label=args["label"],
                         offset=args["offset"], origin=args["origin"])

    def _apply_date_range(self, df, args, idx):
        lo, hi = args["range"]
        ts_col = self._ts_col(idx)
        if ts_col is None:
            # reference raises for date_range over a non-datetime-indexed
            # frame (test_date_range.py test_read_date_range_not_date_time)
            raise ExpressionError(
                "date_range requires a datetime-indexed frame; this symbol "
                "has no index column")
        dt = dict(df.dtypes).get(ts_col, "")
        if not (dt.startswith("timestamp") or dt == "date" or dt == "long"):
            # e.g. date_range after a groupby re-indexed the frame by a
            # non-datetime group key
            raise ExpressionError(
                f"date_range requires a datetime index; current index "
                f"{ts_col!r} has type {dt}")
        from arcticdb_spark.catalog import NAT_SENTINEL, ns_shadow_col
        shadow = ns_shadow_col(ts_col)
        if shadow in df.columns:
            # ns-physical index (Library read): compare the exact LONG
            # shadow with ns literals — sub-µs boundaries select exactly,
            # and the filter pushes down to the scan column. NaT rows carry
            # the sentinel (int64 min): below any representable lo, so only
            # the hi-only branch needs the explicit exclusion.
            import pandas as pd
            c = F.col(shadow)
            if lo is not None and hi is not None:
                out = df.filter(c.between(F.lit(pd.Timestamp(lo).value),
                                          F.lit(pd.Timestamp(hi).value)))
            elif lo is not None:
                out = df.filter(c >= F.lit(pd.Timestamp(lo).value))
            elif hi is not None:
                out = df.filter((c <= F.lit(pd.Timestamp(hi).value))
                                & (c != F.lit(NAT_SENTINEL)))
            else:
                out = df
            return (out.drop(ROW_ID)
                    if (out is not df and ROW_ID in out.columns) else out)
        c = F.col(ts_col)
        if lo is not None and hi is not None:
            out = df.filter(c.between(_to_ts(lo), _to_ts(hi)))
        elif lo is not None:
            out = df.filter(c >= _to_ts(lo))
        elif hi is not None:
            out = df.filter(c <= _to_ts(hi))
        else:
            out = df
        return out.drop(ROW_ID) if (out is not df and ROW_ID in out.columns) else out

    # row counts below which a single-task row_number window over an
    # already-limited frame is cheaper than a distributed two-phase row-id
    # assignment (the frame at that point holds at most `end` rows)
    _LIMIT_WINDOW_MAX = 1_000_000

    def _apply_head(self, df, args, idx):
        n = args["n"]
        if n < 0:
            # pandas semantics: head(-n) == everything but the last n rows
            # (reference test_head.py test_head_negative_num_rows)
            return self._apply_row_range(df, {"range": (0, n)}, idx)
        if ROW_ID in df.columns:
            # prefix keeps positions aligned — no rebase needed
            return df.filter(F.col(ROW_ID) < n)
        order = self._order_cols(idx, df)
        if order:
            # TakeOrderedAndProject — no shuffle, no global sort
            return df.orderBy(*order).limit(n)
        return df.limit(n)

    def _apply_tail(self, df, args, idx):
        n = args["n"]
        if n == 0:
            # pandas tail(0) is empty, not the whole frame (the naive
            # row_range(-0, None) mapping would return everything)
            return df.limit(0)
        if n < 0:
            # pandas tail(-n) == everything but the first n rows
            return self._apply_row_range(df, {"range": (-n, None)}, idx)
        if ROW_ID in df.columns:
            total = df.agg(F.max(ROW_ID)).first()[0]
            total = (total + 1) if total is not None else 0
            cut = max(total - n, 0)
            out = df.filter(F.col(ROW_ID) >= cut)
            # rebase so a following positional clause sees 0-based positions
            return out.withColumn(ROW_ID, F.col(ROW_ID) - F.lit(cut)) if cut else out
        order = self._order_cols(idx, df)
        if order:
            # reverse TakeOrdered, then an n-row sort back to index order
            return (df.orderBy(*[F.col(c).desc() for c in order]).limit(n)
                      .orderBy(*order))
        total = df.count()
        df = with_row_id(df)
        return df.filter(F.col(ROW_ID) >= total - n).drop(ROW_ID)

    def _apply_row_range(self, df, args, idx):
        start, end = args["range"]
        if ROW_ID not in df.columns:
            order = self._order_cols(idx, df)
            small_prefix = (order and start is not None and start >= 0
                            and end is not None
                            and 0 <= end <= self._LIMIT_WINDOW_MAX)
            if small_prefix:
                # TakeOrdered the first `end` rows, then number that bounded
                # set with a window — the window input is ≤ end rows, so the
                # single task is fine; the full table is never shuffled.
                from pyspark.sql import Window
                top = df.orderBy(*order).limit(end)
                rn = F.row_number().over(Window.orderBy(*order)) - 1
                df = top.withColumn(ROW_ID, rn.cast("long"))
            else:
                df = with_row_id(df, order_cols=order or None)
        rid = F.col(ROW_ID)
        if (start is not None and start < 0) or (end is not None and end < 0):
            total = df.agg(F.max(ROW_ID)).first()[0]
            total = (total + 1) if total is not None else 0
            start = None if start is None else (start + total if start < 0 else start)
            end = None if end is None else (end + total if end < 0 else end)
        cond = F.lit(True)
        if start is not None:
            cond = cond & (rid >= start)
        if end is not None:
            cond = cond & (rid < end)
        out = df.filter(cond)
        if start:
            # rebase: positions in the sliced frame start at 0
            out = out.withColumn(ROW_ID, rid - F.lit(int(start)))
        return out

    def __repr__(self):
        return f"QueryBuilder({[k for k, _ in self._clauses]})"

"""Output checks. Each raises ``CheckFailed`` when a result disagrees with
the value the benchmark expected; the op then counts as failed.

The expected values come from models the benchmark keeps itself (pandas
frames of every tick symbol and version, the planted structure of the
generated corpus), never from the program.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


class CheckFailed(AssertionError):
    pass


def close(got: float, want: float, what: str, rel: float = 1e-9) -> None:
    if not math.isclose(got, want, rel_tol=rel, abs_tol=1e-9):
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


def equal(got, want, what: str) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


def at_least(got: float, floor: float, what: str) -> None:
    if not got >= floor:
        raise CheckFailed(f"{what}: got {got!r}, expected >= {floor!r}")


def frame_digest(df: pd.DataFrame, column: str) -> tuple[int, float]:
    """(row count, column sum): the per-read fingerprint checked against a
    model."""
    return len(df), float(np.sum(df[column].to_numpy(dtype="float64")))


def check_frame(got: pd.DataFrame, want: tuple[int, float], column: str,
                what: str) -> None:
    if not isinstance(got, pd.DataFrame):
        raise CheckFailed(f"{what}: got {type(got).__name__}, not a frame")
    rows, total = frame_digest(got, column)
    equal(rows, want[0], f"{what} rows")
    close(total, want[1], f"{what} sum({column})")


def check_aggregate(got: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
    """Group / bucket results: the same keys, and per key the same values."""
    if not isinstance(got, pd.DataFrame):
        raise CheckFailed(f"{what}: got {type(got).__name__}, not a frame")
    equal(len(got), len(want), f"{what} groups")
    got, want = got.sort_index(), want.sort_index()
    if not np.array_equal(got.index.to_numpy(), want.index.to_numpy()):
        raise CheckFailed(f"{what}: group keys differ")
    for col in want.columns:
        a = got[col].to_numpy(dtype="float64")
        b = want[col].to_numpy(dtype="float64")
        if not np.allclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True):
            raise CheckFailed(f"{what} {col}: values differ")


def recall_at_k(rows, truth: dict[int, set[int]]) -> float:
    """Share of the exact top-k neighbours an approximate search found."""
    want = sum(len(v) for v in truth.values())
    hit = sum(1 for q, v in rows if v in truth.get(q, ()))
    return hit / want

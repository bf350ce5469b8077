"""The MinHash band keys are the pinned md5 family: recomputed here with
``hashlib.md5`` from the definition in
``dedup._minhash_band_table_canonical``'s docstring, row for row."""

from __future__ import annotations

import hashlib
import re

import pytest

from arcticdb_spark.extensions import dedup as xdedup

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "the quick  brown fox jumps over the lazy cat"),
    (3, "  Café Über straße  "),
    (4, "two words"),
    (5, ""),
    (6, "spark engines and data spark engines and data spark engines"),
]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _band_rows(num_hashes: int, bands: int, k: int) -> set:
    """(id, bi, band, ek) for DOCS. Tokens: lower, trim spaces, split on
    Java's ``\\s``; fewer than k tokens make one shingle of them all.
    Position i = min over shingles of the 8 hex chars at (i % 4) * 8 of
    md5("h{i // 4}:" + shingle); band b = "b{b}:" + md5 of its positions
    joined by "|"."""
    rows = num_hashes // bands
    out = set()
    for doc_id, text in DOCS:
        t = text.lower().strip(" ")
        toks = [] if not t else re.split(r"[ \t\n\x0b\f\r]+", t)
        shingles = ([" ".join(toks[i:i + k])
                     for i in range(len(toks) - k + 1)]
                    if len(toks) >= k else [" ".join(toks)])
        sig = [min(_md5(f"h{i // 4}:{s}")[(i % 4) * 8:(i % 4) * 8 + 8]
                   for s in shingles) for i in range(num_hashes)]
        keys = [f"b{b}:" + _md5("|".join(sig[b * rows:(b + 1) * rows]))
                for b in range(bands)]
        out |= {(doc_id, b, keys[b], tuple(keys[:b])) for b in range(bands)}
    return out


@pytest.mark.parametrize("num_hashes,bands,k", [(16, 4, 3), (10, 5, 2),
                                                (12, 3, 1)])
def test_band_table_is_the_md5_family(spark, num_hashes, bands, k):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = xdedup._minhash_band_table_canonical(df, "text", "doc_id",
                                               num_hashes, bands, k)
    rows = [(r.id, r.bi, r.band, tuple(r.ek)) for r in got.collect()]
    assert len(rows) == len(DOCS) * bands
    assert set(rows) == _band_rows(num_hashes, bands, k)

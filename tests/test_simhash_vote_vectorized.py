"""The r14 vectorized SimHash bit-majority vote (_simhash_vote_batch) must
be bit-identical to the per-row reference math (sum of bit b over token
hashes, vote = 2*sum - n, bit set iff vote > 0) on every edge shape:
empty docs, None rows, single token, duplicate hashes, full 60-bit range
values — and end-to-end through Spark's simhash column."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from arcticdb_spark.extensions import dedup as D
from arcticdb_spark.extensions.text import tokens


def _reference(hs_lists, bits=D._SIMHASH_BITS):
    shifts = np.arange(bits, dtype=np.uint64)
    out = []
    for hs in hs_lists:
        if hs is None or len(hs) == 0:
            out.append(0)
            continue
        h = np.asarray(hs, dtype=np.uint64)
        bitmat = (h[:, None] >> shifts) & np.uint64(1)
        votes = bitmat.sum(axis=0, dtype=np.int64) * 2 - len(h)
        out.append(int(((votes > 0).astype(np.uint64) << shifts).sum()))
    return out


@pytest.mark.parametrize("seed", [0, 7, 42])
def test_vote_batch_matches_reference(seed):
    rng = np.random.default_rng(seed)
    rows = [[int(x) for x in
             rng.integers(0, 1 << 60, int(rng.integers(0, 40)),
                          dtype=np.uint64)]
            for _ in range(500)]
    rows += [[], None, [(1 << 60) - 1], [0, 0, 1], [0]]
    assert D._simhash_vote_batch(rows).tolist() == _reference(rows)


def test_simhash_column_matches_reference(spark):
    import pandas as pd
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4],
                      "text": ["a b c a", "", "zz zz zz",
                               "q w e r t y u i o p"]}))
    got = {r["doc_id"]: r["sh"] for r in
           docs.select("doc_id",
                       D.simhash(F.col("text")).alias("sh")).collect()}
    toks = {r["doc_id"]: r["h"] for r in docs.select(
        "doc_id",
        F.transform(F.array_distinct(tokens(F.lower(F.col("text")))),
                    lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
                    .cast("long")).alias("h")).collect()}
    for d, hs in toks.items():
        assert got[d] == _reference([hs])[0], f"doc {d}"

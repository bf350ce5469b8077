"""Round-13 pipeline operators, second batch: segment-level dedup with
reassembly, provably-exact heavy hitters, corpus-bigram LM scoring.

Gate discipline as everywhere: each operator's physical strategies are
forced across their flips on the same inputs and must be value-identical
(segment_dedup has no gate of its own: AQE picks its join, and both
joins are forced by the broadcast threshold)."""

import math

import pytest
from pyspark.sql import functions as F

from arcticdb_spark.extensions import dedup as xd
from arcticdb_spark.extensions import text as xt


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# segment_dedup
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def seg_corpus(spark):
    boiler = "subscribe to our newsletter today"          # 5 tokens
    rows = [
        (1, f"alpha beta gamma delta epsilon {boiler} zeta eta theta iota kappa"),
        (2, f"one two three four five {boiler} six seven eight nine ten"),
        (3, "unique text with no repeated spans at all here ok fine yes"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_segment_dedup_window(seg_corpus):
    out = {r.doc_id: r
           for r in xd.segment_dedup(seg_corpus, window=5).collect()}
    # docs 1 and 2: tokens 6-10 are the shared boilerplate span; with
    # window=5 that span IS segment #2 of each doc (positions 5..9)
    assert out[1].n_segments == 3 and out[1].n_removed == 1
    assert out[2].n_segments == 3 and out[2].n_removed == 1
    assert "subscribe" not in out[1].text and "subscribe" not in out[2].text
    # order preserved across the removed middle segment
    assert out[1].text == ("alpha beta gamma delta epsilon "
                           "zeta eta theta iota kappa")
    # untouched doc round-trips exactly
    assert out[3].n_removed == 0
    assert out[3].text == "unique text with no repeated spans at all here ok fine yes"
    # empty doc is RETAINED with zero segments
    assert out[4].n_segments == 0 and out[4].text == ""


def test_segment_dedup_delimiter(spark):
    rows = [
        (1, "real content line one\ncopyright 2026 example corp\nmore body"),
        (2, "different page text\ncopyright 2026 example corp"),
        (3, "standalone page"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r
           for r in xd.segment_dedup(df, delimiter=r"\n+").collect()}
    assert out[1].text == "real content line one more body"
    assert out[2].text == "different page text"
    assert out[2].n_removed == 1
    assert out[3].n_removed == 0


def _rows_and_plan(df):
    rows = _rows(df)
    return rows, df._jdf.queryExecution().executedPlan().toString()


def test_segment_dedup_same_rows_broadcast_or_shuffle_join(spark, seg_corpus):
    # AQE picks the dup-table join at runtime; both choices agree
    key = "spark.sql.autoBroadcastJoinThreshold"
    a, plan_a = _rows_and_plan(xd.segment_dedup(seg_corpus, window=5))
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        b, plan_b = _rows_and_plan(xd.segment_dedup(seg_corpus, window=5))
    finally:
        spark.conf.set(key, prev)
        xd.unpersist_all()
    assert a == b
    assert "BroadcastHashJoin" in plan_a
    assert "BroadcastHashJoin" not in plan_b


def test_segment_dedup_min_docs(seg_corpus):
    # min_docs=3: the boilerplate span occurs in only 2 docs -> kept
    out = {r.doc_id: r for r in
           xd.segment_dedup(seg_corpus, window=5, min_docs=3).collect()}
    assert out[1].n_removed == 0 and "subscribe" in out[1].text


def test_segment_dedup_arg_validation(seg_corpus):
    with pytest.raises(ValueError):
        xd.segment_dedup(seg_corpus)
    with pytest.raises(ValueError):
        xd.segment_dedup(seg_corpus, delimiter=r"\n", window=5)


# ---------------------------------------------------------------------------
# heavy_hitters
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def hh_corpus(spark):
    # zipf-ish: tok0 x 256, tok1 x 128, ... tok7 x 2, plus 50 singletons
    words = []
    for i in range(8):
        words += [f"tok{i}"] * (256 >> i)
    words += [f"rare{i}" for i in range(50)]
    docs = [(i, " ".join(words[i::7])) for i in range(7)]
    return spark.createDataFrame(docs, "doc_id long, text string")


def _exact_topk(df, k):
    toks = df.select(F.explode(xt.tokens(F.lower(F.col("text"))))
                      .alias("tok"))
    return (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), F.asc("tok")).limit(k))


def test_heavy_hitters_proven_path(hh_corpus):
    xd.clear_gate_log()
    got = xt.heavy_hitters(hh_corpus, k=5, counters_per_partition=4096)
    assert _rows(got) == _rows(_exact_topk(hh_corpus, 5))
    g = [g for g in xd.GATE_LOG if g["gate"] == "heavy_hitters"][-1]
    # plenty of counters -> no subtraction -> proof holds with E == 0
    assert g["path"] == "sketch" and g["error_bound"] == 0


def test_heavy_hitters_fallback_still_exact(hh_corpus):
    """Starved sketch (2 counters vs 58-token vocabulary): the proof may
    fail, but the result must STILL equal the exact top-k."""
    xd.clear_gate_log()
    got = xt.heavy_hitters(hh_corpus, k=8, counters_per_partition=2)
    assert _rows(got) == _rows(_exact_topk(hh_corpus, 8))
    g = [g for g in xd.GATE_LOG if g["gate"] == "heavy_hitters"][-1]
    assert g["error_bound"] > 0          # the sketch really was starved


def test_heavy_hitters_k_exceeds_vocab(spark):
    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    got = _rows(xt.heavy_hitters(df, k=10))
    assert got == [("a", 2), ("b", 1)]


# ---------------------------------------------------------------------------
# bigram_logprob
# ---------------------------------------------------------------------------

def test_bigram_logprob_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "A b"), (3, "c"), (4, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in xt.bigram_logprob(df).collect()}
    # corpus bigrams: (a,b) x2, (b,a) x1, (a,c) x1; prefix a:3, b:1
    assert out[1].n_bigrams == 3
    expect1 = (math.log(2 / 3) + math.log(1 / 1) + math.log(1 / 3)) / 3
    assert out[1].logprob == pytest.approx(round(expect1, 6), abs=1e-9)
    assert out[2].n_bigrams == 1
    assert out[2].logprob == pytest.approx(round(math.log(2 / 3), 6))
    # docs with < 2 tokens produce no bigrams and are excluded
    assert 3 not in out and 4 not in out


def test_bigram_logprob_gate_flip(spark, docs_df=None):
    df = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("w"), (F.col("id") % 7).cast("string"),
                    F.lit("x"), (F.col("id") % 3).cast("string"),
                    F.lit("w"), (F.col("id") % 5).cast("string"))
         .alias("text"))
    xd.clear_gate_log()
    a = _rows(xt.bigram_logprob(df))
    b = _rows(xt.bigram_logprob(df, vocab_broadcast_rows_max=0))
    assert a == b
    paths = [g["path"] for g in xd.GATE_LOG if g["gate"] == "bigram_logprob"]
    assert paths == ["broadcast", "join"]

"""The fixed per-call cost of building the corpus pipelines: py4j round
trips while the kernels' expressions are built, Spark jobs started before
the caller's action, and the Python worker daemon that keeps a UDF task
from re-reading pyspark.zip."""

from __future__ import annotations

import os
import sys
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from arcticdb_spark import pydaemon
from arcticdb_spark.extensions import dedup as xdedup
from arcticdb_spark.extensions import text as xtext
from tests.counters import jobs_run, py4j_calls


@pytest.mark.parametrize("kernel", ["band_table", "simhash", "quality_score",
                                    "lang_id"])
def test_kernel_build_makes_few_py4j_calls(spark, documents, monkeypatch,
                                           kernel):
    # built from Column calls node by node these took 1,636 (band table),
    # 150 (simhash) and 552 (quality_score, lang_id) round trips
    text = F.col("text")
    build = {
        "band_table": lambda: xdedup._minhash_band_table_canonical(
            documents, "text", "doc_id", 16, 4, 3),
        "simhash": lambda: xdedup.simhash(xtext.sql_ident("text")),
        "quality_score": lambda: xtext.quality_score(text),
        "lang_id": lambda: xtext.lang_id(text),
    }[kernel]
    build()   # first build resolves py4j classes and methods
    # simhash re-applies its once-built vote UDF: 3 calls parse the SQL
    # text, 8 apply the UDF (2 profiler conf reads, 5 to pass the argument
    # Seq, 1 apply); a UDF built per call took 30
    assert py4j_calls(monkeypatch, build) <= (11 if kernel == "simhash"
                                              else 40)


def test_jaccard_build_starts_no_job(spark, documents):
    out = {}
    jobs = jobs_run(spark, lambda: out.setdefault(
        "df", xdedup.jaccard_near_dup_pairs(documents, threshold=0.5,
                                            num_hashes=16, bands=4, k=3)))
    assert jobs == 0
    assert out["df"].count() >= 0
    xdedup.unpersist_all()


@pytest.mark.parametrize("kernel", ["simhash_pairs", "segment_dedup"])
def test_kernel_build_starts_no_job(spark, documents, kernel):
    # at the parent the simhash groups were materialized (5 jobs) and
    # segment_dedup counted its duplicate table for a broadcast gate (6)
    build = {
        "simhash_pairs": lambda: xdedup.simhash_near_dup_pairs(
            documents, max_hamming=6, bands=4),
        "segment_dedup": lambda: xdedup.segment_dedup(documents, window=8),
    }[kernel]
    out = {}
    jobs = jobs_run(spark, lambda: out.setdefault("df", build()))
    assert jobs == 0
    assert out["df"].count() >= 0
    xdedup.unpersist_all()


def test_ivf_build_within_train_cap_starts_one_job(spark):
    # the md5 seeds, a count and the training sample were three reads
    from arcticdb_spark.extensions import similarity as xsim
    e = spark.range(600).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 16), i -> CAST(sin((id + 1) * i) AS FLOAT)) "
        "AS embedding")
    q = e.filter("vec_id < 4")
    out = {}
    jobs = jobs_run(spark, lambda: out.setdefault(
        "df", xsim.ivf_topk(e, q, k=5, n_lists=16, nprobe=6)))
    assert jobs <= 1
    assert out["df"].count() == 20


def test_spread_without_input_files_makes_few_py4j_calls(spark, monkeypatch):
    # ``df.rdd`` wrapped the plan in a Python RDD first: 9 round trips
    # after a warm-up call, 51 on a session's first
    target = spark.sparkContext.defaultParallelism
    xdedup._spread(spark.range(100))
    df = spark.range(100, numPartitions=target)
    assert py4j_calls(monkeypatch, lambda: xdedup._spread(df)) <= 5
    # the same repartition decision as before
    assert xdedup._spread(df) is df
    one = xdedup._spread(spark.range(100, numPartitions=1))
    assert one.rdd.getNumPartitions() == target


def _zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n, f"X = {n!r}\n")


def test_pydaemon_rereads_only_changed_archives(tmp_path, monkeypatch):
    import zipimport
    reads = []
    monkeypatch.setattr(pydaemon, "_read_directory",
                        lambda imp: reads.append(imp.archive))
    a, b = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    _zip(a, ["m1.py"])
    _zip(b, ["m2.py"])
    imp_a = zipimport.zipimporter(a)
    pydaemon._invalidate_if_changed(imp_a)     # first call always reads
    assert reads == [a]
    pydaemon._invalidate_if_changed(imp_a)     # unchanged: no re-read
    assert reads == [a]
    _zip(a, ["m1.py", "m3.py"])                # rewritten: size differs
    st = os.stat(a)
    os.utime(a, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    pydaemon._invalidate_if_changed(imp_a)
    assert reads == [a, a]
    imp_b = zipimport.zipimporter(b)           # a new archive is read
    pydaemon._invalidate_if_changed(imp_b)
    assert reads == [a, a, b]
    pydaemon._invalidate_if_changed(imp_a)
    pydaemon._invalidate_if_changed(imp_b)
    assert reads == [a, a, b]


def test_pydaemon_reread_sees_new_entries(tmp_path):
    import zipimport
    a = str(tmp_path / "a.zip")
    _zip(a, ["m1.py"])
    imp = zipimport.zipimporter(a)
    pydaemon._invalidate_if_changed(imp)
    _zip(a, ["m1.py", "m2.py"])
    pydaemon._invalidate_if_changed(imp)
    assert "m2.py" in imp._files


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="the daemon patches nothing on 3.12+")
def test_pandas_udf_runs_under_pydaemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "arcticdb_spark.pydaemon"

    @F.pandas_udf("string")
    def invalidator(s: pd.Series) -> pd.Series:
        import zipimport
        return pd.Series(
            [zipimport.zipimporter.invalidate_caches.__name__] * len(s))

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    df = spark.range(1000).repartition(4)
    names = {r[0] for r in df.select(invalidator("id")).distinct().collect()}
    assert names == {"_invalidate_if_changed"}
    got = df.select(plus_one("id").alias("x")).agg(F.sum("x")).first()[0]
    assert got == sum(range(1, 1001))


def test_simhash_vote_udf_built_once_per_context(spark):
    sc = spark.sparkContext
    vote = xdedup._simhash_vote_udf(sc)
    assert xdedup._simhash_vote_udf(sc) is vote
    # another context (a restarted session) gets a UDF of its own
    assert xdedup._simhash_vote_udf(object()) is not vote

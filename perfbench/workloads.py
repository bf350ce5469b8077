"""The workloads. Each is a closed loop of one client thread: the next
operation starts when the previous one has returned.

A workload is driven in fixed *cycles*; every cycle runs the same sequence
of operations, so per-run medians do not depend on where the time budget
ran out. Every timed operation goes through ``Runner.run``, which times it,
checks its output against the benchmark's own model and counts failures.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import data
from perfbench.checks import (CheckFailed, at_least, check_aggregate,
                              check_frame, equal, frame_digest, recall_at_k)
from perfbench.trace import Tracer, mean, median

# op classes behind the end-to-end latency metrics
WRITE, REWRITE, QUERY, META, OTHER = "write", "rewrite", "query", "meta", "other"


@dataclass
class Sample:
    name: str
    cls: str
    ms: float
    cpu_ms: float             # this thread's CPU time during the op
    scan_rows: int
    ingest_rows: int
    ok: bool


class Runner:
    """Times, checks and records operations."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.samples: list[Sample] = []

    def run(self, name: str, cls: str, fn, check=None, scan_rows: int = 0,
            ingest_rows: int = 0):
        out = None
        c0 = time.thread_time()
        t0 = time.perf_counter()
        try:
            with self.tracer.op(name, cls):
                out = fn()
            ms = (time.perf_counter() - t0) * 1000
            cpu_ms = (time.thread_time() - c0) * 1000
            if check is not None:
                check(out)
            ok = True
        except Exception as e:          # any failure is a failed op
            ms = (time.perf_counter() - t0) * 1000
            cpu_ms = (time.thread_time() - c0) * 1000
            ok = False
            if isinstance(e, CheckFailed):
                print(f"check failed in {name}: {e}", file=sys.stderr)
            else:
                traceback.print_exc(file=sys.stderr)
        self.samples.append(Sample(name, cls, ms, cpu_ms, scan_rows,
                                   ingest_rows, ok))
        return out


class Workload:
    name = ""

    def __init__(self, spark, seed: int, tracer: Tracer, runner: Runner):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.runner = runner
        self.root = ""

    def open_library(self, root: str, name: str):
        from arcticdb_spark import Arctic
        self.root = root
        ac = Arctic(root, self.spark)
        self.tracer.wrap_metadata_fs(ac.fs)
        return ac.create_library(name)

    def read(self, lib, sym: str, name: str, check, scan_rows: int,
             cls: str = QUERY, **kw):
        """A read to pandas. Traced, it is split into the plan build
        (``read`` returning a Spark DataFrame), one Spark action on that
        plan, and the pandas read itself; the remainder of the pandas read
        is the catalog's materialisation."""
        tr = self.tracer

        def fn():
            if tr.enabled:
                with tr.span(name + ".build", "query", extra=True):
                    df = lib.read(sym, **kw)
                rec = tr.ops[-1]
                rec.files_scanned = len(df.inputFiles())
                rec.files_in_version = len(
                    lib.read(sym, as_of=kw.get("as_of")).inputFiles())
                with tr.span(name + ".action", "spark", extra=True):
                    df.count()
            with tr.span(name + ".pandas", "catalog"):
                return lib.read(sym, output_format="pandas", **kw)
        return self.runner.run(name, cls, fn, check, scan_rows=scan_rows)

    def meta(self, lib, sym: str, want_versions: int, want_rows: int):
        """The metadata calls a client makes before touching data."""
        def fn():
            return (lib.list_versions(sym), lib.read_metadata(sym),
                    lib.get_description(sym), lib.has_symbol(sym),
                    lib.list_symbols())

        def check(out):
            versions, item, desc, has, symbols = out
            equal(len(versions), want_versions, f"{sym} list_versions")
            equal(item.version, want_versions - 1, f"{sym} read_metadata")
            equal(desc.row_count, want_rows, f"{sym} get_description rows")
            equal(has and sym in symbols, True, f"{sym} listed")
        self.runner.run("meta", META, fn, check)

    def metadata_files(self) -> int:
        """Metadata files (refs, manifests, snapshots) the library holds."""
        n = 0
        for _, _, files in os.walk(self.root):
            n += sum(1 for f in files if f.endswith(".json"))
        return n

    def stored_bytes(self) -> int:
        n = 0
        for d, _, files in os.walk(self.root):
            n += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
        return n

    def write_op(self, name: str, fn, df: pd.DataFrame, check=None,
                 ingest_rows: int | None = None):
        """A pandas write/append/stage; traced, it also records the parquet
        bytes it stored per byte of user data."""
        tr = self.tracer

        def timed():
            with tr.span(name, "arrowwrite"):
                return fn()
        before = self.stored_bytes() if tr.enabled else 0
        out = self.runner.run(name, WRITE, timed, check,
                              ingest_rows=len(df) if ingest_rows is None
                              else ingest_rows)
        if tr.enabled:
            rec = tr.ops[-1]
            rec.user_bytes = int(df.memory_usage(index=True, deep=True).sum())
            rec.stored_bytes = self.stored_bytes() - before
        return out

    # subclasses define setup(root), cycle(k) and layer_detail(), the
    # per-op-type metrics named by the layer table of README.md


def _version_check(want: int, what: str):
    def check(out):
        equal(out.version, want, f"{what} version")
    return check


# --- tick_store ------------------------------------------------------------

class TickStore(Workload):
    """Many small symbols of one-second ticks: plain and staged appends,
    range rewrites, compaction of append fragments, range / as_of /
    QueryBuilder reads, batch reads, metadata and snapshots."""

    name = "tick_store"
    SYMBOLS = 8
    HISTORY = 20_000          # rows per symbol written at set-up
    TICK = 60                 # rows per append
    WARMUP_SIZES = {"SYMBOLS": 3, "HISTORY": 5_000}
    WARMUP_CYCLES = 2
    CYCLE_S = 5.0             # nominal measured cycle on 4 cores

    def setup(self, root: str) -> None:
        rng = np.random.default_rng(self.seed)
        self.lib = self.open_library(root, "ticks")
        self.model: dict[str, pd.DataFrame] = {}
        self.versions: dict[str, list[tuple[int, float]]] = {}
        for i in range(self.SYMBOLS):
            sym = f"sym{i:02d}"
            df = data.tick_frame(rng, data.TICK_START, self.HISTORY)
            self.lib.write(sym, df)
            self.model[sym] = df
            self.versions[sym] = [frame_digest(df, "a")]
        self.rng = np.random.default_rng(self.seed + 1)

    def _commit(self, sym: str, frame: pd.DataFrame) -> None:
        self.model[sym] = frame
        self.versions[sym].append(frame_digest(frame, "a"))

    def cycle(self, k: int) -> None:
        """An append and metadata bundles go between every two heavier ops,
        rotating over the symbols, so the small ops sample the whole cycle;
        each read type comes twice."""
        syms = list(self.model)
        pick = [syms[(k + i) % len(syms)] for i in range(10)]
        heavy = [lambda: self._update(pick[0]),
                 lambda: self._read_range(pick[1]),
                 lambda: self._read_as_of(pick[2]),
                 lambda: self._read_qb(pick[3]),
                 lambda: self._read_batch(syms),
                 lambda: self._delete(pick[4]),
                 lambda: self._stage_finalize(pick[5]),
                 lambda: self._read_range(pick[6]),
                 lambda: self._read_as_of(pick[7]),
                 lambda: self._read_qb(pick[8]),
                 lambda: self._read_batch(syms),
                 lambda: self._compact(pick[9]),
                 lambda: self._snapshot(f"snap{k}")]
        for i, op in enumerate(heavy):
            sym = syms[i % len(syms)]
            self._append(sym)
            self._meta(sym)
            op()
            self._meta(sym)

    def _snapshot(self, name: str) -> None:
        def check(_out):
            equal(name in self.lib.list_snapshots(), True, f"snapshot {name}")
        self.runner.run("snapshot", OTHER, lambda: self.lib.snapshot(name),
                        check)

    def _meta(self, sym: str) -> None:
        self.meta(self.lib, sym, len(self.versions[sym]),
                  len(self.model[sym]))

    def _append(self, sym: str) -> None:
        m = self.model[sym]
        new = data.tick_frame(self.rng, m.index[-1] + pd.Timedelta(seconds=1),
                              self.TICK)
        self.write_op("append", lambda: self.lib.append(sym, new), new,
                      _version_check(len(self.versions[sym]), sym))
        self._commit(sym, pd.concat([m, new]))

    def _past(self) -> pd.Timestamp:
        return data.TICK_START + pd.Timedelta(
            seconds=int(self.rng.integers(0, self.HISTORY - 100)))

    def _update(self, sym: str) -> None:
        m, new = self.model[sym], data.tick_frame(self.rng, self._past(), 30)
        self._rewrite("update", sym, lambda: self.lib.update(sym, new),
                      pd.concat([m[m.index < new.index[0]], new,
                                 m[m.index > new.index[-1]]]), len(new))

    def _delete(self, sym: str) -> None:
        m, at = self.model[sym], self._past()
        end = at + pd.Timedelta(seconds=9)
        self._rewrite("delete_data_in_range", sym,
                      lambda: self.lib.delete_data_in_range(sym, (at, end)),
                      m[(m.index < at) | (m.index > end)], 0)

    def _newest_hour(self, sym: str):
        m = self.model[sym]
        lo = m.index[-1] - pd.Timedelta(hours=1)
        return m[m.index >= lo], (lo, m.index[-1])

    def _read_range(self, sym: str) -> None:
        part, rng = self._newest_hour(sym)
        want = frame_digest(part, "a")
        self.read(self.lib, sym, "read.date_range",
                  lambda df: check_frame(df, want, "a", "date_range"),
                  want[0], date_range=rng)

    def _read_as_of(self, sym: str) -> None:
        v = max(0, len(self.versions[sym]) - 4)
        want = self.versions[sym][v]
        self.read(self.lib, sym, "read.as_of",
                  lambda df: check_frame(df, want, "a", "as_of"),
                  want[0], as_of=v)

    def _read_qb(self, sym: str) -> None:
        from arcticdb_spark import QueryBuilder
        part, rng = self._newest_hour(sym)
        kept = part[part["a"] > 0]
        bins = kept.resample("1min")
        want = bins.agg({"b": "mean", "c": "sum"})[bins.size() > 0]
        q = QueryBuilder()
        q = q[q["a"] > 0].resample("1min").agg({"b": "mean", "c": "sum"})
        self.read(self.lib, sym, "read.qb_resample",
                  lambda df: check_aggregate(df, want, "qb_resample"),
                  len(part), date_range=rng, query_builder=q)

    def _stage_finalize(self, sym: str) -> None:
        """The next minute of ticks staged as three out-of-order chunks,
        then sorted and appended in one finalize."""
        m = self.model[sym]
        new = data.tick_frame(self.rng, m.index[-1] + pd.Timedelta(seconds=1),
                              self.TICK)
        chunks = [new.iloc[i::3] for i in range(3)]
        for i in self.rng.permutation(3):
            self.write_op("stage", lambda: self.lib.stage(sym, chunks[i]),
                          chunks[i], ingest_rows=0)
        self._rewrite(
            "sort_and_finalize", sym,
            lambda: self.lib.sort_and_finalize_staged_data(sym, mode="append"),
            pd.concat([m, new]), len(new), "catalog")

    def _compact(self, sym: str) -> None:
        """Merge the one-file-per-append fragments of a symbol."""
        self._rewrite("compact_data", sym,
                      lambda: self.lib.compact_data(sym), self.model[sym], 0,
                      "plans")

    def _rewrite(self, name: str, sym: str, fn, after: pd.DataFrame,
                 rows: int, layer: str = "operators") -> None:
        """A Spark-job write. Traced, it records the data files of the
        symbol's latest version before (``files_in_version``) and after
        (``files_scanned``)."""
        lib, tr = self.lib, self.tracer

        def check(out):
            equal(out.version, len(self.versions[sym]) - 1, f"{sym} version")
            equal(lib.get_description(sym).row_count, len(after),
                  f"{sym} rows after {name}")

        def timed():
            if tr.enabled:
                tr.ops[-1].files_in_version = len(lib.read(sym).inputFiles())
            with tr.span(name, layer):
                out = fn()
            if tr.enabled:
                tr.ops[-1].files_scanned = len(lib.read(sym).inputFiles())
            return out
        self.versions[sym].append(frame_digest(after, "a"))
        self.model[sym] = after
        self.runner.run(name, REWRITE, timed, check, ingest_rows=rows)

    def _read_batch(self, syms: list[str]) -> None:
        lib, tr = self.lib, self.tracer
        want = [self.versions[s][-1] for s in syms]

        def fn():
            if tr.enabled:
                with tr.span("read_batch.single", "catalog", extra=True):
                    for s in syms:
                        lib.read(s, output_format="pandas")
            with tr.span("read_batch.pandas", "catalog"):
                return lib.read_batch(syms, output_format="pandas")

        def check(out):
            equal(len(out), len(syms), "read_batch items")
            for s, df, w in zip(syms, out, want):
                check_frame(df, w, "a", f"read_batch {s}")
        self.runner.run("read_batch", QUERY, fn, check,
                        scan_rows=sum(w[0] for w in want))

    def layer_detail(self) -> dict:
        tr = self.tracer
        out = {"catalog.version_files": self.metadata_files() / self.SYMBOLS}
        upd = [o for o in tr.ops if o.name == "update"]
        out["operators.update.ms"] = median([o.ms for o in upd])
        out["operators.update.jobs"] = mean(
            [tr.op_totals(o.op_id)["jobs"] for o in upd])
        qb = [o for o in tr.ops if o.name == "read.qb_resample"]
        out["operators.resample.build_ms"] = median(
            [tr.layer_ms(o.op_id, "query") for o in qb])
        out["operators.resample.action_ms"] = median(
            [tr.layer_ms(o.op_id, "spark") for o in qb])
        rb = [o for o in tr.ops if o.name == "read_batch"]
        single = sum(s.ms for o in rb for s in tr.spans_of(o.op_id)
                     if s.name == "read_batch.single")
        batch = sum(s.ms for o in rb for s in tr.spans_of(o.op_id)
                    if s.name == "read_batch.pandas")
        out["catalog.batch.speedup"] = single / batch if batch else 0.0
        comp = [o for o in tr.ops if o.name == "compact_data"]
        out["plans.compact.ms"] = median([o.ms for o in comp])
        out["plans.compact.files_before"] = mean(
            [o.files_in_version for o in comp])
        out["plans.compact.files_after"] = mean(
            [o.files_scanned for o in comp])
        fin = [o for o in tr.ops if o.name == "sort_and_finalize"]
        out["catalog.finalize.ms"] = median([o.ms for o in fin])
        out["catalog.finalize.jobs"] = mean(
            [tr.op_totals(o.op_id)["jobs"] for o in fin])
        return out


# --- corpus_dedup ------------------------------------------------------------

PIPELINES = ("dedup_jaccard", "dedup_simhash", "segment_dedup",
             "corpus_clean", "similarity_ivf")


def _corpus_clean(d):
    """Quality gate + language filter + exact dedup by fingerprint."""
    from pyspark.sql import functions as F
    from arcticdb_spark.extensions.text import (fingerprint, lang_id,
                                                quality_score)
    text = F.col("text")
    kept = d.filter((quality_score(text) >= 0.7) & (lang_id(text) == "en"))
    return kept.groupBy(fingerprint(text).alias("fp")).agg(
        F.min("doc_id").alias("doc_id"))


class CorpusDedup(Workload):
    """A document corpus and its embeddings stored as symbols, cleaned by
    the dedup / text / similarity extensions while new documents arrive."""

    name = "corpus_dedup"
    DOCS = 1500
    VECS = 1000
    BATCHES = 50              # new-document batches per cycle
    WARMUP_SIZES = {"DOCS": 400, "VECS": 300}
    WARMUP_CYCLES = 1
    CYCLE_S = 10.0

    def setup(self, root: str) -> None:
        self.corpus = data.Corpus(self.seed, self.DOCS, self.VECS)
        self.lib = self.open_library(root, "corpus")
        self.lib.write("docs", self.corpus.docs)
        self.lib.write("embeddings", self.corpus.embeddings)
        self.order = [PIPELINES[i] for i in
                      np.random.default_rng(self.seed).permutation(
                          len(PIPELINES))]
        self.reference: dict[str, int] = {}

    def cycle(self, k: int) -> None:
        """The pipelines clean the stored corpus while a new shard of
        documents arrives in batches between them, so the small writes and
        the metadata bundles sample the whole cycle."""
        lib, docs = self.lib, self.corpus.docs
        size = -(-len(docs) // self.BATCHES)
        per_slot = self.BATCHES // len(self.order)
        for i, p in enumerate(self.order):
            for b in range(i * per_slot, (i + 1) * per_slot):
                part = docs.iloc[b * size:(b + 1) * size]
                version = _version_check(k * self.BATCHES + b, "incoming")
                if b == 0:
                    self.write_op("write", lambda: lib.write("incoming", part),
                                  part, version)
                else:
                    self.write_op("append",
                                  lambda: lib.append("incoming", part), part,
                                  version)
            self._stored_meta()
            self._pipeline(p)
            self._stored_meta()
        want = (len(docs), float(docs["doc_id"].sum()))
        self.read(lib, "incoming", "read.incoming",
                  lambda df: check_frame(df, want, "doc_id", "shard read-back"),
                  len(docs), cls=OTHER)

    def _stored_meta(self) -> None:
        self.meta(self.lib, "docs", 1, self.DOCS)
        self.meta(self.lib, "embeddings", 1, self.VECS)

    def _pipeline(self, p: str) -> None:
        from arcticdb_spark.extensions import dedup, similarity
        from pyspark.sql import functions as F
        lib, tr, c = self.lib, self.tracer, self.corpus

        def build():
            if p == "similarity_ivf":
                with tr.span("read.build", "query"):
                    e = lib.read("embeddings")
                queries = e.filter(F.col("vec_id") < 8)
                return (similarity.ivf_topk(e, queries, k=5, n_lists=16,
                                            nprobe=6),
                        similarity.lsh_topk(e, queries, k=5))
            with tr.span("read.build", "query"):
                d = lib.read("docs")
            if p == "dedup_jaccard":
                return dedup.jaccard_near_dup_pairs(
                    d, threshold=0.5, num_hashes=16, bands=4, k=3)
            if p == "dedup_simhash":
                return dedup.simhash_near_dup_pairs(d, max_hamming=6, bands=4)
            if p == "segment_dedup":
                return dedup.segment_dedup(d, window=8, min_docs=2)
            return _corpus_clean(d)

        def action(out):
            if p == "similarity_ivf":
                return tuple(
                    [(r[0], r[1]) for r in o.select("query_id", "vec_id")
                     .collect()] for o in out)
            if p in ("dedup_jaccard", "dedup_simhash"):
                return [(r[0], r[1])
                        for r in out.select("id_a", "id_b").collect()]
            return out.count()

        def fn():
            with tr.span(p + ".build", "extensions"):
                out = build()
            with tr.span(p + ".action", "spark"):
                return action(out)

        def check(res):
            if p == "similarity_ivf":
                at_least(recall_at_k(res[0], c.topk), 0.925, "ivf recall@5")
                at_least(recall_at_k(res[1], c.topk), 0.90, "lsh recall@5")
                n = len(res[0]) + len(res[1])
            elif p in ("dedup_jaccard", "dedup_simhash"):
                # LSH may miss a weak near pair, never an identical one
                pairs = {(min(a, b), max(a, b)) for a, b in res}
                strays = sum(1 for a, b in pairs if c.group[a] != c.group[b])
                equal(strays, 0, f"{p} pairs across planted groups")
                equal(len(c.exact_pairs - pairs), 0,
                      f"{p} exact-duplicate pairs missed")
                n = len(res)
            elif p == "segment_dedup":
                equal(res, c.n_docs, "segment_dedup rows")
                n = res
            else:
                equal(res, c.clean_rows, "corpus_clean rows")
                n = res
            equal(n, self.reference.setdefault(p, n), f"{p} vs first pass")

        rows = self.VECS if p == "similarity_ivf" else self.DOCS
        try:
            self.runner.run(p, QUERY, fn, check, scan_rows=rows)
        finally:
            dedup.unpersist_all()
            similarity.unpersist_all()

    def layer_detail(self) -> dict:
        tr = self.tracer
        out = {"catalog.version_files": self.metadata_files() / 3}
        for p in PIPELINES:
            ops = [o for o in tr.ops if o.name == p]
            tot = [tr.op_totals(o.op_id) for o in ops]
            build = [tr.op_totals(o.op_id, "extensions") for o in ops]
            out[f"extensions.{p}.build_ms"] = median(
                [tr.layer_ms(o.op_id, "extensions") for o in ops])
            out[f"extensions.{p}.build_jobs"] = mean([b["jobs"] for b in build])
            out[f"extensions.{p}.action_ms"] = median(
                [tr.layer_ms(o.op_id, "spark") for o in ops])
            out[f"extensions.{p}.executor_cpu_ms"] = mean(
                [t["cpu_ms"] for t in tot])
            out[f"extensions.{p}.shuffle_bytes"] = mean(
                [t["shuffle_write_bytes"] for t in tot])
            out[f"extensions.{p}.rows_out"] = self.reference.get(p, 0)
        return out


WORKLOADS = {w.name: w for w in (TickStore, CorpusDedup)}


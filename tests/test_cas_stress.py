"""Real-contention CAS stress (round-12 verdict item 4).

Reference semantics: VERSION_REF compare-and-swap
(``cpp/arcticdb/version/version_map.hpp``) — concurrent writers to one
symbol are linearized by an atomic conditional PUT on the version key; the
loser retries with a fresh version number. Here the CAS is
``LocalFileSystem.write_json_if_absent`` (O_EXCL create / S3 If-None-Match)
inside ``Library._commit``.

Two harnesses:

* **multiprocess** — N OS processes race write/append/snapshot/prune on ONE
  library. Workers are Spark-free: they drive the REAL metadata protocol
  (``_next_version`` -> manifest -> ``_commit``, ``snapshot``,
  ``prune_previous_versions``) with pyarrow-written data files, so the
  contention is genuine cross-process O_EXCL, not GIL-serialized. The
  parent then opens the library with real Spark and checks the invariants.
* **threaded** — the full public API (Spark writes included) raced from
  threads in one session; same invariants.

Invariants (both): no lost versions (every committed version id is unique
and the max is readable), version ids monotone per the linearized commit
order, pins never orphan (every snapshot fully readable after racing
prunes), and the final chain state accepts a clean next write.
"""

import json
import os
import sys
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

import pandas as pd
import pytest
# multi-version lifecycle / property stress: run in the FULL gate;
# deselect with -m "not slow" for the fast (<10 min) loop
pytestmark = pytest.mark.slow


sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

N_WORKERS = 6
OPS_PER_WORKER = 12
SYMBOL = "sym"


class _StubConf:
    def set(self, *_a, **_k):
        pass


class _StubSpark:
    """Metadata-only Library handle: __init__ touches spark just to set SQL
    confs; none of the raced ops (commit/snapshot/prune) run Spark jobs."""
    conf = _StubConf()


class FaultyLocalFileSystem:
    """Object-store failure-mode injector over LocalFileSystem (r12 verdict
    item 7). The O_EXCL stress races posix semantics; conditional-PUT
    backends differ in TIMING and RETRY shape, which this fake injects:

    * **delay** — random 0-8 ms sleeps around every metadata op (a PUT/GET
      round-trip has real latency; this widens every race window ~1000x
      relative to local syscalls);
    * **duplicate PUT** — ``write_json_atomic``/``remove`` re-executed
      (a client retry after a lost ACK; both must be idempotent);
    * **retried CAS** — a winning ``write_json_if_absent`` immediately
      re-attempts and discards the (always-False) second answer — the
      wire shape of an S3 ``If-None-Match`` retry whose first attempt
      actually landed.

    NOT injected: stale listings. Every shipped backend (S3 since 2020,
    GCS, Azure, Mongo) gives strongly-consistent list-after-write, and the
    prune/commit carried-file handshake explicitly relies on it — that is
    a documented storage-contract requirement, not an implementation
    detail."""

    def __init__(self, seed: int):
        import random

        from arcticdb_spark.sources.filesystem import LocalFileSystem
        self._inner = LocalFileSystem()
        self._rng = random.Random(seed)

    def _jitter(self, p: float = 0.5) -> None:
        import time as _t
        if self._rng.random() < p:
            _t.sleep(self._rng.random() * 0.008)

    def __getattr__(self, name):   # join/exists/isdir/makedirs passthrough
        return getattr(self._inner, name)

    def listdir(self, path):
        self._jitter()
        return self._inner.listdir(path)

    def read_json(self, path):
        self._jitter()
        return self._inner.read_json(path)

    def remove(self, path):
        self._jitter()
        self._inner.remove(path)
        if self._rng.random() < 0.2:   # duplicated DELETE must be a no-op
            self._inner.remove(path)

    def write_json_atomic(self, path, obj):
        self._jitter()
        self._inner.write_json_atomic(path, obj)
        if self._rng.random() < 0.2:   # duplicated PUT, same content
            self._inner.write_json_atomic(path, obj)
        self._jitter()

    def write_json_if_absent(self, path, obj):
        self._jitter()
        won = self._inner.write_json_if_absent(path, obj)
        if won and self._rng.random() < 0.2:
            # retried conditional PUT: the duplicate loses to our own key
            assert not self._inner.write_json_if_absent(path, obj)
        self._jitter()
        return won


def _open_metadata_lib(root):
    from arcticdb_spark.catalog import Library
    fault_seed = os.environ.get("ASDB_CAS_FAULT_SEED")
    fs = (FaultyLocalFileSystem(int(fault_seed) + os.getpid())
          if fault_seed else None)
    return Library(_StubSpark(), root, "stresslib", fs=fs,
                   data_root=(root if fs else None))


def _data_file(lib, worker: int, seq: int, tag: int) -> tuple[str, int]:
    """A real (pyarrow-written) parquet segment so surviving versions are
    readable by the real Spark engine afterwards."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = lib._data_sym_dir(SYMBOL)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"w{worker}_{seq}.parquet")
    pq.write_table(pa.table({"a": pa.array([tag] * 3, pa.int64())}), path)
    return path, 3


def _worker(args):
    """Race OPS_PER_WORKER mixed metadata ops; return the op log."""
    root, worker, schema_json = args
    from arcticdb_spark.catalog import FileEntry, VersionManifest
    from arcticdb_spark.exceptions import (ArcticException,
                                           InternalException,
                                           NoSuchVersionException)
    import time
    lib = _open_metadata_lib(root)
    log = []
    my_snaps: list[str] = []
    for seq in range(OPS_PER_WORKER):
        op = ("write", "append", "snapshot", "prune", "restore",
              "delete_snapshot")[seq % 6]
        tag = worker * 1000 + seq
        try:
            if op in ("write", "append"):
                # CAS-retry loop: the reference's version_map retries the
                # VERSION_REF compare-and-swap with a fresh version number
                for _attempt in range(50):
                    try:
                        v = lib._next_version(SYMBOL)
                        path, rows = _data_file(lib, worker, seq, tag)
                        files = [FileEntry(path, rows, 0)]
                        if op == "append":
                            try:
                                prev = lib._load_manifest(
                                    SYMBOL, lib._load_ref(SYMBOL)["latest"])
                                files = list(prev.files) + [
                                    FileEntry(path, rows, prev.total_rows)]
                            except NoSuchVersionException:
                                pass
                        m = VersionManifest(
                            SYMBOL, v, time.time_ns(), None, schema_json,
                            files, metadata={"worker": worker, "seq": seq,
                                             "tag": tag})
                        lib._commit(m)
                        log.append((op, v, tag))
                        break
                    except ArcticException as e:
                        if "concurrent write" not in str(e):
                            raise
                else:
                    log.append(("cas_exhausted", -1, tag))
            elif op == "snapshot":
                name = f"snap_w{worker}_{seq}"
                lib.snapshot(name)
                my_snaps.append(name)
                log.append((op, -1, tag))
            elif op == "restore":
                # carries ALL of an older version's files through _commit —
                # exercises the carried-validation path under racing prunes
                for _attempt in range(50):
                    try:
                        m = lib.restore_version(SYMBOL, as_of=None)
                        log.append(("write", m.version,
                                    (m.metadata or {}).get("tag", -1)))
                        break
                    except ArcticException as e:
                        if "concurrent write" not in str(e):
                            raise
                else:
                    log.append(("cas_exhausted", -1, tag))
            elif op == "delete_snapshot":
                if len(my_snaps) > 1:   # keep >=1 per worker for invariant 3
                    lib.delete_snapshot(my_snaps.pop(0))   # races pin GC
                log.append((op, -1, tag))
            else:
                lib.prune_previous_versions(SYMBOL)
                log.append((op, -1, tag))
        except (NoSuchVersionException, InternalException):
            # legal race outcomes: snapshot before any version exists /
            # duplicate-name CAS loss / prune of an empty chain
            log.append((op + "_noop", -1, tag))
    return log


@pytest.mark.slow
def test_multiprocess_cas_stress(spark, tmp_path):
    _run_multiprocess_stress(spark, tmp_path)


@pytest.mark.slow
def test_multiprocess_cas_stress_object_store_faults(spark, tmp_path,
                                                     monkeypatch):
    """The same 12-op mix and invariants with object-store failure modes
    injected between every protocol step (FaultyLocalFileSystem): PUT/GET
    latency, duplicated PUTs/DELETEs, retried conditional PUTs."""
    monkeypatch.setenv("ASDB_CAS_FAULT_SEED", "20260816")
    _run_multiprocess_stress(spark, tmp_path)


def _run_multiprocess_stress(spark, tmp_path):
    from arcticdb_spark.catalog import Arctic
    ac = Arctic(str(tmp_path), spark)
    ac.create_library("stresslib")
    schema_json = (spark.createDataFrame([(1,)], "a long").schema.json())

    with ProcessPoolExecutor(max_workers=N_WORKERS) as ex:
        logs = list(ex.map(_worker, [(str(tmp_path), w, schema_json)
                                     for w in range(N_WORKERS)]))

    committed = [(v, tag) for log in logs for (o, v, tag) in log
                 if o in ("write", "append")]
    assert committed, "no worker committed anything"
    assert not any(o == "cas_exhausted" for log in logs for (o, _v, _t) in log)

    # 1) no lost versions: every successful commit got a UNIQUE version id
    versions = [v for v, _ in committed]
    assert len(versions) == len(set(versions)), sorted(versions)

    # 2) ref latest == max committed, and it is readable with the winning
    #    worker's payload (manifest metadata tag == data tag round-trip)
    lib = ac["stresslib"]
    ref = lib._load_ref(SYMBOL)
    vmax = max(versions)
    assert ref["latest"] == vmax
    tag_by_version = dict(committed)
    item = lib.read_metadata(SYMBOL)
    assert (item.metadata or {}).get("tag") == tag_by_version[vmax]
    got = lib.read(SYMBOL, output_format="pandas")
    if tag_by_version[vmax] >= 0:   # restore of a pickled... always tagged
        assert tag_by_version[vmax] in set(got["a"])

    # 3) pins never orphan: every snapshot that exists is FULLY readable
    #    even after racing prunes tombstoned its versions
    snaps = lib.list_snapshots()
    assert snaps, "no snapshot survived — stress shape is wrong"
    for name in snaps:
        df = lib.read(SYMBOL, as_of=name, output_format="pandas")
        assert len(df) > 0

    # 4) tombstones are consistent: nothing both latest and deleted; every
    #    deleted version id was really committed once
    deleted = set(ref.get("deleted", []))
    assert vmax not in deleted
    assert deleted <= set(versions)

    # 5) the chain accepts a clean next write at vmax+1 (monotone, no reuse)
    nxt = lib.write(SYMBOL, pd.DataFrame({"a": [99]}))
    assert nxt.version == vmax + 1


@pytest.mark.slow
def test_threaded_full_api_cas_stress(spark, tmp_path):
    """Same invariants through the PUBLIC API (Spark data writes included),
    raced from threads sharing one session."""
    import threading
    from arcticdb_spark.catalog import Arctic
    from arcticdb_spark.exceptions import (ArcticException,
                                           InternalException,
                                           NoSuchVersionException)
    lib = Arctic(str(tmp_path), spark).create_library("tlib")
    lib.write(SYMBOL, pd.DataFrame({"a": [0]}))
    results: list[list] = [[] for _ in range(4)]

    def run(w):
        for seq in range(6):
            tag = w * 100 + seq
            try:
                if seq % 3 == 0:
                    m = lib.write(SYMBOL, pd.DataFrame({"a": [tag]}),
                                  metadata={"tag": tag})
                    results[w].append(("write", m.version, tag))
                elif seq % 3 == 1:
                    lib.snapshot(f"t{w}_{seq}")
                    results[w].append(("snapshot", -1, tag))
                else:
                    lib.prune_previous_versions(SYMBOL)
                    results[w].append(("prune", -1, tag))
            except (ArcticException, NoSuchVersionException,
                    InternalException) as e:
                results[w].append(("raced", -1, str(e)[:60]))

    threads = [threading.Thread(target=run, args=(w,)) for w in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    committed = [(v, tag) for log in results for (o, v, tag) in log
                 if o == "write"]
    versions = [v for v, _ in committed]
    assert len(versions) == len(set(versions)), sorted(versions)
    ref = lib._load_ref(SYMBOL)
    assert ref["latest"] == max(versions)
    for name in lib.list_snapshots():
        assert len(lib.read(SYMBOL, as_of=name, output_format="pandas")) > 0
    nxt = lib.write(SYMBOL, pd.DataFrame({"a": [99]}))
    assert nxt.version == max(versions) + 1

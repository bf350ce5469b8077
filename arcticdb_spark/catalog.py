"""Versioned symbol store: Arctic -> Library -> symbol manifests.

Re-expresses the reference's storage model (SURVEY §1; reference key layout
``docs/mkdocs/docs/technical/on_disk_storage.md:26-56``, version chain
``cpp/arcticdb/version/version_map.hpp``) on Parquet + JSON manifests:

* **Library** = a directory; **symbol** = a subdirectory of immutable Parquet
  data files plus ``_versions/v{N}.json`` manifests and a ``_ref.json``
  latest-pointer (the reference's VERSION_REF key).
* **Version manifest** = ordered list of data files with per-file row counts,
  cumulative row offsets and ts min/max — the reference's TABLE_INDEX key +
  column-stats rolled into one small JSON. Planning (as_of resolution,
  date-range / row-range pruning) is driver-side Python over this manifest,
  exactly like the reference's index-segment pruning
  (``pipeline/query.hpp:203-213``) — Spark never lists directories.
* **Commit** = write ``v{N}.json`` then atomically rename a temp ``_ref.json``
  (CAS analogue; on S3 use conditional PUT — same idea as VERSION_REF).
* Data files are written once and shared across versions (append reuses the
  previous version's files; update rewrites only overlapping files) — this is
  the reference's segment-reuse / dedup model for free.

Scale notes: stats come from Parquet *footers* (pyarrow, no data scan);
row-ids are derived lazily on read from ``_metadata.row_index`` + the
manifest's per-file offset, so nothing positional is ever stored or
recomputed, and head/tail/row_range prune to the files that contain the
requested positions before Spark ever sees a byte.
"""

from __future__ import annotations

import json
import numbers
import os
import re
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass, field
from enum import Enum
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arcticdb_spark import arrowquery as aq
from arcticdb_spark import arrowread as ar
from arcticdb_spark import arrowwrite as aw
from arcticdb_spark.plans.rowid import ROW_ID

# dictionary-coded column gate: the encode collects every declared
# column's incoming distinct domain in ONE Spark job while it stays under
# the row cap (above it, the per-column distributed encode runs instead)
_DICT_COLLECT_ROWS_MAX = 2_000_000
# driver read cap, in stored bytes: above it the dictionary decode serves
# its lookup from a persisted parquet scan and update/delete/compaction
# rewrite their files with Spark jobs instead of driver-side pyarrow
_DRIVER_READ_BYTES_MAX = 64 << 20
# stage()'s per-row order helpers (stage time, row in chunk), finalize's
# sort keys after the index
_STAGE_HELPERS = ("__stage_seq__", "__stage_pos__")
# local-relation decode lookup cap: LocalRelation data is embedded in
# every consuming plan, so only small dictionaries skip the scan-backed
# persisted lookup (a 100k-entry local relation re-shipped per query cost
# more than the parquet scan it replaced)
_DICT_LOCAL_RELATION_ROWS_MAX = 16_384
# tiny-dictionary decode: below this many entries the decode is a pure
# codegen literal-map projection (no broadcast build, no join); above it
# the broadcast-join decode runs (tests monkeypatch this to 0 to drive
# the scan-backed join decode through read())
_DICT_LITERAL_MAP_ROWS_MAX = 1024

ORIG_POS = "__orig_pos__"

class ArcticException(RuntimeError):
    # the reference's base exception subclasses RuntimeError
    # (test_errors.py test_base_exception_is_runtimeerror), so callers
    # catching RuntimeError keep working
    pass


class NoSuchVersionException(ArcticException):
    pass


class LibraryNotFound(ArcticException):
    """Reference arcticdb.exceptions.LibraryNotFound: get_library /
    Arctic[name] on a missing library."""
    pass


class SortingException(ArcticException):
    pass


class UnsortedDataException(SortingException):
    """Reference UnsortedDataException (error_code.hpp:201,
    E_UNSORTED_DATA): data or an operation requires an ascending-sorted
    datetime index. Subclasses SortingException so either name catches."""


class ArcticInvalidApiUsageException(ArcticException):
    """Reference library.py:71."""


class ArcticUnsupportedDataTypeException(ArcticInvalidApiUsageException):
    """Reference library.py:79: input that cannot be normalized was given
    to write/append/update/stage (write_pickle is the escape hatch)."""


class ArcticDuplicateSymbolsInBatchException(ArcticInvalidApiUsageException):
    """Reference library.py:75: batch write/append/update payloads must
    not repeat a symbol."""


class UserInputException(ArcticException):
    """Reference ErrorCategory.USER_INPUT (error_code.hpp:32)."""


# reference name_validation.hpp:20 MAX_SYMBOL_LENGTH (= 255 - 1) and
# storage.hpp:29 GLOBALLY_UNSUPPORTED_CHARS plus '&' (the v2 docstring set:
# "*", "&", "<", ">" — S3's reserved chars)
_MAX_NAME_LENGTH = 254
_UNSUPPORTED_NAME_CHARS = set("*&<>")


def _verify_name(kind: str, name: str, check_ascii_range: bool = True,
                 unsupported=frozenset(_UNSUPPORTED_NAME_CHARS)) -> None:
    """Reference name_validation.cpp:18 verify_name: E_EMPTY_NAME /
    E_NAME_TOO_LONG / E_INVALID_CHAR_IN_NAME as UserInputException."""
    if not isinstance(name, str) or name == "":
        raise UserInputException(
            f"E_EMPTY_NAME The {kind} cannot be an empty string")
    if len(name) > _MAX_NAME_LENGTH:
        raise UserInputException(
            f"E_NAME_TOO_LONG {kind} {name!r} length {len(name)} exceeds "
            f"the max supported length {_MAX_NAME_LENGTH}")
    for c in name:
        if check_ascii_range and not (32 <= ord(c) <= 126):
            raise UserInputException(
                f"E_INVALID_CHAR_IN_NAME The {kind} can contain only ASCII "
                f"chars in the range 32-126 inclusive; {kind}: {name!r} "
                f"BadChar: {c!r}")
        if c in unsupported:
            raise UserInputException(
                f"E_INVALID_CHAR_IN_NAME The {kind} contains unsupported "
                f"chars; {kind}: {name!r} BadChar: {c!r}")


def _verify_library_name(name: str) -> None:
    """Reference name_validation.cpp:119-144 verify_library_path[_part]:
    dot-delimited parts must be non-empty and not start with '/'; the
    name cannot end with the delimiter."""
    _verify_name("library name", name)
    if name.endswith("."):
        raise UserInputException(
            "E_INVALID_CHAR_IN_NAME The library name ends with an "
            f"unsupported suffix: {name!r}")
    for part in name.split("."):
        if part == "":
            raise UserInputException(
                "E_INVALID_CHAR_IN_NAME Library name has an empty part "
                f"(parts are separated by '.'): {name!r}")
        if part.startswith("/"):
            raise UserInputException(
                "E_INVALID_CHAR_IN_NAME Library name part starts with an "
                f"invalid character '/': {part!r}")


class ArcticDbNotYetImplemented(ArcticException):
    """Reference ArcticDbNotYetImplemented: valid input the engine does not
    support yet (e.g. append/update on categorical symbols)."""


class SchemaException(ArcticException):
    """Incompatible schemas/indexes for an operation (reference
    SchemaException, e.g. concat of range-indexed with ts-indexed symbols)."""


# ---------------------------------------------------------------------------
# manifests
# ---------------------------------------------------------------------------

@dataclass
class FileEntry:
    path: str
    rows: int
    row_start: int
    ts_min: int | None = None   # ns since epoch
    ts_max: int | None = None
    content_hash: str | None = None   # order-independent row-hash (dedup)
    # physical schema this file was written under (schema-epoch); None means
    # "same as the manifest schema". Dynamic-schema appends that widen a type
    # leave earlier files on their narrower epoch — reads group by epoch and
    # cast (Spark's parquet reader only widens some combinations itself).
    # Wire format dedupes these into a manifest-level "schemas" list.
    schema_json: str | None = None
    # version that physically WROTE this file (reference: the version_id of
    # the data key, surfaced by read_index — _store.py:2712). Carried-over
    # entries (append/update/compact reuse) keep their original writer;
    # None means "stamped at the next commit" (fresh files) or a legacy
    # manifest predating the field.
    version_id: int | None = None

    def to_json(self):
        return {"path": self.path, "rows": self.rows, "row_start": self.row_start,
                "ts_min": self.ts_min, "ts_max": self.ts_max,
                "content_hash": self.content_hash,
                "version_id": self.version_id}

    @staticmethod
    def from_json(d):
        return FileEntry(d["path"], d["rows"], d["row_start"], d["ts_min"],
                         d["ts_max"], d.get("content_hash"),
                         version_id=d.get("version_id"))


# ---------------------------------------------------------------------------
# Storage-format contract (reference analogue: the cross-version storage
# compatibility suite under /root/reference/python/tests/compat/ — old-writer/
# new-reader round-trips are contractual there, so they are here).
#
# FORMAT_VERSION is stamped into `_config.json` (library level, key
# "format_version") and into every version manifest (key "fv"). Readers
# accept ANY stamp <= FORMAT_VERSION — every epoch below has an explicit
# read-side fallback — and refuse stamps ABOVE it instead of silently
# misreading an artifact written by a newer engine.
#
# Shipped epochs and their fallbacks (enforced by tests/test_manifest_compat.py,
# which fabricates each legacy shape and round-trips it on HEAD):
#
#  fv | introduced                      | legacy fallback on read
#  ---+---------------------------------+---------------------------------
#   0 | base layout: _ref.json,         | (base)
#     | _versions/v*.json, _snapshots/  |
#   1 | _pins.json snapshot-pin sidecar | absent sidecar -> lazily re-derive
#     | + _chain.json high-water marker | pins from snapshot manifests
#     |                                 | (_load_pins); chain from manifests
#   2 | uint64 bit-pattern marker       | absent -> columns are plain signed
#     | (schema field metadata + staged | int64 (exactly what that epoch
#     | sidecar "uint64"/"unsigned")    | wrote)
#   3 | tz zone-map in staged sidecar   | absent -> values stay UTC-naive
#     | ("tzs") + norm_meta             | (physical bytes are UTC either way)
#   4 | staged-chunk sortedness         | absent -> chunk treated as
#     | ("sorted" in staged sidecar)    | ASCENDING, matching what stage()
#     |                                 | accepted when that epoch wrote it
#   5 | explicit format_version stamps  | absent stamp -> fv 0..4 legacy,
#     | (this table)                    | all readable per the rows above
#   6 | GC tombstone stubs: prune/      | absent stub (fv<=5 GC REMOVED the
#     | delete replace a collected      | key) -> same NoSuchVersion surface;
#     | version's manifest with         | _next_version already cleared the
#     | {"tombstone": true} so the      | ref/chain, so old libraries stay
#     | number can never be resurrected | monotone for new single writers
#     | by a stale in-flight writer.    |
#     | Pin MARKER files (_pins/v*/     | single _pins.json -> migrated to
#     | <snap>.json) replace the        | markers on first read; neither ->
#     | read-modify-write _pins.json    | re-derived from snapshot manifests
#     | (concurrent snapshots clobbered | (fv1 fallback)
#     | each other's pins).             |
#     | Ref CAS chain (_ref/g{N}.json,  | single _ref.json -> migrated to
#     | if-absent generation writes)    | generation 0 on first read
#     | replaces the read-modify-write  |
#     | _ref.json swap (racing commit/  |
#     | prune/delete lost updates)      |
#
# Manifest-level keys with per-key defaults ("sorted" -> ASCENDING,
# "schemas"/"sid" -> file uses the manifest schema, FileEntry.version_id /
# content_hash -> None) are part of the fv0 base contract: VersionManifest /
# FileEntry .from_json never require them.
FORMAT_VERSION = 6


def _remove_data_file(path: str) -> None:
    """GC removal of a parquet data file — idempotent: two concurrent
    collectors (prune racing prune/delete, test_cas_stress.py) may both
    decide to release the same file, and an ``exists()`` pre-check is
    TOCTOU-racy across processes."""
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _check_format_version(stamp, what: str) -> None:
    """Refuse artifacts stamped by a NEWER engine (absent stamp = legacy)."""
    if stamp is not None and int(stamp) > FORMAT_VERSION:
        raise ArcticException(
            f"{what} has storage format_version {stamp}, but this engine "
            f"supports up to {FORMAT_VERSION} — upgrade the engine to read "
            "this library")


@dataclass
class VersionedItem:
    """Reference ``_store.py:205`` VersionedItem: the result wrapper for
    metadata reads (and the attribute shape mutation results answer).
    ``data`` is None for metadata-only operations, like upstream."""
    symbol: str
    library: str | None
    data: Any
    version: int
    metadata: Any
    host: str | None = None
    timestamp: int | None = None


@dataclass
class VersionManifest:
    symbol: str
    version: int
    created_ns: int
    index_column: str | None
    schema_json: str
    files: list[FileEntry] = field(default_factory=list)
    metadata: Any = None
    sorted: str = "ASCENDING"
    # normalization metadata (reference _normalization.py:931-950): how the
    # pandas index was demoted to physical columns, so reads can restore it
    norm_meta: Any = None
    # TRANSIENT (never serialized): the version whose manifest supplied any
    # carried-over file entries (append/update/compact/restore reuse).
    # _commit's donor-liveness handshake checks THIS version's manifest is
    # still live — per-file version_id is the ORIGINAL writer, which may be
    # long tombstoned while its files remain legitimately shared forward.
    base_version: int | None = None

    # -- VersionedItem attribute compatibility (reference _store.py:205):
    # write/append/update return this manifest; upstream code reading
    # .data / .timestamp off the result keeps working (.symbol /
    # .version / .metadata are real fields above)
    @property
    def data(self):
        return None

    @property
    def timestamp(self):
        return self.created_ns

    @property
    def total_rows(self):
        return sum(f.rows for f in self.files)

    @property
    def ts_min(self):
        vals = [f.ts_min for f in self.files if f.ts_min is not None]
        return min(vals) if vals else None

    @property
    def ts_max(self):
        vals = [f.ts_max for f in self.files if f.ts_max is not None]
        return max(vals) if vals else None

    def to_json(self):
        # dedupe per-file schema epochs into one manifest-level list — the
        # manifest stays O(#epochs) in schema text, not O(#files), which is
        # what keeps it small at 100 TB file counts
        epochs: list[str] = []
        files = []
        for f in self.files:
            d = f.to_json()
            if f.schema_json is not None and f.schema_json != self.schema_json:
                if f.schema_json not in epochs:
                    epochs.append(f.schema_json)
                d["sid"] = epochs.index(f.schema_json)
            files.append(d)
        out = {"symbol": self.symbol, "version": self.version,
               "fv": FORMAT_VERSION,
               "created_ns": self.created_ns, "index_column": self.index_column,
               "schema": self.schema_json, "metadata": self.metadata,
               "sorted": self.sorted, "norm_meta": self.norm_meta,
               "files": files}
        if epochs:
            out["schemas"] = epochs
        return out

    @staticmethod
    def from_json(d):
        _check_format_version(d.get("fv"), f"manifest {d.get('symbol')!r} "
                              f"v{d.get('version')}")
        epochs = d.get("schemas", [])
        files = []
        for fd in d["files"]:
            fe = FileEntry.from_json(fd)
            # no sid = "written under this manifest's schema"; materialize it
            # so a later widened manifest still knows the file's true epoch
            fe.schema_json = epochs[fd["sid"]] if "sid" in fd else d["schema"]
            files.append(fe)
        return VersionManifest(d["symbol"], d["version"], d["created_ns"],
                               d["index_column"], d["schema"], files,
                               d.get("metadata"), d.get("sorted", "ASCENDING"),
                               d.get("norm_meta"))


# metadata IO goes through the filesystem abstraction (sources/filesystem.py)
# — each Library holds an implementation of that protocol (atomic PUT +
# conditional-PUT CAS); S3ObjectFileSystem gives the reference's serverless
# object-store layout, LocalFileSystem covers posix/NFS. Data files (parquet)
# live on a local or mounted filesystem path (data_root, which may differ
# from the metadata root), read and written by both pyarrow on the driver
# and Spark, so object-store metadata + locally-mounted data compose.
from arcticdb_spark.sources.filesystem import (AzureObjectFileSystem,
                                               GCSObjectFileSystem,
                                               LocalFileSystem,
                                               MongoObjectFileSystem,
                                               S3ObjectFileSystem)


@dataclass
class WritePayload:
    """Batch-write unit mirroring the singular ``write`` API (reference
    ``library.py:191``); iterable so ``lib.write(*payload)`` unpacks like
    the reference (test_arctic.py test_write_with_unpacking)."""
    symbol: str
    data: Any
    metadata: Any = None

    def __iter__(self):
        yield self.symbol
        yield self.data
        if self.metadata is not None:
            yield self.metadata


@dataclass
class WriteMetadataPayload:
    """Batch write-metadata unit mirroring the singular ``write_metadata``
    API (reference ``library.py:245``)."""
    symbol: str
    metadata: Any


@dataclass
class MergeStrategy:
    """Row-level merge behaviour (reference ``_store.py:117`` MergeStrategy,
    used by ``Library.merge_experimental``). Values are case-insensitive
    strings: matched in {"update", "do_nothing"}, not_matched_by_target in
    {"insert", "do_nothing"}."""
    matched: str = "update"
    not_matched_by_target: str = "insert"


@dataclass
class UpdatePayload:
    """Batch-update unit mirroring the singular ``update`` API (reference
    ``library.py:389``)."""
    symbol: str
    data: Any
    metadata: Any = None
    date_range: tuple | None = None


@dataclass
class DataError:
    """Per-item failure marker returned by batch APIs instead of raising
    (reference ``arcticdb_ext.version_store.DataError``): one bad symbol
    doesn't abort the whole batch. ``error_code``/``error_category`` carry
    the reference enums when the failure maps onto one (ErrorCode.
    E_NO_SUCH_VERSION etc.), so reference-style handlers comparing against
    them work unchanged."""
    symbol: str
    error_code: Any = None
    exception_string: str = ""
    error_category: Any = None
    version_request_type: Any = None
    version_request_data: Any = None

    def __bool__(self):  # truthiness mirrors "is this an error"
        return True


@dataclass
class DeleteRequest:
    """Reference ``library.py`` DeleteRequest: a symbol plus the specific
    versions of it to delete."""
    symbol: str
    versions: Any = None


@dataclass
class ReadRequest:
    """Batch-read unit mirroring the singular ``read`` API (reference
    ``library.py:278``): each symbol may carry its own as_of / ranges /
    query_builder."""
    symbol: str
    as_of: Any = None
    date_range: tuple | None = None
    row_range: tuple | None = None
    columns: list | None = None
    query_builder: Any = None


@dataclass
class StageResult:
    """Token handle returned by ``Library.stage`` (reference StageResult):
    names the staged segment keys so a later ``finalize_staged_data``
    can finalize exactly these segments. Picklable — tokens can travel
    between writer processes and the finalizing coordinator."""
    symbol: str
    staged_segments: list


@dataclass
class StagedFile:
    """What finalize and incomplete reads know of one staged part file,
    from one footer open (``Library._staged_records``): its chunk (the
    ``stage()`` call's directory) and that chunk's sidecar, its Spark
    read schema, its row count and its footer metadata (index min/max)."""
    path: str
    chunk: str
    side: dict
    schema: T.StructType
    rows: int
    meta: "pq.FileMetaData"


class MissingKeysInStageResultsError(ArcticException):
    """Finalize-with-tokens found segment keys that no longer exist
    (reference MissingKeysInStageResultsError). ``stage_results_with_missing_keys``
    lists dicts of (stage_result_index, missing_key)."""

    def __init__(self, msg: str, records: list):
        super().__init__(msg)
        self.stage_results_with_missing_keys = records


class StagedDataFinalizeMethod(Enum):
    """Reference ``arcticdb.StagedDataFinalizeMethod`` — finalize mode."""
    WRITE = "write"
    APPEND = "append"


def _normalize_finalize_mode(mode) -> str:
    """enum / case-insensitive string -> "write"|"append"; anything else
    raises like the reference (ArcticInvalidApiUsageException upstream,
    test_arctic.py:366 test_staged_data_bad_mode)."""
    if mode is None:
        return "write"   # reference default (test_api.py:107: None -> WRITE)
    if isinstance(mode, StagedDataFinalizeMethod):
        return mode.value
    if isinstance(mode, str) and mode.lower() in ("write", "append"):
        return mode.lower()
    raise ArcticInvalidApiUsageException(
        f"finalize mode must be StagedDataFinalizeMethod or "
        f"'write'/'append', got {mode!r}")


class VersionRequestType(Enum):
    """Reference ``arcticdb_ext.version_store.VersionRequestType``
    (version/python_bindings.cpp:295): how a batch item addressed the
    version — reported on DataError."""
    SNAPSHOT = 1
    TIMESTAMP = 2
    SPECIFIC = 3
    LATEST = 4


def _version_request_of(as_of):
    """(VersionRequestType, data) for an as_of (DataError reporting —
    python_bindings.cpp:318: SPECIFIC carries the version number,
    TIMESTAMP the ns epoch, SNAPSHOT the name, LATEST None)."""
    import datetime as _dt
    import numbers
    if as_of is None:
        return VersionRequestType.LATEST, None
    # bool is an int subclass but is not a version number; numpy integers
    # are Integral but not int — classify both correctly
    if not isinstance(as_of, bool) and isinstance(as_of, numbers.Integral):
        return VersionRequestType.SPECIFIC, int(as_of)
    if isinstance(as_of, str):
        return VersionRequestType.SNAPSHOT, as_of
    if isinstance(as_of, _dt.datetime):
        import pandas as pd
        return VersionRequestType.TIMESTAMP, pd.Timestamp(as_of).value
    return None, as_of


@dataclass
class ReadInfoRequest:
    """(symbol, as_of) pair for metadata/description batches (reference
    ``library.py:338``)."""
    symbol: str
    as_of: Any = None


class LibraryOptions:
    """Library configuration (reference ``options.py:21`` LibraryOptions).

    ``rows_per_segment`` maps to this engine's ``rows_per_file`` (parquet
    file slicing). ``columns_per_segment`` is accepted and persisted but
    advisory: parquet is already columnar, so column slicing is subsumed
    by projection pushdown. ``dedup`` sets the library-level default for
    write-time segment dedup (per-call ``write(dedup=...)`` overrides)."""

    def __init__(self, *, dynamic_schema: bool = False, dedup: bool = False,
                 rows_per_segment: int = 100_000,
                 columns_per_segment: int = 127,
                 dictionary_columns: tuple | list = ()):
        self.dynamic_schema = dynamic_schema
        self.dedup = dedup
        self.rows_per_segment = rows_per_segment
        self.columns_per_segment = columns_per_segment
        # declared categorical/id STRING columns stored as int64 content
        # hashes with a (code, value) parquet sidecar — the engine's
        # analogue of the reference's string pool (string_pool.hpp; SURVEY
        # §1.1 mapped it to parquet dictionary encoding, which Spark does
        # not exploit ACROSS an aggregation): groupbys on a declared
        # column hash 8-byte longs instead of UTF8 strings and decode
        # post-agg. Exactness is guaranteed by a write-time collision
        # check (new codes are verified against both the incoming batch
        # and every previously stored value). Opt-in; intended for
        # columns with bounded cardinality (ids, categories).
        self.dictionary_columns = tuple(dictionary_columns)

    def __eq__(self, o):
        return (self.dynamic_schema == o.dynamic_schema
                and self.dedup == o.dedup
                and self.rows_per_segment == o.rows_per_segment
                and self.columns_per_segment == o.columns_per_segment
                and self.dictionary_columns
                    == getattr(o, "dictionary_columns", ()))

    def __repr__(self):
        return (f"LibraryOptions(dynamic_schema={self.dynamic_schema}, "
                f"dedup={self.dedup}, "
                f"rows_per_segment={self.rows_per_segment}, "
                f"columns_per_segment={self.columns_per_segment}, "
                f"dictionary_columns={self.dictionary_columns})")


class EnterpriseLibraryOptions:
    """Enterprise flags (reference ``options.py:300``).

    ``replication``: persisted only — the reference's oplog feeds a
    one-way replication tool; a Spark deployment replicates storage at the
    object-store layer, so the flag is configuration parity without an
    execution analogue. ``background_deletion``: honored — delete /
    prune_previous_versions tombstone versions (readers see data gone,
    same logical semantics) but leave parquet data files on disk for an
    out-of-band deletion job, exactly the reference contract."""

    def __init__(self, *, replication: bool = False,
                 background_deletion: bool = False):
        self.replication = replication
        self.background_deletion = background_deletion

    def __eq__(self, o):
        return (self.replication == o.replication
                and self.background_deletion == o.background_deletion)

    def __repr__(self):
        return (f"EnterpriseLibraryOptions(replication={self.replication}, "
                f"background_deletion={self.background_deletion})")


from enum import Enum


class ModifiableLibraryOption(Enum):
    """Reference ``storage/library_manager.hpp:19``."""
    DEDUP = 1
    ROWS_PER_SEGMENT = 2
    COLUMNS_PER_SEGMENT = 3
    RECURSIVE_NORMALIZERS = 4


class ModifiableEnterpriseLibraryOption(Enum):
    """Reference ``storage/library_manager.hpp:25``."""
    REPLICATION = 1
    BACKGROUND_DELETION = 2


class OutputFormat(str, Enum):
    """Reference ``options.py`` OutputFormat: accepted (as the enum or a
    case-insensitive string) everywhere an ``output_format`` argument is —
    str-valued so ``OutputFormat.PANDAS`` and ``"pandas"`` are
    interchangeable. This engine adds SPARK (the Spark-first default) and
    SPARK_NS (raw int64-ns index view) beyond the reference's set."""
    PANDAS = "PANDAS"
    PYARROW = "PYARROW"
    POLARS = "POLARS"
    SPARK = "SPARK"
    SPARK_NS = "SPARK-NS"


class KeyType(str, Enum):
    """Reference ``admin_tools.py:37`` KeyType: the physical key kinds.
    str-valued so size dicts keyed by name accept the enum and vice versa
    (``sizes[KeyType.TABLE_DATA]`` == ``sizes["TABLE_DATA"]``). LOG /
    LOG_COMPACTED / SYMBOL_LIST exist for name parity; this engine keeps
    no oplog and derives the symbol list from directories, so their sizes
    are always empty."""
    TABLE_DATA = "TABLE_DATA"
    TABLE_INDEX = "TABLE_INDEX"
    VERSION = "VERSION"
    VERSION_REF = "VERSION_REF"
    APPEND_DATA = "APPEND_DATA"
    MULTI_KEY = "MULTI_KEY"
    SNAPSHOT_REF = "SNAPSHOT_REF"
    LOG = "LOG"
    LOG_COMPACTED = "LOG_COMPACTED"
    SYMBOL_LIST = "SYMBOL_LIST"


from collections import namedtuple

# reference library.py:83/101 SymbolVersion / VersionInfo — the key/value
# shape of the upstream list_versions dict
SymbolVersion = namedtuple("SymbolVersion", ["symbol", "version"])
VersionInfo = namedtuple("VersionInfo", ["date", "deleted", "snapshots"])


class VersionList(list):
    """list_versions result: this engine's original list-of-row-dicts,
    which ALSO answers the upstream Dict[SymbolVersion, VersionInfo]
    access patterns (``library.py:2881``): ``vl["sym", 0].deleted``,
    ``("sym", 0) in vl``, ``vl.keys()/values()/items()``. ``vl[int]`` and
    iteration keep the row-dict behavior."""

    @staticmethod
    def _info(row) -> VersionInfo:
        import datetime as _dt
        return VersionInfo(
            date=_dt.datetime.fromtimestamp(row["date"] / 1e9,
                                            tz=_dt.timezone.utc),
            deleted=row["deleted"], snapshots=list(row["snapshots"]))

    def __getitem__(self, key):
        if isinstance(key, tuple):
            for row in self:
                if (row["symbol"], row["version"]) == key:
                    return self._info(row)
            raise KeyError(key)
        return super().__getitem__(key)

    def __contains__(self, key):
        if isinstance(key, tuple):
            return any((r["symbol"], r["version"]) == key for r in self)
        return super().__contains__(key)

    def keys(self):
        return [SymbolVersion(r["symbol"], r["version"]) for r in self]

    def values(self):
        return [self._info(r) for r in self]

    def items(self):
        return list(zip(self.keys(), self.values()))


# reference library.py:128 NameWithDType — (name, dtype) pairs in
# SymbolDescription
NameWithDType = namedtuple("NameWithDType", ["name", "dtype"])


class SymbolDescription(dict):
    """get_description result: this engine's original dict keys plus the
    reference SymbolDescription attribute names (``library.py:135`` —
    columns/index as NameWithDType tuples, index_type in
    {NA, index, multi_index}, row_count, last_update_time (UTC datetime),
    date_range (NaT pair when not ascending-ts-indexed), sorted)."""

    def __getattr__(self, name):
        try:
            return self[name]
        except KeyError:
            raise AttributeError(name) from None


class CompactDataInfo(dict):
    """compact_data_explain_plan result: a dict (this engine's original
    shape, keyed segments_before/after etc.) that also exposes the
    reference's CompactDataInfo attribute names (``library.py:3202`` —
    row_slices_before/after, num_row_slices_before/after,
    version_id_before/after, will_do_work)."""

    def __getattr__(self, name):
        if name == "will_do_work":
            return self["would_compact"]
        if name == "num_row_slices_before":
            return self["segments_before"]
        if name == "num_row_slices_after":
            return self["segments_after"]
        try:
            return self[name]
        except KeyError:
            raise AttributeError(name) from None


@dataclass
class Size:
    """Compressed bytes + object count for one key type (reference
    ``admin_tools.py:19-29`` — the field is named ``bytes_compressed``
    there; ``bytes`` is kept as this engine's original alias)."""
    bytes_compressed: int
    count: int

    @property
    def bytes(self) -> int:
        return self.bytes_compressed

    def __add__(self, other: "Size") -> "Size":
        return Size(self.bytes_compressed + other.bytes_compressed,
                    self.count + other.count)


def sum_sizes(sizes) -> Size:
    """Reference ``admin_tools.py:32``."""
    out = Size(0, 0)
    for s in sizes:
        out = out + s
    return out


class AdminTools:
    """Administrative utilities on one library (reference
    ``library.py:3521`` ``admin_tools()`` / ``version_store/admin_tools.py``).

    Key types map to this design's artifacts: VERSION_REF -> per-symbol
    ``_ref.json``, VERSION -> version manifests, TABLE_DATA -> parquet data
    files, APPEND_DATA -> staged chunks. TABLE_INDEX has no separate
    artifact here (the manifest embeds the index) and reports 0.
    """

    _KEY_TYPES = ("VERSION_REF", "VERSION", "TABLE_INDEX", "TABLE_DATA",
                  "APPEND_DATA")
    # library-level kinds reported by get_sizes() for KeyType parity:
    # SNAPSHOT_REF counts the snapshot JSONs; MULTI_KEY / LOG /
    # LOG_COMPACTED / SYMBOL_LIST have no artifacts in this layout
    # (recursive normalizers embed their children in VERSION manifests, no
    # oplog is kept, and the symbol list is derived from directories)
    _LIB_KEY_TYPES = ("SNAPSHOT_REF", "MULTI_KEY", "LOG", "LOG_COMPACTED",
                      "SYMBOL_LIST")

    def __init__(self, lib: "Library"):
        self._lib = lib

    def _sym_sizes(self, symbol: str) -> dict:
        lib = self._lib
        out = {k: Size(0, 0) for k in self._KEY_TYPES}
        try:
            out["VERSION_REF"] = Size(
                len(json.dumps(lib._load_ref(symbol))), 1)
        except Exception:
            pass
        vdir = lib._fs.join(lib._sym_dir(symbol), "_versions")
        if lib._fs.isdir(vdir):
            vb = vn = 0
            for f in lib._fs.listdir(vdir):
                vb += len(json.dumps(lib._fs.read_json(lib._fs.join(vdir, f))))
                vn += 1
            out["VERSION"] = Size(vb, vn)
            # this engine's version manifest carries the file index inline,
            # so each manifest IS the TABLE_INDEX key too (reference: one
            # TABLE_INDEX key per version)
            out["TABLE_INDEX"] = Size(vb, vn)
        ddir = os.path.join(lib._data_sym_dir(symbol), "data")
        if os.path.isdir(ddir):
            db = dn = 0
            for root, _dirs, fns in os.walk(ddir):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        db += os.path.getsize(os.path.join(root, fn))
                        dn += 1
            out["TABLE_DATA"] = Size(db, dn)
        sdir = lib._staging_dir(symbol)
        if os.path.isdir(sdir):
            sb = sn = 0
            for root, _dirs, fns in os.walk(sdir):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        sb += os.path.getsize(os.path.join(root, fn))
                        sn += 1
            out["APPEND_DATA"] = Size(sb, sn)
        return out

    def _all_symbol_dirs(self) -> list[str]:
        """Listed symbols plus symbols that only have STAGED data (an
        uncommitted symbol has no version yet but its APPEND_DATA must
        still be counted — reference test_get_sizes stages new_sym)."""
        lib = self._lib
        names = set(lib.list_symbols())
        if os.path.isdir(lib.data_root):
            for d in os.listdir(lib.data_root):
                if not d.startswith("_") and os.path.isdir(
                        os.path.join(lib.data_root, d, "_staging")):
                    names.add(d)
        return sorted(names)

    def get_sizes_by_symbol(self) -> dict:
        return {s: self._sym_sizes(s) for s in self._all_symbol_dirs()}

    def get_sizes_for_symbol(self, symbol: str) -> dict:
        """Reference ``admin_tools.py:150`` — cheapest per-symbol probe."""
        return self._sym_sizes(symbol)

    def get_sizes(self) -> dict:
        total = {k: Size(0, 0)
                 for k in self._KEY_TYPES + self._LIB_KEY_TYPES}
        for sizes in self.get_sizes_by_symbol().values():
            for k, sz in sizes.items():
                total[k] = Size(total[k].bytes + sz.bytes,
                                total[k].count + sz.count)
        lib = self._lib
        sdir = lib._fs.join(lib.root, "_snapshots")
        if lib._fs.isdir(sdir):
            sb = sn = 0
            for f in lib._fs.listdir(sdir):
                sb += len(json.dumps(
                    lib._fs.read_json(lib._fs.join(sdir, f))))
                sn += 1
            total["SNAPSHOT_REF"] = Size(sb, sn)
        return total

    def remove_incompletes(self, symbols) -> None:
        """Remove staged (incomplete) data for several symbols; symbols
        without staged data are ignored (reference library.py:855
        AdminTools.remove_incompletes)."""
        import shutil
        for s in symbols:
            d = self._lib._staging_dir(s)
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)


def _index_undecided(m) -> bool:
    """True when the symbol is EMPTY and recorded no index opinion — the
    reference's undecided empty-index state (decided by the first
    non-empty append/update). A recorded categorical dtype keeps the
    pandas-native RangeIndex instead: the reference's empty-index read
    applies under the empty-types feature, while test_categorical.py
    test_categorical_empty (feature off) pins RangeIndex for an empty
    categorical frame."""
    nm = m.norm_meta if isinstance(m.norm_meta, dict) else {}
    nm = nm or {}
    return (m.total_rows == 0 and m.index_column is None
            and not nm.get("index_type") and not nm.get("categoricals"))


def _pytz_utc():
    """pytz.UTC when available (the reference's get_description pins
    ``last_update_time.tz == pytz.UTC``), else the stdlib UTC."""
    try:
        import pytz
        return pytz.UTC
    except ImportError:  # pragma: no cover
        import datetime as _dt
        return _dt.timezone.utc


def _map_error_enums(e):
    """Exception -> (reference ErrorCode, ErrorCategory) when it maps
    (error_code.hpp:57-120); (None, category) otherwise. Lazy import —
    exceptions.py imports from this module."""
    from arcticdb_spark.exceptions import ErrorCategory, ErrorCode
    if isinstance(e, NoSuchVersionException):
        return ErrorCode.E_NO_SUCH_VERSION, ErrorCategory.MISSING_DATA
    if isinstance(e, UnsortedDataException):
        return ErrorCode.E_UNSORTED_DATA, ErrorCategory.SORTING
    if isinstance(e, SortingException):
        return None, ErrorCategory.SORTING
    if isinstance(e, SchemaException):
        return ErrorCode.E_DESCRIPTOR_MISMATCH, ErrorCategory.SCHEMA
    if isinstance(e, UserInputException):
        return ErrorCode.E_INVALID_USER_ARGUMENT, ErrorCategory.USER_INPUT
    return None, ErrorCategory.INTERNAL


def _pandas_nrows(df):
    """Row count of a pandas DataFrame/Series input, None for anything
    else (Spark frames are not counted — that would trigger a job)."""
    import pandas as pd
    if isinstance(df, (pd.DataFrame, pd.Series)):
        return len(df)
    return None


def _schema_from_pandas_dtypes(pdf):
    """Spark schema for a ZERO-ROW pandas frame (inference needs data).
    object dtype maps to string; an all-None column in a 0-row frame is
    indistinguishable from text, which matches the reference's dynamic
    string default."""
    from pyspark.sql import types as T
    import pandas as pd
    m = []
    for name, dt in pdf.dtypes.items():
        if pd.api.types.is_datetime64_any_dtype(dt):
            t = T.TimestampType()
        elif pd.api.types.is_float_dtype(dt):
            t = T.DoubleType() if dt.itemsize == 8 else T.FloatType()
        elif pd.api.types.is_bool_dtype(dt):
            t = T.BooleanType()
        elif pd.api.types.is_integer_dtype(dt):
            t = {1: T.ByteType(), 2: T.ShortType(),
                 4: T.IntegerType()}.get(dt.itemsize, T.LongType())
        else:
            t = T.StringType()
        m.append(T.StructField(str(name), t, True))
    return T.StructType(m)


def _object_strings(pdf):
    """``pdf`` with its pyarrow-backed string columns (``string[pyarrow]``,
    ``ArrowDtype`` strings) as object columns, missing values None. Spark's
    ``createDataFrame`` misreads their Arrow offsets: values shift by a
    row, or the write fails in ``UTF8String.copy``."""
    import pandas as pd
    import pyarrow as pa

    def arrow_str(dt) -> bool:
        if isinstance(dt, pd.StringDtype):
            return dt.storage != "python"
        return isinstance(dt, pd.ArrowDtype) and (
            pa.types.is_string(dt.pyarrow_dtype)
            or pa.types.is_large_string(dt.pyarrow_dtype))

    cols = [i for i, dt in enumerate(pdf.dtypes) if arrow_str(dt)]
    if cols:
        pdf = pdf.copy(deep=False)
        for i in cols:
            s = pdf.iloc[:, i]
            pdf.isetitem(i, s.astype(object).where(s.notna(), None))
    return pdf


# Reference NativeVersionStore kwarg validation (_store.py:704-720 and the
# per-method valid sets at its _validate_kwargs call sites): unknown keyword
# arguments raise ArcticNativeException naming the method and the kwargs —
# unless ARCTICDB_DISABLE_KWARG_VALIDATION=1, which downgrades to a warning.
# Historic Arctic kwargs in each method's valid set are tolerated (accepted
# and ignored where this engine has no equivalent knob).
_VALID_READ_KWARGS = frozenset({
    "iterate_snapshots_if_tombstoned", "force_string_to_object",
    "optimise_string_memory", "output_format", "dynamic_schema", "set_tz",
    "allow_sparse", "incomplete", "arrow_string_format_default",
    "arrow_string_format_per_column",
})


def _check_extra_kwargs(method: str, valid: frozenset, extra: dict) -> None:
    invalid = [k for k in extra if k not in valid]
    if invalid:
        msg = (f"{method} received invalid kwargs {invalid}. "
               f"Supported kwargs are {sorted(valid)}")
        if os.environ.get("ARCTICDB_DISABLE_KWARG_VALIDATION") == "1":
            import warnings
            warnings.warn(msg)
        else:
            raise ArcticException(msg)


def _kwargs_contract(method: str, valid: frozenset = frozenset()):
    """Decorator: absorb **kwargs beyond the method's real signature,
    validating them against the reference's per-method valid set. Valid
    historic kwargs are dropped (tolerated); anything else raises like the
    reference (_store.py:704)."""
    import functools
    import inspect

    def deco(fn):
        own = set(inspect.signature(fn).parameters)

        @functools.wraps(fn)
        def wrapper(self, *args, **kwargs):
            extra = {k: kwargs.pop(k) for k in list(kwargs) if k not in own}
            if extra:
                _check_extra_kwargs(method, valid, extra)
            return fn(self, *args, **kwargs)
        return wrapper
    return deco


def _apply_coerce_columns(df, coerce_columns):
    """Reference ``coerce_columns`` kwarg (_store.py write/append/update):
    cast the named pandas columns to the given dtypes before
    normalization — the escape hatch for object columns whose values are
    coercible (test_basic_version_store.py test_coercion_to_float)."""
    if not coerce_columns:
        return df
    import pandas as pd
    if isinstance(df, pd.DataFrame):
        return df.astype(coerce_columns)
    return df


def _renumber(files: list[FileEntry]) -> list[FileEntry]:
    acc = 0
    out = []
    for fe in files:
        out.append(FileEntry(fe.path, fe.rows, acc, fe.ts_min, fe.ts_max,
                             fe.content_hash, fe.schema_json,
                             version_id=fe.version_id))
        acc += fe.rows
    return out


def _footer_stats(path: str, index_column: str | None):
    """Row count + index min/max from the Parquet footer only (no data IO)."""
    md = pq.ParquetFile(path).metadata
    return (md.num_rows, *_index_span(md, index_column))


def _index_span(md: "pq.FileMetaData", index_column: str | None):
    """(min, max) of ``index_column`` over the row-group statistics of a
    parsed footer, as ns; (None, None) without an index or statistics."""
    ts_min = ts_max = None
    if index_column:
        idx = None
        arrow_schema = md.schema.to_arrow_schema()
        for i, name in enumerate(arrow_schema.names):
            if name == index_column:
                idx = i
                break
        if idx is not None:
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(idx)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
                mn = _to_ns(mn)
                mx = _to_ns(mx)
                ts_min = mn if ts_min is None else min(ts_min, mn)
                ts_max = mx if ts_max is None else max(ts_max, mx)
    return ts_min, ts_max


def _file_entries(paths: list, index_column: str | None,
                  schema_json: str) -> list[FileEntry]:
    """Footer-derived FileEntries of freshly written files, empty files
    skipped (row_start is set by ``_renumber``)."""
    out = []
    for p in paths:
        rows, ts_min, ts_max = _footer_stats(p, index_column)
        if rows:
            out.append(FileEntry(p, rows, 0, ts_min, ts_max,
                                 schema_json=schema_json))
    return out


def _slice_files(out_dir: str) -> list[str]:
    """The part files of a ``partitionBy("__slice__")`` write in slice
    order: hive layout out_dir/__slice__=N/part-*.parquet, one part file
    per slice, so numeric directory order IS slice order."""
    dirs = sorted((d for d in os.listdir(out_dir)
                   if d.startswith("__slice__=")),
                  key=lambda d: int(d.split("=", 1)[1]))
    return [os.path.join(out_dir, d, fn) for d in dirs
            for fn in sorted(os.listdir(os.path.join(out_dir, d)))
            if fn.endswith(".parquet")]

def _json_safe(v):
    import datetime as _dt
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _norm_range_ns(date_range: tuple) -> tuple[int, int]:
    """(lo, hi) date_range with None = open end, as exact ns ints clamped to
    the pandas-representable extremes (so they survive pd.Timestamp round
    trips in boundary filters)."""
    import pandas as pd
    lo, hi = date_range
    lo = pd.Timestamp.min.value + 1 if lo is None else pd.Timestamp(lo).value
    hi = pd.Timestamp.max.value if hi is None else pd.Timestamp(hi).value
    return lo, hi


def _to_ns(v) -> int:
    import datetime as _dt

    import pandas as pd
    if isinstance(v, (int, float)):
        return int(v)
    if isinstance(v, _dt.datetime):
        return pd.Timestamp(v).value
    return pd.Timestamp(v).value


# ---------------------------------------------------------------------------
# nanosecond index physical representation (SURVEY §7(d); reference
# entity/types.hpp:73 NANOSECONDS_UTC64: the index is int64 ns since epoch)
# ---------------------------------------------------------------------------
# Spark's TimestampType is µs, so a datetime index is stored physically as a
# LONG ns column (exact; footer stats are exact ns; sort order is exact ns).
# Reads attach a µs TIMESTAMP *view* under the index's name (floor-truncated,
# matching DuckDB CAST(ts_ns AS TIMESTAMP)) plus a LONG shadow column
# ``__ns__<name>`` carrying the exact value; pandas/arrow output rebuilds
# datetime64[ns]/timestamp[ns] from the shadow. NaT is NULL physically and a
# NAT_SENTINEL (int64 min == numpy's NaT bit pattern) in the shadow so the
# shadow survives Arrow collection as exact int64 (a nullable long would
# come back float64 and round ~1.7e18 ns epochs).

NS_SHADOW_PREFIX = "__ns__"
NAT_SENTINEL = -9223372036854775808


def ns_shadow_col(index_column: str) -> str:
    return NS_SHADOW_PREFIX + index_column


def _attach_ns_view(df: DataFrame, idx: str) -> DataFrame:
    """LONG-ns physical index -> (µs TIMESTAMP view named ``idx``, exact
    LONG shadow). Floor division via ``div`` keeps the math in int64 —
    float division at 1e18 magnitudes rounds by ~hundreds of ns."""
    shadow = ns_shadow_col(idx)
    view = F.timestamp_micros(
        F.expr(f"(`{idx}` - pmod(`{idx}`, 1000)) div 1000"))
    return (df.withColumn(shadow,
                          F.coalesce(F.col(idx), F.lit(NAT_SENTINEL)))
              .withColumn(idx, view))


def _default_backfill_lit(dtype):
    """Rows of a column that a segment does not store (dynamic-schema
    widening, EMPTY promotion) backfill with the type's default —
    0 / False / NULL per reference sparse_utils.hpp default_initialize
    (shared with symbol concat's outer fill)."""
    from arcticdb_spark.operators.concat import default_fill_lit
    return default_fill_lit(dtype)


def _attach_uint64_marker(df: DataFrame, norm_meta) -> DataFrame:
    """Mark LONG columns that physically hold uint64 bit patterns
    (norm_meta['uint64'], recorded at write) with schema metadata so the
    QueryBuilder compiler applies unsigned semantics (expr.py UINT) and
    pandas/arrow outputs restore dtype. Metadata flows through
    filter/select/groupBy-key plans unchanged."""
    if not isinstance(norm_meta, dict):
        return df
    cols = norm_meta.get("uint64") or []
    from arcticdb_spark.expr import UINT64_META, UNSIGNED_META
    for c in cols:
        if c in df.columns:
            df = df.withMetadata(c, {UINT64_META: True})
    for c in norm_meta.get("unsigned") or []:
        if c in df.columns and c not in cols:
            df = df.withMetadata(c, {UNSIGNED_META: True})
    return df


def _uint64_output_cols(df: DataFrame) -> list[str]:
    """Columns of ``df`` carrying the uint64 bit-pattern marker."""
    from arcticdb_spark.expr import UINT64_META
    from pyspark.sql import types as T
    return [f.name for f in df.schema.fields
            if isinstance(f.dataType, T.LongType)
            and (f.metadata or {}).get(UINT64_META)]


def _is_long_type(df: DataFrame, colname: str) -> bool:
    from pyspark.sql import types as T
    try:
        return isinstance(df.schema[colname].dataType, T.LongType)
    except KeyError:
        return False


def _is_ts_type(df: DataFrame, colname: str) -> bool:
    try:
        return df.schema[colname].dataType.typeName().startswith("timestamp")
    except KeyError:
        return False


def _spark(df) -> DataFrame:
    """The Spark frame of a write input (a Normalized record or a frame)."""
    return df.frame() if isinstance(df, aw.Normalized) else df


def _demote_ns(pdf, colname, tzs: dict) -> bool:
    """Replace a demoted datetime index column with exact Int64 ns in place
    (NaT -> NA so Spark stores NULL); records the zone in ``tzs`` when
    tz-aware. Returns False (no change) for a non-datetime level."""
    import pandas as pd
    col = pdf[colname]
    if not pd.api.types.is_datetime64_any_dtype(col):
        return False
    if isinstance(col.dtype, pd.DatetimeTZDtype):
        tzs[str(colname)] = str(col.dtype.tz)
    di = pd.DatetimeIndex(col)
    ints = pd.array(di.asi8, dtype="Int64")
    mask = di.isna()
    if mask.any():
        ints[mask] = pd.NA
    pdf[colname] = ints
    return True


def _idx_bound(df: DataFrame, idx: str, ns_value: int):
    """A comparison literal for the index column matching its PHYSICAL type:
    exact ns long for an ns-physical index, µs timestamp otherwise."""
    import pandas as pd
    if _is_long_type(df, idx):
        return F.lit(int(ns_value))
    return F.lit(pd.Timestamp(int(ns_value), unit="ns"))


def _is_ts_type_json(schema_json: str, colname: str) -> bool:
    for f in json.loads(schema_json).get("fields", []):
        if f.get("name") == colname:
            return str(f.get("type", "")).startswith("timestamp")
    return False


# ---------------------------------------------------------------------------
# Library
# ---------------------------------------------------------------------------

class Library:
    """One namespace of versioned symbols (reference ``library.py:879``)."""

    def __init__(self, spark: SparkSession, root: str, name: str,
                 rows_per_file: int = 1_000_000, dynamic_schema: bool = False,
                 fs=None, data_root: str | None = None,
                 library_options: "LibraryOptions | None" = None,
                 enterprise_library_options:
                     "EnterpriseLibraryOptions | None" = None,
                 prune_previous_version: bool = False):
        if library_options is not None:
            rows_per_file = library_options.rows_per_segment
            dynamic_schema = library_options.dynamic_schema
        # library-level prune-on-write default (reference write_options
        # prune_previous_version; precedence per resolve_defaults,
        # _store.py:145-175: explicit arg > PRUNE_PREVIOUS_VERSION env
        # var > this config > False) — see _resolve_prune
        self.prune_previous_version = prune_previous_version
        self.spark = spark
        # results-affecting SQL confs (UTC, nanosAsLong, µs parquet output,
        # ansi=false so uint64 mod-2^64 long math wraps instead of
        # throwing) — idempotent, and essential when the session was built
        # outside get_spark (a verify driver, a user's own session)
        from arcticdb_spark.sources.tables import ensure_session_conf
        ensure_session_conf(spark)
        self.name = name
        self._fs = fs or LocalFileSystem()
        self.root = self._fs.join(root, name)
        # data (parquet) root: a local or mounted filesystem path, which the
        # driver's pyarrow reads and writes as well as Spark. Defaults to
        # the metadata root for the local backend; an object-store metadata
        # fs needs an explicit data_root (e.g. a mounted bucket). A URI
        # would make a local directory named after its scheme and fail at
        # the first write, so it is refused here.
        if data_root is not None and "://" in data_root:
            raise ArcticException(
                f"data_root {data_root!r} is a URI; data files live on a "
                "local or mounted filesystem path")
        if data_root is not None:
            self.data_root = os.path.join(data_root, name)
        elif isinstance(self._fs, LocalFileSystem):
            self.data_root = self.root
        else:
            raise ArcticException(
                "object-store metadata fs requires data_root for Spark data files")
        self._fs.makedirs(self.root)
        self._fs.makedirs(self._fs.join(self.root, "_snapshots"))
        os.makedirs(self.data_root, exist_ok=True)
        # persisted LibraryOptions (reference options.py:21): a library
        # re-opened later keeps its configuration
        ent = enterprise_library_options or EnterpriseLibraryOptions()
        dedup_default = (library_options.dedup if library_options is not None
                         else False)
        columns_per_segment = (library_options.columns_per_segment
                               if library_options is not None else 127)
        dictionary_columns = tuple(
            library_options.dictionary_columns
            if library_options is not None else ())
        cfg_path = self._fs.join(self.root, "_config.json")
        try:
            cfg = self._fs.read_json(cfg_path)
            _check_format_version(cfg.get("format_version"),
                                  f"library {name!r} _config.json")
            rows_per_file = cfg.get("rows_per_file", rows_per_file)
            dynamic_schema = cfg.get("dynamic_schema", dynamic_schema)
            dedup_default = cfg.get("dedup", dedup_default)
            columns_per_segment = cfg.get("columns_per_segment",
                                          columns_per_segment)
            dictionary_columns = tuple(cfg.get("dictionary_columns",
                                               dictionary_columns))
            ent = EnterpriseLibraryOptions(
                replication=cfg.get("replication", ent.replication),
                background_deletion=cfg.get("background_deletion",
                                            ent.background_deletion))
        except FileNotFoundError:
            self._fs.write_json_atomic(cfg_path, {
                "format_version": FORMAT_VERSION,
                "rows_per_file": rows_per_file,
                "dynamic_schema": dynamic_schema,
                "dedup": dedup_default,
                "columns_per_segment": columns_per_segment,
                "replication": ent.replication,
                "background_deletion": ent.background_deletion,
                "dictionary_columns": list(dictionary_columns)})
        self.rows_per_file = rows_per_file
        self.dedup = dedup_default
        self.columns_per_segment = columns_per_segment
        self.dictionary_columns = dictionary_columns
        self.replication = ent.replication
        # background deletion (reference EnterpriseLibraryOptions): delete /
        # prune tombstone versions but defer physical data-file removal to
        # an out-of-band job; logical read semantics are unchanged
        self.background_deletion = ent.background_deletion
        # reference LibraryOptions.dynamic_schema (options.py:43): appends may
        # add columns / promote numeric types; reads backfill + upcast
        self.dynamic_schema = dynamic_schema
        # library-level output format default (reference
        # library.set_output_format / OutputFormat, options.py:170-196);
        # per-read output_format overrides
        self._default_output_format = "spark"
        # symbols whose absent _pins.json sidecar was already re-derived
        # from the snapshot manifests this session (legacy-library
        # migration, see _load_pins) — avoids re-walking snapshots for
        # symbols that genuinely have no pins
        self._pins_backfilled: set[str] = set()
        # persisted (code, value) lookup frames per dictionary column,
        # keyed by the sidecar directory's file-listing signature
        self._dict_cache: dict = {}
        # driver-side {code: value} maps per dictionary column (same
        # signature invalidation) — serve the encode clash check and the
        # small-sidecar decode without a Spark job
        self._dict_map_cache: dict = {}

    _OUTPUT_FORMATS = {"spark": "spark", "spark-ns": "spark-ns",
                       "pandas": "pandas", "arrow": "arrow",
                       "pyarrow": "arrow", "experimental_arrow": "arrow",
                       "polars": "polars"}

    def set_output_format(self, output_format) -> None:
        """Reference ``library.set_output_format(OutputFormat.PYARROW)``:
        library-level default for read/head/tail/batch reads. Accepts this
        engine's names plus the reference's OutputFormat values
        (PANDAS/PYARROW/EXPERIMENTAL_ARROW, enum or string)."""
        key = str(getattr(output_format, "value", output_format)).lower()
        if key not in self._OUTPUT_FORMATS:
            raise ArcticException(
                f"unknown output_format {output_format!r}; expected one of "
                f"{sorted(set(self._OUTPUT_FORMATS))}")
        self._default_output_format = self._OUTPUT_FORMATS[key]

    def _resolve_prune(self, arg) -> bool:
        """Reference resolve_defaults precedence for prune-previous
        (_store.py:145-175, nonreg test_prune_previous_general): an
        explicit True/False wins; else the PRUNE_PREVIOUS_VERSION env var;
        else the library's prune_previous_version option."""
        if arg is not None:
            return bool(arg)
        env = os.environ.get("PRUNE_PREVIOUS_VERSION")
        if env is not None:
            return env.strip().lower() in ("1", "true", "yes")
        return self.prune_previous_version

    def _resolve_output_format(self, output_format):
        if output_format is None:
            return self._default_output_format
        key = str(getattr(output_format, "value", output_format)).lower()
        return self._OUTPUT_FORMATS.get(key, output_format)

    def library_tool(self):
        """Key-level debugging toolbox (reference ``library.py:852``
        Library.library_tool / toolbox LibraryTool): list the physical
        keys behind a symbol, read any of them raw, inspect a version's
        file layout."""
        from arcticdb_spark.toolbox import LibraryTool
        return LibraryTool(self)

    # ---- dictionary-coded columns (reference string_pool.hpp analogue) ----
    def _dicts_dir(self, symbol: str, col: str) -> str:
        return os.path.join(self._data_sym_dir(symbol), "_dicts", col)

    def _dict_lookup(self, symbol: str, col: str):
        """(code long, value string) DataFrame for a dictionary-coded
        column, or None if the column was never encoded for this symbol.
        Codes are CONTENT hashes (xxhash64 of the value), so the lookup is
        append-only and version-independent: any superset decodes any
        version exactly. Cached per (symbol, col) and persisted — the
        sidecar is re-read only when a write added a delta file (the
        file-listing signature changes), so repeated decodes on a hot
        library skip the parquet scan + dedup entirely."""
        d = self._dicts_dir(symbol, col)
        if not os.path.isdir(d):
            return None
        sig = tuple(sorted(fn for fn in os.listdir(d)
                           if fn.endswith(".parquet")))
        cached = self._dict_cache.get((symbol, col))
        if cached is not None and cached[0] == sig:
            return cached[1]
        if cached is not None:
            try:
                cached[1].unpersist()
            except Exception:
                pass
        rows = sum(pq.ParquetFile(os.path.join(d, fn)).metadata.num_rows
                   for fn in sig)
        if rows <= _DICT_LOCAL_RELATION_ROWS_MAX:
            # small sidecar (the declared-categorical contract): build the
            # lookup from the driver-cached map as a local relation — the
            # decode broadcast join then needs no parquet scan job at all.
            # Row-capped: a LocalRelation's data is embedded in every plan
            # that uses it, so large dictionaries must stay scan-backed
            # (measured: the 100k-entry ASV dict re-shipped per query cost
            # more than the scan it saved)
            mp = self._dict_map(symbol, col) or {}
            import pandas as pd
            lk = self.spark.createDataFrame(
                pd.DataFrame({"code": list(mp.keys()),
                              "value": list(mp.values())}),
                "code long, value string")
        else:
            lk = (self.spark.read.parquet(d)
                  .dropDuplicates(["code"]).persist())
        self._dict_cache[(symbol, col)] = (sig, lk)
        return lk

    def _dict_sidecar_over_cap(self, symbol: str, col: str) -> bool:
        """True when building the driver-side {code: value} map would read
        more than ``_DRIVER_READ_BYTES_MAX`` sidecar bytes (ADVICE
        r13: the encode's batch row cap does not bound the STORED domain —
        a domain written by the distributed path can be multi-GB, and a
        later small write must not slurp it onto the driver). A map
        already cached under the current file signature costs nothing to
        consult and never trips the gate."""
        d = self._dicts_dir(symbol, col)
        if not os.path.isdir(d):
            return False
        sig = tuple(sorted(fn for fn in os.listdir(d)
                           if fn.endswith(".parquet")))
        cached = self._dict_map_cache.get((symbol, col))
        if cached is not None and cached[0] == sig:
            return False
        total = sum(os.path.getsize(os.path.join(d, fn)) for fn in sig)
        return total > _DRIVER_READ_BYTES_MAX

    def _dict_map(self, symbol: str, col: str):
        """Driver-side {code: value} map of a column's sidecar (pyarrow
        read, no Spark job), cached under the same file-listing signature
        as ``_dict_lookup``; None when no sidecar exists. Duplicate codes
        across delta files are collapsed (values are equal by the clash
        invariant the encode enforces)."""
        d = self._dicts_dir(symbol, col)
        if not os.path.isdir(d):
            return None
        sig = tuple(sorted(fn for fn in os.listdir(d)
                           if fn.endswith(".parquet")))
        cached = self._dict_map_cache.get((symbol, col))
        if cached is not None and cached[0] == sig:
            return cached[1]
        mp: dict = {}
        for fn in sig:
            t = pq.read_table(os.path.join(d, fn), columns=["code", "value"])
            for cd, v in zip(t.column("code").to_pylist(),
                             t.column("value").to_pylist()):
                mp.setdefault(cd, v)
        self._dict_map_cache[(symbol, col)] = (sig, mp)
        return mp

    def _encode_dict_columns(self, symbol: str, sdf):
        """Replace each declared dictionary column (string-typed, present)
        with its int64 content-hash code and append the new (code, value)
        pairs to the sidecar. EXACTNESS CONTRACT: before anything is
        stored, new codes are checked for collisions within the batch AND
        against every previously stored value — a collision (probability
        ~n²/2^65) raises instead of silently mis-grouping, which is why
        this is exact where the rejected read-side xxhash64 grouping probe
        (r12) was not. NULL values stay NULL (F.when guard: Spark's
        xxhash64 of NULL returns the seed, not NULL).

        At 100 TB the sidecar write is, for every declared column
        together, ONE Spark job (a tagged union of per-column distincts,
        collected through a row-capped Arrow transfer) followed by
        driver-side collision checks and a pyarrow delta write — the
        dictionary domain is small by contract, so the collect is gated at
        ``_DICT_COLLECT_ROWS_MAX`` with the original per-column
        distributed encode (distinct + anti-join, one sidecar write job
        per column) as the above-cap fallback. Data files then carry
        fixed-width longs, and a downstream groupby hashes 8-byte keys
        instead of UTF8 strings."""
        cols = [c for c in self.dictionary_columns
                if c in sdf.columns
                and isinstance(sdf.schema[c].dataType, T.StringType)]
        if not cols:
            return sdf
        sdf = _spark(sdf)
        u = None
        for c in cols:
            part = (sdf.select(F.lit(c).alias("col"),
                               F.col(c).alias("value"))
                    .where(F.col("value").isNotNull()).distinct())
            u = part if u is None else u.unionByName(part)
        cap = _DICT_COLLECT_ROWS_MAX
        try:
            tbl = (u.withColumn("code", F.xxhash64(F.col("value")))
                   .limit(cap + 1).toArrow())
        except Exception as e:
            # ADVICE r13: the row cap does not bound BYTES — long values
            # can blow spark.driver.maxResultSize before the cap trips.
            # Degrade to the never-collecting distributed encode instead
            # of failing the write (a genuine schema bug resurfaces there).
            import warnings
            warnings.warn(f"dictionary encode collect failed "
                          f"({type(e).__name__}); taking the distributed "
                          "encode path")
            for c in cols:
                sdf = self._encode_dict_column_distributed(symbol, sdf, c)
            return sdf
        if tbl.num_rows > cap:
            for c in cols:
                sdf = self._encode_dict_column_distributed(symbol, sdf, c)
            return sdf
        per: dict[str, list] = {c: [] for c in cols}
        for ct, v, cd in zip(tbl.column("col").to_pylist(),
                             tbl.column("value").to_pylist(),
                             tbl.column("code").to_pylist()):
            per[ct].append((cd, v))
        for c in cols:
            pairs = per[c]
            if len({cd for cd, _ in pairs}) != len(pairs):
                raise ArcticException(
                    f"dictionary column {c!r}: xxhash64 collision among "
                    f"{len(pairs)} incoming values — remove the column from "
                    "dictionary_columns for this library")
            if self._dict_sidecar_over_cap(symbol, c):
                # stored domain too big to clash-check driver-side: the
                # distributed encode joins against the sidecar instead
                sdf = self._encode_dict_column_distributed(symbol, sdf, c)
                continue
            existing = self._dict_map(symbol, c)
            clash = 0
            if existing is not None:
                clash = sum(1 for cd, v in pairs
                            if cd in existing and existing[cd] != v)
            if clash:
                raise ArcticException(
                    f"dictionary column {c!r}: xxhash64 collision with "
                    f"{clash} previously stored value(s) — remove the "
                    "column from dictionary_columns for this library")
            delta = (pairs if existing is None
                     else [(cd, v) for cd, v in pairs if cd not in existing])
            d = self._dicts_dir(symbol, c)
            if delta or existing is None:
                os.makedirs(d, exist_ok=True)
                t = pa.table({"code": pa.array([cd for cd, _ in delta],
                                               pa.int64()),
                              "value": pa.array([v for _, v in delta],
                                                pa.string())})
                pq.write_table(t, os.path.join(
                    d, f"part-{uuid.uuid4().hex}.parquet"))
                merged = dict(existing or {})
                merged.update(delta)
                sig = tuple(sorted(fn for fn in os.listdir(d)
                                   if fn.endswith(".parquet")))
                self._dict_map_cache[(symbol, c)] = (sig, merged)
            sdf = sdf.withColumn(
                c, F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c))))
        return sdf

    def _encode_dict_column_distributed(self, symbol: str, sdf: DataFrame,
                                        c: str) -> DataFrame:
        """Above-cap encode for one column: the original distributed
        distinct + collision aggregate + anti-join + Spark sidecar write —
        never collects the domain."""
        code = F.xxhash64(F.col("value"))
        new = (sdf.select(F.col(c).alias("value"))
               .where(F.col("value").isNotNull()).distinct()
               .withColumn("code", code))
        agg = new.agg(F.count(F.lit(1)).alias("n"),
                      F.countDistinct("code").alias("h")).first()
        if agg["n"] != agg["h"]:
            raise ArcticException(
                f"dictionary column {c!r}: xxhash64 collision among "
                f"{agg['n']} incoming values — remove the column from "
                "dictionary_columns for this library")
        existing = self._dict_lookup(symbol, c)
        if existing is not None:
            clash = (new.join(existing.withColumnRenamed(
                        "value", "__stored"), "code")
                     .where(F.col("value") != F.col("__stored")).count())
            if clash:
                raise ArcticException(
                    f"dictionary column {c!r}: xxhash64 collision with "
                    f"{clash} previously stored value(s) — remove the "
                    "column from dictionary_columns for this library")
            new = new.join(existing.select("code"), "code", "left_anti")
        (new.select("code", "value").coalesce(1)
         .write.mode("append").parquet(self._dicts_dir(symbol, c)))
        return sdf.withColumn(
            c, F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c))))

    def _decode_dict_columns(self, symbol: str, df: DataFrame,
                             cols=None) -> DataFrame:
        """Restore declared dictionary columns to strings via a broadcast
        join with the sidecar (a NULL code stays NULL through the left
        join). Safe to call on any frame: only LONG columns with an
        existing sidecar are touched, so a symbol written before the
        library declared dictionaries passes through unchanged."""
        for c in (cols if cols is not None else self.dictionary_columns):
            if c not in df.columns or not isinstance(
                    df.schema[c].dataType, T.LongType):
                continue
            d = self._dicts_dir(symbol, c)
            if os.path.isdir(d):
                sig_files = [os.path.join(d, fn) for fn in os.listdir(d)
                             if fn.endswith(".parquet")]
                if (sig_files and sum(map(os.path.getsize, sig_files))
                        <= _DRIVER_READ_BYTES_MAX):
                    mp = self._dict_map(symbol, c) or {}
                    if len(mp) <= _DICT_LITERAL_MAP_ROWS_MAX:
                        # tiny dictionary: a literal-map projection decodes
                        # in pure codegen — no broadcast build, no join
                        # (element_at yields NULL for NULL/unknown codes,
                        # matching the left join)
                        items = []
                        for cd, v in mp.items():
                            items += [F.lit(cd).cast("long"), F.lit(v)]
                        if items:
                            df = df.withColumn(
                                c, F.element_at(F.create_map(*items),
                                                F.col(c)))
                        else:
                            df = df.withColumn(
                                c, F.lit(None).cast("string"))
                        continue
            lk = self._dict_lookup(symbol, c)
            if lk is None:
                continue
            lk = F.broadcast(lk.select(F.col("code").alias(f"__dc_{c}"),
                                       F.col("value").alias(f"__dv_{c}")))
            df = (df.join(lk, F.col(c) == F.col(f"__dc_{c}"), "left")
                    .withColumn(c, F.col(f"__dv_{c}"))
                    .drop(f"__dc_{c}", f"__dv_{c}"))
        return df

    def _dict_cols_stored(self, df: DataFrame) -> list:
        """Declared dictionary columns present in ``df`` as stored codes."""
        return [c for c in self.dictionary_columns
                if c in df.columns
                and isinstance(df.schema[c].dataType, T.LongType)]

    # ---- paths (metadata via self._fs; data via local/Spark paths) ----
    def _sym_dir(self, symbol):
        return self._fs.join(self.root, symbol)

    def _data_sym_dir(self, symbol):
        return os.path.join(self.data_root, symbol)

    def _ver_path(self, symbol, v):
        return self._fs.join(self._sym_dir(symbol), "_versions", f"v{v:08d}.json")

    def _ref_path(self, symbol):
        # legacy fv1..5 single-object ref (migrated into the chain on read)
        return self._fs.join(self._sym_dir(symbol), "_ref.json")

    def _ref_dir(self, symbol):
        return self._fs.join(self._sym_dir(symbol), "_ref")

    def _ref_gen_path(self, symbol, gen: int):
        return self._fs.join(self._ref_dir(symbol), f"g{gen:012d}.json")

    # ---- manifest IO ----
    # The ref is a CAS CHAIN (fv6): generation files g{N}.json written with
    # write_json_if_absent; the live ref is the highest generation. The
    # fv<=5 single _ref.json was swapped with a blind read-modify-write —
    # racing _commit/prune/delete_version could overwrite each other's
    # swap and LOSE a committed latest (found by test_cas_stress.py: 48
    # commits, latest pointed below max). This is the reference's
    # VERSION_REF compare-and-swap made explicit (version_map.hpp).

    def _load_ref_gen(self, symbol) -> tuple:
        """(generation, ref dict) of the chain head; migrates a legacy
        single-object ref into generation 0 on first read."""
        d = self._ref_dir(symbol)
        for _ in range(64):
            gens = []
            if self._fs.isdir(d):
                gens = sorted(
                    int(fn[1:-5]) for fn in self._fs.listdir(d)
                    if fn.startswith("g") and fn.endswith(".json"))
            if gens:
                try:
                    return gens[-1], self._fs.read_json(
                        self._ref_gen_path(symbol, gens[-1]))
                except FileNotFoundError:
                    continue   # lost a race with generation GC; re-list
            try:
                legacy = self._fs.read_json(self._ref_path(symbol))
            except FileNotFoundError:
                raise NoSuchVersionException(
                    f"symbol {symbol!r} does not exist")
            # migrate (idempotent: losers re-read through the chain)
            self._fs.makedirs(d)
            self._fs.write_json_if_absent(
                self._ref_gen_path(symbol, 0), legacy)
            self._fs.remove(self._ref_path(symbol))
        raise ArcticException(
            f"ref chain for {symbol!r} would not settle; retry")

    def _load_ref(self, symbol) -> dict:
        return self._load_ref_gen(symbol)[1]

    def _ref_exists(self, symbol) -> bool:
        try:
            self._load_ref(symbol)
            return True
        except NoSuchVersionException:
            return False
        except ArcticException:
            # "ref chain would not settle" after 64 lost races with
            # generation GC — the chain only churns when writers are
            # actively committing, so the symbol certainly exists; a
            # boolean existence probe must not propagate the contention
            # error (ADVICE r12: has_symbol raised under heavy load)
            return True

    def _update_ref(self, symbol, mutate) -> dict:
        """Atomically update the ref: ``mutate(cur_or_None) -> new dict``
        (return None for a no-op). Retries on CAS loss with the fresh
        head, so every ref transition composes with every other — no
        read-modify-write window anywhere."""
        for _ in range(10_000):
            try:
                gen, cur = self._load_ref_gen(symbol)
            except NoSuchVersionException:
                gen, cur = -1, None
            new = mutate(cur)
            if new is None:
                return cur
            self._fs.makedirs(self._ref_dir(symbol))
            if self._fs.write_json_if_absent(
                    self._ref_gen_path(symbol, gen + 1), new):
                # GC old generations; keep a couple so a reader that
                # already listed an older head can still fetch it (it
                # retries through the chain if not). Steady state leaves
                # <=3 keys with ONE delete per update; a periodic listdir
                # sweep collects crash-gap stragglers without paying a
                # LIST per commit on object stores
                if gen >= 2:
                    self._fs.remove(self._ref_gen_path(symbol, gen - 2))
                if gen > 0 and (gen + 1) % 64 == 0:
                    d = self._ref_dir(symbol)
                    for fn in self._fs.listdir(d):
                        if (fn.startswith("g") and fn.endswith(".json")
                                and int(fn[1:-5]) < gen - 1):
                            self._fs.remove(self._fs.join(d, fn))
                return new
        raise ArcticException(
            f"ref chain for {symbol!r} is too contended; retry")

    def _remove_ref(self, symbol) -> None:
        if self._fs.isdir(self._ref_dir(symbol)):
            self._fs.rmtree(self._ref_dir(symbol))
        self._fs.remove(self._ref_path(symbol))   # legacy form, idempotent

    def _load_manifest(self, symbol, version) -> VersionManifest:
        try:
            d = self._fs.read_json(self._ver_path(symbol, version))
        except FileNotFoundError:
            raise NoSuchVersionException(f"{symbol!r} version {version} not found")
        if d.get("tombstone"):
            # GC'd version: the key is kept (number reserved forever, see
            # _tombstone_manifest) but the version is gone for readers
            raise NoSuchVersionException(f"{symbol!r} version {version} not found")
        return VersionManifest.from_json(d)

    def _manifest_exists(self, symbol, version) -> bool:
        """True only for a LIVE (non-tombstoned) manifest. Reads the JSON
        and tests its tombstone flag; no ``FileEntry`` is built."""
        try:
            d = self._fs.read_json(self._ver_path(symbol, version))
        except FileNotFoundError:
            return False
        return not d.get("tombstone")

    def _tombstone_manifest(self, symbol, version) -> None:
        """GC a version's manifest by REPLACING it with a tombstone stub
        instead of deleting the key. Deleting would let a stale in-flight
        writer's O_EXCL commit RESURRECT the version number (found by
        test_cas_stress.py: prune removed v{N}.json between a slow writer's
        _next_version and its CAS, and two different manifests both
        'won' version N). The reference keeps tombstone keys in the version
        chain for the same reason (version_map.hpp tombstones;
        test_tombstone_all). A tombstone is footer-sized — O(#pruned
        versions) tiny JSONs, the same cardinality the reference carries."""
        self._fs.write_json_atomic(
            self._ver_path(symbol, version),
            {"symbol": symbol, "version": version, "tombstone": True,
             "fv": FORMAT_VERSION})

    def _commit(self, manifest: VersionManifest) -> VersionManifest:
        """Commit = write v{N}.json then swap _ref.json. The version file
        write is the CAS: creating v{N} with O_EXCL fails if a concurrent
        writer claimed the same version number (the reference's VERSION_REF
        compare-and-swap; on S3 this is a conditional PUT If-None-Match)."""
        sym_dir = self._sym_dir(manifest.symbol)
        self._fs.makedirs(self._fs.join(sym_dir, "_versions"))
        # stamp the writing version on fresh files; carried-over entries
        # (append/update/compact reuse) already hold their original writer
        for fe in manifest.files:
            if fe.version_id is None:
                fe.version_id = manifest.version
        vpath = self._ver_path(manifest.symbol, manifest.version)
        if not self._fs.write_json_if_absent(vpath, manifest.to_json()):
            raise ArcticException(
                f"concurrent write to {manifest.symbol!r}: version "
                f"{manifest.version} was committed by another writer")
        # carried-over entries (append/update/compact/restore reuse files
        # from an earlier version) can race a concurrent prune: if the
        # donor version stopped being latest while we were building this
        # manifest, a prune that scanned the chain BEFORE our CAS may have
        # GC'd those files (prunes that scan AFTER our CAS keep us — see
        # keep_versions in prune_previous_versions). Validate before the
        # ref swap makes us visible; on loss, consume our number and
        # surface the standard retry signal (found by test_cas_stress.py).
        #
        # A bare file-exists probe is check-then-act (ADVICE r12): a prune
        # whose keep-scan predates our CAS may remove the files AFTER the
        # probe passes. Closed by a cross-ordering handshake with prune:
        #   commit:  v{N} O_EXCL CAS  ->  donor manifests still LIVE?
        #   prune:   tombstone ALL victims -> re-list live manifests
        #            (extends keep_files)   -> remove files
        # Either the donor's tombstone precedes our liveness check (we
        # abort + retry, files untouched by us), or our CAS preceded the
        # re-list (prune loads our manifest and keeps every carried file).
        # There is no interleaving where both miss each other.
        carried = [fe for fe in manifest.files
                   if fe.version_id is not None
                   and fe.version_id != manifest.version]
        carried_lost: list[str] = []
        if (carried and manifest.base_version is not None
                and not self._manifest_exists(manifest.symbol,
                                              manifest.base_version)):
            # the manifest we carried from was tombstoned while we were
            # building — a prune may already hold our files on its victim
            # list (NOT per-file version_id: the original writer may be
            # legitimately tombstoned while its files live on, shared
            # forward through every intermediate manifest)
            carried_lost.append(f"base v{manifest.base_version}")
        carried_lost += [fe.path for fe in carried
                         if not os.path.exists(fe.path)]
        if carried_lost:
            for fe in manifest.files:
                if fe.version_id == manifest.version:
                    _remove_data_file(fe.path)   # our own fresh chunks
            self._tombstone_manifest(manifest.symbol, manifest.version)
            raise ArcticException(
                f"concurrent write to {manifest.symbol!r}: version "
                f"{manifest.version} carried files that a concurrent prune "
                f"garbage-collected ({len(carried_lost)} missing); retry")
        if not self._ref_exists(manifest.symbol):
            # no ref: first-ever write, or the symbol was FULLY deleted.
            # A full delete rmtrees _versions/ (tombstone stubs included),
            # so a stale in-flight writer's O_EXCL could resurrect a
            # consumed number here — the _chain.json high-water mark the
            # delete left behind is the authority (cf. _next_version);
            # roll our own key back and surface the loss as the usual
            # concurrent-write retry signal (test_cas_stress.py)
            try:
                chain = self._fs.read_json(
                    self._fs.join(sym_dir, "_chain.json"))
                if manifest.version <= int(chain.get("last", -1)):
                    self._fs.remove(vpath)
                    raise ArcticException(
                        f"concurrent write to {manifest.symbol!r}: version "
                        f"{manifest.version} was consumed by a deleted "
                        "chain (high-water mark "
                        f"{chain.get('last')})")
            except FileNotFoundError:
                pass
        self._update_ref(
            manifest.symbol,
            lambda cur: {"latest": max(manifest.version,
                                       (cur or {}).get("latest", -1)),
                         "deleted": (cur or {}).get("deleted", [])})
        return manifest

    def _write_chain_marker(self, symbol: str, last: int) -> None:
        """Persist the version high-water mark across a full symbol delete
        (the reference's tombstone-all key keeps the version chain:
        test_list_versions.py test_tombstone_all — writes after delete
        continue numbering). Written into the symbol dir, which a delete
        leaves in place for exactly this marker (plus surviving pins /
        staged data)."""
        if last < 0 or symbol.startswith("_rec__"):
            # recursive-normalizer leaves are internal, exclusively owned
            # by their parent and fully recreated on each parent write —
            # no chain to preserve (and the leaf dir should vanish)
            return
        self._fs.makedirs(self._sym_dir(symbol))
        self._fs.write_json_atomic(
            self._fs.join(self._sym_dir(symbol), "_chain.json"),
            {"last": int(last)})

    def _next_version(self, symbol) -> int:
        """Version numbers strictly increase and are NEVER reused — after
        delete_version(latest) the ref's latest pointer rolls back, but the
        tombstoned manifest stays on disk, so the next number must clear
        both the ref and every existing/deleted manifest (reference
        test_version_chain.py: version chain is monotonic across
        update/append/restore after a delete; test_tombstone_all: the
        chain survives even a FULL delete via the _chain.json marker)."""
        try:
            ref = self._load_ref(symbol)
        except NoSuchVersionException:
            # deleted symbol: snapshot-pinned manifests may survive and
            # their numbers must not be reused; the _chain.json marker
            # covers the fully-purged case
            existing = self._list_version_numbers(symbol)
            last = existing[-1] if existing else -1
            try:
                chain = self._fs.read_json(
                    self._fs.join(self._sym_dir(symbol), "_chain.json"))
                last = max(last, int(chain.get("last", -1)))
            except FileNotFoundError:
                pass
            return last + 1
        tops = [ref.get("latest", -1)] + list(ref.get("deleted", []))
        existing = self._list_version_numbers(symbol)
        if existing:
            tops.append(existing[-1])
        return max(tops) + 1

    # ---- write paths ----
    def _write_data_files(self, symbol: str, df,
                          index_column: str | None, sort: bool = True,
                          rows_hint: int | None = None,
                          exact_slices: bool = True
                          ) -> list[FileEntry]:
        """Materialize df as Parquet under data/<uuid>/, ts-sorted, and return
        footer-derived FileEntries in index order.

        ``rows_hint`` (known for free on pandas inputs) enforces the
        reference's segment_row_size contract: no slice exceeds
        ``rows_per_file`` rows (``ceil(rows/target)`` range partitions).
        Without a hint Spark's partitioning stands — a Spark-frame write
        is already sized by the cluster's partitioning.

        ``df`` is a Spark frame or a ``Normalized`` record from
        ``_normalize``, written by ``_arrow_write_data_files`` if it can."""
        out_dir = os.path.join(self._data_sym_dir(symbol), "data", uuid.uuid4().hex)
        os.makedirs(os.path.dirname(out_dir), exist_ok=True)
        # pyarrow fast path: a pandas-sourced frame whose layout is exactly
        # reproducible driver-side skips the Spark job entirely (guide §5 —
        # a driver-resident frame gains nothing from a cluster round-trip);
        # every ineligible case returns a reason and takes the Spark writer
        if rows_hint is not None and isinstance(df, aw.Normalized):
            entries = self._arrow_write_data_files(
                df, out_dir, index_column, sort, rows_hint, exact_slices)
            if not isinstance(entries, str):
                return entries
        df = _spark(df)
        if not df.columns:
            # every column was EMPTY/void (reference supports writing an
            # all-None frame, test_empty_column_type.py): parquet cannot
            # store a zero-column schema, so a 1-byte fill column carries
            # the row count; reads drop it (the per-file schema epoch
            # differs from the manifest schema, so _scan_files projects it
            # away and the void columns NULL-backfill as usual)
            df = df.select(F.lit(0).cast("tinyint").alias("__void_fill__"))
        sliced_write = False
        keys = [index_column] if index_column and sort else []
        exact = (rows_hint is not None and exact_slices
                 and rows_hint > self.rows_per_file)
        if keys or exact:
            # STABLE order: equal index values keep INPUT row order (the
            # reference never reorders within a timestamp — its write
            # pipeline slices the frame as-is; test_append_compact_data.py
            # test_multiindex pins original-order roundtrips). The id is
            # computed BEFORE any exchange, so it reflects the incoming
            # partition-major row order; an order-preserving write orders
            # by the id alone.
            df = df.withColumn("__ipos__", F.monotonically_increasing_id())
        if exact:
            # EXACT segment_row_size slicing (reference contract: the
            # leading slices hold exactly rows_per_file rows — the defrag
            # and write-dedup utilities key off it). The global row_number
            # is fine here: exact_slices is only passed for driver-bounded
            # pandas inputs; cluster-scale Spark-frame writes take the
            # quantile path below. Determinism: hash-repartition on the
            # precomputed __slice__ puts every row of a slice in exactly
            # one task (a collision only costs parallelism), and
            # write.partitionBy routes rows to their slice directory
            # regardless of partitioning — so one file per slice is
            # CONTRACTUAL, and the slice directories give the file order.
            from pyspark.sql import Window
            order = [*keys, "__ipos__"]
            n_parts = -(-rows_hint // self.rows_per_file)
            w = Window.orderBy(*[F.col(c) for c in order])
            (df.withColumn(
                   "__slice__",
                   F.floor((F.row_number().over(w) - F.lit(1))
                           / F.lit(self.rows_per_file)))
               .repartition(n_parts, F.col("__slice__"))
               .sortWithinPartitions("__slice__", *order)
               .drop("__ipos__")
               .write.mode("overwrite").partitionBy("__slice__")
               .parquet(out_dir))
            df = df.drop("__ipos__")
            sliced_write = True
        elif keys:
            # approximate (quantile) slicing sized to the target — the
            # scale path (staged finalize of arbitrarily large chunk
            # sets). n_parts=1 for sub-segment inputs: a chunk smaller
            # than rows_per_file is ONE segment (reference
            # segment_row_size contract) — without the explicit count,
            # repartitionByRange inherits shuffle.partitions and a
            # 125-row append fragments into 32 four-row files, a 32x
            # tiny-file/footer amplification at scale. With no hint
            # (cluster-scale Spark-frame input) the cluster's own
            # partitioning stands.
            part = ([max(1, -(-rows_hint // self.rows_per_file))]
                    if rows_hint is not None else [])
            df = (df.repartitionByRange(*part, F.col(index_column))
                    .sortWithinPartitions(*keys, "__ipos__")
                    .drop("__ipos__"))
        elif rows_hint is not None:
            # order-preserving writes keep input row order, so no shuffle
            # — but still size segments: coalesce (order-preserving,
            # reduce-only) to the rows_per_file target, else
            # createDataFrame's default parallelism fragments a 125-row
            # chunk into 32 four-row files (tiny-file/footer amplification
            # measured by tools/scale_probe prune section)
            df = df.coalesce(max(1, -(-rows_hint // self.rows_per_file)))
        if sliced_write:
            files = _slice_files(out_dir)
        else:
            df.write.mode("overwrite").parquet(out_dir)
            files = [os.path.join(out_dir, fn)
                     for fn in sorted(os.listdir(out_dir))
                     if fn.endswith(".parquet")]
        entries = _file_entries(files, index_column, df.schema.json())
        if index_column and sort and not sliced_write:
            # (sliced writes are already in slice order, which IS the
            # global row_number order — a ts_min re-sort could misorder
            # equal timestamps straddling a slice boundary, since the path
            # tie-break compares "__slice__=10" < "__slice__=2" lexically)
            # ts-sorted write: ranges are disjoint (repartitionByRange), so
            # ts_min order reconstructs the global ascending sequence.
            # Unsliced order-preserving writes (sort=False) keep
            # file-listing order — part files are written partition-major
            # from an in-order frame, so listing order IS input row order,
            # which the reference preserves for non-ascending data
            # (test_append.py mix-order cases; sortedness state machine).
            entries.sort(key=lambda e: (e.ts_min if e.ts_min is not None else 0, e.path))
        return _renumber(entries)

    def _arrow_write_data_files(self, n: aw.Normalized, out_dir: str,
                                index_column: str | None, sort: bool,
                                rows_hint: int, exact_slices: bool
                                ) -> "list[FileEntry] | str":
        """pyarrow write fast path for a pandas-sourced record (see
        arrowwrite.py for the physical contract). Returns why it declines
        whenever the Spark writer's layout is not exactly reproducible
        driver-side — the caller then takes the normal Spark path."""
        tbl = n.table
        if tbl is None:
            return n.why
        if rows_hint > self.rows_per_file and not exact_slices:
            # repartitionByRange samples its boundaries; coalesce places
            # them by partition
            return "a sampled multi-file layout"
        if index_column and sort:
            if index_column not in tbl.column_names:
                return "the index column is not stored"
            col = tbl.column(index_column)
            if col.type != pa.int64() or col.null_count:
                return "the index column is not a null-free int64"
            import numpy as np
            if (np.diff(col.to_numpy()) < 0).any():
                # the stable index sort would actually reorder rows; only
                # the identity case (already-monotonic input, which is what
                # validate_index admits) is replicated driver-side
                return "the index sort would reorder rows"
        slice_rows = min(self.rows_per_file, rows_hint)
        schema_json = n.schema.json()
        return _renumber(_file_entries(
            aw.write_slices(tbl, out_dir, slice_rows, schema_json),
            index_column, schema_json))

    @staticmethod
    def _resolve_index_column_arg(df, index_column):
        """Reference Arrow contract (library.py:1020 ``index_column: bool``,
        test_arrow_writes.py): True means "the FIRST column is the
        timeseries index". This engine also accepts a column name; False/
        None mean no designated index."""
        if index_column is True:
            names = getattr(df, "column_names", None) or list(df.columns)
            return names[0]
        if index_column is False:
            return None
        return index_column

    def _normalize(self, df, index_column: str | None = None
                   ) -> aw.Normalized:
        """Any write input -> an ``arrowwrite.Normalized`` record. A
        non-empty pandas frame whose columns ``arrowwrite.pandas_table``
        converts gets its Spark schema in Python, with no py4j call, and
        its Spark frame only if ``frame()`` is called. Other input builds
        its Spark frame here, and the record says why in ``why``.

        Index demotion follows the reference (_normalization.py:923-959):
        a DatetimeIndex becomes the physical ts column; MultiIndex level 0
        becomes the ts column and levels >= 1 become ordinary columns named
        ``__idx__<name>`` / ``__fkidx__<n>`` (:931-950); an unnamed
        RangeIndex is positional and dropped. ``index_column`` applies to
        ARROW input only (names the exact-ns index column; for pandas the
        frame's own index wins, matching the reference —
        test_arrow_pandas_interop.py test_write_pandas_df_with_specified_
        index_column: "index_column value should be ignored when writing
        as pandas")."""
        if isinstance(df, DataFrame):
            return aw.Normalized.of(df, None, "Spark input")
        import numpy as np
        import pandas as pd
        from arcticdb_spark.timeframe import TimeFrame
        if isinstance(df, TimeFrame):
            # reference TimeFrameNormalizer (_normalization.py:1478-1520):
            # normalize through the DatetimeIndex path, tag the meta so
            # pandas-style output denormalizes back to a TimeFrame
            pdf = pd.DataFrame(
                dict(zip(df.columns_names, df.columns_values)),
                index=pd.DatetimeIndex(df.times))
            return self._normalize(pdf).with_meta(timeframe=True)
        try:
            import pyarrow as pa
        except ImportError:  # pragma: no cover
            pa = None
        if pa is not None and isinstance(df, (pa.Table, pa.RecordBatch)):
            # Arrow input (reference test_arrow_writes.py / sparse tests):
            # convert DIRECTLY (Spark 4 createDataFrame takes an Arrow
            # table) — the pandas hop degraded nullable int64/bool to
            # float64/object. The index column (named by
            # ``write(index_column=...)``, else the first timestamp field)
            # is cast to exact int64 ns; int64-min values inside ns
            # timestamps are NaT sentinels -> null (reference
            # test_arrow_read.py NaT-sentinel case).
            orig = (pa.Table.from_batches([df])
                    if isinstance(df, pa.RecordBatch) else df)
            try:
                tbl, ameta = self._normalize_arrow_ns(orig, index_column)
                return aw.Normalized.of(self.spark.createDataFrame(tbl),
                                        ameta, "Arrow input")
            except Exception:
                # exotic arrow types (dictionary etc.): pandas fallback
                return self._normalize(orig.to_pandas())
        if isinstance(df, pd.Series):
            # reference SeriesNormalizer (_normalization.py:982-1022):
            # normalize as a one-column frame, record the original name so
            # denormalization restores a Series (unnamed stays unnamed)
            name = df.name
            col = str(name) if name is not None else "__series__"
            return self._normalize(df.rename(col).to_frame()).with_meta(
                series={"name": None if name is None else str(name),
                        "col": col})
        if isinstance(df, np.ndarray):
            # reference NdArrayNormalizer (_normalization.py:1025-1051):
            # any-dimensional array flattens row-major into one column; the
            # shape lives in norm_meta. An explicit __pos__ column keeps the
            # flat order reconstructible from an unordered multi-file scan.
            flat = df.reshape(-1)
            pdf = pd.DataFrame({"__pos__": np.arange(flat.size, dtype=np.int64),
                                "ndarray": flat})
            if flat.size == 0:
                sdf = self.spark.createDataFrame(
                    pdf, schema=_schema_from_pandas_dtypes(pdf))
            else:
                sdf = self.spark.createDataFrame(pdf)
            return aw.Normalized.of(sdf, {"index_type": "ndarray",
                                          "shape": [int(s) for s in df.shape],
                                          "dtype": str(df.dtype)},
                                    "ndarray input")
        if isinstance(df, pd.DataFrame):
            pdf = df
            # pandas Categorical columns (reference _to_primitive,
            # _normalization.py:230-236 + restore at :1203-1217): the
            # reference stores codes + a categories list in norm meta and
            # rebuilds the CategoricalDtype on read. Spark-first variant:
            # store the decoded VALUES physically (parquet dictionary
            # encoding gives the same storage win and filters/queries see
            # real values), record the ordered category list in norm_meta,
            # and re-categorize on pandas output — round-trips dtype,
            # category order and unobserved categories exactly.
            # detect via dtypes.items(), not pdf[c]: a bool column NAME
            # (pdf[True]) trips pandas' indexing ambiguity
            cat_cols = [c for c, dt in pdf.dtypes.items()
                        if isinstance(dt, pd.CategoricalDtype)]
            if cat_cols:
                from pandas.api.types import is_integer_dtype
                pdf = pdf.copy(deep=False)
                cat_meta = {}
                for c in cat_cols:
                    pos = list(pdf.columns).index(c)
                    col = pdf.iloc[:, pos]
                    cats = col.cat.categories
                    if is_integer_dtype(cats.dtype):
                        kind, vals = "int", [int(x) for x in cats]
                    elif len(cats) == 0 or all(isinstance(x, str) for x in cats):
                        kind, vals = "str", [str(x) for x in cats]
                    else:
                        raise ArcticDbNotYetImplemented(
                            f"categorical column {c!r}: only string and "
                            f"integer categories are supported "
                            f"(got {cats.dtype})")
                    if kind == "int":
                        # nullable ints have no exact physical int type:
                        # degrade to float64 only when NaN present
                        dec = col.astype(
                            "float64" if col.isna().any() else "int64")
                    else:
                        dec = col.astype(object)
                    pdf.isetitem(pos, dec)
                    cat_meta[str(c)] = {"kind": kind, "categories": vals}
                return self._normalize(pdf).with_meta(categoricals=cat_meta)
            # column names must be str or int (reference _check_valid_name,
            # _normalization.py:511 — "bools are a subclass of int, so we
            # need to check for them explicitly"; pinned by test_write.py
            # test_write_bool_named_columns which expects the raise). int
            # names stringify for the physical schema with the original
            # kind recorded for pandas-output restore (norm meta is_int).
            if (not isinstance(pdf.index, pd.MultiIndex)
                    and isinstance(pdf.index.name, bool)):
                # a bool-NAMED single index is rejected like a bool column
                # (reference test_write_bool_named_index; bool MULTIINDEX
                # level names instead stringify, handled below)
                raise SchemaException(
                    "Column and index names must be of type str or int, "
                    f"received {pdf.index.name!r} of type "
                    f"{type(pdf.index.name)}")
            renamed = None
            cols = list(pdf.columns)
            # None and "None" are DISTINCT names (reference
            # test_none_in_columns_names) — key on (is-None, str)
            _keys = [(c is None, str(c)) for c in cols]
            has_dupes = len(set(_keys)) != len(_keys)
            if has_dupes and self.dynamic_schema:
                # dynamic schema matches columns BY NAME across appends, so
                # duplicate/None-collapsing names are rejected (reference
                # test_columns_names_dynamic_schema raises); static schema
                # is positional and supports them below
                dupes = sorted({str(c) for c in cols
                                if [str(x) for x in cols].count(str(c)) > 1})
                raise ArcticException(
                    "duplicate column names are unsupported with "
                    f"dynamic_schema: {dupes}")
            if any(not isinstance(c, str) for c in cols) or has_dupes:
                # None / int / duplicate names: store under unique physical
                # names and restore the originals positionally on pandas
                # output (reference static schema supports None AND
                # duplicate column names — test_none_in_columns_names,
                # test_same_columns_names)
                renamed = []
                phys_cols = []
                seen: dict[str, int] = {}
                for c in cols:
                    if isinstance(c, bool) or not (
                            c is None or isinstance(c, (str, int,
                                                        np.integer))):
                        raise SchemaException(
                            "Column and index names must be of type str or "
                            f"int, received {c!r} of type {type(c)}")
                    base = "__none__" if c is None else str(c)
                    n = seen.get(base, 0)
                    seen[base] = n + 1
                    phys = base if n == 0 else f"{base}__dup{n}__"
                    phys_cols.append(phys)
                    kind = ("none" if c is None
                            else "int" if isinstance(c, (int, np.integer))
                            else "str")
                    renamed.append([phys, kind, None if c is None
                                    else str(c)])
                pdf = pdf.copy(deep=False)
                pdf.columns = phys_cols
            # object columns mixing strings with numbers would silently
            # stringify through Arrow fallback — the reference raises a
            # normalization error (test_string.py test_mixed_types_errors)
            from pandas.api.types import infer_dtype
            for c in pdf.columns:
                if pdf[c].dtype == object:
                    vals = pdf[c].dropna()
                    if len(vals) and isinstance(
                            vals.iloc[0], (list, tuple, np.ndarray, dict,
                                           bytes, bytearray)):
                        continue  # ragged arrays / binary payloads are fine
                    k = infer_dtype(pdf[c], skipna=True)
                    if k in ("mixed", "mixed-integer"):
                        raise ArcticException(
                            f"column {c!r} mixes strings with other types "
                            f"(pandas inferred {k!r}); normalize it first")
            if renamed is not None:
                return self._normalize(pdf).with_meta(renamed_cols=renamed)
            meta: dict | None = None
            tzs: dict[str, str] = {}
            if isinstance(pdf.index, pd.MultiIndex):
                # bool level names normalize to strings (reference
                # test_write_bool_named_multi_index: True -> "True");
                # bool COLUMN/single-index names are rejected below
                names = [str(nm) if isinstance(nm, bool) else nm
                         for nm in pdf.index.names]
                taken = {str(c) for c in pdf.columns}
                phys = []
                for i, nm in enumerate(names):
                    if i == 0:
                        cand = nm or "ts"
                    elif nm is not None:
                        cand = f"__idx__{nm}"
                    else:
                        cand = f"__fkidx__{i}"
                    # a level named like a data column (or a duplicate
                    # level name) needs a distinct PHYSICAL name —
                    # reset_index would otherwise collide; outputs restore
                    # the originals from level_names / the arrow naming
                    # contract (reference supports both,
                    # test_arrow_normalization.py:180-213)
                    while cand in taken or cand in phys:
                        cand = f"__idx__{cand}"
                    phys.append(cand)
                pdf = pdf.copy(deep=False)
                pdf.index = pdf.index.set_names(phys)
                pdf = pdf.reset_index()
                meta = {"index_type": "multiindex",
                        "level_names": [nm for nm in names],
                        "physical": phys}
                # level 0 datetime -> exact LONG ns physical (SURVEY §7(d))
                if _demote_ns(pdf, phys[0], tzs):
                    meta["index_ns"] = True
            elif isinstance(pdf.index, pd.DatetimeIndex):
                # reference index demotion (SURVEY §1.2): the DatetimeIndex
                # becomes the physical ts column; pandas output re-promotes
                # it (reference _denormalize restores the index,
                # _normalization.py:450-463). Stored as exact LONG ns —
                # the reference index is int64 ns (types.hpp:73), and a µs
                # TIMESTAMP physical would truncate sub-µs tick data.
                name = pdf.index.name if pdf.index.name is not None else "ts"
                phys = str(name)
                if not phys:
                    # empty-string index NAME is legal and round-trips
                    # (reference test_roundtrip_index_name, name="")
                    phys = "__idx__empty"
                if phys in {str(c) for c in pdf.columns}:
                    # an index NAMED like a data column (reference
                    # test_get_info index_name="col1"): the flat physical
                    # schema needs a distinct name; the original comes
                    # back on pandas output via orig_name
                    phys = f"__idx__{phys}"
                pdf = pdf.rename_axis(phys).reset_index()
                meta = {"index_type": "datetime", "physical": phys,
                        "fake_name": df.index.name is None}
                if phys != str(name) and df.index.name is not None:
                    meta["orig_name"] = str(name)
                if _demote_ns(pdf, phys, tzs):
                    meta["index_ns"] = True
            elif isinstance(pdf.index, pd.RangeIndex):
                # reference RangeIndex normalization
                # (_normalization.py:371-379): start/step are recorded in
                # norm meta, values never materialize; restore rebuilds
                # start + step*i (append continuity validated in append()).
                # The default unnamed 0..n/1 index records nothing — the
                # write-order restore reproduces it for free.
                ri = pdf.index
                if ri.start != 0 or ri.step != 1 or ri.name is not None:
                    meta = {"index_type": "range", "start": int(ri.start),
                            "step": int(ri.step),
                            "name": None if ri.name is None else str(ri.name)}
                pdf = pdf.reset_index(drop=True)
            elif pdf.index.name is not None:
                phys = str(pdf.index.name)
                meta = {"index_type": "named", "physical": phys}
                if phys in {str(c) for c in pdf.columns}:
                    phys = f"__idx__{phys}"
                    meta = {"index_type": "named", "physical": phys,
                            "orig_name": str(pdf.index.name)}
                pdf = pdf.rename_axis(phys).reset_index()
            else:
                # unnamed NON-range index (e.g. pd.DataFrame(...,
                # index=np.arange(n)) makes an int64 Index): the reference
                # physically stores it under the fake name "index"
                # (_normalize_single_index, _normalization.py:393-398 —
                # index_names = ["index"], fake_name) — dropping it would
                # lose the index VALUES. Restore gives an unnamed Index
                # back via the named+fake_name path.
                phys = "index"
                if phys in {str(c) for c in pdf.columns}:
                    phys = "__idx__index"
                meta = {"index_type": "named", "physical": phys,
                        "fake_name": True}
                pdf = pdf.rename_axis(phys).reset_index()
            # tz-aware datetime columns (including demoted index levels):
            # store naive UTC (Spark/parquet timestamps are UTC instants),
            # record the original zone for pandas-output restore (reference
            # index_norm.tz, _normalization.py:399-409, restore :461-462).
            # (tzs may already hold the demoted ns index's zone)
            for c in pdf.columns:
                if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
                    tzs[str(c)] = str(pdf[c].dt.tz)
                    pdf[c] = pdf[c].dt.tz_convert("UTC").dt.tz_localize(None)
            if tzs:
                meta = dict(meta or {})
                meta["tzs"] = tzs
            # uint64: Spark/Arrow-to-Spark have no unsigned 64-bit type.
            # Store the int64 BIT PATTERN (exact, zero-copy numpy view) and
            # record the columns in norm_meta — reads re-attach a schema
            # marker so QueryBuilder comparisons/aggregations use unsigned
            # semantics (expr.py UINT kind, matching the reference's
            # signed_unsigned_comparison.hpp) and pandas/arrow outputs view
            # the bits back to uint64. Values <= 2^63-1 have identical
            # pattern and value, so the marker is metadata-only for them.
            u64 = [c for c, dt in pdf.dtypes.items()
                   if getattr(dt, "kind", None) == "u" and dt.itemsize == 8]
            if u64:
                pdf = pdf.copy(deep=False)
                for c in u64:
                    pos = list(pdf.columns).index(c)
                    pdf.isetitem(pos, pdf.iloc[:, pos].to_numpy()
                                 .view("int64"))
                meta = dict(meta or {})
                meta["uint64"] = [str(c) for c in u64]
            # small unsigned ints (uint8/16/32) widen to the next signed
            # Spark type via Arrow — exact in value, but the unsigned
            # PROVENANCE is recorded so sum aggregation promotes to uint64
            # and uint64<->small-uint appends are a legal unsigned widen
            # (reference common_sum_aggregation_dtype / has_valid_common_type)
            su = [c for c, dt in pdf.dtypes.items()
                  if getattr(dt, "kind", None) == "u" and dt.itemsize < 8]
            if su:
                meta = dict(meta or {})
                meta["unsigned"] = [str(c) for c in su]
                # exact original widths so pandas/arrow outputs restore
                # uint8/16/32 (reference round-trips the dtype); appends
                # merge to the widest (see _uint64_meta_for)
                meta["unsigned_dtypes"] = {str(c): str(pdf.dtypes[c])
                                           for c in su}
                # widen to int64 IN PANDAS (exact): Spark's Arrow path
                # rejects unsigned types outright and the row-wise fallback
                # is 10-100x slower AND lands on int64 anyway — pre-widening
                # keeps the vectorized Arrow conversion with an identical
                # stored schema
                pdf = pdf.copy(deep=False)
                for c in su:
                    if isinstance(pdf.dtypes[c], np.dtype):
                        pos = list(pdf.columns).index(c)
                        pdf.isetitem(pos, pdf.iloc[:, pos]
                                     .to_numpy().astype("int64"))
            tbl = aw.pandas_table(pdf) if len(pdf) else "the frame is empty"
            if not isinstance(tbl, str):
                schema = aw.spark_schema(tbl, (meta or {}).get("uint64", ()))
                return aw.Normalized(pdf, meta, schema, table=tbl,
                                     _build=lambda: self.spark.createDataFrame(
                                         _object_strings(pdf), schema=schema))
            pdf = _object_strings(pdf)
            if len(pdf) == 0:
                # schema inference needs rows; map pandas dtypes explicitly
                # (reference supports empty writes: test_empty_writes)
                if len(pdf.columns) == 0:
                    # 0 rows AND 0 columns (reference test_empty_writes.py
                    # test_write_no_rows_and_columns): pandas->records
                    # conversion trips on a fieldless frame — build the
                    # zero-column Spark frame directly
                    sdf = self.spark.createDataFrame([], T.StructType([]))
                else:
                    sdf = self.spark.createDataFrame(
                        pdf, schema=_schema_from_pandas_dtypes(pdf))
            else:
                # all-None OBJECT columns are EMPTY (NullType). The Arrow
                # conversion produces that on its own, but a sibling column
                # Arrow can't take (e.g. uint8) forces the non-Arrow
                # fallback, whose inference dies on the Nones
                # (CANNOT_DETERMINE_TYPE — hypothesis aggregation r9 case:
                # all-None grouping column + uint8 agg column). Route void
                # columns through an explicit NULL literal so either
                # conversion path works and both yield the same schema.
                void_obj = [c for c in pdf.columns
                            if pdf[c].dtype == object and pdf[c].isna().all()]
                if void_obj and len(void_obj) < len(pdf.columns):
                    rest = pdf.drop(columns=void_obj)
                    sdf = self.spark.createDataFrame(rest)
                    for c in void_obj:
                        sdf = sdf.withColumn(str(c), F.lit(None))
                    sdf = sdf.select([str(c) for c in pdf.columns])
                else:
                    sdf = self.spark.createDataFrame(pdf)
            if u64:
                # embed the uint64 marker in the Spark schema so the files'
                # per-epoch schema_json records which LONG columns hold bit
                # patterns — a later uint64->float64 widening (reference
                # strict int->f64 promotion, type_utils.cpp:94) needs it to
                # convert old epochs by unsigned VALUE at read time
                sdf = _attach_uint64_marker(sdf, {"uint64": meta["uint64"]})
            return aw.Normalized.of(sdf, meta, tbl, pdf)
        raise ArcticUnsupportedDataTypeException(
            f"cannot normalize {type(df).__name__}: write() takes a Spark or "
            "pandas DataFrame; use write_pickle() for arbitrary objects")

    def _uint64_meta_for(self, prev: "VersionManifest", inm: dict | None,
                         in_schema, op: str) -> Any:
        """Reconcile incoming uint64 bit-pattern columns with a stored
        version on append/update (the reference's merge_descriptors path,
        ``entity/merge_descriptors.cpp:84``, which uses the STRICT
        ``has_valid_common_type``):

        * same-typed columns pass;
        * a signed<->uint64 flip on an existing column raises — the strict
          combine has no common type for uint64 and any signed int
          (``type_utils.cpp`` common_type_mixed_sign_ints would need 128
          bits -> nullopt); pinned by the ported reference cases in
          tests/test_column_type_changes_port.py;
        * a uint64<->float flip WIDENS to float64 — int->float64 is a valid
          promotion even under IntToFloatConversion::STRICT
          (``type_utils.cpp:94``), so the column leaves the uint64 set and
          old bit-pattern epochs convert by unsigned value at read;
        * a NEW uint64 column under dynamic schema extends norm_meta.

        ``in_schema`` is the incoming Spark schema (or a plain column-name
        list for callers with no dtype context, e.g. merge sources, which
        then get the strict flip check only). Returns the norm_meta to
        store."""
        from pyspark.sql import types as T
        nm = prev.norm_meta if isinstance(prev.norm_meta, dict) else None
        stored = set((nm or {}).get("uint64") or [])
        incoming = set((inm or {}).get("uint64") or [])
        stored_su = set((nm or {}).get("unsigned") or [])
        in_su = set((inm or {}).get("unsigned") or [])
        stored_w = (nm or {}).get("unsigned_dtypes") or {}
        in_w = (inm or {}).get("unsigned_dtypes") or {}
        if stored == incoming and stored_su == in_su and (
                not in_w or all(stored_w.get(c) == in_w.get(c)
                                for c in in_su)):
            return prev.norm_meta
        if isinstance(in_schema, T.StructType):
            in_types = {f.name: f.dataType for f in in_schema.fields}
        else:
            in_types = {c: None for c in in_schema}
        prev_types = {f["name"]: f.get("type") for f in
                      json.loads(prev.schema_json).get("fields", [])}
        widened: set[str] = set()
        flipped: set[str] = set()
        u64_add: set[str] = set()
        su_drop: set[str] = set()
        for c in (incoming & set(prev_types)) - stored:
            if c in stored_su:
                # small-uint column meets a uint64 epoch: promote to uint64
                # (reference promote_types(uintN, uint64) = uint64; all
                # stored values < 2^32 keep their int64 bit pattern)
                if not self.dynamic_schema:
                    raise SchemaException(
                        f"{op} to {prev.symbol!r}: column {c!r} changes "
                        "from a small unsigned type to uint64 (static "
                        "schema rejects type changes)")
                u64_add.add(c)
                su_drop.add(c)
            elif prev_types[c] in ("float", "double"):
                widened.add(c)
            else:
                flipped.add(c)
        for c in (stored & set(in_types)) - incoming:
            t = in_types.get(c)
            if c in in_su:
                # uint64 column meets a small-uint epoch: stays uint64
                # (values widen exactly; reference promote_types)
                if not self.dynamic_schema:
                    raise SchemaException(
                        f"{op} to {prev.symbol!r}: column {c!r} changes "
                        "from uint64 to a small unsigned type (static "
                        "schema rejects type changes)")
            elif isinstance(t, (T.FloatType, T.DoubleType)):
                widened.add(c)
            elif isinstance(t, T.NullType):
                pass   # EMPTY has no opinion; the column stays uint64
            else:
                flipped.add(c)
        if flipped:
            raise SchemaException(
                f"{op} to {prev.symbol!r}: columns {sorted(flipped)} mix "
                "uint64 and signed integers across versions (no common "
                "type; reference entity/merge_descriptors.cpp:84 strict "
                "has_valid_common_type)")
        for c in (stored_su & set(in_types)) - in_su - incoming:
            # small-uint column meets a signed/float epoch: the column's
            # provenance is no longer purely unsigned (reference
            # promote_types(uintN, intM) is SIGNED; sums then return int64)
            t = in_types.get(c)
            if t is not None and not isinstance(t, T.NullType):
                su_drop.add(c)
        if widened and not self.dynamic_schema:
            # static schema still rejects the type change (reference
            # StreamDescriptorMismatch); let the descriptor check raise
            # with the full message
            widened = set()
        new_u64 = incoming - set(prev_types)
        out_set = (stored | new_u64 | u64_add) - widened
        out_su = ((stored_su | (in_su - set(prev_types))) - su_drop
                  - out_set)
        if out_set == stored and out_su == stored_su and (
                not in_w or all(stored_w.get(c) == in_w.get(c)
                                for c in out_su)):
            return prev.norm_meta
        out = dict(nm or {})
        for key, val in (("uint64", out_set), ("unsigned", out_su)):
            if val:
                out[key] = sorted(val)
            else:
                out.pop(key, None)
        out_w = {}
        for c in out_su:
            cand = [w for w in (stored_w.get(c), in_w.get(c)) if w]
            if cand:
                out_w[c] = max(cand,
                               key=lambda w: int(w.replace("uint", "")))
        if out_w:
            out["unsigned_dtypes"] = out_w
        else:
            out.pop("unsigned_dtypes", None)
        return out

    @staticmethod
    def _normalize_arrow_ns(tbl, index_column: str | None):
        """Exact-ns handling for Arrow input: the index column (explicit or
        first timestamp field) becomes int64 ns (any timestamp unit upcast
        exactly); int64-min inside naive ns timestamps is the NaT sentinel
        -> null everywhere (reference test_arrow_read.py). Returns
        (table, norm_meta|None)."""
        import pyarrow as pa
        idx_name = index_column
        if idx_name is None:
            for f in tbl.schema:
                if pa.types.is_timestamp(f.type):
                    idx_name = f.name
                    break
        meta = None
        for i, f in enumerate(list(tbl.schema)):
            if not pa.types.is_timestamp(f.type) or f.type.tz is not None:
                continue
            col = tbl.column(i)
            if f.type.unit == "ns":
                ints = col.cast(pa.int64())
                ints = pc.if_else(pc.equal(ints, pa.scalar(NAT_SENTINEL)),
                                  pa.scalar(None, pa.int64()), ints)
                if f.name == idx_name:
                    tbl = tbl.set_column(i, pa.field(f.name, pa.int64()),
                                         ints)
                    # index_type datetime: pandas output re-promotes the
                    # arrow-written index to a named DatetimeIndex like a
                    # pandas write would (reference arrow/pandas interop)
                    meta = {"index_ns": True, "physical": f.name,
                            "index_type": "datetime", "fake_name": False}
                else:
                    # ns DATA column: sentinel -> null; Spark then stores
                    # it at µs (documented PARITY deviation)
                    tbl = tbl.set_column(
                        i, f, ints.cast(pa.timestamp("ns")))
            elif f.name == idx_name:
                # µs/ms/s index: exact upcast to ns ints
                ints = col.cast(pa.timestamp("ns")).cast(pa.int64())
                tbl = tbl.set_column(i, pa.field(f.name, pa.int64()), ints)
                meta = {"index_ns": True, "physical": f.name,
                        "index_type": "datetime", "fake_name": False}
        return tbl, meta

    # -- EMPTY (all-None) columns: reference ValueType::EMPTY (types.hpp:85-93)
    # -- a void column is recorded in the manifest schema but never written to
    # -- parquet (parquet has no null type); reads backfill it with NULLs and a
    # -- dynamic-schema append promotes it to the incoming type (promote_types
    # -- treats NullType as promotable to anything).
    @staticmethod
    def _void_cols(schema) -> list[str]:
        from pyspark.sql import types as T
        return [f.name for f in schema.fields
                if isinstance(f.dataType, T.NullType)]

    def _drop_void(self, sdf):
        vc = self._void_cols(sdf.schema)
        return _spark(sdf).drop(*vc) if vc else sdf

    def _scan_files(self, m: "VersionManifest", files: list,
                    phys, need_row_id: bool = False) -> DataFrame:
        """Scan data files grouped by schema epoch (the schema each file was
        physically written under — dynamic-schema appends/updates leave
        earlier files narrower). Each group is scanned with its own schema,
        cast to the manifest type (absent columns NULL-backfilled), and
        unioned. Spark's parquet reader widens only some type pairs itself
        (e.g. int32->double but not int8->float or int64->double), so the
        explicit per-epoch cast is what makes the full reference promotion
        matrix readable (type_utils.hpp promotable_type). The union is a
        narrow op — one scan per epoch, no shuffle; epochs are O(schema
        changes), not O(files). ROW_ID is attached inside each branch
        because ``_metadata`` pseudo-columns only exist on the scan itself."""
        from pyspark.sql import types as T
        groups: dict[str | None, list[FileEntry]] = {}
        for fe in files:
            sj = (fe.schema_json
                  if fe.schema_json and fe.schema_json != m.schema_json
                  else None)
            groups.setdefault(sj, []).append(fe)
        parts = []
        for sj, fes in groups.items():
            if sj is None:
                fphys = phys
            else:
                fschema = T.StructType.fromJson(json.loads(sj))
                fphys = self._phys_schema(sj)
            df = self.spark.read.schema(fphys).parquet(*[fe.path for fe in fes])
            if need_row_id:
                keyed = [("file:" + fe.path
                          if not fe.path.startswith("file:") else fe.path,
                          fe.row_start) for fe in fes]
                if len(keyed) <= 64:
                    # few files: a map literal beats a join stage
                    offmap = F.create_map(*[F.lit(x) for kv in keyed
                                            for x in kv])
                    df = df.withColumn(
                        ROW_ID,
                        (offmap[F.col("_metadata.file_path")]
                         + F.col("_metadata.row_index")).cast("long"))
                else:
                    # many files: broadcast-join a tiny offsets table keyed
                    # on the scan's file_path pseudo-column — O(files) rows
                    # ship once to executors instead of bloating the
                    # serialized plan (10^5-10^6 files at 100 TB). The
                    # _metadata pseudo-columns must be materialized on the
                    # scan relation before the join hides them.
                    off = self.spark.createDataFrame(
                        keyed, schema="__asdb_fp__ string, __asdb_off__ long")
                    df = (df.withColumn("__asdb_fp__",
                                        F.col("_metadata.file_path"))
                            .withColumn("__asdb_ri__",
                                        F.col("_metadata.row_index"))
                            .join(F.broadcast(off), "__asdb_fp__")
                            .withColumn(ROW_ID,
                                        (F.col("__asdb_off__")
                                         + F.col("__asdb_ri__")).cast("long"))
                            .drop("__asdb_fp__", "__asdb_off__",
                                  "__asdb_ri__"))
            if sj is not None:  # homogeneous scan already matches phys
                have = set(df.columns)
                efields = {f.name: f for f in fschema.fields}

                def fill(f):
                    # the INDEX column is time, whatever its physical type
                    # (ns index = LONG): a missing index backfills NaT/NULL,
                    # never the integer default 0 (epoch 1970)
                    if f.name == m.index_column:
                        return F.lit(None).cast(f.dataType)
                    return _default_backfill_lit(f.dataType)

                def conv(f):
                    # a uint64 bit-pattern epoch widened to float64 by a
                    # later append/update converts by unsigned VALUE, not by
                    # signed reinterpretation (reference strict int->f64
                    # promotion, type_utils.cpp:94; marker embedded in the
                    # epoch schema at write)
                    from arcticdb_spark.expr import UINT64_META, _u64_to_double
                    ef = efields.get(f.name)
                    if (ef is not None
                            and isinstance(ef.dataType, T.LongType)
                            and (ef.metadata or {}).get(UINT64_META)
                            and isinstance(f.dataType,
                                           (T.FloatType, T.DoubleType))):
                        return _u64_to_double(F.col(f.name)).cast(f.dataType)
                    return F.col(f.name).cast(f.dataType)

                df = df.select([
                    (conv(f) if f.name in have else fill(f)).alias(f.name)
                    for f in phys.fields] + ([ROW_ID] if need_row_id else []))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _scan_files_arrow(self, symbol: str, m: "VersionManifest",
                          files: list, columns: list | None,
                          date_range: tuple | None, rows: tuple | None,
                          with_row_ids: bool, orig_pos: bool):
        """Driver-side twin of ``_scan_files`` + the plain read's column
        shaping (see arrowread.py): the pruned files are read with pyarrow
        in ``row_start`` order, i.e. write order, so no sort is needed.
        ``date_range`` is an inclusive (lo_ns, hi_ns) pair applied on the
        physical index, ``rows`` a resolved [start, end) row-id range.
        Returns an ``arrowread.LocalFrame`` with the columns, order and
        Spark types the Spark read path would collect, or None when the
        read must take the Spark path:

        - a file is on another schema epoch (``_foreign_epoch``; those
          scans cast and backfill per epoch, see ``_scan_files``);
        - a selected dictionary-coded column's sidecar is over the driver
          read cap (``_dict_sidecar_over_cap``); smaller sidecars decode
          through the driver-side ``_dict_map``."""
        from arcticdb_spark.expr import UINT64_META, UNSIGNED_META
        if self._foreign_epoch(m, files):
            return None
        mschema = T.StructType.fromJson(json.loads(m.schema_json))
        fields = {f.name: f for f in mschema.fields}
        stored = {c: f.dataType for c, f in fields.items()
                  if not isinstance(f.dataType, T.NullType)}
        nm = m.norm_meta or {}
        idx = m.index_column
        index_ns = bool(idx) and bool(nm.get("index_ns"))
        keep = list(fields)
        if columns is not None:
            # same selection as the Spark path: requested stored names in
            # request order, index column(s) force-included in front
            keep = [c for c in columns if c in fields]
            idx_cols = (nm.get("physical") if nm.get("index_type")
                        == "multiindex" else ([idx] if idx else []))
            for c in reversed(idx_cols or []):
                if c in fields and c not in keep:
                    keep = [c] + keep
        dicts = {}
        for c in self.dictionary_columns:
            if (c in keep and isinstance(fields[c].dataType, T.LongType)
                    and os.path.isdir(self._dicts_dir(symbol, c))):
                if self._dict_sidecar_over_cap(symbol, c):
                    return None
                dicts[c] = self._dict_map(symbol, c) or {}
        large = self.spark._jconf.arrowUseLargeVarTypes()
        want = {c: ar.arrow_type(stored[c], large) for c in keep
                if c in stored}
        if date_range is not None and not isinstance(fields[idx].dataType,
                                                     T.LongType):
            # a µs-timestamp index compares against µs-truncated bounds,
            # as the Spark filter's timestamp literals do
            date_range = tuple(None if b is None else b // 1000
                               for b in date_range)
        tbl = ar.read_files(
            [(fe.path, fe.row_start) for fe in files], want,
            ROW_ID, idx, date_range, rows)

        out, sfields = tbl.select([]), []

        def add(arr, sfield):
            nonlocal out
            sfields.append(sfield)
            out = out.append_column(
                sfield.name, arr.cast(ar.arrow_type(sfield.dataType, large)))

        u64 = set(nm.get("uint64") or ())
        unsigned = set(nm.get("unsigned") or ()) - u64
        for c in keep:
            f = fields[c]
            if isinstance(f.dataType, T.NullType):
                add(pa.nulls(tbl.num_rows), T.StructField(c, T.NullType()))
            elif c == idx and index_ns:
                add(ar.ns_to_us_view(tbl.column(c)),
                    T.StructField(c, T.TimestampType()))
            elif c in dicts:
                add(ar.decode_codes(tbl.column(c), dicts[c]),
                    T.StructField(c, T.StringType()))
            else:
                md = dict(f.metadata or {})
                if c in u64 or c in unsigned:
                    md[UINT64_META if c in u64 else UNSIGNED_META] = True
                add(tbl.column(c), T.StructField(c, f.dataType, True, md))
        tail = []
        if with_row_ids:
            tail.append((ROW_ID, tbl.column(ROW_ID), True))
        if index_ns:
            shadow = (ns_shadow_col(idx),
                      pc.fill_null(tbl.column(idx), NAT_SENTINEL), False)
            # the Spark path appends the shadow after the row id on a full
            # read and before it on a column selection
            tail.insert(0 if columns is not None else len(tail), shadow)
        if orig_pos:
            tail.append((ORIG_POS, tbl.column(ROW_ID), True))
        for name, arr, nullable in tail:
            add(arr, T.StructField(name, T.LongType(), nullable))
        return ar.LocalFrame(self.spark, T.StructType(sfields), out)

    @staticmethod
    def _over_driver_cap(files: list) -> bool:
        """True when ``files`` together hold more than
        ``_DRIVER_READ_BYTES_MAX`` bytes."""
        return (sum(os.path.getsize(fe.path) for fe in files)
                > _DRIVER_READ_BYTES_MAX)

    @staticmethod
    def _foreign_epoch(m: "VersionManifest", files: list) -> bool:
        """True when a file's schema epoch lacks a stored (non-void) column
        of the manifest or types it differently (extra columns are fine)."""
        stored = {f.name: f.dataType
                  for f in Library._phys_schema(m.schema_json).fields}
        for sj in {fe.schema_json for fe in files} - {None, m.schema_json}:
            epoch = {f.name: f.dataType
                     for f in T.StructType.fromJson(json.loads(sj)).fields}
            if any(epoch.get(c) != t for c, t in stored.items()):
                return True
        return False

    def _rewrite_arrow(self, m: "VersionManifest", files: list, cut
                       ) -> "list[list[FileEntry]] | None":
        """Rewrite ``files`` of ``m`` on the driver: read them with pyarrow
        in ``row_start`` order under the manifest's physical types (a
        ROW_ID column first, ``arrowread.read_files``), let ``cut(table)``
        pick the pieces to keep as (table, sizes) pairs and write each with
        ``arrowwrite.write_slices``, one file and row group per slice.
        Returns each piece's FileEntries in row order, or None — the caller
        then runs its Spark path — when a file is on another schema epoch
        (``_foreign_epoch``), a stored column's type is outside
        arrowwrite's whitelist (``arrowwrite.physical_type``), or the files
        hold more than ``_DRIVER_READ_BYTES_MAX`` bytes."""
        files = sorted(files, key=lambda fe: fe.row_start)
        if self._over_driver_cap(files) or self._foreign_epoch(m, files):
            return None
        phys = self._phys_schema(m.schema_json)
        want = {f.name: aw.physical_type(f.dataType) for f in phys.fields}
        if not want or None in want.values():
            return None
        tbl = ar.read_files([(fe.path, fe.row_start) for fe in files],
                            want, ROW_ID, None, None, None)
        schema_json = phys.json()
        out = []
        for piece, sizes in cut(tbl):
            out_dir = os.path.join(self._data_sym_dir(m.symbol), "data",
                                   uuid.uuid4().hex)
            out.append(_file_entries(
                aw.write_slices(piece.drop_columns([ROW_ID]), out_dir, sizes,
                                schema_json) if piece.num_rows else [],
                m.index_column, schema_json))
        return out

    def _splice(self, prev: "VersionManifest", lo: int, hi: int
                ) -> tuple[list, list]:
        """Files of the ASCENDING symbol ``prev`` holding its rows below
        ``lo`` and above ``hi`` (physical ns), as two row-ordered lists:
        files outside [lo, hi] are kept; the overlapping ones are rewritten
        into a below and an above piece (no file straddles the cut), sliced
        at ``rows_per_file`` by ``_rewrite_arrow`` or, when it declines, by
        Spark."""
        idx = prev.index_column
        below, rewrite, above = [], [], []
        for fe in prev.files:
            if fe.ts_max is not None and fe.ts_max < lo:
                below.append(fe)
            elif fe.ts_min is not None and fe.ts_min > hi:
                above.append(fe)
            else:
                rewrite.append(fe)
        if not rewrite:
            return below, above

        def cut(t):
            iv = t.column(idx)
            return [(t.filter(pc.less(iv, lo)), self.rows_per_file),
                    (t.filter(pc.greater(iv, hi)), self.rows_per_file)]

        pieces = self._rewrite_arrow(prev, rewrite, cut)
        if pieces is None:
            # the pieces keep row-id order (a multi-file scan's own order
            # is not row order) and the manifest's physical schema
            phys = self._phys_schema(prev.schema_json)
            df = self._scan_files(prev, rewrite, phys, need_row_id=True)
            pieces = []
            for keep in (F.col(idx) < _idx_bound(df, idx, lo),
                         F.col(idx) > _idx_bound(df, idx, hi)):
                entries = self._write_data_files(
                    prev.symbol, df.filter(keep).orderBy(ROW_ID).drop(ROW_ID),
                    idx, sort=False)
                for fe in entries:
                    fe.schema_json = phys.json()
                pieces.append(entries)
        return below + pieces[0], pieces[1] + above

    @staticmethod
    def _phys_schema(schema_json: str):
        """A stored schema minus its void columns: what data files hold."""
        return T.StructType([
            f for f in T.StructType.fromJson(json.loads(schema_json)).fields
            if not isinstance(f.dataType, T.NullType)])

    def _read_physical(self, m: "VersionManifest",
                       files: list | None = None) -> DataFrame:
        """Scan the given files under the manifest's physical schema (void
        columns stripped; absent columns NULL-backfilled; schema-epoch
        grouping via ``_scan_files``)."""
        return self._scan_files(m, files if files is not None else m.files,
                                self._phys_schema(m.schema_json))

    @staticmethod
    def _detect_index(schema: T.StructType, index_column) -> str | None:
        if index_column is not None:
            return index_column
        for f0 in schema.fields:
            if f0.dataType.typeName().startswith("timestamp"):
                return f0.name
        return None

    @staticmethod
    def _index_to_ns_long(sdf: DataFrame, idx: str) -> DataFrame:
        """Convert a timestamp-typed index column to exact LONG ns (µs
        Spark timestamps multiply exactly); a LONG column is already ns."""
        if _is_ts_type(sdf, idx):
            return sdf.withColumn(
                idx, F.unix_micros(F.col(idx).cast("timestamp")) * F.lit(1000))
        return sdf

    def _align_index_phys(self, sdf, idx: str | None,
                          prev: "VersionManifest"):
        """Make an incoming frame's index column match the stored symbol's
        PHYSICAL index representation (LONG ns vs µs timestamp) before
        schema validation / overlap math on append/update/merge (a
        Normalized input stays one unless it changes)."""
        if idx is None or idx not in sdf.columns:
            return sdf
        want_ns = bool((prev.norm_meta or {}).get("index_ns"))
        if want_ns and _is_ts_type(sdf, idx):
            return self._index_to_ns_long(_spark(sdf), idx)
        if not want_ns and _is_long_type(sdf, idx) \
                and _is_ts_type_json(prev.schema_json, idx):
            # legacy µs-physical symbol: truncate the incoming ns index
            return _spark(sdf).withColumn(
                idx, F.timestamp_micros(
                    F.expr(f"(`{idx}` - pmod(`{idx}`, 1000)) div 1000")))
        return sdf

    def _content_hashes(self, entries: list[FileEntry]) -> None:
        """Fill order-independent content hashes per file: sum + xor of
        per-row xxhash64 over all columns, read via one footer-light scan
        grouped by ``_metadata.file_path``. Used by write-dedup (reference
        ``version/de_dup_map.hpp``: segment content-hash reuse)."""
        if not entries:
            return
        df = self.spark.read.parquet(*[e.path for e in entries])
        h = F.xxhash64(*[F.col(c) for c in df.columns])
        agg = (df.select(F.col("_metadata.file_path").alias("fp"), h.alias("h"))
                 .groupBy("fp")
                 .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n"))
                 .collect())
        by_path = {r["fp"].removeprefix("file:"): f"{r['s']}:{r['n']}" for r in agg}
        for e in entries:
            e.content_hash = by_path.get(e.path)

    @_kwargs_contract("write", frozenset({"dynamic_strings", "parallel", "incomplete", "recursive_normalizers", "recursive_normalize_msgpack_no_pickle_fallback", "coerce_columns", "sparsify_floats", "norm_failure_options_msg", "pickle_on_failure", "prune_previous_version"}))
    def write(self, symbol: str, df, metadata: Any = None,
              index_column: str | None = None, prune_previous: bool | None = None,
              dedup: bool | None = None, staged: bool = False,
              prune_previous_versions: bool | None = None,
              recursive_normalizers: bool = False,
              validate_index: bool = True,
              coerce_columns: dict | None = None,
              _custom_meta: dict | None = None) -> VersionManifest:
        """New version from scratch (reference ``library.py:1013``).

        ``dedup=True`` reproduces the reference's segment dedup
        (``de_dup_map.hpp``): new files whose content hash matches a file of
        the previous version are discarded and the old file is referenced
        instead — append-mostly rewrites become metadata-only.

        ``staged=True`` stages the chunk for a later finalize instead of
        committing a version (reference write(staged=True) incompletes);
        returns None in that case. ``prune_previous_versions`` is the
        reference's name for ``prune_previous`` (either works).

        ``validate_index=True`` (the v2 default, library.py:1020) raises
        SortingException for a non-monotonic-increasing datetime index
        (reference UnsortedDataException, test_write.py
        test_write_not_sorted_exception); ``validate_index=False`` stores
        DESCENDING/UNSORTED input as-given with its sortedness tracked
        (the native-API default, _store.py:726)."""
        df = _apply_coerce_columns(df, coerce_columns)
        if prune_previous_versions is not None:
            prune_previous = prune_previous_versions
        if dedup is None:   # library-level default (LibraryOptions.dedup)
            dedup = self.dedup
        # reference verify_symbol_key (name_validation.cpp:111): validated
        # for NEW symbols only — existing pre-validation symbols keep
        # working (test_name_validation.py); internal recursive-normalizer
        # leaf symbols (_rec__ prefix) derive from an already-validated
        # parent and may embed arbitrary user dict keys
        if not symbol.startswith("_rec__") and not self.has_symbol(symbol):
            _verify_name("symbol key", symbol)
        # user-extensible normalizers (reference _custom_normalizers.py:17;
        # the composite tries custom normalizers before built-in dispatch):
        # first registered acceptor wins; its output re-enters the normal
        # machinery (frame / recursive structure / pickle) and the manifest
        # records {"custom": {class_name, data}} for read-side rebuild
        from arcticdb_spark import normalizers as _cn
        if _custom_meta is None and _cn.has_normalizers():
            res = _cn.apply_custom_normalize(df)
            if res is not None:
                if staged:
                    raise ArcticDbNotYetImplemented(
                        "staged write of a custom-normalized type")
                item2, cmeta = res
                if isinstance(item2, (dict, list, tuple)):
                    return self._write_recursive(symbol, item2, metadata,
                                                 prune_previous,
                                                 custom_meta=cmeta)
                if self._is_df_leaf(item2) or isinstance(item2, DataFrame):
                    return self.write(symbol, item2, metadata=metadata,
                                      index_column=index_column,
                                      prune_previous=prune_previous,
                                      dedup=dedup, _custom_meta=cmeta)
                return self.write_pickle(symbol, item2, metadata=metadata,
                                         prune_previous=prune_previous,
                                         custom_meta=cmeta)
        if recursive_normalizers and isinstance(df, (dict, list, tuple)):
            return self._write_recursive(symbol, df, metadata, prune_previous)
        if staged:
            return self.stage(symbol, df,
                              validate_index=validate_index)
        import pandas as pd
        if isinstance(df, (pd.DataFrame, pd.Series)):
            # reference ignores index_column for pandas input (the frame's
            # own index wins — test_write_pandas_df_with_specified_index_
            # column)
            index_column = None
        index_column = self._resolve_index_column_arg(df, index_column)
        sorted_flag = self._input_sortedness(df)
        if validate_index and sorted_flag in ("DESCENDING", "UNSORTED"):
            # UNKNOWN (non-timestamp index) never raises — the reference
            # only validates datetime indexes (test_write_non_timestamp_
            # index writes unsorted int indexes with validate_index=True)
            raise UnsortedDataException(
                "E_UNSORTED_DATA write requires a monotonically increasing "
                f"datetime index (input is {sorted_flag}); pass "
                "validate_index=False to store it as-given")
        sdf = self._normalize(df, index_column)
        norm_meta = sdf.meta
        nm = norm_meta or {}
        if nm.get("index_ns"):
            p = nm["physical"]
            idx = p[0] if isinstance(p, list) else p
        elif isinstance(df, (pd.DataFrame, pd.Series)):
            # pandas input: ONLY the frame's own index can become the
            # symbol's index. A datetime64 DATA column on a RangeIndex
            # frame stays a data column (the reference never re-interprets
            # columns as the index for pandas input); timestamp-sniffing
            # below applies to Spark/Arrow frames, whose convention is
            # "first timestamp column = index".
            idx = None
        else:
            idx = self._detect_index(sdf.schema, index_column)
            if idx is not None and (_is_ts_type(sdf, idx)
                                    or _is_long_type(sdf, idx)):
                # Spark/Arrow-frame input: the index is stored as exact
                # LONG ns like the pandas path (an explicitly-designated
                # LONG index column is already ns — the reference's index
                # type IS int64 ns, types.hpp:73)
                sdf = self._index_to_ns_long(sdf.frame(), idx)
                norm_meta = {**nm, "index_ns": True}
        # equal timestamps keep INPUT row order (the reference never
        # reorders within a ts value — MultiIndex level values do NOT
        # participate in the write sort; _write_data_files' __ipos__
        # stability column makes the layout deterministic instead)
        sdf = self._encode_dict_columns(symbol, sdf)
        files = self._write_data_files(
            symbol, self._drop_void(sdf), idx,
            sort=(sorted_flag == "ASCENDING"),
            rows_hint=(len(df) if isinstance(df, (pd.DataFrame, pd.Series))
                       else None))
        dedup_base = None
        if dedup:
            self._content_hashes(files)
            try:
                prev = self._load_manifest(symbol, self._load_ref(symbol)["latest"])
                dedup_base = prev.version
                prev_by_hash = {fe.content_hash: fe for fe in prev.files
                                if fe.content_hash}
                swapped = []
                for fe in files:
                    old = prev_by_hash.get(fe.content_hash)
                    if old is not None and old.rows == fe.rows:
                        _remove_data_file(fe.path)
                        # the reused entry points at the OLD physical file, so
                        # it keeps the old schema epoch, not the new write's
                        swapped.append(FileEntry(old.path, fe.rows, fe.row_start,
                                                 fe.ts_min, fe.ts_max,
                                                 fe.content_hash,
                                                 old.schema_json))
                    else:
                        swapped.append(fe)
                files = swapped
            except NoSuchVersionException:
                pass
        if _custom_meta is not None:
            norm_meta = {**(norm_meta or {}), "custom": _custom_meta}
        m = VersionManifest(symbol, self._next_version(symbol), time.time_ns(),
                            idx, sdf.schema.json(), files, metadata,
                            # no index column = no order claim (reference
                            # test_write_non_timestamp_index: range/int64
                            # indexed symbols report UNKNOWN)
                            sorted=("UNKNOWN" if idx is None
                                    else sorted_flag),
                            norm_meta=norm_meta)
        m.base_version = dedup_base
        self._commit(m)
        if self._resolve_prune(prune_previous):
            self.prune_previous_versions(symbol)
        return m

    @staticmethod
    def _input_sortedness(df) -> str:
        """Sortedness of a to-be-written frame's datetime index (reference
        SortedValue tracking, pinned by test_date_range.py
        test_read_unsorted_date_range_dataframe and test_append.py's
        DESCENDING state machine): monotonic-decreasing input is tracked as
        DESCENDING, other non-monotonic input as UNSORTED — both stored
        as-given, never silently re-ordered. A NON-timestamp index (range /
        int64 / rowcount) reports UNKNOWN regardless of its actual order,
        and validate_index never raises for it (reference test_write.py
        test_write_non_timestamp_index / test_write_ascending_sorted_
        dataframe: int-indexed writes are "UNKNOWN"). Spark-frame inputs
        report ASCENDING when a ts index is detected later (they are
        ts-sorted on write — the engine's sorted-on-write invariant)."""
        import pandas as pd
        if isinstance(df, (pd.DataFrame, pd.Series)):
            lvl0 = (df.index.get_level_values(0)
                    if isinstance(df.index, pd.MultiIndex) else df.index)
            if isinstance(lvl0, pd.DatetimeIndex):
                if lvl0.is_monotonic_increasing:
                    return "ASCENDING"
                if lvl0.is_monotonic_decreasing:
                    return "DESCENDING"
                return "UNSORTED"
        return "ASCENDING"

    # 16 MiB pickle chunks: large objects span rows (and so files), keeping
    # any single parquet page/row bounded
    _PICKLE_CHUNK = 16 << 20

    def write_pickle(self, symbol: str, data: Any, metadata: Any = None,
                     prune_previous: bool | None = None,
                     custom_meta: dict | None = None) -> VersionManifest:
        """Arbitrary-object fallback (reference ``library.py:1166``
        write_pickle; ``_normalization.py:1359,1467`` msgpack/pickle
        fallback): the object is pickled and stored as chunked BINARY rows
        ``(chunk_id long, data binary)``. Pickled symbols are opaque —
        ``read`` returns the object; query_builder/date_range/row_range/
        columns, append and update all raise, matching the reference's
        "Cannot use queries on pickled data" behavior."""
        import pickle
        payload = pickle.dumps(data, protocol=4)
        chunks = [payload[i:i + self._PICKLE_CHUNK]
                  for i in range(0, len(payload), self._PICKLE_CHUNK)] or [b""]
        sdf = self.spark.createDataFrame(
            [(i, bytearray(c)) for i, c in enumerate(chunks)],
            schema="chunk_id long, data binary")
        files = self._write_data_files(symbol, sdf, None, sort=False)
        nm: dict = {"index_type": "pickled", "total_bytes": len(payload)}
        if custom_meta is not None:
            nm["custom"] = custom_meta
        m = VersionManifest(symbol, self._next_version(symbol), time.time_ns(),
                            None, sdf.schema.json(), files, metadata,
                            norm_meta=nm)
        self._commit(m)
        if self._resolve_prune(prune_previous):
            self.prune_previous_versions(symbol)
        return m

    # ---- recursive normalizers (reference _store.py:887
    # _try_flatten_and_write_composite_object; _normalization.py:1742) ----
    # Nested dict/list/tuple structures of DataFrames are flattened: each
    # leaf becomes a hidden sub-symbol ("_rec__{parent}__{path}" — the
    # leading "_" keeps it out of list_symbols), and the parent version's
    # norm_meta records the template plus (sub-symbol, version) pins, the
    # analogue of the reference's MULTI_KEY. Leaves version independently,
    # so re-writing a 10-leaf structure rewrites only changed leaves' data.

    @staticmethod
    def _is_df_leaf(obj) -> bool:
        import numpy as np
        import pandas as pd
        return isinstance(obj, (pd.DataFrame, pd.Series, DataFrame,
                                np.ndarray))

    def _flatten_struct(self, data, path=()):
        """Yield (path_tuple, leaf) pairs; raise on non-str dict keys."""
        if isinstance(data, dict):
            for k, v in data.items():
                if not isinstance(k, str):
                    raise ArcticException(
                        "recursive_normalizers requires string dict keys, "
                        f"got {type(k).__name__}")
                yield from self._flatten_struct(v, path + (k,))
        elif isinstance(data, (list, tuple)):
            for i, v in enumerate(data):
                yield from self._flatten_struct(v, path + (str(i),))
        else:
            yield path, data

    @staticmethod
    def _struct_template(data, counter):
        """JSON template mirroring the nesting; leaves become indices into
        the manifest's leaf list. Tuples are tagged to roundtrip exactly."""
        if isinstance(data, dict):
            return {k: Library._struct_template(v, counter)
                    for k, v in data.items()}
        if isinstance(data, tuple):
            return {"__tuple__": [Library._struct_template(v, counter)
                                  for v in data]}
        if isinstance(data, list):
            return [Library._struct_template(v, counter) for v in data]
        i = counter[0]
        counter[0] += 1
        return {"__leaf__": i}

    def _rec_subsymbol(self, symbol: str, path: tuple) -> str:
        return f"_rec__{symbol}__" + ".".join(path)

    def _write_recursive(self, symbol: str, data, metadata,
                         prune_previous: bool,
                         custom_meta: dict | None = None) -> VersionManifest:
        from arcticdb_spark import normalizers as _cn
        leaves = list(self._flatten_struct(data))
        pins = []
        for path, leaf in leaves:
            sub = self._rec_subsymbol(symbol, path)
            if self._is_df_leaf(leaf):
                # native-API default: leaves keep sortedness tracking
                # without v2 validation (_store.py:726 validate_index=False)
                lm = self.write(sub, leaf, validate_index=False)
            elif _cn.has_normalizers() \
                    and _cn.apply_custom_normalize(leaf) is not None:
                # custom-normalized leaf (reference: the flattener consults
                # the registry per node) — write()'s hook records the leaf's
                # own custom meta; its read denormalizes before reassembly
                lm = self.write(sub, leaf)
            else:  # non-normalizable leaf -> pickle fallback, like the
                # reference's msgpack/pickle leaf handling
                lm = self.write_pickle(sub, leaf)
            pins.append({"symbol": sub, "version": lm.version})
        counter = [0]
        template = self._struct_template(data, counter)
        nm: dict = {"index_type": "recursive",
                    "struct": template, "leaves": pins}
        if custom_meta is not None:
            nm["custom"] = custom_meta
        m = VersionManifest(symbol, self._next_version(symbol), time.time_ns(),
                            None, "{}", [], metadata, norm_meta=nm)
        self._commit(m)
        if self._resolve_prune(prune_previous):
            self.prune_previous_versions(symbol)
        return m

    @staticmethod
    def _is_recursive(m: "VersionManifest") -> bool:
        return bool(m.norm_meta) and m.norm_meta.get("index_type") == "recursive"

    def _read_recursive(self, m: "VersionManifest", output_format: str):
        pins = m.norm_meta["leaves"]

        def build(node):
            if isinstance(node, dict):
                if "__leaf__" in node:
                    p = pins[node["__leaf__"]]
                    return self.read(p["symbol"], as_of=p["version"],
                                     output_format=output_format)
                if "__tuple__" in node:
                    return tuple(build(v) for v in node["__tuple__"])
                return {k: build(v) for k, v in node.items()}
            if isinstance(node, list):
                return [build(v) for v in node]
            return node

        return build(m.norm_meta["struct"])

    def will_item_be_pickled(self, item, recursive_normalizers: bool | None
                             = None) -> bool:
        """Reference ``_store.py:3546``: True iff ``write`` would fall back
        to the pickle path for this item."""
        if self._is_df_leaf(item):
            return False
        from arcticdb_spark import normalizers as _cn
        if _cn.has_normalizers():
            res = _cn.apply_custom_normalize(item)
            if res is not None:
                return self.will_item_be_pickled(res[0], recursive_normalizers
                                                 or isinstance(res[0],
                                                               (dict, list,
                                                                tuple)))
        if recursive_normalizers and isinstance(item, (dict, list, tuple)):
            return any(not self._is_df_leaf(leaf)
                       for _, leaf in self._flatten_struct(item))
        return True

    @staticmethod
    def _is_pickled(m: "VersionManifest") -> bool:
        return bool(m.norm_meta) and m.norm_meta.get("index_type") == "pickled"

    @staticmethod
    def _reject_categorical(prev: "VersionManifest", df, op: str) -> None:
        """Reference rejects append/update on categorical data either side
        (test_categorical.py test_categorical_append/_update/_series raise
        ArcticDbNotYetImplemented): merging category sets across versions is
        unimplemented there, and here an unchecked append could introduce
        values outside the stored category list."""
        import pandas as pd
        if (prev.norm_meta or {}).get("categoricals"):
            raise ArcticDbNotYetImplemented(
                f"{op} to a symbol with categorical columns is not supported")
        cols = (df.dtypes.items() if isinstance(df, pd.DataFrame)
                else [(df.name, df.dtype)] if isinstance(df, pd.Series)
                else [])
        if any(isinstance(dt, pd.CategoricalDtype) for _, dt in cols):
            raise ArcticDbNotYetImplemented(
                f"{op} with categorical columns is not supported")

    @_kwargs_contract("is_symbol_pickled", _VALID_READ_KWARGS)
    def is_symbol_pickled(self, symbol: str, as_of=None) -> bool:
        """Reference ``library.py:2484`` is_symbol_pickled."""
        return self._is_pickled(self._resolve_version(symbol, as_of))

    def _read_pickled(self, m: "VersionManifest"):
        import pickle
        rows = (self.spark.read.parquet(*[fe.path for fe in m.files])
                .orderBy("chunk_id").collect())
        return pickle.loads(b"".join(bytes(r["data"]) for r in rows))

    def _merge_schema(self, prev_schema_json: str, new_schema) -> str:
        """Dynamic-schema promotion: union of columns, numeric types widened
        (reference ``type_utils.hpp:40`` promotable_type via schema_checks)."""
        from pyspark.sql import types as T
        from arcticdb_spark.operators.concat import promote_types
        old = T.StructType.fromJson(json.loads(prev_schema_json))
        merged: dict[str, T.DataType] = {f.name: f.dataType for f in old.fields}
        # field metadata (the uint64 bit-pattern marker) survives while the
        # type is unchanged; a widened column drops it — the wide type holds
        # plain values, only the narrow epochs keep bit patterns
        metas: dict[str, dict] = {f.name: (f.metadata or {})
                                  for f in old.fields}
        order = [f.name for f in old.fields]
        for f in new_schema.fields:
            if f.name in merged:
                was = merged[f.name]
                try:
                    merged[f.name] = promote_types(was, f.dataType)
                except TypeError:
                    # reference has_valid_common_type returns nullopt (e.g.
                    # bool mixed with any numeric): dynamic schema still
                    # rejects — E_DESCRIPTOR_MISMATCH, not a raw TypeError
                    raise SchemaException(
                        f"column {f.name!r} has no common type across "
                        f"versions ({was.simpleString()} vs "
                        f"{f.dataType.simpleString()}; reference "
                        "has_valid_common_type returns nullopt)")
                if merged[f.name] != was:
                    metas[f.name] = {}
            else:
                merged[f.name] = f.dataType
                metas[f.name] = f.metadata or {}
                order.append(f.name)
        return T.StructType(
            [T.StructField(n, merged[n], True, metas[n])
             for n in order]).json()

    def _validate_static_schema(self, prev_schema_json: str, new_schema,
                                op: str) -> str:
        """Static-schema write validation (reference StreamDescriptorMismatch,
        pinned by ``test_column_type_changes.py::test_changing_numeric_type``):
        both column *names* and *types* must match the stored descriptor; a
        changed numeric type is rejected with a pointer at dynamic_schema.
        Incoming all-None (EMPTY/NullType) columns are exempt — they carry no
        typed data and are NULL-backfilled under the stored type on read."""
        from pyspark.sql import types as T
        old = T.StructType.fromJson(json.loads(prev_schema_json))
        old_names = {f.name for f in old.fields}
        new_names = {f.name for f in new_schema.fields}
        if old_names != new_names:
            raise ArcticException(
                f"{op} schema mismatch (enable dynamic_schema): "
                f"{sorted(old_names ^ new_names)}")
        old_order = [f.name for f in old.fields]
        new_order = [f.name for f in new_schema.fields]
        if old_order != new_order:
            # the reference's static schema is POSITIONAL: the same columns
            # in a different order are a descriptor mismatch
            # (test_basic_version_store.py test_wrong_df_col_order)
            from arcticdb_spark.exceptions import StreamDescriptorMismatch
            raise StreamDescriptorMismatch(
                f"{op}: E_DESCRIPTOR_MISMATCH column order differs from "
                f"the stored descriptor (static schema is positional): "
                f"stored {old_order}, incoming {new_order}")
        old_void = set(self._void_cols(old))
        typed_into_void = old_void - set(self._void_cols(new_schema))
        old_types = {f.name: f.dataType for f in old.fields}
        changed = sorted(
            f.name for f in new_schema.fields
            if not isinstance(f.dataType, T.NullType)
            and f.name not in old_void and old_types[f.name] != f.dataType)
        if changed:
            raise ArcticException(
                f"{op} column type mismatch (enable dynamic_schema): "
                + ", ".join(f"{n}: {old_types[n].simpleString()} -> "
                            f"{dict((f.name, f.dataType) for f in new_schema.fields)[n].simpleString()}"
                            for n in changed))
        if typed_into_void:
            # EMPTY columns are promotable to any incoming type regardless
            # of schema mode (reference test_empty_column_type.py
            # TestCanAppendToColumnWithNones / TestCanAppendColumnWithNones
            # run static AND dynamic): the manifest schema takes the
            # incoming type; the old void files backfill with the type's
            # default on read (_default_backfill_lit)
            new_types = {f.name: f.dataType for f in new_schema.fields}
            promoted = T.StructType([
                T.StructField(f.name, new_types[f.name], f.nullable,
                              f.metadata)
                if f.name in typed_into_void else f
                for f in old.fields])
            return json.dumps(promoted.jsonValue())
        return prev_schema_json

    @_kwargs_contract("append", frozenset({"dynamic_strings", "coerce_columns", "write_if_missing", "incomplete", "prune_previous_version"}))
    def append(self, symbol: str, df, metadata: Any = None,
               validate_index: bool = True,
               prune_previous_versions: bool | None = None,
               index_column: str | None = None,
               compact_data: bool = False,
               coerce_columns: dict | None = None) -> VersionManifest:
        """Rows strictly after the existing index range (``library.py:1361``).
        Previous files are *reused*, not rewritten — O(new data) cost.

        With ``dynamic_schema`` the appended frame may add columns or widen
        numeric types; otherwise the schema must match.

        ``index_column`` is accepted for signature parity (reference
        library.py:1361): appends normalize the incoming chunk against the
        STORED index column, so the hint is redundant here.
        ``compact_data=True`` (reference library.py:1361 append kwarg)
        compacts fragmented existing slices together with the appended
        frame inside the SAME version (reference append_internal inline
        CompactDataClause, version_core.cpp:3155-3320): the frame counts
        as one row slice, in-bounds existing slices stay untouched."""
        df = _apply_coerce_columns(df, coerce_columns)
        try:
            prev = self._load_manifest(symbol,
                                       self._load_ref(symbol)["latest"])
        except NoSuchVersionException:
            # reference library.py:1379: "If append is called on a symbol
            # that does not exist, it will create it"
            return self.write(symbol, df, metadata=metadata,
                              prune_previous=prune_previous_versions,
                              validate_index=validate_index)
        if self._is_pickled(prev):
            raise ArcticException(f"cannot append to pickled symbol {symbol!r}")
        self._reject_categorical(prev, df, "append")
        if (prev.norm_meta or {}).get("index_type") == "ndarray":
            out = self._append_ndarray(symbol, prev, df, metadata)
            if self._resolve_prune(prune_previous_versions):
                self.prune_previous_versions(symbol)
            return out
        rmeta = (prev.norm_meta or {}) if isinstance(prev.norm_meta, dict) else {}
        smeta = rmeta.get("series")
        if smeta is not None:
            # reference test_append_series_with_different_column_name_throws:
            # a renamed Series would need a new column + norm-meta rewrite —
            # the reference throws SchemaException, and so do we (under
            # dynamic schema it would otherwise silently widen)
            import pandas as pd
            if isinstance(df, pd.Series):
                new_name = None if df.name is None else str(df.name)
                if new_name != smeta["name"]:
                    raise SchemaException(
                        f"append to series symbol {symbol!r}: name "
                        f"{smeta['name']!r} != appended name {new_name!r}")
        in_rows = _pandas_nrows(df)
        if in_rows == 0:
            # appending an empty frame/series only increments the version
            # number — data, schema and index untouched; metadata is the
            # new version's verbatim (reference test_append.py:803
            # test_append_empty_frame_metadata, test_empty_column_type.py
            # TestAppendAndUpdateWithEmptyToColumnOnlyIncrementsVersionNumber
            # — incl. "empty df does not create new columns in dynamic
            # schema"). Index kind / dtype of the empty input carry no
            # opinion, so none of the usual validation applies.
            m = VersionManifest(
                symbol, self._next_version(symbol), time.time_ns(),
                prev.index_column, prev.schema_json, prev.files,
                metadata, sorted=prev.sorted, norm_meta=prev.norm_meta,
                base_version=prev.version)
            if compact_data:
                # an empty append with compact_data=True still compacts the
                # EXISTING data inside this version (reference
                # test_append_compact_data.py
                # test_append_empty_frame_compacts_existing_data)
                m = self._apply_append_compaction(prev, m, 0)
            out = self._commit(m)
            if self._resolve_prune(prune_previous_versions):
                self.prune_previous_versions(symbol)
            return out
        if prev.total_rows == 0 and in_rows:
            # the first non-empty append onto an EMPTY symbol decides the
            # column types AND the index type (reference
            # test_empty_column_type.py TestCanAppendToEmptyColumn: "the
            # type of the columns, including the index column, is decided
            # after the first append") — write-like replace continuing the
            # version chain
            return self.write(symbol, df, metadata=metadata,
                              prune_previous=prune_previous_versions,
                              validate_index=validate_index)
        if rmeta.get("index_type") == "range":
            # reference test_append.py test_append_range_index: a stored
            # non-default RangeIndex only accepts the exact continuation
            # (same step, start == stored start + step * rows)
            import pandas as pd
            if isinstance(df, (pd.DataFrame, pd.Series)) and isinstance(
                    df.index, pd.RangeIndex):
                exp_start = rmeta["start"] + rmeta["step"] * prev.total_rows
                if (df.index.step != rmeta["step"]
                        or df.index.start != exp_start):
                    raise ArcticException(
                        f"append to {symbol!r}: RangeIndex must continue the "
                        f"stored index (expected start={exp_start}, "
                        f"step={rmeta['step']}; got start={df.index.start}, "
                        f"step={df.index.step})")
        elif prev.index_column is None and rmeta.get("index_type") is None:
            # default row-count symbol (reference hypothesis test_append.py
            # TestAppendHypothesis.test_ forbidden-append rows): the row
            # numbers are implicit, so only a default-shaped RangeIndex may
            # append; a step change, a non-range integer index, or a
            # different index KIND raises instead of silently dropping or
            # reinterpreting the incoming index (NormalizationException /
            # E_INCOMPATIBLE_INDEX upstream)
            import pandas as pd
            if isinstance(df, (pd.DataFrame, pd.Series)):
                idx = df.index
                if isinstance(idx, pd.RangeIndex):
                    if idx.step != 1:
                        raise ArcticException(
                            f"append to {symbol!r}: RangeIndex step "
                            f"{idx.step} does not match the stored "
                            "row-count index (step 1)")
                elif isinstance(idx, (pd.DatetimeIndex, pd.MultiIndex)):
                    raise SchemaException(
                        f"append to {symbol!r}: E_INCOMPATIBLE_INDEX — "
                        f"cannot append a {type(idx).__name__} frame to a "
                        "row-count-indexed symbol")
                elif idx.name is None:
                    # an unnamed non-range index would be silently dropped
                    # by positional normalization — refuse like the
                    # reference ("does not make a range index")
                    raise ArcticException(
                        f"append to {symbol!r}: the frame's index "
                        f"({type(idx).__name__}) is not a range index and "
                        "cannot extend a row-count-indexed symbol")
        chunk_sorted = self._input_sortedness(df)
        if (validate_index
                and (prev.sorted in ("DESCENDING", "UNSORTED")
                     or chunk_sorted in ("DESCENDING", "UNSORTED"))):
            # reference UnsortedDataException: appending to/with datetime
            # data that is not sorted ascending requires
            # validate_index=False (UNKNOWN = non-ts index, never raises)
            raise UnsortedDataException(
                f"append to {symbol!r}: existing or new data is "
                f"{prev.sorted if prev.sorted != 'ASCENDING' else chunk_sorted}"
                " (pass validate_index=False to append anyway)")
        idx = prev.index_column
        sdf = self._normalize(df, idx)
        if idx is not None and idx not in sdf.columns:
            # reference StreamDescriptorMismatch naming the index column
            # (hypothesis test_append.py
            # test_regular_append_dynamic_schema_named_index): an appended
            # frame whose index does not normalize to the stored index
            # column must fail cleanly, not leak an unresolved-column error
            raise SchemaException(
                f"append to {symbol!r}: the stored index column {idx!r} is "
                f"missing from the incoming frame (columns: {sdf.columns})")
        phys_idx = rmeta.get("physical")
        if idx is None and phys_idx:
            # a physically-stored NON-timestamp index (named, or the fake
            # "index" of an unnamed int/str pandas Index): the incoming
            # frame's index must normalize to the same physical column(s) —
            # the reference raises a descriptor mismatch otherwise instead
            # of silently dropping the incoming index
            plist = phys_idx if isinstance(phys_idx, list) else [phys_idx]
            missing = [p for p in plist if p not in sdf.columns]
            if missing:
                raise SchemaException(
                    f"append to {symbol!r}: E_INCOMPATIBLE_INDEX — the "
                    f"stored index column(s) {missing} are missing from the "
                    f"incoming frame (columns: {sdf.columns})")
        out_norm_meta = self._uint64_meta_for(prev, sdf.meta, sdf.schema,
                                             "append")
        sdf = self._align_index_phys(sdf, idx, prev)
        sdf = self._encode_dict_columns(symbol, sdf)
        if self.dynamic_schema:
            schema_json = self._merge_schema(prev.schema_json, sdf.schema)
        else:
            schema_json = self._validate_static_schema(prev.schema_json,
                                                       sdf.schema, "append")
        import pandas as _pd
        new_files = self._write_data_files(
            symbol, self._drop_void(sdf), idx,
            sort=(chunk_sorted == "ASCENDING"),
            rows_hint=(len(df) if isinstance(df, (_pd.DataFrame, _pd.Series))
                       else None))
        overlap = False
        if idx and new_files and prev.ts_max is not None:
            mins = [f.ts_min for f in new_files if f.ts_min is not None]
            if mins and min(mins) < prev.ts_max:
                overlap = True
        if overlap and validate_index:
            raise UnsortedDataException(
                f"append index range [{min(mins)}] overlaps existing max {prev.ts_max}")
        # reference sortedness state machine (test_append.py
        # test_append_mix_*): ASC+ASC (no overlap) -> ASC; DESC+DESC ->
        # DESC (per-chunk status merge — the reference does NOT recheck
        # the global sequence); any mix or UNSORTED side -> UNSORTED
        if idx is None:
            out_sorted = "UNKNOWN"   # rowcount symbols have no order claim
        elif (prev.sorted == "ASCENDING" and chunk_sorted == "ASCENDING"
                and not overlap):
            out_sorted = "ASCENDING"
        elif prev.sorted == "DESCENDING" and chunk_sorted == "DESCENDING":
            out_sorted = "DESCENDING"
        else:
            out_sorted = "UNSORTED"
        m = VersionManifest(symbol, self._next_version(symbol), time.time_ns(), idx,
                            schema_json, _renumber(prev.files + new_files),
                            metadata,  # per-version, verbatim (None clears;
                            # reference test_append_empty_frame_metadata)
                            sorted=out_sorted, norm_meta=out_norm_meta,
                            base_version=prev.version)
        if compact_data:
            # inline compaction is part of the SAME version (reference
            # append_internal — test_append_compact_data.py pins
            # vit.version == 1 after write + append(compact_data=True))
            m = self._apply_append_compaction(
                prev, m, sum(f.rows for f in new_files))
        out = self._commit(m)
        if self._resolve_prune(prune_previous_versions):
            self.prune_previous_versions(symbol)
        return out

    def _apply_append_compaction(self, prev: "VersionManifest",
                                 m: "VersionManifest",
                                 frame_rows: int) -> "VersionManifest":
        """Rewrite the uncommitted append manifest per append_compact_plan
        (plans/compact.py): the appended frame counts as ONE row slice, the
        boundary group absorbs its leading rows, the remainder is resliced
        by ReslicingInfo — so the committed layout matches the reference's
        inline CompactDataClause (version_core.cpp:3155-3320)."""
        from arcticdb_spark.plans.compact import append_compact_plan
        slices = [(fe.row_start, fe.row_start + fe.rows)
                  for fe in prev.files]
        plan = append_compact_plan(slices, frame_rows, self.rows_per_file)
        if plan is None:
            return m
        by_start = {fe.row_start: fe for fe in m.files}
        out_files: list[FileEntry] = []
        for entry in plan:
            if entry[0] == "keep":
                out_files.append(by_start[entry[1]])
            else:
                _, s, e, sizes = entry
                group = [fe for fe in m.files
                         if fe.row_start < e and fe.row_start + fe.rows > s]
                out_files.extend(self._rewrite_group(m, group, s, sizes,
                                                     end=e))
        m.files = _renumber(out_files)
        return m

    def _append_ndarray(self, symbol: str, prev: "VersionManifest", arr,
                        metadata) -> "VersionManifest":
        """Append along axis 0 of a stored ndarray (reference
        test_append.py test_append_numpy_array): trailing dimensions must
        match; the flat row-major layout makes axis-0 concat a plain file
        append with continued ``__pos__``."""
        import numpy as np
        import pandas as pd
        if not isinstance(arr, np.ndarray):
            raise ArcticException(
                f"{symbol!r} holds an ndarray: append takes an ndarray")
        nm = dict(prev.norm_meta)
        old_shape = list(nm["shape"])
        if list(arr.shape[1:]) != old_shape[1:]:
            raise ArcticException(
                f"ndarray append shape mismatch: {old_shape} vs "
                f"{list(arr.shape)} (trailing dimensions must match)")
        if str(arr.dtype) != nm["dtype"]:
            raise ArcticException(
                f"ndarray append dtype mismatch: {nm['dtype']} vs {arr.dtype}")
        offset = int(np.prod(old_shape)) if old_shape else 0
        flat = arr.reshape(-1)
        pdf = pd.DataFrame({"__pos__": np.arange(offset, offset + flat.size,
                                                 dtype=np.int64),
                            "ndarray": flat})
        if flat.size == 0:
            # inference needs data — same zero-row path as write()
            sdf = self.spark.createDataFrame(
                pdf, schema=_schema_from_pandas_dtypes(pdf))
        else:
            sdf = self.spark.createDataFrame(pdf)
        new_files = self._write_data_files(symbol, sdf, None, sort=False)
        nm["shape"] = [old_shape[0] + int(arr.shape[0])] + old_shape[1:] \
            if old_shape else [int(arr.shape[0])]
        m = VersionManifest(symbol, self._next_version(symbol), time.time_ns(),
                            None, prev.schema_json,
                            _renumber(prev.files + new_files),
                            metadata, norm_meta=nm,
                            base_version=prev.version)
        return self._commit(m)

    @_kwargs_contract("update", frozenset({"dynamic_strings", "dynamic_schema", "coerce_columns", "prune_previous_version"}))
    def update(self, symbol: str, df, date_range: tuple | None = None,
               metadata: Any = None, upsert: bool = False,
               prune_previous_versions: bool | None = None,
               index_column: str | None = None,
               coerce_columns: dict | None = None) -> VersionManifest:
        """Range surgery (``version_core.cpp:587``): delete the index range
        covered by ``df`` (or the given range), splice the new rows in.
        Only files overlapping the range are rewritten: on the driver with
        pyarrow (``_splice``), or with Spark when a file is on another
        schema epoch or of a type arrowwrite does not write, or the files
        pass the driver read cap. A pandas frame's new rows and index
        bounds cost no Spark job either.

        ``upsert=True`` creates the symbol when it doesn't exist (reference
        ``library.py:1520``); zero-row input leaves the data untouched but
        still commits a new version with the given metadata (reference
        test_update.py test_update_empty_frame_metadata).
        ``index_column`` is accepted for signature parity: updates
        normalize against the STORED index column."""
        df = _apply_coerce_columns(df, coerce_columns)
        import pandas as pd
        try:
            prev = self._load_manifest(symbol, self._load_ref(symbol)["latest"])
        except NoSuchVersionException:
            if not upsert:
                raise ArcticException(
                    f"Cannot update: symbol {symbol!r} does not exist; pass "
                    "upsert=True to create it")
            return self.write(symbol, df, metadata=metadata,
                              prune_previous=prune_previous_versions)
        if self._is_pickled(prev):
            raise ArcticException(f"cannot update pickled symbol {symbol!r}")
        self._reject_categorical(prev, df, "update")
        in_rows = _pandas_nrows(df)
        if in_rows == 0:
            # zero-row update: data untouched (even with a date_range —
            # reference test_update.py
            # test_empty_dataframe_with_daterange_does_not_delete_data),
            # but the version number still increments and the metadata is
            # set verbatim (test_update_empty_frame_metadata,
            # test_empty_dataframe_increases_version)
            m = VersionManifest(
                symbol, self._next_version(symbol), time.time_ns(),
                prev.index_column, prev.schema_json, prev.files,
                metadata, sorted=prev.sorted, norm_meta=prev.norm_meta,
                base_version=prev.version)
            out = self._commit(m)
            if self._resolve_prune(prune_previous_versions):
                self.prune_previous_versions(symbol)
            return out
        if prev.total_rows == 0 and in_rows:
            # updating an EMPTY symbol decides the column AND index types
            # (reference test_empty_column_type.py TestCanUpdateEmptyColumn)
            return self.write(symbol, df, metadata=metadata,
                              prune_previous=prune_previous_versions)
        idx = prev.index_column
        if idx is None:
            raise ArcticException("update requires a timestamp-indexed symbol")
        if prev.sorted != "ASCENDING":
            # range surgery needs an ascending symbol (reference
            # UnsortedDataException on update of unsorted data)
            raise UnsortedDataException(
                f"update of {symbol!r}: symbol is {prev.sorted}")
        sdf = self._normalize(df, idx)
        if idx is not None and idx not in sdf.columns:
            # reference StreamDescriptorMismatch naming the index column
            # (hypothesis test_append.py
            # test_regular_append_dynamic_schema_named_index): an appended
            # frame whose index does not normalize to the stored index
            # column must fail cleanly, not leak an unresolved-column error
            raise SchemaException(
                f"update to {symbol!r}: the stored index column {idx!r} is "
                f"missing from the incoming frame (columns: {sdf.columns})")
        out_norm_meta = self._uint64_meta_for(prev, sdf.meta, sdf.schema,
                                             "update")
        if sdf.pdf is None and not sdf.frame().head(1):  # pandas: see above
            return prev  # zero-row update: nothing done, no new version
        sdf = self._align_index_phys(sdf, idx, prev)
        sdf = self._encode_dict_columns(symbol, sdf)
        if self.dynamic_schema:
            schema_json = self._merge_schema(prev.schema_json, sdf.schema)
        else:
            schema_json = self._validate_static_schema(prev.schema_json,
                                                       sdf.schema, "update")
        if date_range is not None:
            # open-ended bounds (reference supports them): normalize to the
            # representable ns extremes so the keep/rewrite split and the
            # boundary filter below stay plain int/timestamp comparisons
            lo, hi = _norm_range_ns(date_range)
            sdf = _spark(sdf)
            sdf = sdf.filter(F.col(idx).between(
                _idx_bound(sdf, idx, lo), _idx_bound(sdf, idx, hi)))
        else:
            # the index bounds from the arrow table while the input needs
            # no transform (no job); else from Spark
            tbl = sdf.table if isinstance(sdf, aw.Normalized) else None
            mm = (list(pc.min_max(tbl[idx]).as_py().values())
                  if tbl is not None and tbl[idx].type == pa.int64()
                  else _spark(sdf).agg(F.min(idx), F.max(idx)).first())
            if pd.isna(mm[0]):
                return prev
            lo, hi = pd.Timestamp(mm[0]).value, pd.Timestamp(mm[1]).value
        below, above = self._splice(prev, lo, hi)
        new_entries = self._write_data_files(
            symbol, self._drop_void(sdf), idx,
            rows_hint=(len(df) if isinstance(df, (pd.DataFrame, pd.Series))
                       else None))
        m = VersionManifest(symbol, self._next_version(symbol), time.time_ns(), idx,
                            schema_json, _renumber(below + new_entries + above),
                            metadata,  # per-version, verbatim (None clears;
                            # reference test_update_empty_frame_metadata)
                            norm_meta=out_norm_meta,
                            base_version=prev.version)
        out = self._commit(m)
        if self._resolve_prune(prune_previous_versions):
            self.prune_previous_versions(symbol)
        return out

    def merge_experimental(self, symbol: str, source, strategy=None,
                           on: list | None = None, metadata: Any = None,
                           prune_previous_versions: bool | None = None,
                           upsert: bool = False) -> VersionManifest:
        """SQL-MERGE into an existing symbol (reference ``library.py``
        merge_experimental; kernel ``clause_merge_update.cpp``): rows are
        matched on the index plus the optional ``on`` columns, matched rows
        take the source's values, unmatched source rows insert per
        ``strategy``. ``upsert=True`` creates the symbol when missing.

        The heavy lifting is the clause-level ``operators.merge_update``
        join (broadcast when the correction batch is small, sort-merge +
        AQE otherwise); this wrapper versions the result. The rewrite is
        O(table) — at large scale, restrict first with date_range reads or
        use ``merge_update`` on raw frames bucketed by time."""
        from arcticdb_spark.operators.merge_update import merge_update
        strategy = strategy or MergeStrategy()
        matched = str(strategy.matched).lower()
        nmbt = str(strategy.not_matched_by_target).lower()
        try:
            prev = self._load_manifest(symbol, self._load_ref(symbol)["latest"])
        except NoSuchVersionException:
            if not upsert:
                raise ArcticException(
                    f"Cannot merge: symbol {symbol!r} does not exist; pass "
                    "upsert=True to create it")
            return self.write(symbol, source, metadata=metadata,
                              prune_previous=prune_previous_versions)
        if self._is_pickled(prev):
            raise ArcticException(f"cannot merge into pickled symbol {symbol!r}")
        idx = prev.index_column
        if idx is None:
            raise ArcticException(
                "merge_experimental requires a timestamp-indexed symbol")
        src = self._normalize(source, idx)
        # uint64 source columns: bit patterns join/compare exactly against
        # the stored patterns, but a signed<->uint64 flip must not slip
        # through (same rule as append/update)
        self._uint64_meta_for(prev, src.meta, src.schema, "merge")
        src = self._align_index_phys(src, idx, prev)
        src = _spark(self._encode_dict_columns(symbol, src))
        target = self._read_physical(prev)
        keys = [idx] + [c for c in (on or []) if c != idx]
        if matched == "update":
            merged = merge_update(target, src, on=keys,
                                  upsert=(nmbt == "insert"))
        elif matched == "do_nothing" and nmbt == "insert":
            inserts = src.join(target.select(keys).distinct(), keys,
                               "left_anti")
            merged = target.unionByName(inserts, allowMissingColumns=True)
        else:
            raise ArcticException(
                f"unsupported MergeStrategy(matched={strategy.matched!r}, "
                f"not_matched_by_target={strategy.not_matched_by_target!r})")
        files = self._write_data_files(symbol, self._drop_void(merged), idx)
        # metadata is per-version VERBATIM (reference merge builds a fresh
        # tsd from the call's user_meta, version_core.cpp:3141 — None
        # clears, exactly like write/append/update)
        m = VersionManifest(symbol, self._next_version(symbol), time.time_ns(), idx,
                            merged.schema.json(), files, metadata,
                            norm_meta=prev.norm_meta)
        out = self._commit(m)
        if self._resolve_prune(prune_previous_versions):
            self.prune_previous_versions(symbol)
        return out

    def delete_data_in_range(self, symbol: str, date_range: tuple,
                             prune_previous_versions: bool | None = None
                             ) -> VersionManifest:
        """(``library.py:2750``) — like update with no new rows: the files
        overlapping the range are rewritten on the driver with pyarrow
        (``_splice``), or with Spark when a file is on another schema
        epoch or of a type arrowwrite does not write, or the files pass
        the driver read cap. The symbol must be ASCENDING (reference
        UnsortedDataException, as for update).
        ``prune_previous_versions`` tombstones the pre-delete versions
        (reference test_deletion.py
        test_delete_date_range_with_prune_previous)."""
        prev = self._load_manifest(symbol, self._load_ref(symbol)["latest"])
        if self._is_pickled(prev) or self._is_recursive(prev):
            # reference InternalException (test_deletion.py
            # test_delete_date_range_pickled_symbol): pickled data has no
            # index to range-delete by
            raise ArcticException(
                f"cannot delete a date range of pickled/recursive symbol "
                f"{symbol!r}")
        idx = prev.index_column
        if idx is None:
            raise ArcticException(
                f"{symbol!r} has no datetime index: delete_data_in_range "
                "requires a timestamp-indexed symbol")
        if prev.sorted != "ASCENDING":
            raise UnsortedDataException(
                f"delete_data_in_range of {symbol!r}: symbol is "
                f"{prev.sorted}")
        below, above = self._splice(prev, *_norm_range_ns(date_range))
        m = VersionManifest(symbol, self._next_version(symbol), time.time_ns(), idx,
                            prev.schema_json, _renumber(below + above),
                            prev.metadata, norm_meta=prev.norm_meta,
                            base_version=prev.version)
        out = self._commit(m)
        if self._resolve_prune(prune_previous_versions):
            self.prune_previous_versions(symbol)
        return out

    # ---- read path ----
    def _resolve_version(self, symbol: str, as_of,
                         iterate_snapshots_if_tombstoned: bool = True
                         ) -> VersionManifest:
        import numbers
        if (isinstance(as_of, numbers.Integral)
                and not isinstance(as_of, bool)):
            as_of = int(as_of)  # numpy integer version requests
        if isinstance(as_of, str):
            # snapshot reads resolve WITHOUT the version ref: a deleted
            # symbol stays readable through a snapshot that pins it
            # (reference library.py:2677 — delete "may not actually delete
            # the underlying data if a snapshot still references it")
            snap = self._load_snapshot(as_of)
            if symbol not in snap["symbols"]:
                raise NoSuchVersionException(
                    f"{symbol!r} not in snapshot {as_of!r}")
            v = snap["symbols"][symbol]
            return self._load_manifest(symbol, v)
        if isinstance(as_of, int):
            try:
                ref = self._load_ref(symbol)
            except NoSuchVersionException:
                # symbol deleted; only snapshot-pinned manifests remain —
                # version-number reads of those still succeed (reference
                # v1 default iterate_snapshots_if_tombstoned=True,
                # test_deletion.py test_delete_snapshot: "Should not raise
                # as it exists in a snapshot"); the v2 Library passes
                # False and gets the reference's NoDataFoundException
                # behavior (test_delete_version_with_snapshot)
                if as_of < 0 or not iterate_snapshots_if_tombstoned:
                    raise
                return self._load_manifest(symbol, as_of)
            if as_of < 0:
                # negative = arithmetic back from the latest VERSION NUMBER
                # (reference test_basic_version_store.py:2025-2029: with
                # versions 0,1,2-deleted,3: -1 -> 3, -2 -> not found,
                # -3 -> 1); a deleted landing spot raises below like any
                # direct version-number read
                as_of = ref["latest"] + 1 + as_of
                if as_of < 0:
                    raise NoSuchVersionException(
                        f"{symbol!r} version {as_of - ref['latest'] - 1} "
                        "not found")
            if as_of in set(ref.get("deleted", [])):
                if (iterate_snapshots_if_tombstoned
                        and self._is_pinned(symbol, as_of)):
                    return self._load_manifest(symbol, as_of)
                raise NoSuchVersionException(
                    f"{symbol!r} version {as_of} was deleted")
            return self._load_manifest(symbol, as_of)
        ref = self._load_ref(symbol)
        deleted = set(ref.get("deleted", []))
        if as_of is None:
            v = ref["latest"]
        else:  # timestamp: newest version created at/before it
            import pandas as pd
            cutoff = pd.Timestamp(as_of).value
            best = None
            for vv in self._list_version_numbers(symbol):
                if vv in deleted:
                    continue
                try:
                    mm = self._load_manifest(symbol, vv)
                except NoSuchVersionException:
                    continue   # GC tombstone: number reserved, version gone
                if mm.created_ns <= cutoff and (best is None or vv > best.version):
                    best = mm
            if best is None:
                raise NoSuchVersionException(
                    f"no version of {symbol!r} at or before {as_of}")
            return best
        if v in deleted:
            raise NoSuchVersionException(f"{symbol!r} version {v} was deleted")
        return self._load_manifest(symbol, v)

    def _list_version_numbers(self, symbol) -> list[int]:
        d = self._fs.join(self._sym_dir(symbol), "_versions")
        if not self._fs.isdir(d):
            return []
        return sorted(int(fn[1:-5]) for fn in self._fs.listdir(d)
                      if fn.startswith("v") and fn.endswith(".json"))

    @_kwargs_contract("read", _VALID_READ_KWARGS
                      | {"implement_read_index", "allow_secondary"})
    def read(self, symbol: str, as_of=None, date_range: tuple | None = None,
             row_range: tuple | None = None, columns: list[str] | None = None,
             query_builder=None, with_row_ids: bool = False,
             lazy: bool = False, output_format: str | None = None,
             incomplete: bool = False, _raw: bool = False,
             iterate_snapshots_if_tombstoned: bool = True):
        """Versioned scan with manifest-side pruning (``library.py:2022``).

        Pruning happens before Spark sees a path: date_range drops files by
        manifest ts-range (the reference's index-segment filter), row_range /
        head / tail drop files by cumulative row offsets. Remaining filters
        are applied as Spark filters (=> Parquet row-group pruning).

        ``lazy=True`` returns a LazyDataFrame (reference library.py:442) to
        chain further clauses; ``output_format`` in {"spark", "pandas",
        "arrow"} (reference OutputFormat, options.py:170-196).

        Where the rows are read: a "pandas", "arrow" or "polars" read
        (``as_of``, ``date_range``, ``row_range``, ``columns`` and
        ``with_row_ids`` included) reads the pruned files on the driver
        with pyarrow and runs no Spark job (``_scan_files_arrow``). It
        falls back to the Spark scan when a file is on another schema
        epoch than the manifest or a selected dictionary column's sidecar
        is too large to decode on the driver. With a ``query_builder`` the
        clauses then run on the scanned table (``arrowquery.run``: filter,
        project, groupby and resample with sum/mean/min/max/count/first/
        last) unless the pruned files exceed ``_DRIVER_READ_BYTES_MAX``
        bytes, ``with_row_ids`` is set or ``arrowquery`` declines
        (head/tail/row_range clauses, uint64 columns, pipelines that
        raise); those run on Spark, as do "spark" / "spark-ns" output,
        ``lazy`` and ``incomplete`` reads. Both paths feed the same output
        finisher.

        ``incomplete=True`` unions the committed version with the staged
        chunks, read like ``finalize_staged_data`` reads them: each
        chunk's sidecar and each staged footer are read once on the
        driver, and the files are scanned grouped by schema and cast to
        one promoted schema (float32 and float64 chunks read as float64),
        with no Spark job to infer or merge the schemas."""
        import pandas as pd
        output_format = self._resolve_output_format(output_format)
        if date_range is not None and row_range is not None:
            # reference _store.py:2221: "Date range and row range both
            # specified" is a user error — and the absolute-rowid row_range
            # would intersect wrongly with the date filter anyway
            raise ArcticException("Date range and row range both specified")
        if incomplete:
            # the incomplete path forwards only as_of/date_range/columns/
            # query_builder — raise on anything it would silently drop
            if row_range is not None or with_row_ids or lazy:
                raise ArcticException(
                    "read(incomplete=True) supports as_of/date_range/"
                    "columns/query_builder only (row_range, with_row_ids "
                    "and lazy are unsupported with incompletes)")
            return self._read_with_incompletes(
                symbol, as_of=as_of, date_range=date_range, columns=columns,
                query_builder=query_builder, output_format=output_format)
        if lazy:
            from arcticdb_spark.lazy import LazyDataFrame
            ldf = LazyDataFrame(self, symbol, dict(
                as_of=as_of, date_range=date_range, row_range=row_range,
                columns=columns, output_format=output_format))
            if query_builder is not None:
                # a query_builder passed alongside lazy=True seeds the chain
                # (reference: ReadRequest.query_builder with lazy reads)
                ldf._clauses = list(query_builder._clauses)
            return ldf
        m = self._resolve_version(symbol, as_of,
                                  iterate_snapshots_if_tombstoned)
        cmeta = (m.norm_meta.get("custom")
                 if isinstance(m.norm_meta, dict) else None)
        if cmeta is not None and not _raw:
            # custom-normalized symbols are opaque (like pickled ones):
            # read the stored form, then the registered normalizer rebuilds
            # the original object (reference CompositeCustomNormalizer
            # denormalize, _custom_normalizers.py:101)
            if (query_builder is not None or date_range is not None
                    or row_range is not None or columns is not None
                    or with_row_ids):
                raise ArcticException(
                    f"{symbol!r} is a custom-normalized symbol: queries/"
                    "slicing/column selection are unsupported")
            from arcticdb_spark import normalizers as _cn
            inner = self.read(symbol, as_of=m.version,
                              output_format="pandas", _raw=True)
            return _cn.apply_custom_denormalize(inner, cmeta)
        if self._is_recursive(m):
            if (query_builder is not None or date_range is not None
                    or row_range is not None or columns is not None):
                raise ArcticException(
                    f"{symbol!r} is a recursively-normalized structure: "
                    "queries/slicing/column selection are unsupported")
            return self._read_recursive(m, output_format)
        if self._is_pickled(m):
            if (query_builder is not None or date_range is not None
                    or row_range is not None or columns is not None):
                raise ArcticException(
                    f"{symbol!r} is pickled data: queries/slicing/column "
                    "selection are unsupported (reference: pickled symbols "
                    "are opaque)")
            return self._read_pickled(m)
        if (m.norm_meta or {}).get("index_type") == "ndarray":
            if (query_builder is not None or date_range is not None
                    or row_range is not None or columns is not None):
                raise ArcticException(
                    f"{symbol!r} is an ndarray symbol: queries/slicing/"
                    "column selection are unsupported")
        files = list(m.files)
        idx = m.index_column
        if date_range is not None and idx is None:
            # reference raises InternalException for a date_range read of a
            # non-datetime-indexed symbol (test_date_range.py
            # test_read_date_range_not_date_time_dataframe)
            raise ArcticException(
                f"{symbol!r} has no datetime index: date_range is unsupported")
        if date_range is not None and m.sorted != "ASCENDING":
            # reference UnsortedDataException (test_date_range.py
            # test_read_unsorted_date_range_dataframe); DESCENDING counts —
            # the index-segment filter assumes ascending ranges
            raise UnsortedDataException(
                f"{symbol!r} is {m.sorted}: date_range reads require an "
                "ascending-sorted symbol (repair via sort_index)")

        if query_builder is not None and date_range is not None:
            # a data-relative resample origin (start/end/..._day) is
            # ambiguous under a read-level date_range — the reference raises
            # UserInputException (test_non_epoch_origin_throws_with_daterange);
            # explicit "epoch" or a concrete timestamp origin is fine
            for kind_, args_ in getattr(query_builder, "_clauses", []):
                if (kind_ == "resample_agg"
                        and args_.get("origin") in ("start", "start_day",
                                                    "end", "end_day")):
                    raise ArcticException(
                        f"resample origin {args_['origin']!r} cannot be "
                        "combined with a date_range read")
        if query_builder is not None and (date_range is not None
                                          or row_range is not None):
            # Reference semantics (library.py:2022): the read-level
            # date_range/row_range parameters filter BEFORE the
            # query_builder clauses run, and positional clauses then apply
            # to the *filtered* frame. Fold the params in as leading
            # clauses so the clause kernels' ROW_ID invalidation /
            # re-resolution logic runs — applying them as absolute-rowid
            # post-filters would intersect wrongly with positional clauses
            # (e.g. date_range + head(5) would return empty).
            import copy
            query_builder = copy.copy(query_builder)
            pre = []
            if date_range is not None:
                pre.append(("date_range", {"range": date_range}))
            if row_range is not None:
                pre.append(("row_range", {"range": row_range}))
            query_builder._clauses = pre + list(query_builder._clauses)
            param_date_range = date_range
            date_range = row_range = None
        else:
            param_date_range = None

        lo_ns = hi_ns = None
        dr = date_range if date_range is not None else param_date_range
        if dr is not None:
            lo_ns = pd.Timestamp(dr[0]).value if dr[0] is not None else None
            hi_ns = pd.Timestamp(dr[1]).value if dr[1] is not None else None
            files = [fe for fe in files
                     if not (fe.ts_min is not None and hi_ns is not None and fe.ts_min > hi_ns)
                     and not (fe.ts_max is not None and lo_ns is not None and fe.ts_max < lo_ns)]

        # zone-map pruning: if column stats exist for this version and the
        # query starts with a filter (a leading date_range clause only
        # removes rows, so it doesn't change zone-map applicability), drop
        # files whose [min,max] ranges cannot match (reference
        # column_stats_filter.cpp Kleene evaluation)
        if query_builder is not None:
            clauses = getattr(query_builder, "_clauses", [])
            # AND-merge the LEADING run of FilterClauses (reference
            # query_planner.cpp:32-58 and_filter_expression_contexts merges
            # adjacent filters before stats evaluation) so q[a][b] prunes
            # on BOTH conjuncts. date_range clauses interleave freely —
            # they only remove rows, never change column semantics; the
            # merge stops at the first row-shape/projection clause.
            lead_filter_exprs = []
            for kind_c, args_c in clauses:
                if kind_c == "date_range":
                    continue
                if kind_c == "filter":
                    lead_filter_exprs.append(args_c["expr"])
                    continue
                break
            if lead_filter_exprs:
                stats = self.get_column_stats(symbol, as_of=as_of)
                if stats:
                    from arcticdb_spark.expr import BinaryOp
                    from arcticdb_spark.plans.stats_prune import \
                        prune_files_by_stats
                    merged = lead_filter_exprs[0]
                    for e in lead_filter_exprs[1:]:
                        merged = BinaryOp("AND", merged, e)
                    files = prune_files_by_stats(
                        files, stats, merged,
                        uint64_cols=frozenset(
                            (m.norm_meta or {}).get("uint64") or ()),
                        skip_cols=frozenset(self.dictionary_columns))
            # positional pruning for a LEADING head/tail/row_range clause:
            # cumulative row offsets identify the files containing the
            # requested positions (reference RowRangeClause
            # structure_for_processing, clause.cpp:874-930)
            if clauses and clauses[0][0] in ("head", "tail", "row_range"):
                kind0, args0 = clauses[0]
                total = m.total_rows
                if kind0 == "head":
                    n0 = args0["n"]
                    # pandas negatives: head(-n) == iloc[:-n]
                    lo_r, hi_r = 0, (max(0, total + n0) if n0 < 0 else n0)
                elif kind0 == "tail":
                    n0 = args0["n"]
                    # pandas negatives: tail(-n) == iloc[n:]
                    lo_r = (min(total, -n0) if n0 < 0
                            else max(0, total - n0))
                    hi_r = total
                else:
                    s0, e0 = args0["range"]
                    s0 = 0 if s0 is None else (s0 + total if s0 < 0 else s0)
                    e0 = total if e0 is None else (e0 + total if e0 < 0 else e0)
                    # clamp like pandas iloc: a beyond-the-start negative
                    # (-15 on 10 rows) must become 0 here — the rewritten
                    # clause is ABSOLUTE, and a still-negative bound would
                    # be re-resolved against the pruned subtotal downstream
                    lo_r, hi_r = max(0, s0), max(0, e0)
                files = [fe for fe in files
                         if fe.row_start < hi_r and fe.row_start + fe.rows > lo_r]
                # rewrite the clause with RESOLVED bounds: the pruned frame
                # no longer spans [0, total), so positional re-resolution
                # (tail totals, negative indices) inside the clause would be
                # wrong — give it absolute row ids instead
                import copy
                query_builder = copy.copy(query_builder)
                query_builder._clauses = ([("row_range", {"range": (lo_r, hi_r)})]
                                          + clauses[1:])

        # pandas/arrow/polars outputs restore the reference's row order
        # (rows come back in WRITE order — the physical row id): a parquet
        # scan's row order is file-listing order, which scrambles
        # multi-file positional frames. Spark-format output stays unordered
        # (distributed consumers order explicitly when they care).
        order_out = (output_format in ("pandas", "arrow", "polars")
                     and query_builder is None)
        need_row_id = with_row_ids or order_out or row_range is not None or (
            query_builder is not None and any(
                k in ("head", "tail", "row_range")
                for k, _ in getattr(query_builder, "_clauses", [])))
        if row_range is not None:
            start, end = row_range
            total = m.total_rows
            start = 0 if start is None else (start + total if start < 0 else start)
            end = total if end is None else (end + total if end < 0 else end)
            files = [fe for fe in files
                     if fe.row_start < end and fe.row_start + fe.rows > start]
        # positional slicing of a RangeIndex symbol restores ORIGINAL
        # positions (reference test_read_index.py: row_range/head/tail
        # with columns=[] gives df.iloc[a:b].index, start offset and step
        # preserved) — carried in a dedicated column because the tail
        # kernel REBASES ROW_ID for clause chaining; a FILTER re-numbers
        # instead (the reference resets the rowcount index on filtered
        # reads, test_filtering generic_filter_test).
        qb_clauses = getattr(query_builder, "_clauses", []) \
            if query_builder is not None else []
        range_positions = (
            output_format == "pandas" and not with_row_ids
            and (m.norm_meta or {}).get("index_type") in (None, "range")
            and not (m.norm_meta or {}).get("series")
            and idx is None
            and (row_range is not None
                 or any(k in ("head", "tail", "row_range")
                        for k, _ in qb_clauses))
            and not any(k in ("filter", "groupby_agg", "resample_agg")
                        for k, _ in qb_clauses))

        if order_out:
            # a plain read whose rows all land on the driver anyway: read
            # the pruned files there (no Spark job, no row-id sort) unless
            # _scan_files_arrow names a structural reason to fall back.
            # With every file pruned, format like the Spark path's empty
            # branch below (no position column, undecided index honoured)
            orig_pos = range_positions and bool(files)
            local = self._scan_files_arrow(
                symbol, m, files, columns,
                None if date_range is None else (lo_ns, hi_ns),
                None if row_range is None else (start, end),
                with_row_ids, orig_pos)
            if local is not None:
                return self._format_output(
                    local, output_format, m.norm_meta,
                    undecided_index=_index_undecided(m) and not files,
                    range_positions=orig_pos, sorted_flag=m.sorted)
        elif (output_format in ("pandas", "arrow", "polars")
                and not with_row_ids and aq.eligible(query_builder)
                and not self._over_driver_cap(files)):
            # the same for a QueryBuilder read: its clauses run on the
            # scanned table (arrowquery.py) unless the scan or they decline
            local = self._scan_files_arrow(symbol, m, files, None, None,
                                           None, False, False)
            if local is not None:
                local = aq.run(qb_clauses, local, idx)
            if local is not None:
                if columns is not None:
                    local = local.select(
                        self._pipeline_columns(m, local.columns, columns))
                return self._format_output(
                    local, output_format, m.norm_meta,
                    undecided_index=_index_undecided(m) and not files,
                    group_index_cols=self._groupby_index_cols(query_builder))

        if not files:
            from pyspark.sql import types as T
            schema = T.StructType.fromJson(json.loads(m.schema_json))
            empty = self.spark.createDataFrame([], schema)
            empty = _attach_uint64_marker(empty, m.norm_meta)
            if idx and (m.norm_meta or {}).get("index_ns"):
                empty = _attach_ns_view(empty, idx)
            if columns is not None:   # columns=[] = index only (reference)
                keep = [c for c in columns if c in empty.columns]
                nm_r = m.norm_meta or {}
                idx_cols = (nm_r.get("physical")
                            if nm_r.get("index_type") == "multiindex"
                            else ([idx] if idx else []))
                for c in reversed(idx_cols or []):
                    if c in empty.columns and c not in keep:
                        keep = [c] + keep
                empty = empty.select(keep)
            empty = self._decode_dict_columns(symbol, empty)
            out = query_builder.to_df(empty, idx) if query_builder else empty
            if ROW_ID in out.columns and not with_row_ids:
                # positional clauses attach the row id even on the pruned
                # empty frame — same drop as the main return path
                out = out.drop(ROW_ID)
            return self._format_output(
                out, output_format, m.norm_meta,
                undecided_index=_index_undecided(m),
                group_index_cols=self._groupby_index_cols(query_builder))

        # scan with the manifest's schema, grouped by schema epoch
        # (_scan_files): files written before a dynamic-schema widening are
        # cast per group — no schema-merging footer sweep, no per-file branching
        # (reference reduce_and_fix_columns, version_core.cpp:2971). EMPTY
        # (void) columns are never physically stored: strip them from the
        # reader schema and re-attach as NULL literals below.
        from pyspark.sql import types as T
        mschema = T.StructType.fromJson(json.loads(m.schema_json))
        void_cols = self._void_cols(mschema)
        df = self._scan_files(m, files, self._phys_schema(m.schema_json),
                              need_row_id=need_row_id)
        df = _attach_uint64_marker(df, m.norm_meta)

        if void_cols:
            for c in void_cols:
                df = df.withColumn(c, F.lit(None))
            # restore manifest column order (ROW_ID, if any, stays last)
            df = df.select([f.name for f in mschema.fields]
                           + ([ROW_ID] if need_row_id else []))

        index_ns = bool(idx) and bool((m.norm_meta or {}).get("index_ns"))
        if date_range is not None:
            # applied on the PHYSICAL index (exact ns longs for an
            # ns-physical symbol — and the filter pushes down to the
            # parquet scan, which a filter on the derived µs view wouldn't)
            c = F.col(idx)
            if lo_ns is not None:
                df = df.filter(c >= _idx_bound(df, idx, lo_ns))
            if hi_ns is not None:
                df = df.filter(c <= _idx_bound(df, idx, hi_ns))
        if index_ns:
            df = _attach_ns_view(df, idx)
        if row_range is not None:
            df = df.filter((F.col(ROW_ID) >= start) & (F.col(ROW_ID) < end))
        post_select = None
        if columns is not None and query_builder is not None:
            # with a pipeline, selection applies to the OUTPUT — a
            # requested column may be PROJECTED by the pipeline, and the
            # pipeline may reference stored columns the user did not ask
            # for (reference test_column_select_projected_column /
            # test_filter_synthetic_column_and_select_on_disk_column).
            # Deferring costs nothing physically: Catalyst's column
            # pruning narrows the parquet ReadSchema to what the plan
            # actually uses — the Spark analog of the reference reading
            # only the needed column slices.
            post_select = list(columns)
            columns = None
        if columns is not None:
            df = df.select(self._pipeline_columns(m, df.columns, columns))
        if range_positions:
            df = df.withColumn(ORIG_POS, F.col(ROW_ID))
        # dictionary-coded columns (string-pool analogue): when the
        # pipeline is purely aggregating/positional, the int64 codes flow
        # THROUGH the groupby (hashing 8-byte longs, not UTF8 strings —
        # the measured 40% of qb_query_1's floor) and decode on the
        # k-row result; any pipeline with filter/project/resample
        # semantics decodes up front so every expression sees strings.
        dict_cols = self._dict_cols_stored(df)
        dict_fast = False
        if dict_cols:
            def _dict_safe(kind_c, args_c):
                if kind_c in ("head", "tail", "row_range", "date_range"):
                    return True   # positional/index-only: no column refs
                if kind_c != "groupby_agg":
                    return False  # filter/project/resample see strings
                # codes may serve as GROUP KEYS (equal code <=> equal
                # string, collision-checked at write) but never as an
                # aggregation INPUT: min/max/first of a hash code is not
                # min/max/first of the string
                for k_o, v_o in args_c["aggs"].items():
                    inp = v_o[0] if isinstance(v_o, (tuple, list)) else k_o
                    if inp in dict_cols:
                        return False
                return True
            dict_fast = bool(query_builder is not None and qb_clauses and all(
                _dict_safe(k, a) for k, a in qb_clauses))
            if not dict_fast:
                df = self._decode_dict_columns(symbol, df, dict_cols)
        if query_builder is not None:
            df = query_builder.to_df(df, idx)
        if dict_fast:
            df = self._decode_dict_columns(symbol, df, dict_cols)
        if post_select is not None:
            # pipeline-output column selection (see the deferral above)
            df = df.select(self._pipeline_columns(m, df.columns,
                                                  post_select))
        if ROW_ID in df.columns:
            if order_out or range_positions:
                df = df.orderBy(ROW_ID)
            if not with_row_ids:
                df = df.drop(ROW_ID)
        return self._format_output(
            df, output_format, m.norm_meta,
            range_positions=range_positions,
            group_index_cols=self._groupby_index_cols(query_builder),
            sorted_flag=(m.sorted if query_builder is None else None))

    def _read_with_incompletes(self, symbol: str, as_of=None,
                               date_range: tuple | None = None,
                               columns: list[str] | None = None,
                               query_builder=None,
                               output_format: str = "spark"):
        """Committed data unioned with staged (incomplete) chunks —
        reference ``read(..., incomplete=True)`` (test_incompletes.py): the
        live tail of a symbol whose collectors stage continuously. Works
        with no committed version at all (staged-only read); raises when
        neither committed nor staged data exists."""
        import pandas as pd
        seg_files = self._staged_segment_files(symbol)
        has_base = self.has_symbol(symbol)
        if not has_base and not seg_files:
            raise NoSuchVersionException(
                f"{symbol!r} has neither committed nor staged data")
        idx = None
        norm_meta = None
        base = None
        if has_base:
            m = self._resolve_version(symbol, as_of)
            idx = m.index_column
            norm_meta = m.norm_meta
            # explicit spark: the union below needs a Spark frame whatever
            # the library's default output format is
            base = self.read(symbol, as_of=as_of, output_format="spark")
        if seg_files:
            # the same staged records and schema-group union as finalize
            recs = self._staged_records(seg_files)
            inc = self._read_staged(recs).drop(*_STAGE_HELPERS)
            sinfo = self._staged_index_info(recs)
            # staged uint64 bit-pattern columns: marked like committed
            # reads, so the union keeps unsigned semantics and pandas
            # output restores dtype (committed side is marked by read())
            inc = _attach_uint64_marker(
                inc, {"uint64": sinfo.get("uint64"),
                      "unsigned": sinfo.get("unsigned")})
            if idx is None and not sinfo.get("no_index"):
                idx = self._detect_index(inc.schema, sinfo.get("index_column"))
            if idx is not None and _is_long_type(inc, idx) \
                    and (sinfo.get("index_ns") or (base is not None
                                                   and _is_ts_type(base, idx))):
                # staged ns chunks -> the µs view the committed side shows
                # (incomplete reads are µs-precision; the exact ns lands in
                # the timeline at finalize)
                inc = inc.withColumn(
                    idx, F.timestamp_micros(
                        F.expr(f"(`{idx}` - pmod(`{idx}`, 1000)) div 1000")))
            if base is not None:
                df = base.unionByName(inc, allowMissingColumns=True)
            else:
                df = inc
                norm_meta = self._staged_norm_meta(idx, sinfo) or None
        else:
            df = base
        if date_range is not None:
            if idx is None:
                raise ArcticException(
                    f"{symbol!r}: date_range over incompletes needs a "
                    "datetime index")
            lo, hi = date_range
            c = F.col(idx)
            if lo is not None:
                df = df.filter(c >= pd.Timestamp(lo))
            if hi is not None:
                df = df.filter(c <= pd.Timestamp(hi))
        if columns:
            keep = list(columns)
            if idx and idx not in keep:
                keep = [idx] + keep
            df = df.select([c for c in keep if c in df.columns])
        if query_builder is not None:
            df = query_builder.to_df(df, idx)
        return self._format_output(
            df, output_format, norm_meta,
            group_index_cols=self._groupby_index_cols(query_builder))

    @staticmethod
    def _pipeline_columns(m: "VersionManifest", have: list,
                          columns: list) -> list:
        """A column selection from ``have``: the requested names present
        (missing ones are ignored like the reference, read_pipeline.hpp:125;
        with a pipeline they may be projected), the index forced in front
        (version_core.cpp:1285; every level of a MultiIndex, so
        ``columns=[]`` still restores it), then the ns shadow and the
        row-id / position helpers."""
        keep = [c for c in columns if c in have]
        nm = m.norm_meta or {}
        idx = m.index_column
        idx_cols = (nm.get("physical") if nm.get("index_type")
                    == "multiindex" else ([idx] if idx else []))
        for c in reversed(idx_cols or []):
            if c in have and c not in keep:
                keep = [c] + keep
        helpers = [ns_shadow_col(idx)] if idx else []
        return keep + [c for c in helpers + [ROW_ID, ORIG_POS] if c in have]

    @staticmethod
    def _groupby_index_cols(query_builder) -> list | None:
        """Reference groupby presentation: the grouping column becomes the
        pandas-output INDEX (reference pipeline sets the output index to
        the group key — test_query_builder_sparse.py test_groupby compares
        against ``df.groupby(col).agg(...)`` directly). The LAST
        groupby_agg in the clause chain decides; multi-key (extension)
        restores a MultiIndex."""
        keys = None
        for kind_c, args_c in getattr(query_builder, "_clauses", None) or []:
            if kind_c == "groupby_agg":
                k = args_c["keys"]
                keys = [k] if isinstance(k, str) else list(k)
        return keys

    @staticmethod
    def _format_output(df: DataFrame, output_format: str, norm_meta=None,
                       undecided_index: bool = False,
                       group_index_cols: list | None = None,
                       range_positions: bool = False,
                       sorted_flag: str | None = None):
        """Collect ``df`` and finish it for ``output_format``. ``df`` is a
        Spark DataFrame or the driver scan's ``arrowread.LocalFrame``; both
        collect through ``toPandas()`` / ``toArrow()`` and feed the one
        finisher per format (``_finish_pandas`` / ``_finish_arrow``)."""
        if norm_meta and norm_meta.get("index_type") == "ndarray":
            # reference NdArrayNormalizer.denormalize: reshape the flat
            # column back to the stored shape — for every output format
            # (like pickled symbols, an ndarray symbol reads back as the
            # original object, never a frame)
            import numpy as np
            pdf = df.toPandas().sort_values("__pos__")
            arr = pdf["ndarray"].to_numpy()
            return np.asarray(arr, dtype=norm_meta["dtype"]).reshape(
                tuple(norm_meta["shape"]))
        shadows = [c for c in df.columns if c.startswith(NS_SHADOW_PREFIX)]
        if output_format in (None, "spark"):
            # Spark's type system is µs — distributed consumers get the µs
            # view; use "spark-ns" for the exact LONG-ns index
            return df.drop(*shadows) if shadows else df
        if output_format == "spark-ns":
            # exact representation for distributed consumers: the index
            # column AS its physical int64 ns (NaT -> NULL), no µs view
            for s in shadows:
                tgt = s[len(NS_SHADOW_PREFIX):]
                df = (df.withColumn(tgt, F.nullif(F.col(s),
                                                  F.lit(NAT_SENTINEL)))
                        .drop(s))
            return df
        if output_format == "pandas":
            return Library._finish_pandas(
                df.toPandas(), _uint64_output_cols(df), shadows, norm_meta,
                undecided_index, group_index_cols, range_positions)
        if output_format == "arrow":
            return Library._finish_arrow(
                df.toArrow(), _uint64_output_cols(df), shadows, norm_meta)
        if output_format == "polars":
            try:
                import polars as pl
            except ImportError as e:
                raise ArcticException(
                    "output_format='polars' requires the polars package") from e
            out = pl.from_arrow(Library._finish_arrow(
                df.toArrow(), _uint64_output_cols(df), shadows, norm_meta))
            # reference test_polars_set_sorted.py: a sorted timeseries
            # symbol's INDEX column carries the polars SORTED_ASC/DESC
            # flag (from the manifest's SortedValue); value columns and
            # rowcount symbols never do
            itype = (norm_meta or {}).get("index_type")
            if (sorted_flag in ("ASCENDING", "DESCENDING") and out.width
                    and itype in ("datetime", "multiindex")):
                first = out.columns[0]
                if out.schema[first].is_temporal():
                    out = out.with_columns(pl.col(first).set_sorted(
                        descending=(sorted_flag == "DESCENDING")))
            return out
        raise ArcticException(f"unknown output_format {output_format!r}")

    @staticmethod
    def _finish_pandas(pdf, u64_cols: list[str], shadows: list[str],
                       norm_meta=None, undecided_index: bool = False,
                       group_index_cols: list | None = None,
                       range_positions: bool = False):
        """Pandas finisher for a collected frame: every post-collection
        normalisation of a pandas read, whichever collector produced
        ``pdf``."""
        import numpy as np
        import pandas as pd
        # uint64 restore: the stored LONG is the exact bit pattern —
        # view back (zero-copy). A null (possible only via dynamic-
        # schema backfill) degrades the column to float64 first, so
        # keep uint64 only for fully-present columns.
        for c in u64_cols:
            if c in pdf.columns and not pdf[c].isna().any():
                pdf[c] = pdf[c].to_numpy(dtype="int64").view("uint64")
        # small-uint restore: storage widened uint8/16/32 to int64; the
        # recorded original width comes back when the values still fit
        # (a dynamic-schema merge may have widened them legitimately)
        for c, w in ((norm_meta or {}).get("unsigned_dtypes")
                     or {}).items():
            if (c in pdf.columns and pdf[c].dtype.kind == "i"
                    and not pdf[c].isna().any()):
                info = np.iinfo(w)
                if pdf[c].between(info.min, info.max).all():
                    pdf[c] = pdf[c].astype(w)
        # rebuild exact datetime64[ns] from the LONG shadows (bit-level
        # view: int64 min IS numpy's NaT) — before tz re-localization
        # and index restore, which operate on the rebuilt column
        for s in shadows:
            tgt = s[len(NS_SHADOW_PREFIX):]
            if tgt in pdf.columns and s in pdf.columns:
                pdf[tgt] = (pdf[s].to_numpy(dtype="int64")
                            .view("datetime64[ns]"))
            if s in pdf.columns:
                pdf = pdf.drop(columns=[s])
        # re-localize tz-aware datetime columns/index levels (reference
        # get_timezone_from_metadata + tz_localize("UTC").tz_convert,
        # _normalization.py:461-462) — before any set_index so demoted
        # levels are still plain columns here
        for cname, tz in ((norm_meta or {}).get("tzs") or {}).items():
            if cname in pdf.columns:
                pdf[cname] = (pdf[cname].dt.tz_localize("UTC")
                              .dt.tz_convert(tz))
        # restore a demoted MultiIndex (reference _denormalize,
        # _normalization.py:931-950) when all physical level columns
        # survived the query pipeline
        if (norm_meta and norm_meta.get("index_type") == "multiindex"
                and all(c in pdf.columns for c in norm_meta["physical"])):
            pdf = pdf.set_index(norm_meta["physical"])
            pdf.index = pdf.index.set_names(norm_meta["level_names"])
        # re-promote a demoted DatetimeIndex / named index (reference
        # _index_from_records, _normalization.py:450-463)
        elif (norm_meta and norm_meta.get("index_type") in ("datetime",
                                                            "named")
                and norm_meta.get("physical") in pdf.columns):
            pdf = pdf.set_index(norm_meta["physical"])
            if norm_meta.get("fake_name"):
                pdf.index.name = None
            elif "orig_name" in norm_meta:
                # physical name was disambiguated (like-named data
                # column, or the legal empty-string name) — restore
                # the user's index name verbatim
                pdf.index.name = norm_meta["orig_name"]
        # rebuild a non-default RangeIndex from recorded start/step —
        # rows arrive in write order (ROW_ID restore), so position i is
        # original row i
        elif (range_positions and ORIG_POS in pdf.columns
                and (norm_meta or {}).get("index_type") in (None,
                                                            "range")):
            # positional slice of a RangeIndex/rowcount symbol: map
            # each surviving physical row id back to its ORIGINAL
            # index value (start + pos*step; the default 0..n index
            # records no meta) — reference test_read_index.py
            # row_range/head/tail preserve df.iloc positions
            nm_rng = norm_meta or {}
            pos = pdf[ORIG_POS].to_numpy()
            pdf = pdf.drop(columns=[ORIG_POS])
            pdf.index = pd.Index(
                nm_rng.get("start", 0) + pos * nm_rng.get("step", 1),
                name=nm_rng.get("name"))
        elif norm_meta and norm_meta.get("index_type") == "range":
            pdf.index = pd.RangeIndex(
                norm_meta["start"],
                norm_meta["start"] + norm_meta["step"] * len(pdf),
                norm_meta["step"], name=norm_meta.get("name"))
        # re-categorize (reference _denormalize restore,
        # _normalization.py:1203-1217): keys are physical column names,
        # so this runs before renamed_cols maps names back
        for cname, info in ((norm_meta or {}).get("categoricals")
                            or {}).items():
            if cname in pdf.columns:
                pdf[cname] = pd.Categorical(
                    pdf[cname], categories=info["categories"])
        ren = (norm_meta or {}).get("renamed_cols")
        if ren:
            back = {}
            for entry in ren:
                phys, kind = entry[0], entry[1]
                orig = entry[2] if len(entry) > 2 else phys
                back[phys] = (None if kind == "none"
                              else phys == "True" if kind == "bool"
                              else int(orig) if kind == "int"
                              else float(orig) if kind == "float"
                              else orig)
            pdf = pdf.rename(columns=back)
        if (group_index_cols
                and all(c in pdf.columns for c in group_index_cols)):
            # groupby output: the group key(s) become the index like
            # the reference (and pandas groupby().agg())
            pdf = pdf.set_index(group_index_cols
                                if len(group_index_cols) > 1
                                else group_index_cols[0])
        if ((norm_meta or {}).get("timeframe")
                and isinstance(pdf.index, pd.DatetimeIndex)):
            # TimeFrame symbols read back AS TimeFrame (reference
            # TimeFrameNormalizer.denormalize, _normalization.py:1518)
            from arcticdb_spark.timeframe import TimeFrame
            return TimeFrame(pdf.index.values, list(pdf.columns),
                             [pdf[c].to_numpy() for c in pdf.columns])
        s = (norm_meta or {}).get("series")
        if s and s["col"] in pdf.columns:
            # reference SeriesNormalizer.denormalize: back to a Series
            out = pdf[s["col"]]
            # non-index companion columns (e.g. a demoted ts index)
            # become the index when exactly one exists
            other = [c for c in pdf.columns if c != s["col"]]
            if len(other) == 1 and not isinstance(pdf.index, pd.MultiIndex):
                out = out.set_axis(pd.Index(pdf[other[0]],
                                            name=other[0]))
            return out.rename(s["name"])
        if undecided_index and len(pdf) == 0:
            # an EMPTY symbol's index type is undecided until the first
            # non-empty append; the reference's empty-index feature
            # reads it as an empty DatetimeIndex
            # (test_empty_column_type.py create_empty_column fixtures:
            # "data.index.equals(pd.DatetimeIndex([]))")
            pdf.index = pd.DatetimeIndex([])
        return pdf

    @staticmethod
    def _finish_arrow(tbl, u64_cols: list[str], shadows: list[str],
                      norm_meta=None):
        """Arrow/polars finisher for a collected table: rebuilds exact
        timestamp[ns] index columns from their LONG shadows (the
        reference's Arrow output is ns) and bit-views uint64 columns back
        to uint64 (Arrow has the type). Then applies the reference's Arrow
        output contract (test_arrow_normalization.py): tz-aware columns
        come back as timestamp[ns, tz], an unnamed index is exposed as
        ``__index__`` / ``__index_level_N__``, and name clashes are
        disambiguated by wrapping in underscores."""
        import pyarrow as pa
        for c in u64_cols:
            i = tbl.column_names.index(c)
            arr = pa.chunked_array([ch.view(pa.uint64())
                                    for ch in tbl.column(i).chunks] or
                                   [pa.array([], pa.uint64())])
            tbl = tbl.set_column(i, pa.field(c, pa.uint64()), arr)
        for s in shadows:
            tgt = s[len(NS_SHADOW_PREFIX):]
            if s not in tbl.column_names:
                continue
            if tgt in tbl.column_names:
                ints = tbl.column(s)
                arr = pc.if_else(pc.equal(ints, pa.scalar(NAT_SENTINEL)),
                                 pa.scalar(None, pa.int64()),
                                 ints).cast(pa.timestamp("ns"))
                i = tbl.column_names.index(tgt)
                tbl = tbl.set_column(i, pa.field(tgt, pa.timestamp("ns")),
                                     arr)
            tbl = tbl.remove_column(tbl.column_names.index(s))
        return Library._arrow_apply_norm(tbl, norm_meta or {})

    @staticmethod
    def _arrow_apply_norm(tbl, nm: dict):
        """Reference Arrow-output normalization
        (test_arrow_normalization.py / ARROW OutputFormat denormalize):

        - stored-naive tz-aware columns (incl. demoted index levels) cast
          back to ``timestamp[ns, tz]`` (values are UTC instants — Arrow's
          naive->tz cast attaches the zone without shifting);
        - the index column keeps the user's name verbatim when named; an
          UNNAMED index surfaces as ``__index__`` (single) /
          ``__index_level_N__`` (MultiIndex level N), wrapped in
          underscores while it clashes with a data column name;
        - data columns restore their original (stringified) names in
          order, each wrapped in underscores until unique — so duplicates
          come back as ``col``, ``_col_``, ``__col__`` like the reference.
        """
        import pyarrow as pa
        names = list(tbl.column_names)
        # small-uint restore (like the pandas output): safe-cast back to
        # the recorded original width; values a dynamic merge legitimately
        # widened stay int64
        for c, w in (nm.get("unsigned_dtypes") or {}).items():
            if c in names:
                i = names.index(c)
                if pa.types.is_int64(tbl.schema.field(i).type):
                    try:
                        tbl = tbl.set_column(
                            i, pa.field(c, getattr(pa, w)()),
                            tbl.column(i).cast(getattr(pa, w)()))
                    except pa.ArrowInvalid:
                        pass
        # tz restore, keyed by physical column name (before renaming)
        for phys, tz in (nm.get("tzs") or {}).items():
            if phys in names:
                i = names.index(phys)
                f = tbl.schema.field(i)
                # stored values are UTC instants: a naive column casts to
                # tz-aware without shifting (Arrow treats naive as UTC),
                # a [us, UTC] Spark column converts exactly to ns
                if pa.types.is_timestamp(f.type) and f.type.tz in (None,
                                                                   "UTC"):
                    tbl = tbl.set_column(
                        i, pa.field(phys, pa.timestamp("ns", tz)),
                        tbl.column(i).cast(pa.timestamp("ns", tz)))
        # desired name per physical column
        index_desired: dict[str, tuple[str, bool]] = {}  # phys -> (name, unnamed)
        itype = nm.get("index_type")
        if itype in ("datetime", "named"):
            phys = nm.get("physical")
            if nm.get("fake_name"):
                index_desired[phys] = ("__index__", True)
            else:
                index_desired[phys] = (nm.get("orig_name") or phys, False)
        elif itype == "multiindex":
            for i, phys in enumerate(nm.get("physical") or []):
                lvl = (nm.get("level_names") or [None] * (i + 1))[i]
                index_desired[phys] = (
                    (str(lvl), False) if lvl is not None
                    else (f"__index_level_{i}__", True))
        orig_by_phys = {}
        for entry in (nm.get("renamed_cols") or []):
            phys, kind = entry[0], entry[1]
            orig = entry[2] if len(entry) > 2 else phys
            orig_by_phys[phys] = "None" if kind == "none" else str(orig)
        data_desired = [(c, orig_by_phys.get(c, c)) for c in names
                        if c not in index_desired]
        raw_data_names = {d for _, d in data_desired}
        if not index_desired and not orig_by_phys and not nm.get("tzs"):
            return tbl
        final: list[str] = []
        taken: set[str] = set()
        for c in names:
            if c in index_desired:
                name, unnamed = index_desired[c]
                # a NAMED index keeps its name verbatim (clashing data
                # columns wrap instead); unnamed placeholders and
                # duplicate level names wrap until free
                while (unnamed and name in raw_data_names) or name in taken:
                    name = f"_{name}_"
            else:
                name = orig_by_phys.get(c, c)
                while name in taken:
                    name = f"_{name}_"
            final.append(name)
            taken.add(name)
        if final != names:
            tbl = tbl.rename_columns(final)
        return tbl

    @_kwargs_contract("head", _VALID_READ_KWARGS | {"implement_read_index"})
    def head(self, symbol: str, n: int = 5, as_of=None,
             columns: list[str] | None = None,
             output_format: str | None = None,
             lazy: bool = False) -> DataFrame:
        return self.read(symbol, as_of=as_of, row_range=(0, n),
                         columns=columns, output_format=output_format,
                         lazy=lazy)

    @_kwargs_contract("tail", _VALID_READ_KWARGS | {"implement_read_index"})
    def tail(self, symbol: str, n: int = 5, as_of=None,
             columns: list[str] | None = None,
             output_format: str | None = None,
             lazy: bool = False) -> DataFrame:
        if n == 0:
            # pandas tail(0) is empty; (-0, None) would mean "everything"
            return self.read(symbol, as_of=as_of, row_range=(0, 0),
                             columns=columns, output_format=output_format,
                             lazy=lazy)
        return self.read(symbol, as_of=as_of, row_range=(-n, None),
                         columns=columns, output_format=output_format,
                         lazy=lazy)

    # ---- staged ingestion (reference stage/finalize, library.py:952,1739) ----
    def _staging_dir(self, symbol):
        return os.path.join(self._data_sym_dir(symbol), "_staging")

    @_kwargs_contract("stage", frozenset({"norm_failure_options_msg"}))
    def stage(self, symbol: str, df, validate_index: bool = True,
              sort_on_index: bool = False,
              sort_columns: list | None = None,
              index_column: bool = False) -> "StageResult":
        """Parallel unindexed chunk write (APPEND_DATA keys analogue).

        Returns a picklable ``StageResult`` whose ``staged_segments`` are
        the written segment keys; pass a list of StageResults as
        ``finalize_staged_data(staged_data=...)`` to finalize exactly those
        segments (reference staged-tokens API, test_stage.py).

        ``validate_index=True`` (reference library.py:952 stage) raises on
        a non-monotonic-increasing datetime-indexed chunk unless
        ``sort_on_index``/``sort_columns`` sort it first (index primary,
        sort_columns secondary — reference semantics)."""
        import pandas as pd
        chunk_sorted = None
        if isinstance(df, (pd.DataFrame, pd.Series)):
            if sort_on_index or sort_columns:
                by = ([df.index.name or "__index__"] if sort_on_index else [])
                if sort_columns:
                    by += list(sort_columns)
                if sort_on_index:
                    named = df.index.name is not None
                    tmp = df.rename_axis(by[0]).reset_index()
                    tmp = tmp.sort_values(by, kind="mergesort")
                    df = tmp.set_index(by[0])
                    if not named:
                        df.index.name = None
                else:
                    df = df.sort_values(by, kind="mergesort")
            chunk_sorted = self._input_sortedness(df)
            if (validate_index and chunk_sorted
                    in ("DESCENDING", "UNSORTED")):
                raise UnsortedDataException(
                    "E_UNSORTED_DATA staged chunk has an unsorted datetime "
                    "index; pass validate_index=False, sort_on_index=True, "
                    "or sort_columns to resolve")
            index_column = False      # pandas chunks keep their own index
        n = self._normalize(
            df, self._resolve_index_column_arg(df, index_column or None))
        # time-prefixed chunk dir: lexicographic listing = stage order, so
        # un-sorted finalize concatenates in arrival order (reference
        # via_iteration key order); uuid suffix keeps parallel stagers
        # collision-free
        out = os.path.join(self._staging_dir(symbol),
                           f"{time.time_ns():020d}{uuid.uuid4().hex[:8]}")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        # per-row order helpers: finalize's k-way merge is STABLE on them
        # (reference compact preserves within-segment row order under
        # equal timestamps — test_sort.py test_stage_finalize); dropped
        # before the finalized version materializes
        seq = time.time_ns()
        base = self._drop_void(n)
        if self._arrow_stage_write(base, out, seq) is not None:
            (_spark(base)
             .withColumn("__stage_seq__", F.lit(seq))
             .withColumn("__stage_pos__", F.monotonically_increasing_id())
             .write.mode("overwrite").parquet(out))
        nm = n.meta or {}
        side: dict = {}
        if nm.get("index_ns"):
            # sidecar: the demoted index is a LONG ns column, which type
            # inspection alone can't distinguish from plain int data —
            # finalize/incomplete reads consult this (removed with the
            # chunk dir once its segments are consumed)
            p = nm["physical"]
            side = {"index_column": p[0] if isinstance(p, list) else p,
                    "index_ns": True}
            if nm.get("index_type") == "datetime":
                # pandas DatetimeIndex chunk: record the restore info so
                # the finalized version's pandas output re-promotes the
                # index (fake_name = the index was unnamed)
                side["index_type"] = "datetime"
                side["fake_name"] = bool(nm.get("fake_name"))
        elif isinstance(df, (pd.DataFrame, pd.Series)):
            # pandas chunk with NO physically-stored datetime index
            # (rowcount/named): finalize must not sniff a timestamp DATA
            # column as the index (mirror of the write-path rule — the
            # reference never re-interprets pandas data columns)
            side["no_index"] = True
        if nm.get("uint64"):
            # uint64 bit-pattern columns: same LONG-indistinguishable
            # problem as the ns index — record them so finalize carries
            # the marker into the manifest and incomplete reads restore
            side["uint64"] = list(nm["uint64"])
        if nm.get("unsigned"):
            # small-uint provenance rides the sidecar too (sum dtype)
            side["unsigned"] = list(nm["unsigned"])
            if nm.get("unsigned_dtypes"):
                side["unsigned_dtypes"] = dict(nm["unsigned_dtypes"])
        if nm.get("tzs"):
            # tz-aware datetime columns/index levels are stored UTC-naive
            # (like write); the zone map must ride the chunk sidecar or
            # finalize would lose it (reference compact keeps the staged
            # segments' index_norm.tz — test_query_builder_sparse.py
            # stages tz-aware UTC frames and reads them back tz-aware)
            side["tzs"] = dict(nm["tzs"])
        if chunk_sorted in ("DESCENDING", "UNSORTED"):
            # recorded so a NON-sorting finalize can reject the chunk even
            # under validate_index=False — the reference's compact raises
            # E_UNSORTED_DATA for an internally-unsorted staged segment
            # regardless (test_finalize_staged_data.py
            # test_finalize_with_unsorted_indexes)
            side["sorted"] = chunk_sorted
        if side:
            with open(os.path.join(out, "_asdb_staged_meta.json"), "w") as fh:
                json.dump(side, fh)
        segs = sorted(os.path.join(out, fn) for fn in os.listdir(out)
                      if fn.endswith(".parquet"))
        return StageResult(symbol, segs)

    def _arrow_stage_write(self, n, out: str, seq: int) -> str | None:
        """pyarrow fast path for a pandas-sourced staged chunk: one file,
        driver-written, with the ``__stage_seq__``/``__stage_pos__`` order
        helpers appended as int64 columns. ``__stage_pos__`` is 0..n-1 —
        the same ORDER as the Spark path's partition-major
        monotonically_increasing_id (the helpers are stable-sort tiebreak
        keys only and are dropped before any version materializes).
        Returns why it declines, or None once written; on a decline the
        caller takes the Spark writer."""
        if not isinstance(n, aw.Normalized):
            return "a transformed frame"
        if n.table is None:
            return n.why
        import numpy as np
        rows = n.table.num_rows
        tbl = n.table.append_column(
            "__stage_seq__", pa.array(np.full(rows, seq, dtype=np.int64)))
        tbl = tbl.append_column(
            "__stage_pos__", pa.array(np.arange(rows, dtype=np.int64)))
        schema = T.StructType(
            list(n.schema.fields)
            + [T.StructField("__stage_seq__", T.LongType(), False),
               T.StructField("__stage_pos__", T.LongType(), False)])
        aw.write_slices(tbl, out, rows, schema.json())
        return None

    def _staged_segment_files(self, symbol: str) -> list[str]:
        stg = self._staging_dir(symbol)
        if not os.path.isdir(stg):
            return []
        out = []
        for d in sorted(os.listdir(stg)):
            cd = os.path.join(stg, d)
            if os.path.isdir(cd):
                out.extend(os.path.join(cd, fn) for fn in sorted(os.listdir(cd))
                           if fn.endswith(".parquet"))
        return out

    def _staged_records(self, seg_files: list[str]) -> list[StagedFile]:
        """One ``StagedFile`` per staged file, in ``seg_files`` order: each
        chunk's ``_asdb_staged_meta.json`` sidecar is read once and each
        file's footer opened once. The read schema is the Spark footer key
        (``org.apache.spark.sql.parquet.row.metadata``, which every chunk
        writer here writes) with every field nullable, as Spark's
        file-source read makes it; a file without the key takes Spark's
        own inference."""
        sides: dict[str, dict] = {}
        out = []
        for f in seg_files:
            d = os.path.dirname(f)
            if d not in sides:
                try:
                    with open(os.path.join(d, "_asdb_staged_meta.json")) as fh:
                        sides[d] = json.load(fh)
                except FileNotFoundError:
                    sides[d] = {}
            with pq.ParquetFile(f) as pf:
                md = pf.metadata
            raw = (md.metadata or {}).get(
                b"org.apache.spark.sql.parquet.row.metadata")
            sch = (T.StructType.fromJson(json.loads(raw)) if raw is not None
                   else self.spark.read.parquet(f).schema)
            sch = T.StructType([T.StructField(x.name, x.dataType, True,
                                              x.metadata)
                                for x in sch.fields])
            out.append(StagedFile(f, d, sides[d], sch, md.num_rows, md))
        return out

    def _staged_schema(self, recs: list[StagedFile]
                       ) -> "tuple[list[list[StagedFile]], T.StructType]":
        """``recs`` grouped by schema and the merged schema the groups fold
        to through ``_merge_schema`` (dynamic schema's promotion table: a
        float32 and a float64 chunk read as float64), from the records
        alone — no Spark job infers or merges them."""
        groups: dict[str, list[StagedFile]] = {}
        for r in recs:
            groups.setdefault(r.schema.json(), []).append(r)
        keys = list(groups)
        merged_json = keys[0]
        for k in keys[1:]:
            merged_json = self._merge_schema(merged_json, groups[k][0].schema)
        return (list(groups.values()),
                T.StructType.fromJson(json.loads(merged_json)))

    def _read_staged(self, recs: list[StagedFile]) -> DataFrame:
        """The staged files of ``recs`` as one frame: each
        ``_staged_schema`` group is scanned under its own schema, cast to
        the merged one with absent columns NULL, and the groups are
        unioned by name."""
        groups, merged = self._staged_schema(recs)
        out = None
        for rs in groups:
            part = self.spark.read.schema(rs[0].schema).parquet(
                *[r.path for r in rs])
            if rs[0].schema.json() != merged.json():
                have = set(rs[0].schema.names)
                part = part.select(*[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    if f.name in have else
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in merged.fields])
            out = part if out is None else out.unionByName(part)
        return out

    @staticmethod
    def _staged_index_info(recs: list[StagedFile]) -> dict:
        """Union of the chunk sidecars written by ``stage()`` (index column
        name + ns flag for a demoted datetime index; uint64 bit-pattern
        column names, unioned across chunks)."""
        out: dict = {}
        u64: set = set()
        su: set = set()
        fakes: list[bool] = []
        tzs: dict = {}
        for _, data in sorted({r.chunk: r.side for r in recs}.items()):
            data = dict(data)
            u64 |= set(data.pop("uint64", []))
            su |= set(data.pop("unsigned", []))
            if "fake_name" in data:
                fakes.append(bool(data.pop("fake_name")))
            for c, tz in (data.pop("tzs", None) or {}).items():
                # first chunk's zone wins on disagreement (values are
                # stored UTC either way; only the display zone varies)
                tzs.setdefault(c, tz)
            data.pop("sorted", None)   # finalize-time check only
            out.update(data)
        if u64:
            out["uint64"] = sorted(u64)
        if su:
            out["unsigned"] = sorted(su - u64)
        if fakes:
            # the restored index is unnamed only if EVERY chunk's was
            out["fake_name"] = all(fakes)
        if tzs:
            out["tzs"] = tzs
        return out

    @staticmethod
    def _staged_norm_meta(idx: str | None, sinfo: dict) -> dict:
        """The pandas-output half of a staged-only symbol's norm_meta, from
        the chunk sidecars (``_staged_index_info``): display time zones,
        and a pandas-staged datetime index restored as a DatetimeIndex
        like a direct write would. Shared by finalize and
        ``read(incomplete=True)`` so both present the chunks alike."""
        out: dict = {}
        if sinfo.get("tzs"):
            out["tzs"] = sinfo["tzs"]
        if idx and sinfo.get("index_type") == "datetime":
            out.update(index_type="datetime", physical=idx,
                       fake_name=bool(sinfo.get("fake_name")))
        return out

    @staticmethod
    def _check_staged(recs: list[StagedFile], static: bool,
                      u64_cols: set) -> None:
        """Reject staged files that cannot finalize together. Static
        schema: every file carries the same column names and types (the
        order helpers aside; reference SchemaException
        E_DESCRIPTOR_MISMATCH, which dynamic_schema lifts). uint64: every
        chunk whose files hold a uint64-claimed column claims it too, or a
        signed-long chunk would alias bit patterns into the column (same
        rule as append's signed<->uint64 flip rejection)."""
        ref = None
        for r in recs if static else ():
            sch = {f.name: f.dataType.simpleString() for f in r.schema.fields
                   if f.name not in _STAGE_HELPERS}
            if ref is None:
                ref = sch
            elif sch != ref:
                drift = sorted(set(sch.items()) ^ set(ref.items()))
                raise SchemaException(
                    "E_DESCRIPTOR_MISMATCH: staged segments have "
                    f"incompatible schemas (enable dynamic_schema): "
                    f"{drift[:6]}")
        for r in recs:
            bad = ((u64_cols & set(r.schema.names))
                   - set(r.side.get("uint64", [])))
            if bad:
                raise SchemaException(
                    f"staged chunks mix uint64 and signed int64 in columns "
                    f"{sorted(bad)} (no common type; stage every chunk's "
                    "column with one dtype)")

    def finalize_staged_data(self, symbol: str, mode: str = "write",
                             metadata: Any = None, index_column: str | None = None,
                             sort: bool | None = None, staged_data=None,
                             validate_index: bool = True,
                             prune_previous_versions: bool | None = None,
                             delete_staged_data_on_failure: bool = False,
                             stage_results=None) -> VersionManifest:
        """Compact staged chunks into one new version; ``sort=True`` is
        sort_and_finalize_staged_data (the k-way merge of the chunks).

        ``staged_data``: optional list of ``StageResult`` tokens — finalize
        exactly those segments and leave the rest staged (reference
        test_finalize_with_tokens_*). Tokens for another symbol raise;
        tokens whose keys are gone raise MissingKeysInStageResultsError
        listing (stage_result_index, missing_key) pairs, and nothing is
        finalized (all-or-nothing, test_finalize_noop_if_any_missing_keys).
        ``stage_results`` is the reference's name for the same argument
        (library.py:1747) — either spelling works. ``mode`` accepts the
        StagedDataFinalizeMethod enum or a case-insensitive string; any
        other value raises (reference test_arctic.py:366
        test_staged_data_bad_mode).

        How the staged chunks are read: each chunk's sidecar and each
        staged file's footer are read once on the driver
        (``_staged_records``), and the schema, uint64, sortedness and
        overlap checks and the row count all come from those records. The
        files are read under the merged schema (``_staged_schema``),
        stable-sorted on (index, stage time, row in chunk) — on the last two
        alone, arrival order, for ``sort=False`` — and written in
        ``rows_per_file`` slices on the driver with pyarrow
        (``_finalize_arrow``, no Spark job). Where it declines (stream
        chunks, dictionary columns, types arrowwrite does not write, files
        over ``_DRIVER_READ_BYTES_MAX``) Spark runs the same read, sort and
        write (``_finalize_spark``)."""
        mode = _normalize_finalize_mode(mode)
        if staged_data is None:
            staged_data = stage_results
        if staged_data is not None:
            wrong = [t for t in staged_data if t.symbol != symbol]
            if wrong:
                raise ArcticException(
                    f"E_STAGE_RESULT_WITH_INCORRECT_SYMBOL: tokens for "
                    f"{sorted({t.symbol for t in wrong})} submitted to "
                    f"finalize of {symbol!r}")
            missing = [{"stage_result_index": i, "missing_key": seg}
                       for i, t in enumerate(staged_data)
                       for seg in t.staged_segments if not os.path.exists(seg)]
            if missing:
                raise MissingKeysInStageResultsError(
                    f"{len(missing)} staged segment keys are missing", missing)
            seg_files = [seg for t in staged_data for seg in t.staged_segments]
        else:
            seg_files = self._staged_segment_files(symbol)
        if not seg_files:
            # reference E_NO_STAGED_SEGMENTS (version_core.cpp:2590):
            # "Finalizing staged data is not allowed with empty staging
            # area" — USER_INPUT category
            raise UserInputException(
                f"E_NO_STAGED_SEGMENTS Finalizing staged data is not "
                f"allowed with empty staging area (symbol {symbol!r})")
        try:
            # one record per staged file (sidecar + footer, each read
            # once); every check below and the read itself use them.
            # Static schema rejects drifted column sets/types like the
            # reference's E_DESCRIPTOR_MISMATCH (hypothesis
            # test_sort_merge.py assert_staged_columns_are_incompatible)
            # BEFORE the read; dynamic schema widens through the engine's
            # promotion table in _read_staged
            recs = self._staged_records(seg_files)
            sinfo = self._staged_index_info(recs)
            u64_cols = set(sinfo.get("uint64") or [])
            self._check_staged(recs, not self.dynamic_schema, u64_cols)
            merged = self._staged_schema(recs)[1]
            explicit_idx = index_column or sinfo.get("index_column")
            if sinfo.get("no_index") and not explicit_idx:
                # pandas rowcount/named-index chunks: never sniff a
                # timestamp DATA column as the index
                idx = None
            else:
                idx = self._detect_index(merged, explicit_idx)
            # sort is tri-state: None (default) = the reference's plain
            # finalize — staged segments must be internally sorted and
            # (under validate_index) ordered/non-overlapping, and the
            # output is the stable index-ordered merge; True =
            # sort_and_finalize_staged_data (sorts anything); False =
            # concatenate in arrival order with the same plain-finalize
            # validation
            if sort is not True and idx is not None:
                # an INTERNALLY-unsorted staged chunk can never finalize
                # without sorting, regardless of validate_index (reference
                # compact E_UNSORTED_DATA,
                # test_finalize_staged_data.py:253-281) — the chunk's
                # sortedness was recorded at stage time
                if any(r.side.get("sorted") in ("DESCENDING", "UNSORTED")
                       for r in recs):
                    raise UnsortedDataException(
                        "E_UNSORTED_DATA a staged segment has an unsorted "
                        "datetime index; use sort_and_finalize_staged_data")
            if sort is not True and validate_index and idx is not None:
                # plain finalize requires the staged segments to be
                # ordered and non-overlapping among themselves (reference
                # library.py:1750 "All staged segments must be ordered and
                # non-overlapping"; test_arctic.py
                # test_parallel_writes_and_appends_index_validation) —
                # checked from parquet footers only, no data IO. A SEGMENT
                # is one stage() call's chunk (= one staging directory; a
                # chunk's part files share it), so interleaved chunks fail
                # even when individual part files happen not to overlap.
                # Segment boundaries may touch (equal timestamps), like
                # append.
                by_chunk: dict[str, list] = {}
                for r in recs:
                    by_chunk.setdefault(r.chunk, []).append(r)
                spans = []
                for rs in by_chunk.values():
                    stats = [_index_span(r.meta, idx) for r in rs]
                    mins = [s[0] for s in stats if s[0] is not None]
                    maxs = [s[1] for s in stats if s[1] is not None]
                    if mins and maxs:
                        spans.append((min(mins), max(maxs)))
                spans.sort()
                for (_, a_max), (b_min, _) in zip(spans, spans[1:]):
                    if b_min < a_max:
                        raise UnsortedDataException(
                            "E_UNSORTED_DATA staged segments overlap; pass "
                            "validate_index=False to concatenate as-is or "
                            "use sort_and_finalize_staged_data")
            itype = merged[idx].dataType if idx in merged.names else None
            # a stream chunk's µs timestamp index is stored as LONG ns
            index_ns = itype is not None and (
                itype.typeName().startswith("timestamp")
                or (isinstance(itype, T.LongType)
                    and bool(sinfo.get("index_ns")
                             or index_column is not None)))
            prev = None
            if mode == "append" and self.has_symbol(symbol):
                prev = self._load_manifest(symbol,
                                           self._load_ref(symbol)["latest"])
            got = self._finalize_arrow(symbol, recs, idx, sort, prev)
            if isinstance(got, str):
                got = self._finalize_spark(symbol, recs, idx, sort, prev)
            out_schema, write = got
            if prev is not None:
                # same schema rules as append(): dynamic widens, static
                # rejects name/type drift (staged chunks are arbitrary
                # writer output)
                if self.dynamic_schema:
                    schema_json = self._merge_schema(prev.schema_json,
                                                     out_schema)
                else:
                    schema_json = self._validate_static_schema(
                        prev.schema_json, out_schema, "finalize_staged_data")
                new_files = write()
                overlap = False
                if idx and prev.ts_max is not None and new_files:
                    mins = [f.ts_min for f in new_files if f.ts_min is not None]
                    overlap = bool(mins) and min(mins) < prev.ts_max
                if overlap and validate_index:
                    raise UnsortedDataException(
                        "staged data overlaps existing index range")
                # metadata is per-version VERBATIM: compact_incomplete
                # builds a fresh tsd and only sets user_meta when given
                # (reference collate_and_write, version_core.cpp:2261) —
                # metadata=None clears, exactly like write/append/update
                m = VersionManifest(
                    symbol, self._next_version(symbol), time.time_ns(), idx,
                    schema_json, _renumber(prev.files + new_files),
                    metadata,
                    sorted=("UNSORTED" if (overlap
                                           or prev.sorted != "ASCENDING")
                            else "ASCENDING"),
                    norm_meta=self._uint64_meta_for(
                        prev, {"uint64": sorted(u64_cols),
                               "unsigned": sinfo.get("unsigned") or []},
                        out_schema, "finalize_staged_data"),
                    base_version=prev.version)
            else:
                # mode="append" on a missing symbol behaves like write
                # (reference test_sort_merge.py test_append_to_missing_symbol)
                files = write()
                nm_out: dict = {}
                if index_ns:
                    nm_out["index_ns"] = True
                if u64_cols:
                    nm_out["uint64"] = sorted(u64_cols)
                if sinfo.get("unsigned"):
                    nm_out["unsigned"] = list(sinfo["unsigned"])
                nm_out.update(self._staged_norm_meta(idx, sinfo))
                m = VersionManifest(symbol, self._next_version(symbol),
                                    time.time_ns(), idx, out_schema.json(),
                                    files, metadata,
                                    norm_meta=(nm_out or None))
        except Exception:
            if delete_staged_data_on_failure:
                self._remove_segment_files(symbol, seg_files)
            raise
        self._commit(m)
        self._remove_segment_files(symbol, seg_files)
        if self._resolve_prune(prune_previous_versions):
            self.prune_previous_versions(symbol)
        return m

    def _staged_fills(self, schema: T.StructType, idx: str | None) -> list:
        """Dynamic schema: the int/bool columns whose NULLs (cells of a
        column a chunk did not store; int chunks are non-nullable) finalize
        fills with 0/False, the reference's non-nullable layout
        (merge_and_sort_segment_list 0-fills int columns)."""
        ints = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.BooleanType)
        return [f.name for f in schema.fields if self.dynamic_schema
                and f.name != idx and f.name not in _STAGE_HELPERS
                and isinstance(f.dataType, ints)]

    def _finalize_arrow(self, symbol: str, recs: list[StagedFile],
                        idx: str | None, sort: bool | None,
                        prev: "VersionManifest | None"):
        """Finalize's driver executor: read the staged files with pyarrow
        under the ``_staged_schema`` merge, fill ``_staged_fills``,
        stable-sort on (index, ``_STAGE_HELPERS``) — on the helpers alone,
        arrival order, for ``sort=False`` or no index — and drop the
        helpers. Returns the Spark schema and a writer of
        ``rows_per_file`` slices, or why it declines (the caller then runs
        ``_finalize_spark``)."""
        groups, merged = self._staged_schema(recs)
        types = {f.name: f.dataType for f in merged.fields}
        want = {c: aw.physical_type(d) for c, d in types.items()}
        itype = types.get(idx)
        data = [f for f in merged.fields if f.name not in _STAGE_HELPERS]
        if any(aw.ROW_METADATA_KEY not in (r.meta.metadata or {})
               for r in recs):
            return "a staged file has no Spark footer key"
        if any(h not in r.schema.names for r in recs for h in _STAGE_HELPERS):
            return "a staged chunk lacks the order helpers"
        if idx is not None and itype is None:
            return "the index column is not stored"
        if itype is not None and itype.typeName().startswith("timestamp"):
            return "the index column is timestamp-typed"
        if isinstance(itype, (T.FloatType, T.DoubleType)):
            return "a float index sorts NaN unlike Spark"
        if self.dictionary_columns:
            return "dictionary_columns are set"
        if not data or None in want.values() or any(
                aw.physical_type(f.dataType) is None
                for rs in groups for f in rs[0].schema):
            return "a staged type is outside arrowwrite.physical_type"
        if (prev is not None and isinstance(itype, T.LongType)
                and not (prev.norm_meta or {}).get("index_ns")
                and _is_ts_type_json(prev.schema_json, idx)):
            return "the target's legacy µs index needs _align_index_phys"
        if self._over_driver_cap(recs):
            return "the staged files exceed _DRIVER_READ_BYTES_MAX"
        parts = []
        for rs in groups:
            have = {f.name: aw.physical_type(f.dataType) for f in rs[0].schema}
            t = ar.read_files([(r.path, 0, r.meta) for r in rs], have, ROW_ID,
                              None, None, None)
            # unsafe casts round int64 -> float64 like Spark's cast (the
            # safe default raises where a value does not fit exactly)
            parts.append(pa.table({
                c: t.column(c).cast(typ, safe=False) if c in have
                else pa.nulls(t.num_rows, typ) for c, typ in want.items()}))
        tbl = pa.concat_tables(parts)
        keys = [idx] if sort is not False and idx is not None else []
        tbl = tbl.take(pc.sort_indices(
            tbl, [(k, "ascending") for k in (*keys, *_STAGE_HELPERS)],
            null_placement="at_start")).drop_columns(list(_STAGE_HELPERS))
        fills = self._staged_fills(merged, idx)
        for c in fills:
            tbl = tbl.set_column(tbl.column_names.index(c), c, pc.fill_null(
                tbl.column(c),
                False if isinstance(types[c], T.BooleanType) else 0))
        # filled columns come out non-nullable and metadata-free, as from
        # Spark's coalesce
        schema = T.StructType([T.StructField(f.name, f.dataType, False)
                               if f.name in fills else f for f in data])
        sj = schema.json()
        out_dir = os.path.join(self._data_sym_dir(symbol), "data",
                               uuid.uuid4().hex)
        return schema, lambda: _renumber(_file_entries(
            aw.write_slices(tbl, out_dir, self.rows_per_file, sj), idx, sj))

    def _finalize_spark(self, symbol: str, recs: list[StagedFile],
                        idx: str | None, sort: bool | None,
                        prev: "VersionManifest | None"):
        """``_finalize_arrow``'s Spark twin: the same read, fill and order
        as a plan over ``_read_staged``, written by ``_write_data_files``.
        Row order comes from the sort keys, never from how Spark packs
        files into partitions."""
        df = self._read_staged(recs)
        if idx is not None and _is_ts_type(df, idx):
            df = self._index_to_ns_long(df, idx)
        for c in self._staged_fills(df.schema, idx):
            df = df.withColumn(c, F.coalesce(
                F.col(c), _default_backfill_lit(df.schema[c].dataType)))
        # segment_row_size contract: total staged rows from footers only
        rows: int | None = sum(r.rows for r in recs)
        sort = sort is not False and idx is not None
        helpers = [c for c in _STAGE_HELPERS if c in df.columns]
        if helpers:
            # the helpers break index ties (reference compact keeps each
            # segment's row order — test_sort.py test_stage_finalize) and
            # alone give arrival order
            keys = [idx, *helpers] if sort else helpers
            n_parts = max(1, -(-rows // self.rows_per_file))
            if n_parts == 1:   # one slice: a single-task sort, no exchange
                df = df.coalesce(1).sortWithinPartitions(*keys)
            else:
                df = (df.repartitionByRange(n_parts, *keys[:1 if sort else 2])
                        .sortWithinPartitions(*keys))
            # the partitioning is final, so the writer must not coalesce
            # again: under AQE a same-count coalesce on an explicit-count
            # range exchange PERMUTES the partition order, and this
            # sort=False write takes row order from part-file listing order
            rows, sort = None, False
            df = df.drop(*helpers)
        df = self._encode_dict_columns(symbol, df)
        if prev is not None:
            df = self._align_index_phys(df, idx, prev)
        return df.schema, lambda: self._write_data_files(
            symbol, df, idx, sort=sort, rows_hint=rows, exact_slices=False)

    def _remove_segment_files(self, symbol: str, seg_files: list[str]) -> None:
        """Delete consumed staged segments; drop chunk dirs that emptied."""
        for f in seg_files:
            try:
                os.remove(f)
            except FileNotFoundError:
                pass
        stg = self._staging_dir(symbol)
        if os.path.isdir(stg):
            for d in os.listdir(stg):
                cd = os.path.join(stg, d)
                if os.path.isdir(cd) and not any(
                        fn.endswith(".parquet") for fn in os.listdir(cd)):
                    shutil.rmtree(cd, ignore_errors=True)
            if not os.listdir(stg):
                shutil.rmtree(stg, ignore_errors=True)

    def sort_and_finalize_staged_data(self, symbol: str, mode: str = "write",
                                      metadata: Any = None, staged_data=None,
                                      prune_previous_versions: bool | None = None,
                                      delete_staged_data_on_failure: bool = False,
                                      stage_results=None) -> VersionManifest:
        """Reference ``library.py:1873``: k-way merge of unsorted staged
        chunks (``finalize_staged_data(sort=True)``)."""
        return self.finalize_staged_data(
            symbol, mode=mode, metadata=metadata, sort=True,
            staged_data=staged_data if staged_data is not None
            else stage_results,
            prune_previous_versions=prune_previous_versions,
            delete_staged_data_on_failure=delete_staged_data_on_failure)

    def get_staged_symbols(self) -> list[str]:
        """Symbols with staged, unfinalized data (``library.py:2006``)."""
        if not os.path.isdir(self.data_root):
            return []
        out = []
        for d in sorted(os.listdir(self.data_root)):
            stg = self._staging_dir(d)
            if os.path.isdir(stg) and os.listdir(stg):
                out.append(d)
        return out

    def delete_staged_data(self, symbol: str) -> None:
        """Drop staged chunks without finalizing (``library.py:1723``)."""
        shutil.rmtree(self._staging_dir(symbol), ignore_errors=True)

    def remove_incompletes(self, symbols: list[str]) -> None:
        """Batch delete_staged_data (``library.py:855``)."""
        for s in symbols:
            self.delete_staged_data(s)

    def sort_index(self, symbol: str, dynamic_schema: bool | None = None,
                   prune_previous_versions: bool | None = None) -> VersionManifest:
        """Rewrite the symbol with its index sorted ascending (reference
        ``version_store.sort_index``, pinned by test_append.py
        test_append_out_of_order_and_sort / test_sort_index): the repair
        path for symbols built from out-of-order ``validate_index=False``
        appends. Idempotent. It stable-sorts on (index, MultiIndex levels
        >= 1, row id): on the driver through ``_rewrite_arrow``, or, where
        that declines or a key is a float (pyarrow sorts NaN first), with a
        Spark range shuffle.

        ``dynamic_schema`` is accepted for signature parity (schema already
        lives in the manifest here)."""
        prev = self._load_manifest(symbol, self._load_ref(symbol)["latest"])
        if self._is_pickled(prev) or self._is_recursive(prev):
            raise ArcticException(
                f"cannot sort_index on pickled/recursive symbol {symbol!r}")
        idx = prev.index_column
        if idx is None:
            raise ArcticException(
                f"{symbol!r} has no datetime index to sort by")
        nm = prev.norm_meta or {}
        tiebreak = (nm["physical"][1:]
                    if nm.get("index_type") == "multiindex" else [])
        keys = [idx, *tiebreak, ROW_ID]
        phys = self._phys_schema(prev.schema_json)
        floats = any(isinstance(f.dataType, (T.FloatType, T.DoubleType))
                     for f in phys.fields if f.name in keys)
        pieces = None if floats else self._rewrite_arrow(
            prev, prev.files, lambda t: [(t.take(pc.sort_indices(
                t, [(k, "ascending") for k in keys],
                null_placement="at_start")), self.rows_per_file)])
        if pieces is not None:
            files = _renumber(pieces[0])
        else:
            # PHYSICAL read, not read(): the public read's µs index view
            # would truncate an ns index (sub-µs order is what an
            # out-of-order tick repair must preserve). The writer keeps
            # the range partitions' order.
            df = self._scan_files(prev, prev.files, phys, need_row_id=True)
            files = self._write_data_files(
                symbol, df.repartitionByRange(idx)
                .sortWithinPartitions(*keys).drop(ROW_ID), idx, sort=False)
        m = VersionManifest(symbol, self._next_version(symbol), time.time_ns(),
                            idx, prev.schema_json, files, prev.metadata,
                            sorted="ASCENDING", norm_meta=prev.norm_meta)
        out = self._commit(m)
        if self._resolve_prune(prune_previous_versions):
            self.prune_previous_versions(symbol)
        return out

    @_kwargs_contract("defragment_symbol_data",
                      frozenset({"prune_previous_version"}))
    def defragment_symbol_data(self, symbol: str,
                               segment_size: int | None = None,
                               prune_previous_versions: bool | None = None
                               ) -> VersionManifest:
        """Reference API name for compaction."""
        out = self.compact_symbol(symbol, target_rows_per_file=segment_size)
        if self._resolve_prune(prune_previous_versions):
            self.prune_previous_versions(symbol)
        return out

    @_kwargs_contract("read_index", _VALID_READ_KWARGS)
    def read_index(self, symbol: str, as_of=None):
        """Index-structure introspection (reference ``_store.py:2712``):
        one row per data file with row/ts ranges — the manifest as a frame."""
        import pandas as pd
        m = self._resolve_version(symbol, as_of)
        rows = [{"start_row": fe.row_start,
                 "end_row": fe.row_start + fe.rows,
                 "rows": fe.rows,
                 "version_id": (fe.version_id
                                if fe.version_id is not None else m.version),
                 "start_index": (pd.Timestamp(fe.ts_min, unit="ns")
                                 if fe.ts_min is not None else None),
                 # END-EXCLUSIVE like the reference's index segment (data
                 # key end_index = last ts + 1ns — nonreg
                 # test_update_data_key_timestamps pins [1, 16, 21] for
                 # slices ending at ts 0, 15, 20)
                 "end_index": (pd.Timestamp(fe.ts_max + 1, unit="ns")
                               if fe.ts_max is not None else None),
                 "path": fe.path}
                for fe in m.files]
        out = pd.DataFrame(rows)
        if m.index_column is not None and len(out) and \
                out["start_index"].notna().all():
            # ts-indexed symbols: the reference frame is INDEXED by
            # start_index (denormalized index segment)
            out = out.set_index("start_index")
        return out

    # ---- snapshots ----
    def _snap_path(self, name):
        return self._fs.join(self.root, "_snapshots", f"{name}.json")

    def _load_snapshot(self, name) -> dict:
        try:
            return self._fs.read_json(self._snap_path(name))
        except FileNotFoundError:
            raise NoSuchVersionException(f"snapshot {name!r} does not exist")

    # ---- reverse pin-index ----
    # per-symbol sidecar {version(str): [snapshot names]} maintained by
    # snapshot/add_to_snapshot/remove_from_snapshot/delete_snapshot, so
    # prune-on-write and pin-release GC read ONE file instead of walking
    # every snapshot manifest (the reference walks its snapshot map —
    # O(#snapshots) metadata reads per prune; this is the O(1) variant a
    # snapshot-heavy 100 TB library needs). Lives in the symbol dir, NOT
    # the ref file, because a pinned symbol-delete removes the ref but
    # must keep tracking the surviving pins.
    def _pins_path(self, symbol):
        # legacy fv1..5 single-object pin index (migrated on first read)
        return self._fs.join(self._sym_dir(symbol), "_pins.json")

    def _pins_dir(self, symbol):
        return self._fs.join(self._sym_dir(symbol), "_pins")

    def _pin_path(self, symbol, v: int, snap: str):
        return self._fs.join(self._pins_dir(symbol), f"v{v:08d}",
                             f"{snap}.json")

    def _load_pins(self, symbol) -> dict:
        """{version(str): sorted [snapshot names]} from the pin MARKER
        files (fv6): one tiny object per (version, snapshot) pin, so
        concurrent pin/unpin from racing snapshot()/delete_snapshot()
        calls touch DISJOINT keys — the fv1..5 single _pins.json was a
        read-modify-write that concurrent snapshotters could clobber,
        silently losing a pin and letting prune collect a snapshot-
        referenced version (found by test_cas_stress.py)."""
        d = self._pins_dir(symbol)
        pins: dict[str, list] = {}
        if self._fs.isdir(d):
            for vd in self._fs.listdir(d):
                if not vd.startswith("v"):
                    continue
                try:
                    snaps = sorted(
                        fn[:-5]
                        for fn in self._fs.listdir(self._fs.join(d, vd))
                        if fn.endswith(".json"))
                except FileNotFoundError:
                    continue
                if snaps:
                    pins[str(int(vd[1:]))] = snaps
        # legacy fv1..5 single-object index: while the file is STILL
        # PRESENT it must be merged even when markers already exist — a
        # crashed or concurrent migrator writes markers one-by-one before
        # removing the legacy file, so a partial marker set is never
        # authoritative on its own (ADVICE r12: treating it as such let a
        # concurrent prune GC a snapshot-pinned version). Migration is
        # idempotent: concurrent migrators write identical markers.
        try:
            legacy = self._fs.read_json(self._pins_path(symbol))
            for vs, lst in legacy.items():
                key = str(int(vs))
                have = set(pins.get(key, ()))
                for snap in lst:
                    if snap not in have:
                        self._write_pin_marker(symbol, int(vs), snap)
                        pins.setdefault(key, []).append(snap)
            try:
                self._fs.remove(self._pins_path(symbol))
            except FileNotFoundError:
                pass   # a concurrent migrator finished first
            for lst in pins.values():
                lst.sort()
        except FileNotFoundError:
            pass
        if pins:
            return pins
        # Legacy libraries (snapshots created before any pin index
        # existed) have neither: lazily re-derive from the snapshot
        # manifests so pinned versions never lose GC protection. A stale
        # pin only leaks until released; a MISSING pin lets prune/delete
        # destroy snapshot-referenced data — so absence of the index
        # must never be read as "unpinned" while snapshots exist.
        if symbol in self._pins_backfilled:
            return {}
        self._pins_backfilled.add(symbol)
        snap_dir = self._fs.join(self.root, "_snapshots")
        if self._fs.isdir(snap_dir):
            for fn in self._fs.listdir(snap_dir):
                if not fn.endswith(".json"):
                    continue
                name = fn[:-5]
                try:
                    v = self._load_snapshot(name).get(
                        "symbols", {}).get(symbol)
                except Exception:
                    continue
                if v is not None:
                    pins.setdefault(str(int(v)), []).append(name)
                    self._write_pin_marker(symbol, int(v), name)
        for lst in pins.values():
            lst.sort()
        return pins

    def _write_pin_marker(self, symbol, v: int, snap: str) -> None:
        p = self._pin_path(symbol, v, snap)
        self._fs.makedirs(self._fs.join(self._pins_dir(symbol),
                                        f"v{v:08d}"))
        self._fs.write_json_atomic(p, {"snapshot": snap, "version": v})

    def _pin(self, symbol: str, v: int, snap: str) -> None:
        self._load_pins(symbol)   # trigger legacy migration/backfill first
        self._write_pin_marker(symbol, v, snap)

    def _unpin(self, symbol: str, v: int, snap: str) -> None:
        self._load_pins(symbol)   # trigger legacy migration/backfill first
        self._fs.remove(self._pin_path(symbol, v, snap))   # idempotent

    def _pinned_versions(self, symbol) -> set:
        return {int(k) for k in self._load_pins(symbol)}

    def _is_pinned(self, symbol, v) -> bool:
        return bool(self._load_pins(symbol).get(str(v)))

    def snapshot(self, snapshot_name: str, metadata: Any = None,
                 skip_symbols: list | None = None,
                 versions: dict[str, int] | None = None,
                 allow_partial_snapshot: bool = False) -> None:
        """Named cross-symbol consistent version set (``library.py:2626``).
        ``skip_symbols`` and ``versions`` are mutually exclusive, as in the
        reference. Snapshot names are unique
        (``version_store_api.cpp:612``); an explicit ``versions`` pair
        naming a missing or tombstoned version raises
        NoSuchVersionException ``sym:ver`` (reference test_snapshot.py
        test_snapshot_not_accept_tombstoned_key) unless
        ``allow_partial_snapshot`` keeps the resolvable pairs; an empty
        library cannot be snapshotted (``_store.py:3156``)."""
        from arcticdb_spark.exceptions import InternalException
        _verify_name("snapshot name", snapshot_name)
        if skip_symbols and versions:
            raise ArcticException(
                "Only one of skip_symbols and versions can be set")
        if self._fs.exists(self._snap_path(snapshot_name)):
            raise InternalException(
                f"Snapshot with name {snapshot_name} already exists")
        if versions is None:
            skip = set(skip_symbols or ())
            versions = {}
            for sym in self.list_symbols():
                if sym not in skip:
                    versions[sym] = self._load_ref(sym)["latest"]
            if not versions:
                raise NoSuchVersionException(
                    "snapshot: no symbols exist in the library")
        else:
            resolved: dict[str, int] = {}
            for sym, v in versions.items():
                try:
                    dead = set(self._load_ref(sym).get("deleted", []))
                    ok = v not in dead and self._manifest_exists(sym, v)
                except NoSuchVersionException:
                    ok = False
                if ok:
                    resolved[sym] = v
                elif not allow_partial_snapshot:
                    raise NoSuchVersionException(f"{sym}:{v}")
            if not resolved and versions:
                # an explicit EMPTY versions dict is a legal empty snapshot
                # (reference test_snapshot_empty_segment: snapshot("snap2",
                # versions={}) pins nothing); only a non-empty request
                # resolving to nothing is an error
                raise NoSuchVersionException(
                    f"snapshot {snapshot_name!r}: none of the requested "
                    "symbol-version pairs exist")
            versions = resolved
        # Pin FIRST, then CAS-create the manifest (same safe order as
        # add_to_snapshot): a crash or a concurrent prune between the two
        # steps then sees protective pins without a snapshot — a stale pin
        # only leaks until unpinned, whereas the reverse order exposes a
        # visible snapshot whose versions GC can destroy.
        for sym, v in versions.items():
            self._pin(sym, v, snapshot_name)
        # VALIDATE after pinning: a prune that read the pin index before
        # our pin landed may have tombstoned the version. GC's protocol is
        # tombstone -> re-check pins -> restore-if-pinned (see
        # prune_previous_versions), so after OUR pin is visible a transient
        # tombstone is restored by the pruner — re-read briefly; a
        # PERSISTENT tombstone means the version died before our pin and
        # the snapshot must fail instead of orphaning (test_cas_stress.py).
        for sym, v in versions.items():
            ok = False
            for _ in range(20):
                if self._manifest_exists(sym, v):
                    ok = True
                    break
                time.sleep(0.01)
            if not ok:
                for s2, v2 in versions.items():
                    self._unpin(s2, v2, snapshot_name)
                raise NoSuchVersionException(
                    f"snapshot {snapshot_name!r}: {sym}:{v} was "
                    "garbage-collected by a concurrent prune")
        # exclusive create: two racing snapshot() calls with the same name
        # can both pass the exists() pre-check — the CAS decides the winner
        if not self._fs.write_json_if_absent(
                self._snap_path(snapshot_name),
                {"symbols": versions, "metadata": metadata,
                 "created_ns": time.time_ns()}):
            # roll back our speculative pins — but a racing snapshot()
            # with the SAME name may have won the CAS, and its pins share
            # our key (symbol, version, name): keep any pin the winning
            # manifest still needs.
            try:
                winner = self._load_snapshot(snapshot_name).get(
                    "symbols", {})
            except Exception:
                winner = {}
            for sym, v in versions.items():
                if winner.get(sym) != v:
                    self._unpin(sym, v, snapshot_name)
            raise InternalException(
                f"Snapshot with name {snapshot_name} already exists")

    def list_snapshots(self, load_metadata: bool = True):
        """Reference ``library.py:2857``: a {name: metadata} dict by
        default; a plain name list with ``load_metadata=False`` (cheaper —
        skips reading each snapshot file)."""
        d = self._fs.join(self.root, "_snapshots")
        if not self._fs.isdir(d):
            return {} if load_metadata else []
        names = sorted(fn[:-5] for fn in self._fs.listdir(d)
                       if fn.endswith(".json"))
        if not load_metadata:
            return names
        return {n: self._load_snapshot(n).get("metadata") for n in names}

    def delete_snapshot(self, name: str) -> None:
        """Remove the snapshot, then GC versions it ALONE kept alive —
        tombstoned or symbol-deleted versions unpinned by any remaining
        snapshot lose their manifest and their unshared data files
        (reference snapshot GC: deleting the last referencing snapshot
        releases the data; ``snapshot`` docstring library.py:2642)."""
        snap = self._load_snapshot(name)
        self._fs.remove(self._snap_path(name))
        for sym, v in snap["symbols"].items():
            self._unpin(sym, v, name)
            self._gc_released_pin(sym, v)

    def _gc_released_pin(self, sym: str, v: int) -> None:
        """GC a (symbol, version) pin a snapshot edit just released: when
        no remaining snapshot pins it and the version is tombstoned (or
        its symbol deleted), the manifest and unshared data files go —
        shared by delete_snapshot / add_to_snapshot (displaced pin) /
        remove_from_snapshot (reference snapshot GC,
        test_delete_snapshot_key_shared_with_another_snapshot). At scale
        this is what keeps snapshot churn from leaking segments. Callers
        must have already _unpin()ned their own released pin — the
        remaining-pin check is ONE pin-index read, not a snapshot walk."""
        if self._is_pinned(sym, v):
            return   # still pinned by another snapshot
        try:
            alive = v not in set(self._load_ref(sym).get("deleted", []))
        except NoSuchVersionException:
            alive = False   # whole symbol was deleted
        if alive:
            return
        try:
            m = self._load_manifest(sym, v)
        except NoSuchVersionException:
            return
        self._tombstone_manifest(sym, v)
        if self._is_pinned(sym, v):
            # a concurrent add_to_snapshot / snapshot re-pinned the version
            # between our pin check and the tombstone — restore and keep
            # (same tombstone -> re-check -> restore protocol as prune)
            self._fs.write_json_atomic(self._ver_path(sym, v), m.to_json())
            return
        # shared-file scan runs AFTER the tombstone, immediately before
        # removal (same handshake as prune_previous_versions, ADVICE r12):
        # a commit carrying v's files that CAS'd before this scan is live
        # here and extends ``keep``; one that CAS'd after sees our
        # tombstone in its donor-liveness check and aborts.
        keep = set()
        for vv in self._list_version_numbers(sym):
            if vv != v:
                try:
                    keep |= {fe.path for fe in
                             self._load_manifest(sym, vv).files}
                except NoSuchVersionException:
                    pass
        if not self.background_deletion:
            for fe in m.files:
                if fe.path not in keep:
                    _remove_data_file(fe.path)

    @_kwargs_contract("add_to_snapshot", _VALID_READ_KWARGS)
    def add_to_snapshot(self, name: str, symbols, as_ofs=None,
                        version: int | None = None):
        """Add/replace snapshot entries (reference ``_store.py:3194``):
        ``symbols`` is a name or list of names, ``as_ofs`` the matching
        version queries (None = latest). Existing entries are REPLACED and
        the displaced pins released (snapshot GC). Unresolvable symbols/
        versions are skipped without error, like the reference. ``version``
        is this engine's single-symbol shorthand for ``as_ofs=[version]``."""
        snap = self._load_snapshot(name)
        syms = [symbols] if isinstance(symbols, str) else list(symbols)
        if as_ofs is None:
            as_ofs = [version] * len(syms)
        if len(as_ofs) != len(syms):
            raise ArcticException(
                f"add_to_snapshot: {len(syms)} symbols but "
                f"{len(as_ofs)} as_ofs")
        if len(set(syms)) != len(syms):
            # reference test_add_to_snapshot_duplicate_symbol_*_raises:
            # duplicates raise whether or not the versions agree
            raise ArcticException(
                "add_to_snapshot: duplicate symbols in request")
        released = []
        for s, a in zip(syms, as_ofs):
            try:
                m = self._resolve_version(s, a)
            except (NoSuchVersionException, ArcticException):
                continue   # reference: no effect, no error
            old = snap["symbols"].get(s)
            if old is not None and old != m.version:
                released.append((s, old))
            snap["symbols"][s] = m.version
            self._pin(s, m.version, name)
        self._fs.write_json_atomic(self._snap_path(name), snap)
        for s, v in released:
            self._unpin(s, v, name)
            self._gc_released_pin(s, v)

    def remove_from_snapshot(self, name: str, symbols, versions=None):
        """Remove snapshot entries (reference ``_store.py:3224``):
        ``versions[i]`` must match the pinned version of ``symbols[i]`` or
        the entry is left untouched (no error). ``versions=None`` is this
        engine's shorthand for "whatever is pinned". Released pins are
        GC'd like delete_snapshot's."""
        snap = self._load_snapshot(name)
        syms = [symbols] if isinstance(symbols, str) else list(symbols)
        if versions is None:
            vers = [snap["symbols"].get(s) for s in syms]
        else:
            vers = ([versions] if isinstance(versions, int)
                    else list(versions))
            if len(vers) != len(syms):
                raise ArcticException(
                    f"remove_from_snapshot: {len(syms)} symbols but "
                    f"{len(vers)} versions")
        released = []
        for s, v in zip(syms, vers):
            if v is not None and snap["symbols"].get(s) == v:
                snap["symbols"].pop(s)
                released.append((s, v))
        self._fs.write_json_atomic(self._snap_path(name), snap)
        for s, v in released:
            self._unpin(s, v, name)
            self._gc_released_pin(s, v)

    # ---- listing / metadata / GC ----
    def list_symbols(self, snapshot_name: str | None = None,
                     regex: str | None = None,
                     prefix: str | None = None,
                     snapshot: str | None = None) -> list[str]:
        """Reference ``library.py:2803``: optionally the symbols pinned by
        ``snapshot_name`` (v1 spelling: ``snapshot``) instead of the live
        set, optionally filtered by ``regex`` (search semantics) or the v1
        ``prefix`` (test_basic_version_store.py:810)."""
        if snapshot_name is None:
            snapshot_name = snapshot
        if prefix is not None:
            if regex is not None:
                raise ArcticException(
                    "list_symbols: regex and prefix are mutually exclusive")
            import re as _re
            regex = "^" + _re.escape(prefix)
        if snapshot_name is not None:
            out = list(self._load_snapshot(snapshot_name)["symbols"])
            if regex is not None:
                import re as _re
                pat = _re.compile(regex)
                out = [s for s in out if pat.search(s)]
            return sorted(out)
        out = []
        pat = None
        if regex is not None:
            import re as _re
            pat = _re.compile(regex)
        for d in self._fs.listdir(self.root):
            if d.startswith("_"):
                continue
            if pat is not None and not pat.search(d):
                continue
            if (self._fs.isdir(self._ref_dir(d))
                    or self._fs.exists(self._ref_path(d))):
                out.append(d)
        return sorted(out)

    def has_symbol(self, symbol: str, as_of=None) -> bool:
        """``as_of`` checks a specific version / snapshot / timestamp —
        a deleted symbol still answers True through a snapshot that pins
        it (reference test_arctic.py:1178 test_has_symbol)."""
        if as_of is None:
            return self._ref_exists(symbol)
        try:
            self._resolve_version(symbol, as_of)
            return True
        except (NoSuchVersionException, ArcticException):
            return False

    def __getitem__(self, symbol: str):
        """Reference ``library.py:918``: ``lib[symbol]`` reads latest."""
        return self.read(symbol)

    def __contains__(self, symbol: str) -> bool:
        """Reference ``library.py:921``: ``symbol in lib``."""
        return self.has_symbol(symbol)

    def list_versions(self, symbol: str | None = None,
                      snapshot: str | None = None,
                      latest_only: bool = False,
                      skip_snapshots: bool = False) -> list[dict]:
        """Reference ``library.py:2875`` list_versions: each row carries the
        snapshots containing that exact version and a ``deleted`` flag
        (deleted versions appear only while a snapshot still pins them).
        ``snapshot`` restricts to the versions that snapshot pins;
        ``latest_only`` keeps the newest live version per symbol (no
        effect combined with ``snapshot``, like the reference);
        ``skip_snapshots`` skips the snapshot annotation (faster).
        Output order is the reference's: symbol then version, both
        DESCENDING (test_list_versions.py:52); rows additionally carry
        ``rows`` (a documented extension).

        With ``snapshot`` the ``deleted`` field is always False — the
        reference's won't-fix bug 18286248854, documented on its API
        (test_list_versions_with_snapshot_deleted_always_false)."""
        if snapshot is not None:
            snap = self._load_snapshot(snapshot)["symbols"]
            out = []
            for s, v in sorted(snap.items(), reverse=True):
                if symbol is not None and s != symbol:
                    continue
                m = self._load_manifest(s, v)  # snapshot pins it -> exists
                snaps = ([] if skip_snapshots
                         else sorted(self._load_pins(s).get(str(v), [])))
                out.append({"symbol": s, "version": v,
                            "date": m.created_ns, "rows": m.total_rows,
                            "snapshots": snaps, "deleted": False})
            return VersionList(out)
        syms = [symbol] if symbol else self.list_symbols()
        if symbol is None:
            # fully-deleted symbols whose versions are still
            # snapshot-pinned list their tombstone rows too (reference
            # test_list_versions_default_args: sym0's pinned v0 survives
            # delete_versions of its only version)
            live = set(syms)
            for d in self._fs.listdir(self.root):
                if d.startswith("_") or d in live:
                    continue
                # _load_pins (not a raw sidecar-existence check) so a
                # legacy library's snapshot-pinned deleted symbols are
                # re-derived from the snapshot manifests and still listed
                if (self._fs.isdir(self._sym_dir(d))
                        and self._load_pins(d)):
                    syms.append(d)
        out = []
        for s in syms:
            # one pin-index read per symbol replaces the global
            # every-snapshot walk (O(#symbols) instead of O(#snapshots))
            pins = self._load_pins(s) if not skip_snapshots else {}
            by_ver = {int(k): v for k, v in pins.items()}
            vers = self._list_version_numbers(s)
            try:
                deleted = set(self._load_ref(s).get("deleted", []))
            except NoSuchVersionException:
                # symbol ref gone (delete of the last live version): any
                # manifests left are snapshot-pinned tombstones — listed
                # with deleted=True while a pin remains, [] when none
                # (reference test_deletion.py test_delete_version_basic:
                # len(list_versions(sym)) == 0 after the last delete)
                deleted = set(vers)
            if latest_only:
                live = [v for v in vers if v not in deleted]
                vers = live[-1:] if live else []
            for v in vers:
                snaps = sorted(by_ver.get(v, []))
                if v in deleted and not snaps:
                    continue
                try:
                    m = self._load_manifest(s, v)
                except NoSuchVersionException:
                    continue  # tombstoned and already garbage-collected
                out.append({"symbol": s, "version": v,
                            "date": m.created_ns, "rows": m.total_rows,
                            "snapshots": snaps, "deleted": v in deleted})
        out.sort(key=lambda r: (r["symbol"], r["version"]), reverse=True)
        return VersionList(out)

    @_kwargs_contract("read_metadata", _VALID_READ_KWARGS)
    def read_metadata(self, symbol: str, as_of=None) -> "VersionedItem":
        """Reference ``library.py:2485``: returns a VersionedItem whose
        ``data`` is None — callers use ``.metadata`` (and ``.version``)."""
        m = self._resolve_version(symbol, as_of)
        return VersionedItem(symbol=symbol, library=self.name, data=None,
                             version=m.version, metadata=m.metadata,
                             timestamp=m.created_ns)

    def update_time(self, symbol: str, as_of=None):
        """Creation timestamp of the resolved version (reference v1
        ``NativeVersionStore.update_time``, test_basic_version_store.py
        test_update_time: accepts version numbers, negatives and snapshot
        names; missing symbol/version raises)."""
        import pandas as pd
        return pd.Timestamp(self._resolve_version(symbol, as_of).created_ns)

    def update_times(self, symbols: list, as_ofs: list | None = None
                     ) -> list:
        """Per-symbol ``update_time`` (reference v1 update_times)."""
        as_ofs = as_ofs or [None] * len(symbols)
        return [self.update_time(s, a) for s, a in zip(symbols, as_ofs)]

    def column_names(self, symbol: str, as_of=None) -> list[str]:
        """Reference ``_store.py:3441``: column names of a version straight
        from the manifest — no data scan."""
        m = self._resolve_version(symbol, as_of)
        from pyspark.sql import types as T
        schema = T.StructType.fromJson(json.loads(m.schema_json))
        return [f.name for f in schema.fields if f.name != m.index_column]

    @_kwargs_contract("get_num_rows",
                      frozenset({"iterate_snapshots_if_tombstoned",
                                 "include_index_segment"}))
    def get_num_rows(self, symbol: str, as_of=None) -> int | None:
        """Reference ``_store.py:3758``: row count from the manifest;
        None for pickled symbols (their physical rows are chunk rows)."""
        m = self._resolve_version(symbol, as_of)
        if self._is_pickled(m) or self._is_recursive(m):
            return None
        return m.total_rows

    def write_metadata(self, symbol: str, metadata) -> VersionManifest:
        """New version carrying only new metadata; a MISSING symbol is
        created at v0 with None data (reference test_arctic.py:346
        test_write_metadata_with_none)."""
        try:
            prev = self._load_manifest(symbol,
                                       self._load_ref(symbol)["latest"])
        except NoSuchVersionException:
            return self.write_pickle(symbol, None, metadata=metadata)
        m = VersionManifest(symbol, self._next_version(symbol), time.time_ns(),
                            prev.index_column, prev.schema_json, prev.files,
                            metadata, prev.sorted, prev.norm_meta,
                            base_version=prev.version)
        return self._commit(m)

    @staticmethod
    def _user_schema(m: "VersionManifest") -> dict:
        """Manifest schema with the ns-physical index reported as its
        LOGICAL type (the reference describes the index as a nanosecond
        timestamp, types.hpp:73 — reporting 'long' would read as int data)."""
        schema = json.loads(m.schema_json)
        if m.index_column and (m.norm_meta or {}).get("index_ns"):
            for f in schema.get("fields", []):
                if f.get("name") == m.index_column:
                    f["type"] = "timestamp_ns"
        return schema

    def get_description(self, symbol: str, as_of=None) -> "SymbolDescription":
        """Reference ``library.py:2538`` get_description: returns the
        SymbolDescription shape (attribute access) merged with this
        engine's original dict keys."""
        import datetime as _dt
        import pandas as pd
        m = self._resolve_version(symbol, as_of)
        schema = self._user_schema(m)
        fields = schema.get("fields", [])
        nm = m.norm_meta if isinstance(m.norm_meta, dict) else {}
        nm = nm or {}
        # physical index columns + their DISPLAY names (original, possibly
        # None — reference test_get_description_unnamed_index /
        # test_get_description_multiindex: names come back as written)
        it = nm.get("index_type")
        if it == "multiindex":
            phys = list(nm.get("physical") or [])
            display = list(nm.get("level_names") or phys)
        elif it in ("datetime", "named"):
            phys = [nm.get("physical")]
            display = [None if nm.get("fake_name")
                       else nm.get("orig_name", nm.get("physical"))]
        elif m.index_column is not None:
            phys = [m.index_column]
            display = [m.index_column]
        else:
            phys, display = [], []
        by_name = {f["name"]: f["type"] for f in fields}
        index = tuple(NameWithDType(disp, by_name.get(p, "datetime64[ns]"))
                      for p, disp in zip(phys, display))
        columns = tuple(NameWithDType(f["name"], f["type"]) for f in fields
                        if f["name"] not in set(phys))
        index_type = ("NA" if not phys
                      else "multi_index" if len(phys) > 1 else "index")
        if (m.index_column is not None and m.sorted == "ASCENDING"
                and m.ts_min is not None):
            date_range = (pd.Timestamp(m.ts_min), pd.Timestamp(m.ts_max))
            tz = (nm.get("tzs") or {}).get(m.index_column)
            if tz:
                # tz-aware index: the described range carries the zone so
                # it compares equal to the original timestamps (reference
                # test_get_description_date_range_tz)
                date_range = tuple(t.tz_localize("UTC").tz_convert(tz)
                                   for t in date_range)
        else:
            date_range = (pd.NaT, pd.NaT)
        return SymbolDescription(
            symbol=symbol, version=m.version,
            row_count=(None if self._is_pickled(m) else m.total_rows),
            index_column=m.index_column,
            schema=schema,
            ts_min=m.ts_min, ts_max=m.ts_max,
            sorted=m.sorted,
            columns=columns, index=index, index_type=index_type,
            last_update_time=pd.Timestamp(m.created_ns, tz=_pytz_utc()),
            date_range=date_range)

    @_kwargs_contract("get_info", _VALID_READ_KWARGS)
    def get_info(self, symbol: str, version=None) -> dict:
        """Reference ``_store.py:3882`` get_info, shape pinned by
        test_basic_version_store.py:978-1150: ``type`` is pandasdf /
        pandasseries / ndarray / pickled / recursive, ``index_type`` is
        "index" or "NA", ``col_names`` splits the ORIGINAL index level
        names (None for unnamed) from the data columns, ``date_range`` is
        (NaT, NaT) unless the symbol has an ASCENDING timestamp index,
        and a pickled symbol reports rows=None / sorted=UNKNOWN /
        input_type=msg_pack_frame. ``dtype`` uses this engine's type
        vocabulary (e.g. ``timestamp_ns``) over the full physical schema."""
        import numpy as np
        import pandas as pd
        m = self._resolve_version(symbol, version)
        nat = np.datetime64("NaT")
        if self._is_pickled(m):
            return {
                "col_names": {"columns": ["bytes"], "index": []},
                "dtype": [], "rows": None,
                "last_update": pd.Timestamp(m.created_ns),
                "input_type": "msg_pack_frame", "index_type": "NA",
                "normalization_metadata": m.norm_meta, "type": "pickled",
                "date_range": (nat, nat), "sorted": "UNKNOWN"}
        nm = m.norm_meta if isinstance(m.norm_meta, dict) else {}
        nm = nm or {}
        fields = self._user_schema(m).get("fields", [])
        typ = ("recursive" if self._is_recursive(m)
               else "pandasseries" if nm.get("series")
               else "ndarray" if nm.get("index_type") == "ndarray"
               else "pandasdf")
        it = nm.get("index_type")
        if it == "multiindex":
            idx_phys = list(nm.get("physical", []))
            idx_names = list(nm.get("level_names", []))
        elif it in ("datetime", "named"):
            idx_phys = [nm.get("physical")]
            idx_names = [None if nm.get("fake_name")
                         else nm.get("orig_name", nm.get("physical"))]
        elif m.index_column is not None:
            idx_phys = [m.index_column]
            idx_names = [m.index_column]
        else:
            idx_phys, idx_names = [], []
        if nm.get("series"):
            # upstream quirk (test_get_info_series): a NAMED series index
            # leaks into columns, col_names.index is [] and index_type NA
            fake = nm.get("fake_name") and nm.get("physical")
            # a disambiguated physical index name (collision with the
            # value column) reports as the user's original name
            orig, phys_idx = nm.get("orig_name"), nm.get("physical")
            remap = {}
            if nm.get("index_type") == "multiindex":
                # multiindex series leak (test_get_info_series_multiindex):
                # the reference's unnamed level-0 physical name is "index"
                # (ours is "ts") — report the reference's
                lvl0_phys = nm.get("physical", [None])[0]
                lvl0_orig = (nm.get("level_names") or [None])[0]
                remap[lvl0_phys] = lvl0_orig or "index"
            cols = [orig if (orig and f["name"] == phys_idx)
                    else remap.get(f["name"], f["name"])
                    for f in fields if f["name"] != fake]
            col_names = {"columns": cols, "index": []}
            index_type = "NA"
        else:
            col_names = {"columns": [f["name"] for f in fields
                                     if f["name"] not in idx_phys],
                         "index": idx_names}
            index_type = "index" if idx_phys else "NA"
        if (m.index_column is not None and m.sorted == "ASCENDING"
                and m.ts_min is not None):
            date_range = (np.datetime64(m.ts_min, "ns"),
                          np.datetime64(m.ts_max, "ns"))
        else:
            # rowcount / unsorted / empty: NaT pair (reference
            # test_get_info_unsorted_timestamp_index_date_range etc.)
            date_range = (nat, nat)
        return {
            "col_names": col_names,
            "dtype": [f["type"] for f in fields],
            "rows": m.total_rows,
            "last_update": pd.Timestamp(m.created_ns),
            "input_type": "dataframe",
            "index_type": index_type,
            "normalization_metadata": m.norm_meta,
            "type": typ,
            "date_range": date_range,
            "sorted": m.sorted,
        }

    def batch_get_info(self, symbols: list, versions: list | None = None
                       ) -> list:
        """Reference ``_store.py:3918`` batch_get_info."""
        versions = versions or [None] * len(symbols)
        return self._pmap_errors(
            lambda p: self.get_info(p[0], p[1]),
            list(zip(symbols, versions)), lambda p: p[0])

    def list_symbols_with_incomplete_data(self) -> list:
        """Reference ``_store.py:2773`` alias for staged-chunk discovery."""
        return self.get_staged_symbols()

    def remove_incomplete(self, symbol: str) -> None:
        """Reference ``_store.py:2784`` single-symbol incomplete removal."""
        self.remove_incompletes([symbol])

    @_kwargs_contract("delete", _VALID_READ_KWARGS)
    def delete(self, symbol: str, versions=None, date_range=None,
               prune_previous_versions: bool | None = None) -> None:
        """Delete the whole symbol, or only specific ``versions`` (int or
        iterable of ints), or only the rows in ``date_range`` — a new
        version without them, optionally pruning the pre-delete versions
        (reference v1 ``_store.py`` delete(date_range=,
        prune_previous_versions=); v2 ``library.py`` delete(versions=)).
        Missing symbol + versions=None is a no-op (``library.py:2672``)."""
        if date_range is not None:
            if versions is not None:
                raise ArcticException(
                    "delete: versions and date_range are mutually exclusive")
            self.delete_data_in_range(
                symbol, date_range,
                prune_previous_versions=prune_previous_versions)
            return
        if versions is not None:
            vs = ([versions] if isinstance(versions, int)
                  else list(versions))
            # validate the WHOLE request before mutating: a missing or
            # already-deleted version fails the call atomically (reference
            # test_arctic.py test_delete_version_that_does_not_exist —
            # after the raise, the good versions are still live). A
            # missing SYMBOL reports the first requested version
            # (reference test_deletion_batch.py: "version 0" in message)
            try:
                ref = self._load_ref(symbol)
            except NoSuchVersionException:
                raise NoSuchVersionException(
                    f"{symbol!r} has no live version "
                    f"{vs[0] if vs else '?'} (symbol does not exist)")
            dead = set(ref.get("deleted", []))
            for v in vs:
                if v in dead or not self._manifest_exists(symbol, v):
                    raise NoSuchVersionException(
                        f"{symbol!r} has no live version {v}")
            for v in vs:
                self.delete_version(symbol, v)
            return
        # version numbers are NEVER reused, even across a full symbol
        # delete (reference tombstone-all key keeps the chain:
        # test_list_versions.py test_tombstone_all — writes after a
        # delete of v0,v1 continue at v2). Record the high-water mark in
        # a _chain.json marker that survives the delete.
        chain_last = -1
        nums = self._list_version_numbers(symbol)
        if nums:
            chain_last = nums[-1]
        try:
            _r = self._load_ref(symbol)
            chain_last = max([chain_last, _r.get("latest", -1),
                              *_r.get("deleted", [])])
        except NoSuchVersionException:
            pass
        pinned = self._pinned_versions(symbol)
        if pinned:
            # snapshot-pinned versions survive the delete (reference
            # library.py:2677): drop the ref (the symbol is logically gone
            # — has_symbol/list_symbols/read all miss it) and every
            # unpinned version + its unshared data files; pinned manifests
            # and their files stay readable via read(as_of=<snapshot>).
            keep_files = set()
            for v in pinned:
                try:
                    keep_files |= {fe.path for fe in
                                   self._load_manifest(symbol, v).files}
                except NoSuchVersionException:
                    pass
            for v in self._list_version_numbers(symbol):
                if v in pinned:
                    continue
                try:
                    m = self._load_manifest(symbol, v)
                except NoSuchVersionException:
                    continue   # already tombstoned by an earlier GC
                if not self.background_deletion:
                    for fe in m.files:
                        if fe.path not in keep_files:
                            _remove_data_file(fe.path)
                self._tombstone_manifest(symbol, v)
            self._remove_ref(symbol)
            self._write_chain_marker(symbol, chain_last)
            return
        if self.background_deletion and self.data_root == self.root:
            # background_deletion (EnterpriseLibraryOptions): remove the
            # metadata (readers raise NoSuchVersion — same logical
            # semantics) but keep the data/ subtree for the out-of-band
            # physical-deletion job. Same-root layout interleaves both
            # under <root>/<symbol>/, so prune entry-by-entry.
            d = self._sym_dir(symbol)
            if self._fs.isdir(d):
                for entry in self._fs.listdir(d):
                    if entry == "data":
                        continue
                    p = self._fs.join(d, entry)
                    (self._fs.rmtree if self._fs.isdir(p)
                     else self._fs.remove)(p)
        else:
            # staged chunks are a SEPARATE keyspace (reference APPEND_DATA
            # keys): delete(symbol) removes the version chain, but
            # unfinalized staged data survives until remove_incompletes /
            # delete_staged_data / finalize. The staging dir may live
            # under the metadata dir (same-root layout) or the data dir —
            # prune both entry-by-entry around it.
            sym_dir = self._sym_dir(symbol)
            same_dir = (os.path.abspath(str(sym_dir))
                        == os.path.abspath(self._data_sym_dir(symbol)))
            if same_dir:
                # same-root layout: metadata and data interleave — prune
                # entry-by-entry around the staging dir, and drop the
                # now-empty dir itself when no staged data survived
                if self._fs.isdir(sym_dir):
                    for entry in self._fs.listdir(sym_dir):
                        if entry == "_staging":
                            continue
                        p = self._fs.join(sym_dir, entry)
                        (self._fs.rmtree if self._fs.isdir(p)
                         else self._fs.remove)(p)
                    if not self._fs.listdir(sym_dir):
                        self._fs.rmtree(sym_dir)
            else:
                self._fs.rmtree(sym_dir)
            if not self.background_deletion and not same_dir:
                ddir = self._data_sym_dir(symbol)
                if os.path.isdir(ddir):
                    for entry in os.listdir(ddir):
                        if entry == "_staging":
                            continue
                        p = os.path.join(ddir, entry)
                        (shutil.rmtree(p, ignore_errors=True)
                         if os.path.isdir(p) else os.remove(p))
                    if not os.listdir(ddir):
                        shutil.rmtree(ddir, ignore_errors=True)
        self._write_chain_marker(symbol, chain_last)
        # recursive-normalizer leaves are exclusively owned by the parent —
        # GC them with it (they're invisible to list_symbols)
        prefix = f"_rec__{symbol}__"
        for d in self._fs.listdir(self.root):
            if d.startswith(prefix):
                self.delete(d)

    def delete_versions(self, symbol: str, versions) -> None:
        """Delete a set of versions (reference v1
        ``NativeVersionStore.delete_versions``; other versions are
        unaffected — test_basic_version_store.py:1388)."""
        self.delete(symbol, versions=versions)

    def delete_version(self, symbol: str, version: int) -> None:
        ref = self._load_ref(symbol)
        if (version in ref.get("deleted", [])
                or not self._manifest_exists(symbol, version)):
            # missing or already-tombstoned (reference raises rather than
            # tombstoning twice — test_arctic.py:705)
            raise NoSuchVersionException(
                f"{symbol!r} has no live version {version}")
        rolled_empty = []

        def _mut(cur):
            cur = dict(cur or {"latest": -1, "deleted": []})
            dead = list(cur.get("deleted", []))
            if version not in dead:
                dead.append(version)
            cur["deleted"] = dead
            if cur.get("latest") == version:
                live = [v for v in self._list_version_numbers(symbol)
                        if v not in set(dead)
                        and self._manifest_exists(symbol, v)]
                if live:
                    cur["latest"] = max(live)
                else:
                    rolled_empty.append(True)
                    return None   # no live versions left: full delete
            return cur
        self._update_ref(symbol, _mut)
        if rolled_empty:
            self.delete(symbol)

    @_kwargs_contract("restore_version", _VALID_READ_KWARGS)
    def restore_version(self, symbol: str, as_of=None) -> VersionManifest:
        """Make the latest version equal to the ``as_of`` version (reference
        ``_store.py:2739``: semantically ``write(sym, read(sym, as_of).data)``
        but without touching data — the new manifest re-references the old
        version's immutable files, so restoring a 100 TB symbol is one JSON
        commit)."""
        import copy
        old = self._resolve_version(symbol, as_of)
        m = copy.deepcopy(old)
        m.version = self._next_version(symbol)
        m.created_ns = time.time_ns()
        m.base_version = old.version
        return self._commit(m)

    @_kwargs_contract("batch_restore_version", _VALID_READ_KWARGS)
    def batch_restore_version(self, symbols: list, as_ofs: list | None = None
                              ) -> list:
        """Per-symbol restore with DataError capture (reference
        ``_store.py:2143`` batch_restore_version)."""
        as_ofs = as_ofs or [None] * len(symbols)
        return self._pmap_errors(
            lambda p: self.restore_version(p[0], p[1]),
            list(zip(symbols, as_ofs)), lambda p: p[0])

    def prune_previous_versions(self, symbol: str) -> None:
        """Tombstone all but the latest version and GC unreferenced files,
        keeping anything referenced by a snapshot (reference version GC)."""
        ref = self._load_ref(symbol)
        latest = ref["latest"]
        # ONE pin-index read instead of walking every snapshot manifest —
        # prune-on-write stays O(1) in #snapshots
        snap_pins = self._pinned_versions(symbol)
        keep_versions = {latest} | snap_pins
        # version numbers are monotone, so any committed manifest NEWER
        # than the ref we read is an IN-FLIGHT writer that won its CAS but
        # has not swapped the ref yet — its manifest and every file it
        # references (including carried-over older files) must survive
        # this GC (test_cas_stress.py: prune racing append)
        keep_versions |= {v for v in self._list_version_numbers(symbol)
                          if v > latest and self._manifest_exists(symbol, v)}
        referenced = set()
        for v in keep_versions:
            try:
                referenced |= {fe.path for fe in self._load_manifest(symbol, v).files}
            except NoSuchVersionException:
                pass
        # GC protocol per victim: tombstone the manifest FIRST, then
        # RE-CHECK the pin index — a snapshot pinning concurrently pins
        # before it validates, so if its pin is visible now we restore the
        # manifest (content still in hand) and skip its files; if not, its
        # validation will see our tombstone and the snapshot fails cleanly.
        # Either way no snapshot ever points at a collected version
        # (test_cas_stress.py). File removal runs AFTER all pin re-checks
        # so a restored victim's (possibly shared) files are never GC'd.
        victims: list = []
        restored_files: set = set()
        for v in self._list_version_numbers(symbol):
            # the keep_versions in-flight union was computed from an
            # EARLIER listdir — a commit landing between that scan and this
            # one must not be victimized either, so the newer-than-ref rule
            # is enforced HERE, at victim-selection time
            if v in keep_versions or v > latest:
                continue
            try:
                m = self._load_manifest(symbol, v)
            except NoSuchVersionException:
                continue   # already tombstoned by an earlier GC
            self._tombstone_manifest(symbol, v)
            if self._is_pinned(symbol, v):   # pin landed during the race
                self._fs.write_json_atomic(
                    self._ver_path(symbol, v), m.to_json())
                restored_files |= {fe.path for fe in m.files}
                continue
            victims.append(m)
        if not self.background_deletion:
            keep_files = referenced | restored_files
            # Re-list LIVE manifests now that all tombstoning is done and
            # IMMEDIATELY before removal: a commit whose v{N} O_EXCL landed
            # after the keep_versions scan may CARRY files from a victim
            # (append/update/compact reuse). Its manifest is live here, so
            # its files extend keep_files. Together with _commit's
            # donor-liveness check this closes the check-then-act window
            # (ADVICE r12): a commit that our re-list misses must have
            # CAS'd after every victim tombstone was visible, so its own
            # donor check sees the tombstone and aborts before going live.
            for v in self._list_version_numbers(symbol):
                if v in keep_versions:
                    continue   # already in ``referenced``
                try:
                    keep_files |= {fe.path for fe
                                   in self._load_manifest(symbol, v).files}
                except NoSuchVersionException:
                    pass   # tombstoned (our victims included)
            for m in victims:
                for fe in m.files:
                    if fe.path not in keep_files:
                        _remove_data_file(fe.path)
        # snapshot-pinned non-latest versions are TOMBSTONED, not live:
        # readable while pinned (by snapshot or version number), released
        # by delete_snapshot's GC once the last pin goes (reference
        # test_deletion.py test_delete_snapshot)
        def _mut(cur):
            cur = cur or {"latest": latest, "deleted": []}
            return {
                "latest": cur.get("latest", latest),
                # keep tombstone entries for versions we kept, entries
                # NEWER than the latest we pruned against (a concurrent
                # delete_version), and the snapshot pins we preserved
                "deleted": sorted(
                    {v for v in cur.get("deleted", [])
                     if v in keep_versions or v > latest}
                    | (snap_pins - {latest}))}
        self._update_ref(symbol, _mut)

    # ---- column stats (reference create_column_stats, _store.py:1297) ----
    def _stats_path(self, symbol, version):
        return self._fs.join(self._sym_dir(symbol), "_stats", f"v{version:08d}.json")

    def create_column_stats(self, symbol: str, columns: list[str],
                            as_of=None) -> dict:
        """Per-file MIN/MAX zone maps for non-index columns, from Parquet
        footers only (no data scan). Stored as a sidecar so reads can prune
        files on arbitrary column predicates (reference ColumnStats MINMAX,
        ``column_stats.hpp:19``)."""
        m = self._resolve_version(symbol, as_of)
        stats: dict[str, dict] = {}
        for fe in m.files:
            md = pq.ParquetFile(fe.path).metadata
            names = md.schema.to_arrow_schema().names
            per_col = {}
            for col in columns:
                if col not in names:
                    continue
                i = names.index(col)
                mn = mx = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(i).statistics
                    if st is None or not st.has_min_max:
                        mn = mx = None
                        break
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
                if mn is not None:
                    per_col[col] = [_json_safe(mn), _json_safe(mx)]
            stats[fe.path] = per_col
        path = self._stats_path(symbol, m.version)
        self._fs.makedirs(self._fs.join(self._sym_dir(symbol), "_stats"))
        self._fs.write_json_atomic(path, {"columns": columns, "files": stats})
        return stats

    def get_column_stats(self, symbol: str, as_of=None) -> dict | None:
        m = self._resolve_version(symbol, as_of)
        try:
            return self._fs.read_json(self._stats_path(symbol, m.version))
        except FileNotFoundError:
            return None

    def drop_column_stats(self, symbol: str, as_of=None) -> None:
        m = self._resolve_version(symbol, as_of)
        p = self._stats_path(symbol, m.version)
        if self._fs.exists(p):
            self._fs.remove(p)

    # v2 experimental spellings (reference _store.py:1297-1386). The
    # reference builds MINMAX for every eligible numeric/bool/timestamp
    # data column and MERGES with pre-existing stats (read-modify-write).
    def create_column_stats_experimental(self, symbol: str,
                                         as_of=None) -> None:
        import pyarrow as pa
        m = self._resolve_version(symbol, as_of)
        sch = pa.schema([])
        if m.files:
            sch = pq.ParquetFile(m.files[0].path).schema_arrow
        eligible = [f.name for f in sch
                    if (pa.types.is_integer(f.type)
                        or pa.types.is_floating(f.type)
                        or pa.types.is_boolean(f.type)
                        or pa.types.is_timestamp(f.type))
                    and f.name != m.index_column]
        existing = self.get_column_stats(symbol, as_of=as_of) or {}
        cols = sorted(set(existing.get("columns", [])) | set(eligible))
        self.create_column_stats(symbol, cols, as_of=as_of)

    def drop_column_stats_experimental(self, symbol: str,
                                       as_of=None) -> None:
        self.drop_column_stats(symbol, as_of=as_of)

    def get_column_stats_info_experimental(self, symbol: str,
                                           as_of=None) -> dict:
        """{column: {"MINMAX"}} for every column with stored stats."""
        st = self.get_column_stats(symbol, as_of=as_of)
        if not st:
            return {}
        return {c: {"MINMAX"} for c in st.get("columns", [])}

    def read_column_stats_experimental(self, symbol: str, as_of=None):
        """Human-readable per-row-slice stats as a pyarrow Table
        (reference returns one row per row-slice with
        ``v_<col>__minmax_<bound>`` columns)."""
        import pyarrow as pa
        st = self.get_column_stats(symbol, as_of=as_of)
        if not st:
            return pa.table({})
        cols = st.get("columns", [])
        files = st.get("files", {})
        data: dict[str, list] = {"segment": []}
        for c in cols:
            data[f"v_{c}__minmax_min"] = []
            data[f"v_{c}__minmax_max"] = []
        for path in sorted(files):
            data["segment"].append(path)
            per = files[path]
            for c in cols:
                mnmx = per.get(c)
                data[f"v_{c}__minmax_min"].append(
                    mnmx[0] if mnmx else None)
                data[f"v_{c}__minmax_max"].append(
                    mnmx[1] if mnmx else None)
        return pa.table(data)

    # ---- compaction (reference CompactDataClause / defragment_symbol_data) ----
    # Planning is reference-exact (plans/compact.py ports
    # cpp/arcticdb/processing/clause_compact_data.cpp): every output slice
    # lands within [2/3, 4/3] of rows_per_segment, groups that coincide with
    # an already-in-bounds existing slice are carried VERBATIM (their files
    # are not rewritten and keep their original writing version), and only
    # the fragmented groups are read+rewritten — at 100 TB a compaction
    # after a ragged append tail touches the tail's files, not the symbol.

    @staticmethod
    def _validate_rows_per_segment(rows_per_segment) -> None:
        """Reference rejects non-positive rows_per_segment before touching
        storage (test_compact_data.py test_compact_data_invalid_rows_per_
        segment expects the error even for a missing symbol)."""
        if rows_per_segment is not None and rows_per_segment < 1:
            # ArcticNativeException is an alias of ArcticException
            # (exceptions.py) — raise the base class directly
            raise ArcticException(
                f"rows_per_segment must be a positive integer, got "
                f"{rows_per_segment}")

    @staticmethod
    def _compact_plan(prev: "VersionManifest", target: int):
        """Reference-exact compaction plan (or None for a no-op) over the
        manifest's row slices — see plans/compact.compact_plan."""
        from arcticdb_spark.plans.compact import compact_plan
        slices = [(fe.row_start, fe.row_start + fe.rows)
                  for fe in prev.files]
        return compact_plan(slices, target)

    def _rewrite_group(self, prev: "VersionManifest",
                       group_files: list, start: int,
                       sizes: list[int],
                       end: int | None = None) -> list[FileEntry]:
        """Rewrite ONE plan group: read just its files in global row-id
        order (original row order — whatever the sortedness — survives) and
        cut the rows into the exact ReslicingInfo ``sizes``, one parquet
        file per slice; ``end`` bounds the rows when a file straddles the
        group boundary (inline append-compaction cuts the appended frame
        mid-file). Rows are rewritten on the driver with pyarrow
        (``_rewrite_arrow``), or with Spark when a file is on another
        schema epoch or of a type arrowwrite does not write, or the group
        passes the driver read cap. Spark casts heterogeneous epochs
        to the manifest schema (_scan_files; the reference equally
        re-encodes processed segments to the promoted descriptor,
        test_compact_data.py three_slices case)."""
        def cut(t):
            if end is not None:
                rid = t.column(ROW_ID)
                t = t.filter(pc.and_(pc.greater_equal(rid, start),
                                     pc.less(rid, end)))
            return [(t, sizes)]

        pieces = self._rewrite_arrow(prev, group_files, cut)
        if pieces is not None:
            return pieces[0]
        phys = self._phys_schema(prev.schema_json)
        df = self._scan_files(prev, group_files, phys, need_row_id=True)
        if end is not None:
            df = df.filter((F.col(ROW_ID) >= F.lit(start))
                           & (F.col(ROW_ID) < F.lit(end)))
        num = len(sizes)
        base = sizes[0]
        exact = num - sum(1 for s in sizes if s == base + 1)
        rel = F.col(ROW_ID) - F.lit(start)
        # ReslicingInfo layout: first `exact` slices have `base` rows, the
        # rest base+1 (column_reslicer.hpp:42-44)
        slice_expr = F.when(
            rel < F.lit(exact * base), F.floor(rel / F.lit(base))
        ).otherwise(
            F.lit(exact) + F.floor((rel - F.lit(exact * base))
                                   / F.lit(base + 1)))
        out_dir = os.path.join(self._data_sym_dir(prev.symbol), "data",
                               uuid.uuid4().hex)
        os.makedirs(os.path.dirname(out_dir), exist_ok=True)
        (df.withColumn("__slice__", slice_expr.cast("long"))
           .repartition(num, F.col("__slice__"))
           .sortWithinPartitions("__slice__", ROW_ID)
           .drop(ROW_ID)
           .write.mode("overwrite").partitionBy("__slice__")
           .parquet(out_dir))
        return _file_entries(_slice_files(out_dir), prev.index_column,
                             phys.json())

    def compact_symbol(self, symbol: str, target_rows_per_file: int | None = None
                       ) -> VersionManifest:
        """Defragment to the reference CompactDataClause contract
        (``clause_compact_data.cpp``): slices already within ±33% of the
        target are untouched; fragmented/oversized runs are merged/split to
        exact ReslicingInfo sizes, on the driver with pyarrow or with Spark
        under ``_rewrite_group``'s fallbacks (a file on another schema
        epoch, a type arrowwrite does not write, the driver read
        cap). An already-compact symbol is returned unchanged (no new
        version)."""
        self._validate_rows_per_segment(target_rows_per_file)
        prev = self._load_manifest(symbol, self._load_ref(symbol)["latest"])
        idx = prev.index_column
        target = target_rows_per_file or self.rows_per_file
        plan = self._compact_plan(prev, target)
        if plan is None:
            return prev
        by_start = {fe.row_start: fe for fe in prev.files}
        new_files: list[FileEntry] = []
        for entry in plan:
            if entry[0] == "keep":
                new_files.append(by_start[entry[1]])
            else:
                _, s, e, sizes = entry
                group = [fe for fe in prev.files if s <= fe.row_start < e]
                new_files.extend(self._rewrite_group(prev, group, s, sizes))
        m = VersionManifest(symbol, self._next_version(symbol), time.time_ns(),
                            idx, prev.schema_json, _renumber(new_files),
                            prev.metadata, prev.sorted, prev.norm_meta,
                            base_version=prev.version)
        return self._commit(m)

    def is_symbol_fragmented(self, symbol: str,
                             segment_size: int | None = None) -> bool:
        """True iff compact_data would do any work
        (the two agree by construction — both consult ``_compact_plan``)."""
        m = self._load_manifest(symbol, self._load_ref(symbol)["latest"])
        target = segment_size or self.rows_per_file
        return self._compact_plan(m, target) is not None

    def _compact_preflight(self, symbol: str, rows_per_segment) -> None:
        """Shared compact_data / explain-plan argument + symbol checks,
        reference error classes: non-positive rows_per_segment →
        ArcticNativeException (before storage is touched), missing symbol →
        StorageException naming the symbol, recursively-normalized symbol →
        SchemaException (test_compact_data.py:224-237,582-591)."""
        from arcticdb_spark.exceptions import StorageException
        self._validate_rows_per_segment(rows_per_segment)
        try:
            m = self._load_manifest(symbol, self._load_ref(symbol)["latest"])
        except NoSuchVersionException:
            raise StorageException(
                f"Cannot compact data: symbol {symbol!r} does not exist")
        if self._is_recursive(m):
            raise SchemaException(
                f"Cannot compact data for recursively normalized symbol "
                f"{symbol!r}")

    def compact_data(self, symbol: str,
                     rows_per_segment: int | None = None,
                     prune_previous_versions: bool | None = None) -> VersionManifest:
        """Reference ``library.py:3258`` — name-compatible alias of
        compact_symbol."""
        self._compact_preflight(symbol, rows_per_segment)
        out = self.compact_symbol(symbol, target_rows_per_file=rows_per_segment)
        if self._resolve_prune(prune_previous_versions):
            self.prune_previous_versions(symbol)
        return out

    def compact_data_explain_plan(self, symbol: str,
                                  rows_per_segment: int | None = None
                                  ) -> "CompactDataInfo":
        """Dry run of compact_data (``library.py:3202``): current vs projected
        segment layout, purely from manifest row counts — no data keys read
        and nothing written (the reference pins this with query-stats
        counters). Returns a dict that also exposes the reference
        CompactDataInfo attributes (row_slices_before/after,
        num_row_slices_before/after, version_id_before/after,
        will_do_work)."""
        self._compact_preflight(symbol, rows_per_segment)
        m = self._load_manifest(symbol, self._load_ref(symbol)["latest"])
        target = rows_per_segment or self.rows_per_file
        plan = self._compact_plan(m, target)
        before_slices = [0] + [fe.row_start + fe.rows for fe in m.files]
        if plan is None:
            after_slices = list(before_slices)
            after_version = m.version
        else:
            after_slices = [0]
            for entry in plan:
                if entry[0] == "keep":
                    after_slices.append(after_slices[-1]
                                        + (entry[2] - entry[1]))
                else:
                    for sz in entry[3]:
                        after_slices.append(after_slices[-1] + sz)
            # the version compaction WILL write — not blindly before+1:
            # after delete_version(latest) the counter has moved past the
            # tombstone (test_compact_data_newest_version_deleted: v2
            # deleted, compacting v1 writes v3)
            after_version = self._next_version(symbol)
        return CompactDataInfo(
            symbol=symbol,
            total_rows=m.total_rows,
            segments_before=len(m.files),
            segments_after=max(len(after_slices) - 1, 0),
            would_compact=plan is not None,
            rows_per_segment=target,
            is_fragmented=plan is not None,
            row_slices_before=before_slices,
            row_slices_after=after_slices,
            version_id_before=m.version,
            version_id_after=after_version)

    # ---- batch ops (reference library.py:2161,1241,1469,1643,2506) ----
    # Each symbol's work is independent; the reference runs batches on its
    # IO executor (C++ thread pools). Spark job submission is thread-safe
    # per session, so a driver-side pool gives concurrent manifest IO +
    # concurrent Spark jobs (FAIR-schedulable) instead of N serial jobs.
    # Batches of driver-side scans run no job and skip the pool.
    _BATCH_WORKERS = 8

    def _pmap(self, fn, items: list) -> list:
        if len(items) <= 1:
            return [fn(x) for x in items]
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(
                max_workers=min(self._BATCH_WORKERS, len(items))) as ex:
            return list(ex.map(fn, items))

    def read_batch(self, symbols: list, **kw):
        """Items may be plain symbol names or ``ReadRequest`` objects carrying
        per-symbol as_of/date_range/row_range/columns/query_builder
        (reference ``library.py:2161`` accepts Union[str, ReadRequest]).
        With ``lazy=True`` returns a ``LazyDataFrameCollection`` (reference
        read_batch lazy form; split()/collect()/concat() chain from it).
        A batch of pandas/arrow/polars reads, with no query builder or
        with ones ``arrowquery.eligible`` accepts, is read item by item on
        the calling thread, each a driver-side scan (see ``read``); other
        batches fan out over a thread pool so their Spark jobs overlap."""
        for s in symbols:
            if not isinstance(s, (str, ReadRequest)):
                # reference test_read_batch_unhandled_type: only str and
                # ReadRequest are supported — eager invalid-usage raise
                raise ArcticInvalidApiUsageException(
                    f"Unsupported item in symbols: {s!r}; only str and "
                    "ReadRequest are supported")
        if kw.get("query_builder") is not None:
            # reference library.py:2161 read_batch: a global query_builder
            # kwarg and a per-request one are mutually exclusive
            # (ArcticInvalidApiUsageException) — checked eagerly, before
            # any per-symbol error capture
            for s in symbols:
                if isinstance(s, ReadRequest) and s.query_builder is not None:
                    raise ArcticInvalidApiUsageException(
                        "kwarg query_builder and per-symbol query builders "
                        f"cannot both be used but {s.symbol!r} had its own "
                        "query_builder specified")

        def one(s):
            if isinstance(s, ReadRequest):
                sub = {k: v for k, v in kw.items() if k != "query_builder"}
                return self.read(s.symbol, as_of=s.as_of,
                                 date_range=s.date_range, row_range=s.row_range,
                                 columns=s.columns,
                                 query_builder=s.query_builder
                                 or kw.get("query_builder"),
                                 **sub)
            return self.read(s, **kw)
        if kw.get("lazy"):
            # lazy construction is cheap and never touches storage; return
            # the reference's LazyDataFrameCollection (errors surface at
            # collect() time, e.g. NoSuchVersionException)
            from arcticdb_spark.lazy import LazyDataFrameCollection
            return LazyDataFrameCollection([one(s) for s in symbols])

        def safe(s):
            try:
                return one(s)
            except Exception as e:
                sym, a = ((s.symbol, s.as_of) if isinstance(s, ReadRequest)
                          else (s, None))
                code, cat = _map_error_enums(e)
                vt, vd = _version_request_of(a)
                return DataError(sym, error_code=code or type(e).__name__,
                                 exception_string=str(e), error_category=cat,
                                 version_request_type=vt,
                                 version_request_data=vd)
        qbs = [kw.get("query_builder")] + [
            s.query_builder for s in symbols if isinstance(s, ReadRequest)]
        if not kw.get("incomplete") and self._batch_reads_on_driver(
                kw.get("output_format"), qbs):
            return [safe(s) for s in symbols]
        return self._pmap(safe, symbols)

    def _batch_reads_on_driver(self, output_format, qbs: list) -> bool:
        """True when each read of a batch takes ``read``'s driver scan: a
        pandas/arrow/polars ``output_format`` and, in ``qbs``, no query
        builder or ones that ``arrowquery.eligible`` accepts (clause kinds
        and aggregator names only). Such a batch reads its items in turn
        on the calling thread: with no Spark job to overlap, pool threads
        would only contend for the GIL and open a py4j connection each
        (the scan's and the executor's fallbacks to Spark remain possible
        per item and then run serially)."""
        return (self._resolve_output_format(output_format)
                in ("pandas", "arrow", "polars")
                and all(q is None or aq.eligible(q) for q in qbs))

    @staticmethod
    def _payload(p) -> tuple:
        if isinstance(p, (WritePayload, UpdatePayload)):
            return p.symbol, p.data, p.metadata
        return (p[0], p[1], p[2] if len(p) > 2 else None)

    def _pmap_errors(self, fn, items: list, sym_of) -> list:
        """Batch runner with per-item error capture: a failing symbol yields
        a DataError entry instead of aborting the batch (reference batch
        APIs return List[Union[VersionedItem, DataError]])."""
        def safe(x):
            try:
                return fn(x)
            except Exception as e:
                code, cat = _map_error_enums(e)
                return DataError(sym_of(x),
                                 error_code=code or type(e).__name__,
                                 exception_string=str(e),
                                 error_category=cat)
        return self._pmap(safe, items)

    @staticmethod
    def _sym_of_payload(p) -> str:
        return p.symbol if isinstance(p, (WritePayload, UpdatePayload)) else p[0]

    def _raise_if_duplicate_symbols(self, payloads: list) -> None:
        """Reference library.py _raise_if_duplicate_symbols_in_batch: a
        mutating batch with a repeated symbol raises eagerly (the per-item
        results would otherwise race on the version chain)."""
        seen, dups = set(), set()
        for p in payloads:
            sym = self._sym_of_payload(p)
            (dups if sym in seen else seen).add(sym)
        if dups:
            raise ArcticDuplicateSymbolsInBatchException(
                f"duplicate symbols in batch: {sorted(dups)}")

    def write_batch(self, payloads: list,
                    prune_previous_versions: bool | None = None,
                    validate_index: bool = True) -> list:
        self._raise_if_duplicate_symbols(payloads)
        return self._pmap_errors(
            lambda p: self.write(*self._payload(p)[:2],
                                 metadata=self._payload(p)[2],
                                 prune_previous=prune_previous_versions,
                                 validate_index=validate_index),
            payloads, self._sym_of_payload)

    def append_batch(self, payloads: list) -> list:
        self._raise_if_duplicate_symbols(payloads)
        return self._pmap_errors(
            lambda p: self.append(*self._payload(p)[:2],
                                  metadata=self._payload(p)[2]),
            payloads, self._sym_of_payload)

    def update_batch(self, payloads: list, upsert: bool = False,
                     prune_previous_versions: bool | None = None) -> list:
        """Accepts ``UpdatePayload`` objects or (symbol, data[, metadata])
        tuples; a missing symbol is a DataError unless ``upsert=True``
        (reference ``library.py`` update_batch)."""
        self._raise_if_duplicate_symbols(payloads)
        def one(p):
            sym, data, meta = self._payload(p)
            dr = p.date_range if isinstance(p, UpdatePayload) else None
            return self.update(sym, data, date_range=dr, metadata=meta,
                               upsert=upsert,
                               prune_previous_versions=prune_previous_versions)
        return self._pmap_errors(one, payloads, self._sym_of_payload)

    def read_metadata_batch(self, symbols: list) -> list:
        """Per-item DataError capture with the version request echoed on
        failures (reference test_arctic_batch.py:195-264:
        version_request_type/data + ErrorCode enums)."""
        def one(s):
            sym, a = ((s.symbol, s.as_of) if isinstance(s, ReadInfoRequest)
                      else (s, None))
            try:
                return self.read_metadata(sym, as_of=a)
            except Exception as e:
                code, cat = _map_error_enums(e)
                vt, vd = _version_request_of(a)
                return DataError(sym, error_code=code or type(e).__name__,
                                 exception_string=str(e),
                                 error_category=cat,
                                 version_request_type=vt,
                                 version_request_data=vd)
        return self._pmap(one, symbols)

    def admin_tools(self) -> "AdminTools":
        """Reference ``library.py:3521``: storage-size breakdowns."""
        return AdminTools(self)

    def options(self) -> "LibraryOptions":
        """Persisted LibraryOptions (reference ``library.py`` options()
        returns the LibraryOptions object; compare with ==)."""
        return LibraryOptions(dynamic_schema=self.dynamic_schema,
                              dedup=self.dedup,
                              rows_per_segment=self.rows_per_file,
                              columns_per_segment=self.columns_per_segment)

    def enterprise_options(self) -> EnterpriseLibraryOptions:
        """Reference ``library.py`` enterprise_options()."""
        return EnterpriseLibraryOptions(
            replication=self.replication,
            background_deletion=self.background_deletion)

    def write_pickle_batch(self, payloads: list[tuple]) -> list[VersionManifest]:
        """(``library.py:1319``) payloads = [(symbol, data[, metadata]), ...]."""
        return self._pmap(
            lambda p: self.write_pickle(p[0], p[1],
                                        metadata=p[2] if len(p) > 2 else None),
            payloads)

    def write_metadata_batch(self, payloads: list) -> list[VersionManifest]:
        """(``library.py:2568``) payloads: WriteMetadataPayload objects or
        (symbol, metadata) tuples."""
        def one(p):
            if isinstance(p, WriteMetadataPayload):
                return self.write_metadata(p.symbol, p.metadata)
            return self.write_metadata(p[0], p[1])
        return self._pmap(one, payloads)

    def get_description_batch(self, symbols: list) -> list[dict]:
        """(``library.py:3138``) — items may be ReadInfoRequest objects."""
        return self._pmap(
            lambda s: (self.get_description(s.symbol, as_of=s.as_of)
                       if isinstance(s, ReadInfoRequest)
                       else self.get_description(s)), symbols)

    def reload_symbol_list(self) -> None:
        """(``library.py:3175``) The reference maintains a cached symbol-list
        key that can drift and need a rebuild; here list_symbols derives
        directly from the metadata store on every call, so there is no cache
        to reload — provided for API compatibility."""

    def compact_symbol_list(self) -> None:
        """(``library.py:3184``) See reload_symbol_list: no symbol-list cache
        exists in this design; compaction is a no-op."""

    def delete_batch(self, delete_requests: list) -> list:
        """Accepts symbol names or ``DeleteRequest(symbol, versions)``;
        returns per-item None or DataError (reference ``library.py:2703``)."""
        def one(r):
            if isinstance(r, DeleteRequest):
                self.delete(r.symbol, r.versions)
            else:
                self.delete(r)
            return None
        return self._pmap_errors(
            one, delete_requests,
            lambda r: r.symbol if isinstance(r, DeleteRequest) else r)

    # ---- v1 NativeVersionStore batch/utility aliases (_store.py) ----

    @_kwargs_contract("batch_read",
                      _VALID_READ_KWARGS | {"implement_read_index"})
    def batch_read(self, symbols: list, as_ofs: list | None = None,
                   date_ranges: list | None = None,
                   row_ranges: list | None = None,
                   columns: list | None = None,
                   query_builder=None, **kwargs) -> dict:
        """v1 ``_store.py`` batch_read: reads keyed by SYMBOL (a dict of
        VersionedItem with pandas ``data``, unlike the v2 ``read_batch``
        list). Duplicate symbols are rejected (dict result). Like
        ``read_batch``, the reads run in turn on the calling thread when
        each takes the driver scan, and over the thread pool otherwise."""
        if len(set(symbols)) != len(symbols):
            raise ArcticException("batch_read: duplicate symbols")
        n = len(symbols)
        as_ofs = as_ofs or [None] * n
        date_ranges = date_ranges or [None] * n
        row_ranges = row_ranges or [None] * n
        columns = columns or [None] * n
        qbs = (query_builder if isinstance(query_builder, list)
               else [query_builder] * n)
        if len(qbs) != n:
            # reference test_filter_batch_incorrect_query_count: a
            # query_builder LIST must match the symbol count exactly —
            # silent zip-truncation would drop symbols
            from arcticdb_spark.exceptions import InternalException
            raise InternalException(
                f"batch_read: {n} symbols but {len(qbs)} query builders")

        def one(t):
            s, a, dr, rr, c, q = t
            # resolve once and read by the resolved version number so a
            # concurrent write cannot split metadata and data across
            # different versions
            m = self._resolve_version(s, a)
            data = self.read(s, as_of=m.version, date_range=dr,
                             row_range=rr, columns=c, query_builder=q,
                             output_format="pandas")
            return s, VersionedItem(symbol=s, library=self.name, data=data,
                                    version=m.version, metadata=m.metadata,
                                    timestamp=m.created_ns)
        items = list(zip(symbols, as_ofs, date_ranges, row_ranges, columns,
                         qbs))
        if self._batch_reads_on_driver("pandas", qbs):
            return dict(one(t) for t in items)
        return dict(self._pmap(one, items))

    @_kwargs_contract("batch_read_metadata", _VALID_READ_KWARGS)
    def batch_read_metadata(self, symbols: list, as_ofs: list | None = None,
                            **kwargs) -> dict:
        """v1 batch_read_metadata (``_store.py:1659``): missing symbols /
        versions are simply absent from the result dict."""
        as_ofs = as_ofs or [None] * len(symbols)

        def one(t):
            s, a = t
            try:
                return s, self.read_metadata(s, as_of=a)
            except NoSuchVersionException:
                return None
        out = self._pmap(one, list(zip(symbols, as_ofs)))
        return dict(x for x in out if x is not None)

    @_kwargs_contract("batch_write", frozenset({"dynamic_strings", "parallel", "incomplete", "recursive_normalizers", "recursive_normalize_msgpack_no_pickle_fallback", "coerce_columns", "sparsify_floats", "norm_failure_options_msg", "pickle_on_failure", "prune_previous_version"}))
    def batch_write(self, symbols: list, data_vector: list,
                    metadata_vector: list | None = None,
                    prune_previous_version: bool = False,
                    validate_index: bool = True, **kwargs) -> list:
        """v1 batch_write: positional vectors instead of payloads."""
        metas = metadata_vector or [None] * len(symbols)
        return self.write_batch(
            list(zip(symbols, data_vector, metas)),
            prune_previous_versions=prune_previous_version,
            validate_index=validate_index)

    @_kwargs_contract("batch_append", frozenset({"dynamic_strings", "coerce_columns", "write_if_missing", "incomplete", "prune_previous_version"}))
    def batch_append(self, symbols: list, data_vector: list,
                     metadata_vector: list | None = None,
                     write_if_missing: bool = True, **kwargs) -> list:
        """v1 batch_append; ``write_if_missing=False`` turns a missing
        symbol into a per-item DataError instead of creating it."""
        metas = metadata_vector or [None] * len(symbols)

        def one(t):
            s, d, md = t
            if not write_if_missing and not self.has_symbol(s):
                raise NoSuchVersionException(
                    f"symbol {s!r} does not exist (write_if_missing=False)")
            return self.append(s, d, metadata=md)
        return self._pmap_errors(one, list(zip(symbols, data_vector, metas)),
                                 lambda t: t[0])

    def batch_write_metadata(self, symbols: list, metadata_vector: list
                             ) -> list:
        """v1 batch_write_metadata: metadata-only versions per symbol."""
        return self._pmap_errors(
            lambda t: self.write_metadata(t[0], t[1]),
            list(zip(symbols, metadata_vector)), lambda t: t[0])

    def batch_delete_symbols(self, symbols: list) -> list:
        """v1 ``_store.py:3348``: List[Optional[DataError]] — None per
        successful delete."""
        out = self._pmap_errors(lambda s: self.delete(s), symbols,
                                lambda s: s)
        return [x if isinstance(x, DataError) else None for x in out]

    def batch_delete_versions(self, symbols: list, versions: list) -> list:
        """v1 ``_store.py:3316``: versions[i] is the list of versions to
        delete for symbols[i]. Input contract per reference
        test_deletion_batch.py: length mismatch raises UserInputException,
        an empty per-symbol version list raises ValueError, non-str
        symbols / non-int / negative versions raise TypeError — all
        validated BEFORE any delete runs; per-symbol failures after that
        come back as DataError entries."""
        if len(symbols) != len(versions):
            raise UserInputException(
                f"batch_delete_versions: {len(symbols)} symbols but "
                f"{len(versions)} version lists")
        for s, vs in zip(symbols, versions):
            if not isinstance(s, str):
                raise TypeError(
                    f"batch_delete_versions: symbol {s!r} is not a str")
            if not vs:
                raise ValueError(
                    f"batch_delete_versions: empty version list for {s!r}")
            for v in vs:
                if (isinstance(v, bool)
                        or not isinstance(v, numbers.Integral) or v < 0):
                    raise TypeError(
                        f"batch_delete_versions: invalid version {v!r} "
                        f"for {s!r} (non-negative int required)")
        out = self._pmap_errors(
            lambda t: self.delete_versions(t[0], t[1]),
            list(zip(symbols, versions)), lambda t: t[0])
        return [x if isinstance(x, DataError) else None for x in out]

    @_kwargs_contract("get_timerange_for_symbol")
    def get_timerange_for_symbol(self, symbol: str, version=None, **kwargs):
        """v1 ``_store.py:3721``: (earliest, latest) index timestamp of the
        resolved version."""
        return self.get_description(symbol, as_of=version).date_range

    def compact_incomplete(self, symbol: str, append: bool,
                           convert_int_to_float: bool = False,
                           via_iteration: bool = True, sparsify: bool = False,
                           metadata: Any = None,
                           prune_previous_version: bool | None = None,
                           validate_index: bool = False,
                           delete_staged_data_on_failure: bool = False,
                           stage_results=None) -> VersionManifest:
        """v1 ``_store.py:2797`` name for finalize_staged_data
        (convert_int_to_float / via_iteration / sparsify are codec-level
        knobs with no Spark/Parquet counterpart — accepted, ignored)."""
        return self.finalize_staged_data(
            symbol, mode="append" if append else "write", metadata=metadata,
            validate_index=validate_index,
            prune_previous_versions=bool(prune_previous_version),
            delete_staged_data_on_failure=delete_staged_data_on_failure,
            stage_results=stage_results)

    def read_batch_and_join(self, symbols: list[str], query_builder,
                            as_of=None) -> DataFrame:
        """(``library.py:2348``) concat N symbols then run remaining clauses."""
        dfs = [self.read(s, as_of=as_of, output_format="spark")
               for s in symbols]
        idx = self._resolve_version(symbols[0], as_of).index_column
        return query_builder.to_df_multi(dfs, index_column=idx)

    @_kwargs_contract("batch_read_and_join",
                      _VALID_READ_KWARGS | {"implement_read_index"})
    def batch_read_and_join(self, symbols: list, query_builder,
                            as_ofs: list | None = None,
                            date_ranges: list | None = None,
                            row_ranges: list | None = None,
                            columns: list | None = None,
                            per_symbol_query_builders=None,
                            **kwargs) -> DataFrame:
        """v1 spelling (``_store.py:1537``): per-symbol as_ofs /
        date_ranges / row_ranges / columns / query_builders, then the
        first clause of ``query_builder`` joins and the rest run on the
        joined frame."""
        n = len(symbols)
        as_ofs = as_ofs or [None] * n
        date_ranges = date_ranges or [None] * n
        row_ranges = row_ranges or [None] * n
        columns = columns or [None] * n
        pqs = (per_symbol_query_builders
               if isinstance(per_symbol_query_builders, list)
               else [per_symbol_query_builders] * n)
        dfs = [self.read(s, as_of=a, date_range=dr, row_range=rr,
                         columns=c, query_builder=q, output_format="spark")
               for s, a, dr, rr, c, q in zip(symbols, as_ofs, date_ranges,
                                             row_ranges, columns, pqs)]
        idx = self._resolve_version(symbols[0], as_ofs[0]).index_column
        return query_builder.to_df_multi(dfs, index_column=idx)

    @_kwargs_contract("batch_read_metadata_multi", _VALID_READ_KWARGS)
    def batch_read_metadata_multi(self, symbols: list,
                                  as_ofs: list | None = None,
                                  **kwargs) -> dict:
        """v1 ``batch_read_metadata_multi`` (``_store.py:1728``): like
        batch_read_metadata but duplicate symbols are allowed, so multiple
        versions of one symbol read in one call. Returns
        {symbol: {version: VersionedItem(data=None)}}; raises if any
        requested symbol/version is missing (reference contract)."""
        as_ofs = as_ofs or [None] * len(symbols)

        def one(t):
            s, a = t
            return s, self.read_metadata(s, as_of=a)
        out: dict = {}
        for s, item in self._pmap(one, list(zip(symbols, as_ofs))):
            out.setdefault(s, {})[item.version] = item
        return out

    def trim(self) -> None:
        """Reference ``_store.py:1387`` allocator trim — a no-op here
        (no native allocator; the JVM manages executor memory)."""

    @staticmethod
    def parse_list_of_symbols(symbols: list) -> tuple:
        """Reference ``library.py:3113``: split a mixed list of symbol
        names and ReadInfoRequest-likes into (symbol_strings, as_ofs)."""
        symbol_strings, as_ofs = [], []
        for s in symbols:
            if isinstance(s, str):
                symbol_strings.append(s)
                as_ofs.append(None)
            else:
                symbol_strings.append(s.symbol)
                as_ofs.append(getattr(s, "as_of", None))
        return symbol_strings, as_ofs


class Arctic:
    """Top-level entry point (reference ``arctic.py``): ``Arctic(uri)`` ->
    ``get_library``.

    URI forms (reference supports s3://, lmdb://, azure://, mem:// etc.):
    * local/posix or mounted object-store directory (default);
    * ``s3://bucket/prefix`` — metadata on S3 via conditional-PUT CAS
      (``S3ObjectFileSystem``); pass ``data_root`` (mounted/local path) for
      the Spark-written parquet files, and optionally ``s3_client`` (e.g. a
      moto/minio client for tests);
    * ``azure://container/prefix`` — metadata on Azure Blob Storage
      (``AzureObjectFileSystem``, reference
      ``cpp/arcticdb/storage/azure/azure_storage.cpp``); pass
      ``azure_client`` (a ContainerClient, or a fake in tests);
    * ``gs://bucket/prefix`` — metadata on Google Cloud Storage
      (``GCSObjectFileSystem``, ``if_generation_match=0`` CAS); pass
      ``gcs_client`` (a ``google.cloud.storage.Bucket``, or a fake in tests);
    * ``lmdb:///path[?map_size=…]`` — the reference's embedded local case
      (adapters/lmdb_library_adapter.py): resolved to that directory;
      ``map_size`` is accepted and ignored (parquet has no map limit);
    * ``mem://`` — the reference's in-memory test case (adapters/
      in_memory_library_adapter.py): an ephemeral store scoped to this
      Arctic instance, deleted when it is garbage-collected.
    """

    def __init__(self, uri: str, spark: SparkSession | None = None,
                 data_root: str | None = None, s3_client=None,
                 azure_client=None, gcs_client=None, mongo_database=None,
                 output_format=None):
        from arcticdb_spark.session import get_spark
        self.spark = spark or get_spark()
        # instance-level output-format default (reference arctic.py
        # Arctic(output_format=...), test_arrow_api.py precedence:
        # per-read override > library default > Arctic default)
        self._default_output_format = output_format
        self.data_root = data_root
        self._orig_uri = uri
        if uri.startswith("s3://"):
            rest = uri[len("s3://"):]
            bucket, _, prefix = rest.partition("/")
            self.fs = S3ObjectFileSystem(bucket, client=s3_client, prefix=prefix)
            self.uri = ""
        elif uri.startswith("azure://"):
            rest = uri[len("azure://"):]
            container, _, prefix = rest.partition("/")
            self.fs = AzureObjectFileSystem(container_client=azure_client,
                                            prefix=prefix, container=container)
            self.uri = ""
        elif uri.startswith("gs://"):
            rest = uri[len("gs://"):]
            bucket, _, prefix = rest.partition("/")
            self.fs = GCSObjectFileSystem(bucket_client=gcs_client,
                                          prefix=prefix, bucket=bucket)
            self.uri = ""
        elif uri.startswith("lmdb://"):
            # reference LMDBLibraryAdapter (adapters/lmdb_library_adapter.py:
            # 100-123): lmdb://<path>[?map_size=…] is the embedded local
            # case. Here the same path holds parquet + JSON manifests, so
            # map_size has no meaning and is accepted-and-ignored.
            path, _, _query = uri[len("lmdb://"):].partition("?")
            self.fs = LocalFileSystem()
            self.uri = os.path.abspath(path)
            os.makedirs(self.uri, exist_ok=True)
        elif uri.startswith("mongodb://") or uri.startswith("mongodb+srv://"):
            # reference MongoLibraryAdapter (adapters/
            # mongo_library_adapter.py:28-47): mongodb://[HOST]/[DATABASE]
            # [?OPTIONS]; the endpoint is validated eagerly and a malformed
            # string raises the reference's exact UserInputException text.
            # Metadata documents live in the database (MongoObjectFileSystem
            # insert-CAS); Spark parquet data needs a filesystem, so
            # data_root is required like the other object-store backends.
            try:
                m = re.search(r"//(?P<endpoint>[^/]+)", uri)
                endpoint = m["endpoint"]
                if not endpoint:
                    raise ValueError("empty host")
            except Exception as e:
                raise UserInputException(
                    f"Invalid connection string format. {e} Correct "
                    "format: mongodb://[HOST]/[DATABASE][?OPTIONS]")
            self._mongo_endpoint = endpoint
            self.fs = MongoObjectFileSystem(database=mongo_database, uri=uri)
            self.uri = ""
        elif uri.startswith("mem://"):
            # reference InMemoryLibraryAdapter (adapters/
            # in_memory_library_adapter.py:20-52): ephemeral per-instance
            # store. Spark's parquet writer needs real paths, so the store
            # is a TemporaryDirectory whose lifetime is tied to this Arctic
            # object — dropped (and deleted) when the instance is collected,
            # matching the reference's instance-scoped memory storage.
            self._mem_tmp = tempfile.TemporaryDirectory(prefix="arctic_mem_")
            self.fs = LocalFileSystem()
            self.uri = self._mem_tmp.name
        else:
            self.fs = LocalFileSystem()
            self.uri = uri.removeprefix("file://")
            os.makedirs(self.uri, exist_ok=True)

    def create_library(self, name: str, **kw) -> Library:
        _verify_library_name(name)
        if self.has_library(name):
            # reference arctic.py create_library: "already exists" is a
            # ValueError (test_library_creation_deletion)
            raise ValueError(f"Library {name!r} already exists")
        kw.setdefault("fs", self.fs)
        kw.setdefault("data_root", self.data_root)
        # output-format precedence (reference test_arrow_api.py):
        # library default wins over the Arctic instance default
        of = kw.pop("output_format", None) or self._default_output_format
        lib = Library(self.spark, self.uri, name, **kw)
        if of is not None:
            lib.set_output_format(of)
        return lib

    def get_library(self, name: str, create_if_missing: bool = False,
                    library_options: "LibraryOptions | None" = None,
                    output_format=None) -> Library:
        """Reference ``arctic.py:166``: ``library_options`` is only
        meaningful together with ``create_if_missing`` — when the library
        already exists, options differing from the stored configuration
        raise MismatchingLibraryOptions (never silently reconfigure)."""
        if library_options is not None and not create_if_missing:
            # reference arctic.py:200: options without create_if_missing is
            # an invalid-usage error regardless of library existence
            raise ArcticInvalidApiUsageException(
                "In get_library, library_options must be falsey if "
                "create_if_missing is falsey")
        path = self.fs.join(self.uri, name) if self.uri else name
        exists = self.fs.isdir(path)
        if not exists and not create_if_missing:
            raise LibraryNotFound(f"library {name!r} does not exist")
        if not exists:
            lib = self.create_library(name, library_options=library_options)
        else:
            lib = Library(self.spark, self.uri, name, fs=self.fs,
                          data_root=self.data_root)
            if library_options is not None and library_options != \
                    LibraryOptions(dynamic_schema=lib.dynamic_schema,
                                   dedup=lib.dedup,
                                   rows_per_segment=lib.rows_per_file,
                                   columns_per_segment=lib.columns_per_segment):
                from arcticdb_spark.exceptions import \
                    MismatchingLibraryOptions
                raise MismatchingLibraryOptions(
                    f"{name!r} already exists with different options "
                    f"(requested {library_options!r})")
        of = output_format or self._default_output_format
        if of is not None:
            lib.set_output_format(of)
        return lib

    def list_libraries(self) -> list[str]:
        return sorted(d for d in self.fs.listdir(self.uri)
                      if self.fs.isdir(self.fs.join(self.uri, d) if self.uri else d))

    def delete_library(self, name: str) -> None:
        self.fs.rmtree(self.fs.join(self.uri, name) if self.uri else name)
        if self.data_root:
            shutil.rmtree(os.path.join(self.data_root, name), ignore_errors=True)

    def has_library(self, name: str) -> bool:
        """Reference ``arctic.py`` has_library."""
        path = self.fs.join(self.uri, name) if self.uri else name
        return self.fs.isdir(path)

    def get_uri(self) -> str:
        """Reference ``arctic.py`` get_uri: the URI this instance was
        constructed with, verbatim (not the resolved local path)."""
        return self._orig_uri

    def __getitem__(self, name: str) -> Library:
        return self.get_library(name)

    def __contains__(self, name: str) -> bool:
        return self.has_library(name)

    def __repr__(self) -> str:
        if getattr(self, "_mongo_endpoint", None):
            # reference MongoLibraryAdapter.__repr__
            return f"Arctic(config=mongodb(endpoint={self._mongo_endpoint}))"
        return f"Arctic(config={self.uri or type(self.fs).__name__})"

    # enum members / reference names -> this engine's attribute names.
    # RECURSIVE_NORMALIZERS and COLUMNS_PER_SEGMENT are persisted for
    # round-trip parity; recursive normalizers are always available here
    # (write(recursive_normalizers=True)) and column slicing is subsumed
    # by parquet projection pushdown.
    _MODIFIABLE_OPTIONS = {
        ModifiableLibraryOption.DEDUP: "dedup",
        ModifiableLibraryOption.ROWS_PER_SEGMENT: "rows_per_file",
        ModifiableLibraryOption.COLUMNS_PER_SEGMENT: "columns_per_segment",
        ModifiableEnterpriseLibraryOption.REPLICATION: "replication",
        ModifiableEnterpriseLibraryOption.BACKGROUND_DELETION:
            "background_deletion",
        "dedup": "dedup",
        "rows_per_segment": "rows_per_file",
        "rows_per_file": "rows_per_file",
        "columns_per_segment": "columns_per_segment",
        "dynamic_schema": "dynamic_schema",
        "replication": "replication",
        "background_deletion": "background_deletion",
    }

    def modify_library_option(self, library: "Library", option, value) -> None:
        """Reference ``arctic.py:376`` modify_library_option: persist a
        changed LibraryOptions / EnterpriseLibraryOptions value (accepts the
        ModifiableLibraryOption / ModifiableEnterpriseLibraryOption enums or
        plain option names) so future opens see it; applies to the live
        Library object too."""
        attr = self._MODIFIABLE_OPTIONS.get(option)
        if attr is None:
            raise ArcticException(f"unknown library option {option!r}")
        cfg_path = library._fs.join(library.root, "_config.json")
        try:
            cfg = library._fs.read_json(cfg_path)
        except FileNotFoundError:
            cfg = {}
        cfg[attr] = value
        library._fs.write_json_atomic(cfg_path, cfg)
        setattr(library, attr, value)

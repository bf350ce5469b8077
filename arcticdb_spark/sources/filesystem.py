"""Metadata filesystem abstraction for the catalog.

The Library's *data* paths are already backend-transparent (Spark and
pyarrow both speak s3a://, abfss://, file:// URIs); this interface covers
the *metadata* operations (small JSON manifests) so an object-store backend
is an 8-method implementation:

* ``write_json_atomic`` — local: temp file + rename; S3: single PUT (PUTs
  are atomic per key).
* ``write_json_if_absent`` — the version-commit CAS. Local: ``os.link``
  (fails EEXIST on a lost race); S3: conditional PUT with
  ``If-None-Match: *``; GCS: ``x-goods-if-generation-match: 0``; Azure:
  ``If-None-Match: *``. This is the exact analogue of the reference's
  VERSION_REF compare-and-swap (``version/version_map.hpp``;
  S3 conditional-write usage ``cpp/arcticdb/storage/s3/s3_storage.cpp``).

Three implementations ship: ``LocalFileSystem`` (posix / NFS / FUSE-mounted
buckets), ``S3ObjectFileSystem`` (boto3, real or S3-compatible endpoint;
tested against moto) and ``AzureObjectFileSystem`` (azure-storage-blob
ContainerClient protocol; tested against a fake client — the Azure SDK is
not in this container). The catalog takes any implementation of this
protocol. Reference analogue for Azure:
``cpp/arcticdb/storage/azure/azure_storage.cpp``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid


class LocalFileSystem:
    """Posix-mounted metadata store (also covers NFS/FUSE-mounted buckets)."""

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        return sorted(os.listdir(path))

    def remove(self, path: str) -> None:
        # idempotent like S3 DELETE: every caller is GC/cleanup, and two
        # concurrent collectors (prune racing prune / delete_snapshot) may
        # legally both decide to remove the same key — found by
        # test_cas_stress.py; an exists() pre-check is TOCTOU-racy across
        # processes, so tolerance lives HERE, in the storage contract
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def read_json(self, path: str):
        with open(path) as f:
            return json.load(f)

    def write_json_atomic(self, path: str, obj) -> None:
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            # json.dumps takes the C encoder; json.dump always iterates in
            # pure Python, several times slower on a manifest
            f.write(json.dumps(obj))
        os.replace(tmp, path)

    def write_json_if_absent(self, path: str, obj) -> bool:
        """Create-if-absent CAS; returns False if another writer won."""
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(json.dumps(obj))
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)


class S3ObjectFileSystem:
    """Metadata store on S3 (or any S3-compatible endpoint) via boto3.

    Paths are bucket-relative keys ('/'-joined); directories are virtual
    (prefixes), so ``makedirs`` is a no-op and ``isdir`` means "any key
    under this prefix". The version-commit CAS maps to S3 conditional
    writes: ``PUT`` with ``If-None-Match: *`` fails with 412
    PreconditionFailed if the key exists — the serverless multi-writer
    safety mechanism the reference builds VERSION_REF on
    (``version/version_map.hpp``, ``storage/s3/s3_storage.cpp``).
    Plain PUTs are atomic per key (never a torn read), giving
    ``write_json_atomic`` for free.
    """

    def __init__(self, bucket: str, client=None, prefix: str = ""):
        if client is None:  # pragma: no cover - network path
            import boto3
            client = boto3.client("s3")
        self.bucket = bucket
        self.client = client
        self.prefix = prefix.strip("/")

    def _key(self, path: str) -> str:
        path = path.strip("/")
        if not path:
            return self.prefix
        return f"{self.prefix}/{path}" if self.prefix else path

    def _dir_prefix(self, path: str) -> str:
        k = self._key(path)
        return k + "/" if k else ""

    def join(self, *parts: str) -> str:
        return "/".join(p.strip("/") for p in parts if p)

    def exists(self, path: str) -> bool:
        try:
            self.client.head_object(Bucket=self.bucket, Key=self._key(path))
            return True
        except Exception:
            return False

    def isdir(self, path: str) -> bool:
        resp = self.client.list_objects_v2(
            Bucket=self.bucket, Prefix=self._dir_prefix(path), MaxKeys=1)
        return resp.get("KeyCount", 0) > 0

    def makedirs(self, path: str) -> None:
        pass  # prefixes are virtual

    def listdir(self, path: str) -> list[str]:
        """Immediate children (files and 'directories') under the prefix."""
        prefix = self._dir_prefix(path)
        names: set[str] = set()
        token = None
        while True:
            kw = dict(Bucket=self.bucket, Prefix=prefix, Delimiter="/")
            if token:
                kw["ContinuationToken"] = token
            resp = self.client.list_objects_v2(**kw)
            for obj in resp.get("Contents", []):
                names.add(obj["Key"][len(prefix):])
            for cp in resp.get("CommonPrefixes", []):
                names.add(cp["Prefix"][len(prefix):].rstrip("/"))
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
        return sorted(n for n in names if n)

    def remove(self, path: str) -> None:
        self.client.delete_object(Bucket=self.bucket, Key=self._key(path))

    def rmtree(self, path: str) -> None:
        prefix = self._dir_prefix(path)
        token = None
        while True:
            kw = dict(Bucket=self.bucket, Prefix=prefix)
            if token:
                kw["ContinuationToken"] = token
            resp = self.client.list_objects_v2(**kw)
            keys = [{"Key": o["Key"]} for o in resp.get("Contents", [])]
            if keys:
                self.client.delete_objects(Bucket=self.bucket,
                                           Delete={"Objects": keys})
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")

    def read_json(self, path: str):
        try:
            resp = self.client.get_object(Bucket=self.bucket,
                                          Key=self._key(path))
        except self.client.exceptions.NoSuchKey:
            raise FileNotFoundError(path)
        return json.loads(resp["Body"].read())

    def write_json_atomic(self, path: str, obj) -> None:
        self.client.put_object(Bucket=self.bucket, Key=self._key(path),
                               Body=json.dumps(obj).encode())

    def write_json_if_absent(self, path: str, obj) -> bool:
        """Conditional PUT (If-None-Match: *) — the VERSION_REF CAS."""
        try:
            self.client.put_object(Bucket=self.bucket, Key=self._key(path),
                                   Body=json.dumps(obj).encode(),
                                   IfNoneMatch="*")
            return True
        except Exception as e:
            code = getattr(e, "response", {}).get("Error", {}).get("Code")
            if code in ("PreconditionFailed", "412", "ConditionalRequestConflict"):
                return False
            raise


class AzureObjectFileSystem:
    """Metadata store on Azure Blob Storage via an
    ``azure.storage.blob.ContainerClient`` (or anything implementing its
    ``upload_blob / download_blob / delete_blob / list_blobs / walk_blobs``
    surface — tests inject an in-memory fake since the Azure SDK is not in
    this container).

    Same virtual-directory model as S3 (prefixes, ``makedirs`` no-op). The
    version-commit CAS maps to ``upload_blob(..., overwrite=False)``, which
    the SDK sends as a PUT with ``If-None-Match: *`` — the blob-store
    conditional write the reference's Azure backend
    (``cpp/arcticdb/storage/azure/azure_storage.cpp``) relies on for
    multi-writer safety; it raises ``ResourceExistsError`` (HTTP 409) when
    another writer won the race. Plain overwriting uploads are atomic per
    blob, giving ``write_json_atomic``.
    """

    def __init__(self, container_client=None, prefix: str = "",
                 account_url: str | None = None, container: str | None = None,
                 credential=None):
        if container_client is None:  # pragma: no cover - network path
            from azure.storage.blob import BlobServiceClient
            svc = BlobServiceClient(account_url=account_url,
                                    credential=credential)
            container_client = svc.get_container_client(container)
        self.client = container_client
        self.prefix = prefix.strip("/")

    # -- key helpers (identical layout to S3ObjectFileSystem) --
    def _key(self, path: str) -> str:
        path = path.strip("/")
        if not path:
            return self.prefix
        return f"{self.prefix}/{path}" if self.prefix else path

    def _dir_prefix(self, path: str) -> str:
        k = self._key(path)
        return k + "/" if k else ""

    def join(self, *parts: str) -> str:
        return "/".join(p.strip("/") for p in parts if p)

    def exists(self, path: str) -> bool:
        key = self._key(path)
        return any(b.name == key
                   for b in self.client.list_blobs(name_starts_with=key))

    def isdir(self, path: str) -> bool:
        prefix = self._dir_prefix(path)
        return any(True for _ in self.client.list_blobs(name_starts_with=prefix))

    def makedirs(self, path: str) -> None:
        pass  # prefixes are virtual

    def listdir(self, path: str) -> list[str]:
        """Immediate children via the hierarchical (delimiter) listing."""
        prefix = self._dir_prefix(path)
        names: set[str] = set()
        for item in self.client.walk_blobs(name_starts_with=prefix,
                                           delimiter="/"):
            # files are BlobProperties; sub-prefixes are BlobPrefix whose
            # .name keeps the trailing delimiter
            names.add(item.name[len(prefix):].rstrip("/"))
        return sorted(n for n in names if n)

    def remove(self, path: str) -> None:
        # idempotent like S3 DELETE (see LocalFileSystem.remove): a
        # concurrent collector may have removed the blob already
        try:
            self.client.delete_blob(self._key(path))
        except Exception as e:
            if not (type(e).__name__ == "ResourceNotFoundError"
                    or getattr(e, "status_code", None) == 404):
                raise

    def rmtree(self, path: str) -> None:
        prefix = self._dir_prefix(path)
        for b in list(self.client.list_blobs(name_starts_with=prefix)):
            self.client.delete_blob(b.name)

    def read_json(self, path: str):
        try:
            data = self.client.download_blob(self._key(path)).readall()
        except Exception as e:
            if (type(e).__name__ == "ResourceNotFoundError"
                    or getattr(e, "status_code", None) == 404):
                raise FileNotFoundError(path) from e
            raise
        return json.loads(data)

    def write_json_atomic(self, path: str, obj) -> None:
        self.client.upload_blob(name=self._key(path),
                                data=json.dumps(obj).encode(), overwrite=True)

    def write_json_if_absent(self, path: str, obj) -> bool:
        """Conditional upload (If-None-Match: * under the hood) — the
        VERSION_REF CAS; False when another writer committed first."""
        try:
            self.client.upload_blob(name=self._key(path),
                                    data=json.dumps(obj).encode(),
                                    overwrite=False)
            return True
        except Exception as e:
            if (type(e).__name__ == "ResourceExistsError"
                    or getattr(e, "status_code", None) == 409):
                return False
            raise


class GCSObjectFileSystem:
    """Metadata store on Google Cloud Storage via a
    ``google.cloud.storage.Bucket`` (or anything implementing its
    ``blob / list_blobs / delete_blob`` surface — tests inject an in-memory
    fake since the GCS SDK is not in this container).

    Same virtual-directory model as S3/Azure (prefixes, ``makedirs`` no-op).
    The version-commit CAS maps to
    ``blob.upload_from_string(..., if_generation_match=0)``, which the SDK
    sends as ``x-goog-if-generation-match: 0`` — the object only uploads if
    no live generation exists; a lost race surfaces as HTTP 412
    PreconditionFailed. This is the GCS analogue of the conditional write the
    reference's object-store backends build VERSION_REF on
    (``version/version_map.hpp``; S3 flavour in
    ``cpp/arcticdb/storage/s3/s3_storage.cpp`` — the reference reaches GCS
    through its S3-compatible XML API, where the same header applies).
    Plain uploads are atomic per object, giving ``write_json_atomic``.
    """

    def __init__(self, bucket_client=None, prefix: str = "",
                 bucket: str | None = None, project: str | None = None):
        if bucket_client is None:  # pragma: no cover - network path
            from google.cloud import storage
            bucket_client = storage.Client(project=project).bucket(bucket)
        self.client = bucket_client
        self.prefix = prefix.strip("/")

    # -- key helpers (identical layout to S3ObjectFileSystem) --
    def _key(self, path: str) -> str:
        path = path.strip("/")
        if not path:
            return self.prefix
        return f"{self.prefix}/{path}" if self.prefix else path

    def _dir_prefix(self, path: str) -> str:
        k = self._key(path)
        return k + "/" if k else ""

    def join(self, *parts: str) -> str:
        return "/".join(p.strip("/") for p in parts if p)

    def exists(self, path: str) -> bool:
        return self.client.blob(self._key(path)).exists()

    def isdir(self, path: str) -> bool:
        prefix = self._dir_prefix(path)
        return any(True for _ in self.client.list_blobs(prefix=prefix,
                                                        max_results=1))

    def makedirs(self, path: str) -> None:
        pass  # prefixes are virtual

    def listdir(self, path: str) -> list[str]:
        """Immediate children via the delimiter listing (files come from the
        iterator, sub-'directories' from the iterator's ``prefixes`` set,
        which GCS populates only after the pages are consumed)."""
        prefix = self._dir_prefix(path)
        it = self.client.list_blobs(prefix=prefix, delimiter="/")
        names = {b.name[len(prefix):] for b in it}
        names.update(p[len(prefix):].rstrip("/")
                     for p in getattr(it, "prefixes", ()))
        return sorted(n for n in names if n)

    def remove(self, path: str) -> None:
        # idempotent like S3 DELETE (see LocalFileSystem.remove)
        try:
            self.client.delete_blob(self._key(path))
        except Exception as e:
            if not (type(e).__name__ == "NotFound"
                    or getattr(e, "code", None) == 404):
                raise

    def rmtree(self, path: str) -> None:
        prefix = self._dir_prefix(path)
        for b in list(self.client.list_blobs(prefix=prefix)):
            self.client.delete_blob(b.name)

    def read_json(self, path: str):
        blob = self.client.blob(self._key(path))
        try:
            data = blob.download_as_bytes()
        except Exception as e:
            if (type(e).__name__ == "NotFound"
                    or getattr(e, "code", None) == 404):
                raise FileNotFoundError(path) from e
            raise
        return json.loads(data)

    def write_json_atomic(self, path: str, obj) -> None:
        self.client.blob(self._key(path)).upload_from_string(
            json.dumps(obj).encode())

    def write_json_if_absent(self, path: str, obj) -> bool:
        """Conditional upload (``if_generation_match=0`` →
        ``x-goog-if-generation-match: 0``) — the VERSION_REF CAS; False when
        another writer committed first (HTTP 412)."""
        try:
            self.client.blob(self._key(path)).upload_from_string(
                json.dumps(obj).encode(), if_generation_match=0)
            return True
        except Exception as e:
            if (type(e).__name__ == "PreconditionFailed"
                    or getattr(e, "code", None) == 412):
                return False
            raise


class MongoObjectFileSystem:
    """Metadata store in a MongoDB database via a ``pymongo.database.
    Database`` (or anything implementing its ``__getitem__`` ->
    collection ``find_one / replace_one / insert_one / delete_one /
    delete_many / count_documents / aggregate`` surface — tests inject an
    in-memory fake since pymongo is not in this container).

    Layout: one collection (default ``arcticdb_meta``) of documents
    ``{"_id": <path>, "doc": <json-able obj>}`` — the path keys mirror the
    posix layout exactly, so manifests/refs/snapshots keep one storage
    schema across every backend. The reference's mongo backend
    (``cpp/arcticdb/storage/mongo/mongo_storage.cpp``) likewise maps each
    segment key to one document keyed by the composite key path.

    CAS: ``insert_one`` on the unique ``_id`` index — a concurrent writer's
    duplicate insert raises DuplicateKeyError (the reference's
    ``write_internal`` relies on the same unique-key insert semantics),
    giving ``write_json_if_absent``. ``replace_one(upsert=True)`` is
    atomic per document, giving ``write_json_atomic``.
    """

    def __init__(self, database=None, collection: str = "arcticdb_meta",
                 uri: str | None = None):
        if database is None:  # pragma: no cover - network path
            from pymongo import MongoClient
            from pymongo.uri_parser import parse_uri
            db_name = parse_uri(uri).get("database") or "arcticdb"
            database = MongoClient(uri)[db_name]
        self.col = database[collection]

    @staticmethod
    def _key(path: str) -> str:
        return path.strip("/")

    def join(self, *parts: str) -> str:
        return "/".join(p.strip("/") for p in parts if p)

    def exists(self, path: str) -> bool:
        return self.col.count_documents({"_id": self._key(path)},
                                        limit=1) > 0

    def isdir(self, path: str) -> bool:
        prefix = self._key(path) + "/"
        return self.col.count_documents(
            {"_id": {"$regex": "^" + re.escape(prefix)}}, limit=1) > 0

    def makedirs(self, path: str) -> None:
        pass  # paths are virtual, like the object stores

    def listdir(self, path: str) -> list[str]:
        prefix = self._key(path)
        prefix = prefix + "/" if prefix else ""
        names = set()
        for d in self.col.find({"_id": {"$regex": "^" + re.escape(prefix)}},
                               {"_id": 1}):
            rest = d["_id"][len(prefix):]
            names.add(rest.split("/", 1)[0])
        return sorted(n for n in names if n)

    def remove(self, path: str) -> None:
        self.col.delete_one({"_id": self._key(path)})

    def rmtree(self, path: str) -> None:
        prefix = self._key(path) + "/"
        self.col.delete_many({"_id": {"$regex": "^" + re.escape(prefix)}})
        self.col.delete_one({"_id": self._key(path)})

    def read_json(self, path: str):
        d = self.col.find_one({"_id": self._key(path)})
        if d is None:
            raise FileNotFoundError(path)
        return d["doc"]

    def write_json_atomic(self, path: str, obj) -> None:
        # round-trip through json so stored docs are exactly the same
        # shapes every other backend persists (tuples -> lists etc.)
        self.col.replace_one({"_id": self._key(path)},
                             {"_id": self._key(path),
                              "doc": json.loads(json.dumps(obj))},
                             upsert=True)

    def write_json_if_absent(self, path: str, obj) -> bool:
        """Unique-_id insert — the VERSION_REF CAS; False when another
        writer committed first (DuplicateKeyError)."""
        try:
            self.col.insert_one({"_id": self._key(path),
                                 "doc": json.loads(json.dumps(obj))})
            return True
        except Exception as e:
            if type(e).__name__ == "DuplicateKeyError" or \
                    getattr(e, "code", None) == 11000:
                return False
            raise

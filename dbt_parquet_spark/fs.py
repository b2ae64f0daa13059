"""Filesystem abstraction for the catalog/materialize layer.

The reference abstracts its catalog filesystem via PyFilesystem — the
``database`` config is an FS URL handed to ``open_fs`` (reference
connections.py:33-37), so its catalog works over any backend PyFilesystem
speaks. This is the Spark-side analog, built on the public ``pyarrow.fs``
API (local, ``s3://``, ``gs://``, ``hdfs://`` — whatever pyarrow was built
with), so listing / drop / rename / atomic-publish work on object storage,
matching the 100 TB posture where data lives on a lake, not a local disk.

Two spellings per location:

- the **fs path**: what ``pyarrow.fs.FileSystem`` methods take (for S3 this
  is ``bucket/db/t.parquet`` — no scheme);
- the **Spark URL**: what ``spark.read`` takes (``s3a://bucket/db/...``).

``CatalogFS`` owns both: IO methods take fs paths, ``spark_url`` converts.
Only the database ROOT is ever parsed; everything below it is plain
``/``-joined, so the mapping cannot drift mid-tree.

``memory://`` maps to pyarrow's in-process mock filesystem (one shared
instance per process) — metadata-only (Spark cannot read it), used to test
the abstraction without network; any real deployment uses a scheme Spark's
Hadoop connectors also speak.
"""

from __future__ import annotations

import os
import posixpath
from dataclasses import dataclass
from urllib.parse import urlparse

import pyarrow.fs as pafs

class ConcurrentWriteError(RuntimeError):
    """Another mutator won the put-if-absent race for this commit's
    generation. The loser committed NOTHING (its staged files are orphans a
    vacuum reaps) — reload the manifest and retry. Shared by the versioned-
    table and ANN-index manifest protocols."""


# One shared in-memory FS per process: pyarrow's _MockFileSystem stores per
# instance, so resolve("memory://...") must hand every caller the same one.
_MEMORY_FS: pafs.FileSystem | None = None


def _memory_fs() -> pafs.FileSystem:
    global _MEMORY_FS
    if _MEMORY_FS is None:
        _MEMORY_FS = pafs._MockFileSystem()
    return _MEMORY_FS


@dataclass
class CatalogFS:
    """pyarrow.fs-backed IO for one database root.

    ``root`` is the database root as an fs path; ``spark_prefix`` prepended
    to an fs path yields the Spark-readable URL (empty for local paths,
    ``None`` when the backend is not Spark-readable, e.g. ``memory://``).

    ``conditional_put`` is the injectable OCC primitive for backends where
    pyarrow.fs exposes no conditional write: ``(fs_path, data) -> bool``,
    True iff THIS call created the object (create-exclusive semantics —
    S3 ``If-None-Match: *``, GCS ``ifGenerationMatch=0``, Azure
    ``If-None-Match``). When set, ``put_json_if_absent`` routes through it
    and the multi-writer one-winner guarantee holds on that backend;
    ``resolve_database`` wires a hook automatically for registered schemes
    (see ``register_conditional_put`` / ``_s3_conditional_put``)."""

    fs: pafs.FileSystem
    root: str
    spark_prefix: str | None = ""
    conditional_put: object | None = None  # Callable[[str, bytes], bool]

    # -- path algebra -------------------------------------------------------
    def join(self, *parts: str) -> str:
        return posixpath.join(*[p for p in parts if p != ""])

    def spark_url(self, fs_path: str) -> str:
        if self.spark_prefix is None:
            raise ValueError(
                "this filesystem backend is metadata-only (not Spark-readable); "
                "use a local path, s3://, gs:// or hdfs:// database"
            )
        return self.spark_prefix + fs_path

    # -- IO (all take fs paths) --------------------------------------------
    def _info(self, path: str) -> pafs.FileInfo:
        return self.fs.get_file_info(path)

    def exists(self, path: str) -> bool:
        return self._info(path).type != pafs.FileType.NotFound

    def isdir(self, path: str) -> bool:
        return self._info(path).type == pafs.FileType.Directory

    def isfile(self, path: str) -> bool:
        return self._info(path).type == pafs.FileType.File

    def listdir(self, path: str) -> list[str]:
        """Base names of the directory's entries, sorted (one LIST call on
        object stores — never a recursive walk)."""
        sel = pafs.FileSelector(path, recursive=False)
        return sorted(posixpath.basename(i.path) for i in self.fs.get_file_info(sel))

    def walk(self, path: str, recursive: bool = False) -> dict[str, bool]:
        """Entries under ``path`` from one LIST call, keyed by their path
        relative to ``path``; the value is True for a directory. A missing
        ``path`` lists as empty. ``recursive`` lists the whole tree (one
        delimiter-free, paginated LIST on object stores)."""
        sel = pafs.FileSelector(path, recursive=recursive, allow_not_found=True)
        n = len(path.rstrip("/")) + 1
        return {
            i.path[n:]: i.type == pafs.FileType.Directory
            for i in self.fs.get_file_info(sel)
        }

    def makedirs(self, path: str) -> None:
        self.fs.create_dir(path, recursive=True)

    def rmtree(self, path: str) -> None:
        self.fs.delete_dir(path)

    def remove_any(self, path: str) -> None:
        """Idempotent file-or-directory delete."""
        t = self._info(path).type
        if t == pafs.FileType.Directory:
            self.fs.delete_dir(path)
        elif t != pafs.FileType.NotFound:
            self.fs.delete_file(path)

    def rename(self, src: str, dst: str) -> None:
        """Move src to dst. Atomic on local/HDFS (a rename); on object
        stores pyarrow implements move as copy+delete — see
        ``materialize._swap_into_place`` for the publish-ordering story."""
        self.fs.move(src, dst)

    def getsize(self, path: str) -> int:
        return self._info(path).size or 0

    def getmtime(self, path: str) -> float | None:
        """POSIX timestamp of last modification, or None when the backend
        does not report one (e.g. the in-memory mock FS)."""
        m = self._info(path).mtime
        return m.timestamp() if m is not None else None

    def open_input(self, path: str):
        return self.fs.open_input_file(path)

    def open_output(self, path: str):
        return self.fs.open_output_stream(path)

    # -- atomic JSON commit (manifest protocols) ------------------------------
    def get_json(self, path: str):
        import json

        with self.open_input(path) as fh:
            return json.loads(fh.read().decode("utf-8"))

    def put_json_if_absent(self, path: str, obj) -> bool:
        """Create ``path`` with obj's JSON iff it does not already exist —
        the put-if-absent primitive multi-writer OCC commits need: N racing
        writers targeting the same generation-numbered commit file get
        exactly ONE winner, and the winner's file appears fully written
        (readers can never observe a torn or empty commit).

        Local filesystem: stage a dot-file sibling, then ``os.link`` it to
        the target — link(2) is a single atomic syscall that fails with
        EEXIST if the target exists and publishes the complete staged
        content when it succeeds (O_CREAT|O_EXCL would win the race but
        expose an empty file between create and write).

        Object stores: the real primitive is a conditional PUT
        (If-None-Match: * — supported by S3 since 2024, GCS
        ifGenerationMatch=0, Azure If-None-Match). pyarrow.fs does not
        expose conditional writes, so when ``conditional_put`` is set
        (automatically for registered schemes — s3/s3a when boto3 is
        importable; injectable for anything else) it IS the primitive and
        one-winner semantics hold on that backend too. Only a non-local
        backend with NO hook falls back to exists-check + PUT, where a
        narrow lost-update window remains — callers advertising
        multi-writer safety must scope their claim to local + hooked
        schemes (versioned.py does). Returns True iff this call created
        the file."""
        import json

        data = json.dumps(obj).encode("utf-8")
        if self.conditional_put is not None:
            return bool(self.conditional_put(path, data))
        if isinstance(self.fs, pafs.LocalFileSystem):
            import uuid

            tmp = posixpath.join(
                posixpath.dirname(path),
                f".{posixpath.basename(path)}.{uuid.uuid4().hex[:8]}",
            )
            with self.open_output(tmp) as fh:
                fh.write(data)
            try:
                os.link(tmp, path)
                return True
            except FileExistsError:
                return False
            finally:
                os.unlink(tmp)
        if self.exists(path):
            return False
        with self.open_output(path) as fh:
            fh.write(data)
        return True

    def put_json_atomic(self, path: str, obj) -> None:
        """Write JSON such that a reader sees either the previous or the new
        content, never a torn write — the cache refresh after each
        ``commitlog`` commit. Local filesystem: stage a dot-file sibling,
        then one ``os.replace`` (a single atomic rename syscall). Object
        stores: a direct single-object PUT is itself atomic (and
        read-after-write consistent on S3)."""
        import json
        import uuid

        data = json.dumps(obj).encode("utf-8")
        if isinstance(self.fs, pafs.LocalFileSystem):
            tmp = posixpath.join(
                posixpath.dirname(path),
                f".{posixpath.basename(path)}.{uuid.uuid4().hex[:8]}",
            )
            with self.open_output(tmp) as fh:
                fh.write(data)
            os.replace(tmp, path)
        else:
            with self.open_output(path) as fh:
                fh.write(data)


# -- conditional-PUT hooks per scheme ----------------------------------------
# factory: (database_url) -> Callable[[fs_path, bytes], bool] | None.
# Returning None means "cannot build a hook here" (missing SDK/credentials)
# and the backend keeps the documented exists+PUT fallback.
_CONDITIONAL_PUT_FACTORIES: dict[str, object] = {}


def register_conditional_put(scheme: str, factory) -> None:
    """Register a conditional-PUT hook factory for a URL scheme — the
    extension point that makes the versioned-table / ANN-manifest OCC
    guarantee hold on object stores (one atomic create-exclusive per
    commit generation). The factory receives the database URL and returns
    ``(fs_path, data) -> bool`` (True iff created) or None to decline."""
    _CONDITIONAL_PUT_FACTORIES[scheme] = factory


def _s3_conditional_put(database: str):
    """Best-effort S3 hook: boto3 ``put_object(..., IfNoneMatch='*')`` —
    the conditional write S3 has supported since 2024-08, which pyarrow's
    S3FileSystem does not surface. A 412 PreconditionFailed (or the 409
    ConditionalRequestConflict raced-PUT variant) means another writer owns
    the object: return False, the loser's OCC retry path. Declines (None)
    when boto3 is not importable — the caller keeps the documented
    fallback.

    The boto3 client is built from the SAME connection facts pyarrow's
    S3FileSystem resolves off the database URL (r13 advice: ambient-config
    boto3 against a ``?endpoint_override=minio:9000`` URL would point the
    OCC commit PUT at a DIFFERENT store than the data path): pyarrow's
    s3:// from_uri grammar carries ``access_key:secret_key@`` in the
    authority and ``region`` / ``scheme`` / ``endpoint_override`` as query
    parameters — each one, when present, is mirrored onto the client;
    absent ones keep boto3's ambient resolution, matching pyarrow's own
    fallback chain."""
    try:
        import boto3
        import botocore.exceptions
    except ImportError:
        return None
    from urllib.parse import parse_qs, unquote

    parsed = urlparse(database)
    q = {k: v[-1] for k, v in parse_qs(parsed.query).items()}
    kwargs: dict = {}
    if q.get("region"):
        kwargs["region_name"] = q["region"]
    endpoint = q.get("endpoint_override")
    if endpoint:
        if "://" not in endpoint:
            endpoint = f"{q.get('scheme', 'https')}://{endpoint}"
        kwargs["endpoint_url"] = endpoint
    if parsed.username:
        kwargs["aws_access_key_id"] = unquote(parsed.username)
    if parsed.password:
        kwargs["aws_secret_access_key"] = unquote(parsed.password)
    client = boto3.client("s3", **kwargs)

    def put_if_absent(fs_path: str, data: bytes) -> bool:
        bucket, _, key = fs_path.partition("/")
        try:
            client.put_object(Bucket=bucket, Key=key, Body=data, IfNoneMatch="*")
            return True
        except botocore.exceptions.ClientError as exc:
            code = exc.response.get("Error", {}).get("Code", "")
            if code in ("PreconditionFailed", "ConditionalRequestConflict", "412", "409"):
                return False
            raise

    return put_if_absent


register_conditional_put("s3", _s3_conditional_put)
register_conditional_put("s3a", _s3_conditional_put)


def resolve_database(database: str) -> CatalogFS:
    """Map a database string (plain path or FS URL) to a CatalogFS.

    - plain path / ``file://`` → LocalFileSystem on the absolute path
      (Spark reads the same path directly);
    - ``memory://`` → shared in-process mock FS, metadata-only;
    - ``s3://``/``s3a://`` → pyarrow S3; Spark URL spelled ``s3a://`` (the
      Hadoop S3 connector scheme);
    - anything else (``gs://``, ``hdfs://host:port/...``) → whatever
      ``pyarrow.fs.FileSystem.from_uri`` yields, Spark URL keeping the
      original scheme+authority.
    """
    parsed = urlparse(database)
    # Single-letter "schemes" are Windows drive letters (C:\data), not URLs.
    if parsed.scheme in ("", "file") or len(parsed.scheme) == 1:
        explicit = parsed.scheme == "file"
        root = os.path.abspath(parsed.path if explicit else database)
        # An EXPLICIT file:// database keeps its scheme on Spark URLs, so
        # the scheme-prefixed spark_url join path (the one s3a://, gs://
        # and hdfs:// take) is exercised end-to-end by local tests; a bare
        # path stays a bare path.
        return CatalogFS(
            pafs.LocalFileSystem(), root, spark_prefix="file://" if explicit else ""
        )
    factory = _CONDITIONAL_PUT_FACTORIES.get(parsed.scheme)
    cput = factory(database) if factory is not None else None
    if parsed.scheme == "memory":
        root = (parsed.netloc + parsed.path).strip("/")
        fs = _memory_fs()
        fs.create_dir(root, recursive=True)
        return CatalogFS(fs, root, spark_prefix=None, conditional_put=cput)
    if parsed.scheme in ("s3", "s3a"):
        uri = "s3://" + database.split("://", 1)[1]
        fs, root = pafs.FileSystem.from_uri(uri)
        return CatalogFS(fs, root, spark_prefix="s3a://", conditional_put=cput)
    fs, root = pafs.FileSystem.from_uri(database)
    # Reconstruct spark URLs with the original scheme+authority; from_uri
    # keeps bucket-in-path schemes' (gs) bucket inside root, while
    # authority-ful schemes (hdfs) drop host:port into the FS object.
    if parsed.netloc and not root.startswith(parsed.netloc):
        prefix = f"{parsed.scheme}://{parsed.netloc}"
    else:
        prefix = f"{parsed.scheme}://"
    return CatalogFS(fs, root, spark_prefix=prefix, conditional_put=cput)

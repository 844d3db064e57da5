"""Hadoop FileSystem access from the driver (py4j, no extra jars).

Every path operation the storage layer performs goes through Hadoop's
``FileSystem`` API instead of ``os``/``shutil``, so a data folder root
can be a plain local path, a ``file://`` URI, or any object-store scheme
Spark itself can reach (``s3a://``, ``abfss://``, ``gs://`` — provide
the usual Hadoop credentials/connector configuration on the session and
the same code runs unchanged; reference open_s3/open_azure,
crates/modelardb_storage/src/data_folder/mod.rs:89-260).

The one primitive the transaction log leans on is
``create_exclusive``: ``FileSystem.create(path, overwrite=false)``,
which atomically fails if the file exists. On HDFS and local
filesystems this is the same putIfAbsent primitive Delta Lake's
HDFSLogStore uses for commit atomicity; plain S3 needs a
conditional-put-capable connector for multi-writer commits (single
writer is always safe).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass
class FileInfo:
    path: str  # fully-qualified URI string
    is_dir: bool
    size: int
    mtime_ms: int


# Suffix of the hidden temporary files ``create_exclusive`` publishes on
# file: URIs.
_CREATE_TEMP_SUFFIX = ".tmp"


def is_create_temp(name: str) -> bool:
    """Whether a file name is one of ``create_exclusive``'s temporary
    files (``.<name>.<uuid>.tmp``)."""
    return name.startswith(".") and name.endswith(_CREATE_TEMP_SUFFIX)


class HadoopFS:
    """Thin py4j wrapper over org.apache.hadoop.fs.FileSystem for one
    base URI's filesystem."""

    def __init__(self, spark: SparkSession, base: str) -> None:
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        jpath = self._jvm.org.apache.hadoop.fs.Path(base)
        self._fs = jpath.getFileSystem(self._conf)
        # fully-qualified base (adds scheme/authority, e.g. file:/x)
        self.base = str(self._fs.makeQualified(jpath).toString())

    def path(self, uri: str):
        return self._jvm.org.apache.hadoop.fs.Path(uri)

    def join(self, *parts: str) -> str:
        out = parts[0].rstrip("/")
        for p in parts[1:]:
            out += "/" + p.strip("/")
        return out

    def qualify(self, uri: str) -> str:
        return str(self._fs.makeQualified(self.path(uri)).toString())

    @staticmethod
    def _local_path(uri: str) -> str | None:
        """OS path for ``file:`` URIs (None for any other scheme).
        Listings on the local scheme go through ``os`` directly: a py4j
        round-trip per FileStatus accessor costs ~1 ms each, so listing
        a staged directory of 64 files costs ~0.3 s through the JVM and
        ~1 ms natively. Object-store schemes keep the Hadoop path."""
        if uri.startswith("file:"):
            from urllib.parse import unquote, urlparse

            return unquote(urlparse(uri).path)
        return None  # every other scheme keeps the Hadoop path

    # ------------------------------------------------------------ queries

    def exists(self, uri: str) -> bool:
        return bool(self._fs.exists(self.path(uri)))

    def list(self, uri: str) -> list[FileInfo]:
        local = self._local_path(uri)
        if local is not None:
            import os

            if not os.path.isdir(local):
                return []
            out = []
            with os.scandir(local) as entries:
                for e in entries:
                    st = e.stat()
                    out.append(
                        FileInfo(
                            path="file:" + e.path,
                            is_dir=e.is_dir(),
                            size=int(st.st_size),
                            mtime_ms=int(st.st_mtime * 1000),
                        )
                    )
            return out
        if not self.exists(uri):
            return []
        out = []
        for st in self._fs.listStatus(self.path(uri)):
            out.append(
                FileInfo(
                    path=str(st.getPath().toString()),
                    is_dir=bool(st.isDirectory()),
                    size=int(st.getLen()),
                    mtime_ms=int(st.getModificationTime()),
                )
            )
        return out

    def list_files_recursive(self, uri: str) -> list[FileInfo]:
        local = self._local_path(uri)
        if local is not None:
            import os

            if not os.path.isdir(local):
                return []
            out = []
            for dirpath, _dirs, files in os.walk(local):
                for f in files:
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    out.append(
                        FileInfo(
                            path="file:" + p,
                            is_dir=False,
                            size=int(st.st_size),
                            mtime_ms=int(st.st_mtime * 1000),
                        )
                    )
            return out
        if not self.exists(uri):
            return []
        out = []
        it = self._fs.listFiles(self.path(uri), True)
        while it.hasNext():
            st = it.next()
            out.append(
                FileInfo(
                    path=str(st.getPath().toString()),
                    is_dir=False,
                    size=int(st.getLen()),
                    mtime_ms=int(st.getModificationTime()),
                )
            )
        return out

    # ------------------------------------------------------------ actions

    def mkdirs(self, uri: str) -> None:
        self._fs.mkdirs(self.path(uri))

    def delete(self, uri: str, recursive: bool = False) -> bool:
        return bool(self._fs.delete(self.path(uri), recursive))

    def read_bytes(self, uri: str) -> bytes:
        local = self._local_path(uri)
        if local is not None:
            # a byte[] over py4j costs ~50 ms from a few KB up (measured:
            # 600 B 7.5 ms, 8 KB 60 ms, 64 KB 82 ms); every snapshot
            # reads each new commit through here
            with open(local, "rb") as f:
                return f.read()
        stream = self._fs.open(self.path(uri))
        try:
            ioutils = self._jvm.org.apache.commons.io.IOUtils
            data = ioutils.toByteArray(stream)
            return bytes(data)
        finally:
            stream.close()

    def _write_stream(self, stream, data: bytes) -> None:
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def create_exclusive(self, uri: str, data: bytes) -> bool:
        """Atomically create `uri` with `data`; False if it already
        exists (the optimistic-concurrency primitive).

        Hadoop's LocalFileSystem implements create(overwrite=false) as a
        non-atomic existence check, so for file: URIs the bytes go to a
        hidden temporary file that a hard link publishes (``link`` fails
        if the name exists): a concurrent reader never sees the file
        created but not yet written. A local directory therefore needs
        hard-link support; on one without it (some FUSE or CIFS mounts)
        this raises an OSError that says so. A crash between the write
        and the unlink leaves the temporary file, which
        ``TransactionLog.vacuum`` removes (``is_create_temp``).
        HDFS-like filesystems keep the atomic create (Delta's
        HDFSLogStore relies on the same split)."""
        qualified = self.qualify(uri)
        if qualified.startswith("file:"):
            import os
            from urllib.parse import urlparse

            local = urlparse(qualified).path
            head, tail = os.path.split(local)
            os.makedirs(head, exist_ok=True)
            tmp = os.path.join(head, f".{tail}.{uuid.uuid4().hex}{_CREATE_TEMP_SUFFIX}")
            with open(tmp, "wb") as f:
                f.write(data)
            try:
                os.link(tmp, local)
            except FileExistsError:
                return False
            except OSError as exc:
                raise OSError(
                    exc.errno,
                    f"create_exclusive publishes {local} with a hard link, which "
                    f"this filesystem refused ({exc.strerror}); keep the table "
                    "root on a local filesystem that supports hard links",
                ) from exc
            finally:
                os.unlink(tmp)
            return True
        try:
            stream = self._fs.create(self.path(uri), False)
        except Exception as exc:  # FileAlreadyExistsException via py4j
            if "exist" in str(exc).lower():
                return False
            raise
        self._write_stream(stream, data)
        return True

    def write_bytes(self, uri: str, data: bytes) -> None:
        """Create or replace `uri` (used for driver-side metadata where
        last-writer-wins is acceptable)."""
        stream = self._fs.create(self.path(uri), True)
        self._write_stream(stream, data)

    def open_seekable(self, uri: str, size: int) -> "SeekableFile":
        """A Python file-like over FSDataInputStream (read/seek/tell), so
        pyarrow can read a Parquet FOOTER from any scheme without pulling
        the whole file — a few KB-sized ranged reads per file."""
        return SeekableFile(self._jvm, self._fs.open(self.path(uri)), size)


class SeekableFile:
    """Minimal seekable read-only file over a Hadoop FSDataInputStream."""

    def __init__(self, jvm, stream, size: int) -> None:
        self._ioutils = jvm.org.apache.commons.io.IOUtils
        self._stream = stream
        self._size = size
        self._pos = 0
        self.closed = False

    def size(self) -> int:
        return self._size

    def seekable(self) -> bool:
        return True

    def readable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def tell(self) -> int:
        return self._pos

    def seek(self, pos: int, whence: int = 0) -> int:
        if whence == 1:
            pos += self._pos
        elif whence == 2:
            pos += self._size
        self._pos = max(0, pos)
        self._stream.seek(self._pos)
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n < 0:
            n = self._size - self._pos
        n = min(n, self._size - self._pos)
        if n <= 0:
            return b""
        data = bytes(self._ioutils.toByteArray(self._stream, n))
        self._pos += len(data)
        return data

    def close(self) -> None:
        if not self.closed:
            self._stream.close()
            self.closed = True

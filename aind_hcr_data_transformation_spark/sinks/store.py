"""URL-addressed byte stores for the zarr sink (K6–K8).

The reference stages output on node-local disk and ships it with
``aws s3 sync`` (``utils/utils.py:142-205``, ``zeiss_job.py:159-205``).
A Spark job has no shared local staging area — tasks on 1000 executors
must write their chunks STRAIGHT to the destination — so the sink
resolves every path through a scheme-addressed store instead of
``os.path``:

* no scheme / ``file://`` → local filesystem (atomic temp+rename)
* ``memory://``           → process-local dict (unit-test double that
                            proves the sink never touches ``os`` paths)
* anything else (``s3://``, ``gs://``, …) → fsspec, import-gated; object
  PUTs are atomic per key, which replaces the temp+rename dance (the
  same disjoint-chunk guarantee makes concurrent writers safe).

Store methods take STORE-RELATIVE paths produced by :func:`resolve`.
"""

from __future__ import annotations

import os
import threading
from typing import Any
from urllib.parse import urlparse


class LocalStore:
    """Plain filesystem bytes — the default when the URL has no scheme."""

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def write_bytes(self, path: str, data: bytes) -> None:
        # temp + rename: readers never observe a torn chunk
        tmp = os.path.join(
            os.path.dirname(path), f".{os.path.basename(path)}.tmp.{os.getpid()}"
        )
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def list_dir(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return sorted(os.listdir(path))

    def delete(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)


class MemoryStore:
    """Process-local in-memory store (one shared namespace per process).

    Not visible across Spark python workers — use it for driver-side unit
    tests of the sink's store discipline, not distributed writes (the
    converters reject a ``memory://`` output directory before writing
    anything, see ``pipeline._convert_stacks``).

    ``read_counts`` tallies ``read_bytes`` calls per key so tests can
    assert I/O discipline (e.g. the ``.zarray`` metadata cache).
    """

    _data: dict[str, bytes] = {}
    _lock = threading.Lock()
    read_counts: dict[str, int] = {}

    def makedirs(self, path: str) -> None:  # directories are implicit
        pass

    def write_bytes(self, path: str, data: bytes) -> None:
        with self._lock:
            self._data[path] = data

    def read_bytes(self, path: str) -> bytes:
        with self._lock:
            self.read_counts[path] = self.read_counts.get(path, 0) + 1
        try:
            return self._data[path]
        except KeyError:
            raise FileNotFoundError(path) from None

    def exists(self, path: str) -> bool:
        return path in self._data

    def list_dir(self, path: str) -> list[str]:
        prefix = path.rstrip("/") + "/"
        with self._lock:
            return sorted(
                k[len(prefix) :]
                for k in self._data
                if k.startswith(prefix) and "/" not in k[len(prefix) :]
            )

    def delete(self, path: str) -> None:
        with self._lock:
            self._data.pop(path, None)

    def join(self, *parts: str) -> str:
        return "/".join(p.strip("/") for p in parts if p)

    @classmethod
    def clear(cls) -> None:
        with cls._lock:
            cls._data.clear()
            cls.read_counts.clear()


class FsspecStore:
    """Object-store adapter over fsspec (s3://, gs://, abfs://, …).

    Import-gated: the container has no fsspec, but production clusters
    ship it with the object-store driver (s3fs etc.). No temp+rename —
    object PUTs are atomic per key.
    """

    def __init__(self, scheme: str):
        try:
            import fsspec
        except ImportError as exc:
            raise NotImplementedError(
                f"writing to {scheme}:// requires fsspec (+ the {scheme} "
                "driver); install them or write to a local path"
            ) from exc
        self.fs = fsspec.filesystem(scheme)
        self.scheme = scheme

    def makedirs(self, path: str) -> None:  # object stores have no dirs
        pass

    def write_bytes(self, path: str, data: bytes) -> None:
        with self.fs.open(f"{self.scheme}://{path}", "wb") as f:
            f.write(data)

    def read_bytes(self, path: str) -> bytes:
        with self.fs.open(f"{self.scheme}://{path}", "rb") as f:
            return f.read()

    def exists(self, path: str) -> bool:
        return self.fs.exists(f"{self.scheme}://{path}")

    def list_dir(self, path: str) -> list[str]:
        url = f"{self.scheme}://{path.rstrip('/')}"
        if not self.fs.exists(url):
            return []
        return sorted(
            e.rsplit("/", 1)[-1] for e in self.fs.ls(url, detail=False)
        )

    def delete(self, path: str) -> None:
        url = f"{self.scheme}://{path}"
        if self.fs.exists(url):
            self.fs.rm(url)

    def join(self, *parts: str) -> str:
        return "/".join(p.strip("/") for p in parts if p)


def resolve(url: str) -> tuple[Any, str]:
    """URL → (store, store-relative path).

    Plain paths (no scheme) and ``file://`` go local; ``memory://`` hits
    the in-process store; other schemes go through fsspec.
    """
    parsed = urlparse(url)
    if parsed.scheme in ("", "file"):
        return LocalStore(), (parsed.path if parsed.scheme == "file" else url)
    if parsed.scheme == "memory":
        return MemoryStore(), f"{parsed.netloc}{parsed.path}"
    return FsspecStore(parsed.scheme), f"{parsed.netloc}{parsed.path}"


def sync_dir(local_dir: str, dest_url: str) -> int:
    """Recursively upload a local directory into a URL-addressed store —
    the store-layer twin of the reference's ``aws s3 sync`` wrapper
    (``utils/utils.py:142-173``); driver-side, for small auxiliary trees
    (derivatives folders, metadata), not bulk chunk traffic.

    Returns the number of files written."""
    from pathlib import Path

    base = Path(local_dir)
    if not base.is_dir():
        raise FileNotFoundError(f"{local_dir} is not a directory")
    store, root = resolve(dest_url)
    n = 0
    for p in sorted(base.rglob("*")):
        if not p.is_file():
            continue
        dest = store.join(root, p.relative_to(base).as_posix())
        parent = dest.rsplit("/", 1)[0] if "/" in dest else ""
        if parent:
            store.makedirs(parent)
        store.write_bytes(dest, p.read_bytes())
        n += 1
    return n

"""Python-side filesystem resolution for the engine's own file I/O.

Driver-side steps (a sink's clearing, manifest and empty-output file,
the KeyedTable commit log, a reader's listing) call this module's
functions. Executor tasks, which have no py4j access to the JVM Hadoop
FileSystem, reach every file the engine encodes or decodes through one
seam, :func:`task_files`: a registered distributed backend (the S3/GCS
HTTP clients) or else ``pyarrow.fs``.

OBJECT-STORE BACKENDS. The KeyedTable commit protocol
(operators/mutations.py) needs one primitive rename-based filesystems
give for free but object stores only expose through a service-specific
header: an atomic *conditional put* ("create this object only if it
does not exist"). pyarrow's filesystem layer does not surface it, so
this module carries a per-scheme backend registry:

* local paths (bare or ``file://``) get true ``O_EXCL`` atomicity from
  the OS — no registration needed;
* a registered backend (``register_object_backend("s3", impl)``)
  serves ALL fsio calls for its scheme, including
  :func:`create_exclusive`. Real deployments register a thin client
  using the store's public conditional-write API — S3 ``PutObject``
  with ``If-None-Match: *`` or GCS ``x-goog-if-generation-match: 0``;
  :class:`MemoryObjectStore` is the in-process reference
  implementation tests inject;
* an UNREGISTERED scheme makes :func:`create_exclusive` raise
  :class:`ConditionalPutUnsupported` — never a silent check-then-write
  fallback, which is not exclusive and would let two commit-protocol
  writers both "win".
"""

from __future__ import annotations

import threading


class ConditionalPutUnsupported(NotImplementedError):
    """The path's filesystem cannot perform an atomic create-exclusive
    (conditional put) and no object-store backend is registered for
    its scheme. Commit protocols must fail loudly here: degrading to
    check-then-write silently breaks their mutual exclusion."""


#: scheme (no "://") -> backend object serving that scheme's paths.
_OBJECT_BACKENDS: dict[str, object] = {}


def register_object_backend(scheme: str, backend) -> None:
    """Route every fsio call for ``scheme://...`` paths through
    ``backend`` (an object with this module's function names as
    methods, taking full ``scheme://`` paths). The backend's
    ``create_exclusive`` MUST be genuinely atomic — it is the
    commit-protocol CAS primitive."""
    _OBJECT_BACKENDS[scheme] = backend


def unregister_object_backend(scheme: str) -> None:
    _OBJECT_BACKENDS.pop(scheme, None)


def _backend_for(path: str):
    if "://" in path:
        return _OBJECT_BACKENDS.get(path.split("://", 1)[0])
    return None


def distributed_backend_for(path: str):
    """The path's registered backend IF executor tasks may use it
    directly — picklable and backed by an external service, marked by
    the backend's ``distributed = True`` attribute. This is the gate
    the distributed parquet data plane (operators/objstore_plane.py)
    checks before routing Spark DATA through a backend;
    :class:`MemoryObjectStore` holds driver memory, so it never
    qualifies (and metadata-only tests keep working through it)."""
    b = _backend_for(path)
    return b if getattr(b, "distributed", False) else None


def supports_conditional_put(path: str) -> bool:
    """True if :func:`create_exclusive` on this path is atomic: local
    paths (OS ``O_EXCL``) and registered object-store schemes."""
    if path.startswith("file://") or "://" not in path:
        return True
    return _backend_for(path) is not None


class MemoryObjectStore:
    """In-process object store with object-store SEMANTICS: a flat
    key->bytes namespace (directories are implicit prefixes, mkdirs is
    a no-op, "rename" is copy+delete) and an atomic ``create_exclusive``
    — the conditional put S3 exposes as ``If-None-Match: *`` and GCS as
    ``x-goog-if-generation-match: 0``. The reference backend the
    KeyedTable commit-protocol tests inject; a real S3/GCS backend
    implements the same method set over the service API."""

    def __init__(self):
        self._objects: dict[str, bytes] = {}
        self._mtimes: dict[str, float] = {}
        self._lock = threading.Lock()

    # -- the CAS primitive -------------------------------------------
    def create_exclusive(self, path: str, data: bytes) -> bool:
        import time
        with self._lock:
            if path in self._objects:
                return False
            self._objects[path] = bytes(data)
            self._mtimes[path] = time.time()
            return True

    # -- plain object ops --------------------------------------------
    def read_bytes(self, path: str) -> bytes:
        with self._lock:
            try:
                return self._objects[path]
            except KeyError:
                raise FileNotFoundError(path) from None

    def write_bytes(self, path: str, data: bytes) -> None:
        import time
        with self._lock:
            self._objects[path] = bytes(data)
            self._mtimes[path] = time.time()

    def delete_file(self, path: str) -> None:
        with self._lock:
            try:
                del self._objects[path]
                self._mtimes.pop(path, None)
            except KeyError:
                raise FileNotFoundError(path) from None

    # -- prefix ("directory") ops ------------------------------------
    def _prefix(self, path: str) -> str:
        return path.rstrip("/") + "/"

    def exists(self, path: str) -> bool:
        with self._lock:
            if path in self._objects:
                return True
            p = self._prefix(path)
            return any(k.startswith(p) for k in self._objects)

    def is_dir(self, path: str) -> bool:
        p = self._prefix(path)
        with self._lock:
            return any(k.startswith(p) for k in self._objects)

    def mkdirs(self, path: str) -> None:
        pass  # object stores have no directories

    def list_dir(self, path: str) -> list[str]:
        return [n for n, _ in self.list_dir_typed(path)]

    def list_dir_typed(self, path: str) -> list[tuple[str, bool]]:
        """(child name, is_dir) in one pass — a child is a 'directory'
        iff some key continues past it."""
        p = self._prefix(path)
        out: dict[str, bool] = {}
        with self._lock:
            for k in self._objects:
                if not k.startswith(p):
                    continue
                head, sep, _ = k[len(p):].partition("/")
                if head:
                    out[head] = out.get(head, False) or bool(sep)
        return sorted(out.items())

    def list_files(self, path: str, suffix: str | None = None) -> list[str]:
        p = self._prefix(path)
        with self._lock:
            if path in self._objects:
                return [path]
            out = []
            for k in self._objects:
                if not k.startswith(p):
                    continue
                name = k.rsplit("/", 1)[-1]
                if name.startswith(("_", ".")):
                    continue
                if suffix and not name.endswith(suffix):
                    continue
                out.append(k)
            if not out and not any(k.startswith(p) for k in self._objects):
                raise FileNotFoundError(path)
            return sorted(out)

    def newest_mtime_under(self, path: str) -> float | None:
        p = self._prefix(path)
        with self._lock:
            ts = [t for k, t in self._mtimes.items()
                  if k == path or k.startswith(p)]
            return max(ts) if ts else None

    def delete_dir(self, path: str) -> None:
        p = self._prefix(path)
        with self._lock:
            for k in [k for k in self._objects if k.startswith(p)]:
                del self._objects[k]
                self._mtimes.pop(k, None)

    def move(self, src: str, dst: str) -> None:
        """Copy+delete — the only 'rename' an object store has. NOT
        atomic; commit protocols must not rely on it (they use
        create_exclusive on immutable objects instead)."""
        import time as _time
        with self._lock:
            # a missing source mtime defaults to NOW (a move is a
            # fresh write): defaulting to 0.0 would make the object
            # look epoch-old, and reclaim_orphans' grace would never
            # protect the directory holding it
            if src in self._objects:
                self._objects[dst] = self._objects.pop(src)
                self._mtimes[dst] = self._mtimes.pop(src, _time.time())
                return
            sp, dp = self._prefix(src), self._prefix(dst)
            keys = [k for k in self._objects if k.startswith(sp)]
            if not keys:
                raise FileNotFoundError(src)
            now = _time.time()
            for k in keys:
                self._objects[dp + k[len(sp):]] = self._objects.pop(k)
                self._mtimes[dp + k[len(sp):]] = self._mtimes.pop(k, now)


def resolve_fs(path: str):
    """Return ``(pyarrow FileSystem, fs-local path)`` for ``path``.

    Paths with a scheme go through ``FileSystem.from_uri``; bare paths
    map to the local filesystem unchanged (relative paths resolve
    against the driver's cwd, same as ``open``).
    """
    import pyarrow.fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def task_files(path: str):
    """How executor tasks reach the files at and under ``path``,
    resolved on the driver before the caller touches anything. A
    registered distributed backend (S3/GCS HTTP) is pickled to the
    tasks; its ``open_write`` streams parts of at least 8 MB, so a task
    holds one part per open file. A registered backend tasks cannot
    reach (a :class:`MemoryObjectStore` lives in driver memory) raises
    ``ValueError``. Any other path gets its ``pyarrow.fs`` filesystem
    here, so an unknown scheme raises on the driver.

    Returns ``scheme``, ``root`` (``path`` without it) and closures
    over full paths, as :func:`list_files` returns them:
    ``open_write(p)``, ``read_bytes(p)`` and ``abandon(stream)``, which
    drops a stream after a task error — aborting an object-store
    upload, since closing it would publish a partial object."""
    from types import SimpleNamespace

    scheme = path.split("://", 1)[0] + "://" if "://" in path else ""
    backend = _backend_for(path)
    if backend is not None:
        if not getattr(backend, "distributed", False):
            raise ValueError(f"executor tasks cannot reach scheme "
                             f"{scheme[:-3]!r}'s {type(backend).__name__}")
        open_write, read_bytes = backend.open_write, backend.read_bytes
    else:
        fs, _ = resolve_fs(path)

        def open_write(p):
            import posixpath

            local = p[len(scheme):]
            fs.create_dir(posixpath.dirname(local), recursive=True)
            return fs.open_output_stream(local, compression=None)

        def read_bytes(p):
            with fs.open_input_stream(p[len(scheme):],
                                      compression=None) as fh:
                return fh.read()

    def abandon(stream):
        getattr(stream, "abandon", stream.close)()

    return SimpleNamespace(scheme=scheme, root=path[len(scheme):],
                           open_write=open_write, abandon=abandon,
                           read_bytes=read_bytes)


def read_bytes(path: str) -> bytes:
    """Whole-file read through pyarrow.fs (scheme-general)."""
    b = _backend_for(path)
    if b is not None:
        return b.read_bytes(path)
    fs, base = resolve_fs(path)
    with fs.open_input_stream(base, compression=None) as fh:
        return fh.read()


def write_bytes(path: str, data: bytes) -> None:
    """Whole-file write through pyarrow.fs. NOT atomic on its own —
    callers needing an atomic publish use :func:`create_exclusive`."""
    b = _backend_for(path)
    if b is not None:
        return b.write_bytes(path, data)
    fs, base = resolve_fs(path)
    with fs.open_output_stream(base, compression=None) as fh:
        fh.write(data)


def create_exclusive(path: str, data: bytes) -> bool:
    """Create ``path`` with ``data`` only if it does not already exist.
    Returns True on success, False if the file was already present —
    the conditional-put primitive an optimistic commit protocol CASes
    on.

    Local paths (bare or ``file://``) get true O_EXCL atomicity from
    the OS; registered object-store schemes dispatch to their
    backend's conditional put (S3 ``If-None-Match: *`` / GCS
    ``if-generation-match: 0`` in real deployments,
    :class:`MemoryObjectStore` in tests). Any other scheme RAISES
    :class:`ConditionalPutUnsupported`: a check-then-write fallback is
    not exclusive, and silently degrading would let two commit
    protocol writers both "acquire" the same version."""
    b = _backend_for(path)
    if b is not None:
        return b.create_exclusive(path, data)
    if path.startswith("file://"):
        path = path[len("file://"):]
    if "://" not in path:
        import os

        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, data)
        finally:
            os.close(fd)
        return True
    raise ConditionalPutUnsupported(
        f"no atomic create-exclusive for {path!r}: scheme "
        f"{path.split('://', 1)[0]!r} has no registered object-store "
        "backend (register one via fsio.register_object_backend using "
        "the store's conditional-write API — S3 If-None-Match / GCS "
        "if-generation-match)")


def delete_file(path: str) -> None:
    b = _backend_for(path)
    if b is not None:
        return b.delete_file(path)
    fs, base = resolve_fs(path)
    fs.delete_file(base)


def exists(path: str) -> bool:
    import pyarrow.fs as pafs

    b = _backend_for(path)
    if b is not None:
        return b.exists(path)
    fs, base = resolve_fs(path)
    return fs.get_file_info(base).type != pafs.FileType.NotFound


def is_dir(path: str) -> bool:
    import pyarrow.fs as pafs

    b = _backend_for(path)
    if b is not None:
        return b.is_dir(path)
    fs, base = resolve_fs(path)
    return fs.get_file_info(base).type == pafs.FileType.Directory


def mkdirs(path: str) -> None:
    b = _backend_for(path)
    if b is not None:
        return b.mkdirs(path)
    fs, base = resolve_fs(path)
    fs.create_dir(base, recursive=True)


def delete_dir(path: str) -> None:
    b = _backend_for(path)
    if b is not None:
        return b.delete_dir(path)
    fs, base = resolve_fs(path)
    fs.delete_dir(base)


def list_dir(path: str) -> list[str]:
    """Immediate child names (files and dirs) of a directory."""
    b = _backend_for(path)
    if b is not None:
        return b.list_dir(path)
    return [n for n, _ in list_dir_typed(path)]


def list_dir_typed(path: str) -> list[tuple[str, bool]]:
    """Immediate children as ``(name, is_dir)`` pairs in ONE listing —
    what directory finalization needs without an is_dir round trip per
    child (N+1 LISTs on an object store)."""
    import pyarrow.fs as pafs

    b = _backend_for(path)
    if b is not None:
        if hasattr(b, "list_dir_typed"):
            return b.list_dir_typed(path)
        base = path.rstrip("/")
        return [(n, b.is_dir(f"{base}/{n}")) for n in b.list_dir(path)]
    fs, base = resolve_fs(path)
    return sorted(
        (fi.path.rsplit("/", 1)[-1],
         fi.type == pafs.FileType.Directory)
        for fi in fs.get_file_info(pafs.FileSelector(base, recursive=False)))


def list_files(path: str, suffix: str | None = None) -> list[str]:
    """Recursive data-file listing via pyarrow (scheme-general).

    Hidden ``_``/``.`` entries are skipped like Spark's file index
    does; ``path`` may be a single file. Results keep the input's
    scheme prefix (``s3://…``) so they resolve back through
    :func:`resolve_fs` unchanged.
    """
    import pyarrow.fs as pafs

    b = _backend_for(path)
    if b is not None:
        return b.list_files(path, suffix)
    scheme = path.split("://", 1)[0] + "://" if "://" in path else ""
    fs, base = resolve_fs(path)
    info = fs.get_file_info(base)
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(path)
    if info.type == pafs.FileType.File:
        return [scheme + base if scheme else base]
    out = []
    for fi in fs.get_file_info(pafs.FileSelector(base, recursive=True)):
        if fi.type != pafs.FileType.File:
            continue
        name = fi.path.rsplit("/", 1)[-1]
        if name.startswith(("_", ".")):
            continue
        if suffix and not name.endswith(suffix):
            continue
        out.append(scheme + fi.path if scheme else fi.path)
    return sorted(out)


def newest_mtime_under(path: str) -> float | None:
    """Newest modification time (epoch seconds) of any file at or under
    ``path``; None if nothing exists there or the filesystem reports no
    mtimes. The liveness signal orphan reclamation gates on: a
    staging directory a live writer is still filling has a recent
    newest-file mtime even when its first files are old."""
    import pyarrow.fs as pafs

    b = _backend_for(path)
    if b is not None:
        return b.newest_mtime_under(path)
    fs, base = resolve_fs(path)
    info = fs.get_file_info(base)
    if info.type == pafs.FileType.NotFound:
        return None
    infos = ([info] if info.type == pafs.FileType.File else
             [fi for fi in fs.get_file_info(
                 pafs.FileSelector(base, recursive=True))
              if fi.type == pafs.FileType.File])
    ts = [fi.mtime.timestamp() for fi in infos if fi.mtime is not None]
    return max(ts) if ts else None

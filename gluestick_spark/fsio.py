"""Injectable filesystem seam for state/commit protocols (VERDICT r11 #3).

Every driver-side state-file operation in the engine's commit protocols
— ANN index append manifests (:mod:`gluestick_spark.llm.index_commit`),
versioned-table publication (:mod:`gluestick_spark.operators.versioned`),
snapshot swaps (:mod:`gluestick_spark.operators.snapshot`), and
streaming bucketed-state healing — goes through ONE small interface
instead of raw ``os.*`` calls, mirroring the codec-injection pattern of
:mod:`gluestick_spark.llm.multimodal`. In this sandbox the default
:class:`LocalFS` is the only real backend; the 100 TB deployments these
protocols describe put indexes/snapshots on object storage, where a
backend must provide the SAME primitives with the SAME atomicity
guarantees or the protocols' crash-safety claims are void:

- ``write_text_atomic(p, s)`` MUST publish ``s`` whole or not at all
  (tmp + POSIX rename(2) on the local default) — it writes every commit
  marker and append sidecar. Plain S3 has no atomic rename: a
  copy+delete would re-open exactly the torn-marker windows these
  protocols close. Implement it as a conditional put (If-None-Match /
  ETag), or use a real table format's commit log instead.
- ``mkdir(p)`` MUST be an exclusive claim: fail iff ``p`` exists
  (the versioned writer's concurrency device).
- ``rename(src, dst)`` moves a file or a whole directory tree; callers
  guarantee ``dst`` does not exist (move-aside protocols).

All methods take the same absolute path strings the engine builds with
``os.path.join``; an implementation may map them into any namespace
(:class:`MemoryFS` keeps a dict). Data-plane writes (Spark parquet jobs)
do NOT go through this seam — they ride Spark's own Hadoop FileSystem;
the seam owns only the driver-side control files around them.

Two primitives built on the seam carry every persisted store:

- **Committed stores** (ANN indexes, band/substring indexes, SemDeDup
  reference, gram state, corpus sketch, versioned-table versions)
  publish a meta JSON marker last — :mod:`gluestick_spark.llm.
  index_commit` owns that protocol and the per-store marker names.
- **Directory rewrites** (``compact_files``, bucketed stream-state and
  sketch-log/fingerprint compaction, per-cell vacuum, snapshot publish)
  publish a rewritten tree with :func:`swap_dir`: ``renameat2(RENAME_EXCHANGE)`` on the local
  default, else three renames through a ``.__old__`` parking name, which
  :func:`heal_swap` rolls back after a crash between them.
"""

from __future__ import annotations

import os
import posixpath
import shutil
import time
from collections.abc import Iterator

__all__ = ["StateFS", "LocalFS", "MemoryFS", "LOCAL_FS", "heal_swap", "swap_dir"]


class StateFS:
    """Interface contract — see the module docstring for the atomicity
    requirements each method must honor. Implementations subclass and
    override everything; the base raises so a partial backend fails loud."""

    def exists(self, p: str) -> bool:
        raise NotImplementedError

    def isfile(self, p: str) -> bool:
        raise NotImplementedError

    def isdir(self, p: str) -> bool:
        raise NotImplementedError

    def listdir(self, p: str) -> list[str]:
        raise NotImplementedError

    def walk(
        self, root: str, topdown: bool = True
    ) -> Iterator[tuple[str, list[str], list[str]]]:
        raise NotImplementedError

    def getmtime(self, p: str) -> float:
        raise NotImplementedError

    def makedirs(self, p: str, exist_ok: bool = True) -> None:
        raise NotImplementedError

    def mkdir(self, p: str) -> None:
        """Exclusive claim: raise FileExistsError iff ``p`` exists."""
        raise NotImplementedError

    def read_text(self, p: str) -> str:
        raise NotImplementedError

    def write_text(self, p: str, s: str) -> None:
        """Plain (non-atomic) write — only for files inside a directory
        the caller exclusively owns; publication goes through
        :meth:`write_text_atomic`."""
        raise NotImplementedError

    def write_text_atomic(self, p: str, s: str) -> None:
        """tmp + atomic replace — readers see the old contents or the
        new, never a torn file."""
        raise NotImplementedError

    def remove(self, p: str) -> None:
        raise NotImplementedError

    def rmdir(self, p: str) -> None:
        """Remove an EMPTY directory."""
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Move a file or directory tree; ``dst`` must not exist."""
        raise NotImplementedError

    def rmtree(self, p: str, ignore_errors: bool = False) -> None:
        raise NotImplementedError


class LocalFS(StateFS):
    """POSIX-local implementation — rename atomicity comes from the
    kernel; this is the default backend everywhere."""

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def isfile(self, p: str) -> bool:
        return os.path.isfile(p)

    def isdir(self, p: str) -> bool:
        return os.path.isdir(p)

    def listdir(self, p: str) -> list[str]:
        return os.listdir(p)

    def walk(self, root, topdown=True):
        return os.walk(root, topdown=topdown)

    def getmtime(self, p: str) -> float:
        return os.path.getmtime(p)

    def makedirs(self, p: str, exist_ok: bool = True) -> None:
        os.makedirs(p, exist_ok=exist_ok)

    def mkdir(self, p: str) -> None:
        os.mkdir(p)

    def read_text(self, p: str) -> str:
        with open(p) as f:
            return f.read()

    def write_text(self, p: str, s: str) -> None:
        with open(p, "w") as f:
            f.write(s)

    def write_text_atomic(self, p: str, s: str) -> None:
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            f.write(s)
        os.replace(tmp, p)

    def remove(self, p: str) -> None:
        os.remove(p)

    def rmdir(self, p: str) -> None:
        os.rmdir(p)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def rmtree(self, p: str, ignore_errors: bool = False) -> None:
        shutil.rmtree(p, ignore_errors=ignore_errors)


LOCAL_FS = LocalFS()


class MemoryFS(StateFS):
    """In-memory backend for protocol tests: a dict of normalized path →
    file text plus a set of directories, with mtimes. Single-process
    only — 'atomicity' is trivially satisfied, which is exactly what a
    protocol test needs (it exercises the CALL SEQUENCE through the
    seam, not the kernel)."""

    def __init__(self) -> None:
        self.files: dict[str, str] = {}
        self.dirs: set[str] = {"/"}
        self.mtimes: dict[str, float] = {}

    @staticmethod
    def _n(p: str) -> str:
        return posixpath.normpath(p)

    def _touch(self, p: str) -> None:
        self.mtimes[p] = time.time()

    def _parent_ok(self, p: str) -> None:
        parent = posixpath.dirname(p)
        if parent not in self.dirs:
            raise FileNotFoundError(f"no such directory: {parent}")

    def exists(self, p: str) -> bool:
        p = self._n(p)
        return p in self.files or p in self.dirs

    def isfile(self, p: str) -> bool:
        return self._n(p) in self.files

    def isdir(self, p: str) -> bool:
        return self._n(p) in self.dirs

    def _children(self, p: str) -> tuple[list[str], list[str]]:
        p = self._n(p)
        pre = p.rstrip("/") + "/"
        dirs = sorted(
            d[len(pre):] for d in self.dirs
            if d.startswith(pre) and "/" not in d[len(pre):] and d != p
        )
        files = sorted(
            f[len(pre):] for f in self.files
            if f.startswith(pre) and "/" not in f[len(pre):]
        )
        return dirs, files

    def listdir(self, p: str) -> list[str]:
        if not self.isdir(p):
            raise FileNotFoundError(p)
        d, f = self._children(p)
        return sorted(d + f)

    def walk(self, root, topdown=True):
        root = self._n(root)
        if not self.isdir(root):
            return
        dirs, files = self._children(root)
        if topdown:
            yield root, dirs, files
        for d in dirs:
            yield from self.walk(posixpath.join(root, d), topdown)
        if not topdown:
            yield root, dirs, files

    def getmtime(self, p: str) -> float:
        p = self._n(p)
        if not self.exists(p):
            raise OSError(f"no such path: {p}")
        return self.mtimes.get(p, 0.0)

    def makedirs(self, p: str, exist_ok: bool = True) -> None:
        p = self._n(p)
        if p in self.dirs:
            if not exist_ok:
                raise FileExistsError(p)
            return
        parts = p.strip("/").split("/")
        cur = ""
        for part in parts:
            cur += "/" + part
            if cur not in self.dirs:
                self.dirs.add(cur)
                self._touch(cur)

    def mkdir(self, p: str) -> None:
        p = self._n(p)
        if self.exists(p):
            raise FileExistsError(p)
        self._parent_ok(p)
        self.dirs.add(p)
        self._touch(p)

    def read_text(self, p: str) -> str:
        p = self._n(p)
        if p not in self.files:
            raise FileNotFoundError(p)
        return self.files[p]

    def write_text(self, p: str, s: str) -> None:
        p = self._n(p)
        self._parent_ok(p)
        self.files[p] = s
        self._touch(p)

    def write_text_atomic(self, p: str, s: str) -> None:
        self.write_text(p, s)

    def remove(self, p: str) -> None:
        p = self._n(p)
        if p not in self.files:
            raise FileNotFoundError(p)
        del self.files[p]
        self.mtimes.pop(p, None)

    def rmdir(self, p: str) -> None:
        p = self._n(p)
        if p not in self.dirs:
            raise FileNotFoundError(p)
        d, f = self._children(p)
        if d or f:
            raise OSError(f"directory not empty: {p}")
        self.dirs.discard(p)
        self.mtimes.pop(p, None)

    def rename(self, src: str, dst: str) -> None:
        src, dst = self._n(src), self._n(dst)
        if self.exists(dst):
            raise FileExistsError(dst)
        if src in self.files:
            self.files[dst] = self.files.pop(src)
            self.mtimes[dst] = self.mtimes.pop(src, 0.0)
            return
        if src not in self.dirs:
            raise FileNotFoundError(src)
        pre = src.rstrip("/") + "/"
        for d in sorted(self.dirs):
            if d == src or d.startswith(pre):
                self.dirs.discard(d)
                nd = dst + d[len(src):]
                self.dirs.add(nd)
                self.mtimes[nd] = self.mtimes.pop(d, 0.0)
        for f in sorted(self.files):
            if f.startswith(pre):
                nf = dst + f[len(src):]
                self.files[nf] = self.files.pop(f)
                self.mtimes[nf] = self.mtimes.pop(f, 0.0)

    def rmtree(self, p: str, ignore_errors: bool = False) -> None:
        p = self._n(p)
        if p not in self.dirs:
            if p in self.files:  # match shutil: rmtree refuses files
                raise NotADirectoryError(p)
            if not ignore_errors:
                raise FileNotFoundError(p)
            return
        pre = p.rstrip("/") + "/"
        for f in [f for f in self.files if f.startswith(pre)]:
            del self.files[f]
            self.mtimes.pop(f, None)
        for d in [d for d in self.dirs if d == p or d.startswith(pre)]:
            self.dirs.discard(d)
            self.mtimes.pop(d, None)


def _exchange_dirs(a: str, b: str) -> bool:
    """Atomically swap two directories with Linux ``renameat2(…,
    RENAME_EXCHANGE)`` — readers see the old tree or the new tree, never
    an absent path. Returns False when the libc/filesystem doesn't
    support the exchange (:func:`swap_dir` then falls back to renames)."""
    import ctypes

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        renameat2 = libc.renameat2
    except (OSError, AttributeError):
        return False
    renameat2.argtypes = [
        ctypes.c_int, ctypes.c_char_p, ctypes.c_int, ctypes.c_char_p,
        ctypes.c_uint,
    ]
    renameat2.restype = ctypes.c_int
    AT_FDCWD = -100
    RENAME_EXCHANGE = 2
    r = renameat2(
        AT_FDCWD, os.fsencode(a), AT_FDCWD, os.fsencode(b), RENAME_EXCHANGE
    )
    return r == 0


def _parking(dst: str, old: str | None) -> str:
    return old or dst.rstrip("/") + ".__old__"


def _drop(path: str, fs: StateFS) -> None:
    """Delete the tree or single file (a reference-style snapshot) at
    ``path``; absent is fine."""
    if fs.isfile(path):
        fs.remove(path)
    else:
        fs.rmtree(path, ignore_errors=True)


def heal_swap(dst: str, old: str | None = None, fs: StateFS = LOCAL_FS) -> None:
    """Undo a :func:`swap_dir` fallback that crashed between its renames.
    ``dst`` absent with the parking dir present means the live tree was
    moved aside and never replaced: move it back. Both present means the
    swap completed and the parking dir holds the superseded tree: drop
    it. Call it before reading ``dst`` for a rewrite."""
    old = _parking(dst, old)
    if not fs.exists(old):
        return
    if fs.exists(dst):
        _drop(old, fs)
    else:
        fs.rename(old, dst)


def swap_dir(
    new: str, dst: str, old: str | None = None, fs: StateFS = LOCAL_FS
) -> None:
    """Publish the directory tree at ``new`` as ``dst`` and delete the
    tree (or single file) it replaces; ``new`` is gone afterwards. On the
    local default this is one ``RENAME_EXCHANGE`` (``dst`` is never
    absent). Otherwise — no kernel support, or a non-local backend — it
    is three renames (``dst`` → ``old``, ``new`` → ``dst``, ``old`` →
    ``new``) whose crash window :func:`heal_swap` closes; it runs on
    entry here too.
    ``old`` defaults to ``dst + ".__old__"``; pass a hidden name when
    ``dst`` sits where a reader lists siblings (partition discovery)."""
    old = _parking(dst, old)
    heal_swap(dst, old, fs)
    if not (fs is LOCAL_FS and _exchange_dirs(new, dst)):
        fs.rename(dst, old)
        fs.rename(new, dst)
        fs.rename(old, new)
    _drop(new, fs)

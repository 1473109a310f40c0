"""The filesystem seam: every Hadoop FileSystem touch in the engine.

Each operation takes ``(spark, path, ...)`` and resolves the Hadoop
FileSystem of ``path`` itself, so callers never hold a ``fs``/``jvm``
pair. Exists, open, create, rename and delete go through Hadoop (any
scheme Spark can read); directory listings of driver-readable paths
(no scheme, or ``file:``) use ``os.scandir`` and skip py4j entirely.

Rename is the commit everywhere: a version ``v=N``, a delete commit
``d=K``, a branch entry ``s=K``, a transaction manifest ``t=K``, a tag
file, a rewritten plain-parquet dataset. Hadoop filesystems disagree
on what a rename onto an existing name does, and the commit rules
below are written for both behaviours:

- Directory onto an existing directory: HDFS and object stores fail
  the rename. ``LocalFileSystem`` instead moves the source INSIDE the
  destination and returns true. ``commit_staged`` therefore trusts a
  rename only when no nested copy of the staging dir appears, and on
  a lost race deletes its own bytes wherever they landed.
- File onto an existing file: HDFS fails, but ``RawLocalFileSystem``
  follows POSIX rename(2) and silently overwrites. Writers racing on a
  file name (tags) stamp a nonce into the file and read it back.
- ``swap_dir`` replaces a whole dataset: move the old copy aside, move
  the staged copy in, roll back on failure, then delete the old copy.
  A crash leaves a complete old or new directory, never a partial one.

``sources/chain_cdf.py`` reads the same logs through a pyarrow
filesystem instead: it runs in Python data-source workers, which have
no JVM.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import urlparse

from pyspark.sql import SparkSession

# The Hadoop ``Path`` class and one ``FileSystem`` handle per
# (scheme, authority), for the SparkContext whose JVM handle is
# ``jsc``. Resolving ``jvm.org.apache.hadoop.fs.Path`` costs one py4j
# round trip per name segment, and ``getFileSystem`` another two, on
# every call; Hadoop caches the FileSystem itself, so holding it here
# changes no semantics. A new SparkContext starts afresh.
_HADOOP: dict = {}


def _fs(spark: SparkSession, path: str):
    """``(FileSystem, hadoop Path)`` for ``path``."""
    jsc = spark._jsc
    if _HADOOP.get("jsc") is not jsc:
        _HADOOP.clear()
        _HADOOP.update(jsc=jsc, Path=spark._jvm.org.apache.hadoop.fs.Path, fs={})
    hpath = _HADOOP["Path"](str(path))
    key = urlparse(str(path))[:2]
    fs = _HADOOP["fs"].get(key)
    if fs is None:
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
        _HADOOP["fs"][key] = fs
    return fs, hpath


def _driver_readable(path: str) -> bool:
    """True when ``path`` is POSIX-readable from the driver process
    (no scheme, or an explicit file:), so pyarrow and ``os`` fast paths
    may read it directly. Remote filesystems (hdfs://, s3a://, ...)
    take the Hadoop/Spark paths, which work on any Hadoop filesystem."""
    return urlparse(str(path)).scheme in ("", "file")


def _local_path(path: str) -> str:
    """The POSIX path of a driver-readable ``path`` (``file:`` URIs
    lose their scheme)."""
    parsed = urlparse(str(path))
    return parsed.path if parsed.scheme == "file" else str(path)


def _list_dir_local(directory: str) -> tuple[str, list[tuple[str, bool]]]:
    """``_list_dir`` for a driver-readable directory: one
    ``os.scandir``, zero py4j calls. Hides checksum files
    (``.<name>.crc``) as Hadoop's local filesystem does."""
    local = os.path.abspath(_local_path(directory))
    base = f"file:{local}" if urlparse(str(directory)).scheme else local
    try:
        with os.scandir(local) as it:
            return base, [
                (e.name, e.is_dir())
                for e in it
                if not (e.name.startswith(".") and e.name.endswith(".crc"))
            ]
    except (FileNotFoundError, NotADirectoryError):
        return base, []


def _list_dir_hadoop(
    spark: SparkSession, directory: str
) -> tuple[str, list[tuple[str, bool]]]:
    """``_list_dir`` through the Hadoop FileSystem (any scheme)."""
    fs, hdir = _fs(spark, directory)
    uri = fs.makeQualified(hdir).toUri()
    qualified = urlparse(str(directory)).scheme
    base = str(uri.toString() if qualified else uri.getPath()).rstrip("/")
    if not fs.exists(hdir):
        return base, []
    return base, [
        (st.getPath().getName(), bool(st.isDirectory()))
        for st in fs.listStatus(hdir)
    ]


def _list_dir(spark: SparkSession, directory: str) -> tuple[str, list[tuple[str, bool]]]:
    """``(dir_path, [(name, is_dir), ...])``: the entries directly under
    ``directory``; no entries when it does not exist. ``dir_path`` is
    absolute and keeps the caller's form: scheme-qualified when
    ``directory`` names a scheme, scheme-less otherwise — so paths
    built on a remote root stay remote. The one listing behind every
    commit log and file census. Driver-readable directories list with
    ``os.scandir``; other schemes keep the Hadoop listing, which pays
    three py4j calls per entry."""
    if _driver_readable(directory):
        return _list_dir_local(directory)
    return _list_dir_hadoop(spark, directory)


def list_numbered_dirs(spark: SparkSession, root: str, prefix: str) -> list[int]:
    """Committed ``<prefix>N`` directory numbers under ``root``,
    ascending — the one listing every commit-by-rename log uses
    (versions ``v=``, delete commits ``d=``, vector dirs per version,
    branch entries ``s=``, transaction manifests ``t=``). Staging/temp
    dirs and plain files never match."""
    pat = re.compile(rf"^{re.escape(prefix)}(\d+)$")
    _, entries = _list_dir(spark, root)
    return sorted(
        int(m.group(1))
        for name, is_dir in entries
        if is_dir and (m := pat.match(name))
    )


def data_file_sizes(spark: SparkSession, path: str) -> list[int]:
    """Byte sizes of every file anywhere under ``path``, skipping
    hidden and metadata files (names starting with ``_`` or ``.``)."""
    fs, hpath = _fs(spark, path)
    sizes = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        if not st.getPath().getName().startswith(("_", ".")):
            sizes.append(int(st.getLen()))
    return sizes


def exists(spark: SparkSession, path: str) -> bool:
    """The explicit existence probe: never a try/except around a read,
    so a corrupt dataset fails its reader instead of reading as absent."""
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, hpath = _fs(spark, path)
    fs.mkdirs(hpath)


def delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete; False when ``path`` did not exist."""
    fs, hpath = _fs(spark, path)
    return bool(fs.delete(hpath, True))


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Hadoop rename; see the module docstring for what it means when
    ``dst`` exists."""
    fs, hsrc = _fs(spark, src)
    return bool(fs.rename(hsrc, _fs(spark, dst)[1]))


def mtime(spark: SparkSession, path: str) -> float:
    """Modification time of ``path`` in epoch seconds."""
    fs, hpath = _fs(spark, path)
    return fs.getFileStatus(hpath).getModificationTime() / 1000.0


def read_json(spark: SparkSession, path: str) -> dict:
    fs, hpath = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        data = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def write_json(spark: SparkSession, path: str, doc: dict) -> None:
    """Write ``doc`` to ``path``, replacing any file there."""
    fs, hpath = _fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(doc).encode("utf-8")))
    finally:
        out.close()


def swap_dir(spark: SparkSession, staged: str, path: str, label: str) -> None:
    """Replace the directory ``path`` with the fully written ``staged``
    one: move ``path`` aside, move ``staged`` in, delete the old copy.
    If the move-in fails, the old copy is moved back and the error
    raised, so ``path`` stays readable. An absent ``path`` is just a
    rename. Errors read ``"<label> swap failed: ..."``."""
    path = path.rstrip("/")
    if not exists(spark, path):
        if not rename(spark, staged, path):
            raise RuntimeError(
                f"{label} swap failed: could not move {staged} into place"
            )
        return
    old = f"{path}.{label}_old"
    if not rename(spark, path, old):
        raise RuntimeError(f"{label} swap failed: could not move {path} aside")
    if not rename(spark, staged, path):
        rename(spark, old, path)
        raise RuntimeError(f"{label} swap failed: could not move {staged} into place")
    delete(spark, old)


def commit_staged(
    spark: SparkSession, root: str, staging: str, n: int, prefix: str = "v="
) -> bool:
    """Atomically publish a fully staged directory as ``<prefix>N``
    under ``root`` (``v=N`` by default): the commit seam of versions,
    transaction manifests, delete commits and branch entries. Returns
    True iff THIS writer owns the target afterwards, verified by the
    absence of a nested staging dir (the module docstring says why the
    rename's return value is not enough). On a lost race the writer's
    bytes are deleted wherever they landed (nested under the winner's
    target on a local FS, still at ``staging`` on HDFS); the winner's
    files are never touched."""
    target = f"{root.rstrip('/')}/{prefix}{n}"
    nested = f"{target}/{os.path.basename(staging.rstrip('/'))}"
    if rename(spark, staging, target) and not exists(spark, nested):
        return True
    delete(spark, nested)
    delete(spark, staging)
    return False

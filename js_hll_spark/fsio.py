"""Filesystem-agnostic small-file IO for manifests and table metadata.

StageRunner manifests (plans/checkpoint.py), sketch-table convention
manifests (pipelines/sketch_table.py) and the streaming NDV state store
(streaming/ndv.py: snapshot pointer, replay marker, snapshot expiry)
used plain ``os``/``open`` calls, which silently break the durability
contract the moment the table root is an object-store URI: Spark writes
the parquet to s3://..., while the manifest lands on the DRIVER's local
disk under a literal ``s3:/...`` directory — resume from another host
finds no manifest and rebuilds everything, and a locally-present
manifest can mark stages complete whose remote data is gone. All
manifest IO now routes through ``pyarrow.fs`` (baked into this
environment, and the standard way to speak local/S3/GCS/HDFS
uniformly), so the manifest always lives beside the data it describes.

Atomicity note: the tmp-write + move publish pattern is atomic on the
local filesystem (rename) and best-effort on object stores (copy +
delete — S3 renames are not atomic, but the manifest is a single small
object and PUT itself is atomic, so a torn read can only see the OLD
complete manifest or the NEW complete one, never half a file).
"""

from __future__ import annotations

import posixpath


def _resolve(path: str):
    """(filesystem, fs-internal path) for a plain path or URI."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def exists(path: str) -> bool:
    from pyarrow import fs as pafs

    f, p = _resolve(path)
    return f.get_file_info(p).type != pafs.FileType.NotFound


def makedirs(path: str) -> None:
    f, p = _resolve(path)
    f.create_dir(p, recursive=True)


def read_text(path: str) -> str | None:
    """File contents, or None ONLY when the file does not exist.
    Transient IO failures (network blips, expired credentials on an
    object store) PROPAGATE — mapping them to "missing" would let a
    resume silently treat a complete remote stage as incomplete and
    rebuild/overwrite it."""
    from pyarrow import fs as pafs

    f, p = _resolve(path)
    if f.get_file_info(p).type == pafs.FileType.NotFound:
        return None
    with f.open_input_stream(p) as stream:
        return stream.read().decode("utf-8")


def write_text_atomic(path: str, text: str) -> None:
    """tmp-write + move publish (atomic rename locally; see module
    docstring for the object-store contract)."""
    f, p = _resolve(path)
    parent = posixpath.dirname(p)
    if parent:
        f.create_dir(parent, recursive=True)
    tmp = p + ".tmp"
    with f.open_output_stream(tmp) as stream:
        stream.write(text.encode("utf-8"))
    # move directly: POSIX rename and object-store copy both OVERWRITE,
    # so the old manifest stays readable up to the instant the new one
    # lands. A pre-delete would open a crash window in which NEITHER
    # manifest exists (a killed republish would then read as
    # stage-incomplete and force a rebuild). The delete-then-move
    # fallback only runs on filesystems whose rename refuses to clobber.
    try:
        f.move(tmp, p)
    except OSError:
        try:
            f.delete_file(p)
        except (OSError, FileNotFoundError):
            pass
        f.move(tmp, p)


def delete(path: str) -> None:
    """Delete a file if present (no error when missing)."""
    from pyarrow import fs as pafs

    f, p = _resolve(path)
    if f.get_file_info(p).type != pafs.FileType.NotFound:
        f.delete_file(p)


def delete_dir(path: str) -> None:
    """Recursively delete a directory if present (no error when missing)."""
    from pyarrow import fs as pafs

    f, p = _resolve(path)
    if f.get_file_info(p).type != pafs.FileType.NotFound:
        f.delete_dir(p)


def list_dir(path: str) -> list[str]:
    """Names of the direct children of ``path``; empty when the
    directory is missing."""
    from pyarrow import fs as pafs

    f, p = _resolve(path)
    infos = f.get_file_info(
        pafs.FileSelector(p, recursive=False, allow_not_found=True)
    )
    return [posixpath.basename(info.path) for info in infos]


def list_files(path: str) -> list[tuple[str, int]]:
    """Recursive (path-relative-to-root, size) for every file under
    ``path``; empty when the directory is missing."""
    from pyarrow import fs as pafs

    f, p = _resolve(path)
    try:
        infos = f.get_file_info(pafs.FileSelector(p, recursive=True))
    except (OSError, FileNotFoundError):
        return []
    base = p.rstrip("/") + "/"
    out = []
    for info in infos:
        if info.type == pafs.FileType.File:
            rel = info.path[len(base):] if info.path.startswith(base) else info.path
            out.append((rel, info.size))
    return out


def parquet_num_rows(path: str) -> int:
    """Row count from the parquet FOOTER — O(footer), never a data scan."""
    import pyarrow.parquet as pq

    f, p = _resolve(path)
    with f.open_input_file(p) as handle:
        return pq.ParquetFile(handle).metadata.num_rows

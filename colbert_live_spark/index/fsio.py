"""Filesystem abstraction for driver-side index metadata IO (ledger,
manifest, stats, meta json).

A real 100 TB deployment keeps the index on an object store (S3/GCS/HDFS);
raw ``os.walk``/``os.replace`` only work on a local disk. Everything here
routes through ``pyarrow.fs`` — ``FileSystem.from_uri`` resolves ``s3://``,
``hdfs://``, ``gs://`` (via pyarrow's bindings) and ``file://``; bare paths
resolve to the local filesystem. Writes are atomic where the backing store
allows (write temp + move; object stores get put-then-visible semantics,
which is atomic per-object).

Spark itself reads/writes the big data (runs, postings, docs) through its
own Hadoop FS layer — this module only covers the driver-side commit
records, so it stays tiny.
"""

from __future__ import annotations

import os
import uuid

from pyarrow import fs as pafs

# Custom URI schemes: scheme -> resolver(path_without_scheme) ->
# (FileSystem, native_path). Lets deployments plug in stores pyarrow's
# from_uri doesn't know, and lets tests serve an index through an
# explicitly schemed root (an fs whose native paths are NOT local absolute
# paths, so any code that bypasses the FileSystem object breaks loudly).
_SCHEMES: dict = {}


def register_scheme(scheme: str, resolver) -> None:
    _SCHEMES[scheme] = resolver


def _maybe_register_env_mock() -> None:
    """Test hookery: SPARK_GRAFT_MOCKFS_BASE=<dir> registers ``mock://p``
    → SubTreeFileSystem(<dir>)/p. Env-driven (not just an API call) so
    Spark's Python WORKER processes — which import this module fresh and
    never see driver-side registrations — resolve the scheme too; that is
    what lets the zero-shuffle serving tasks read a schemed root end to
    end in tests."""
    base = os.environ.get("SPARK_GRAFT_MOCKFS_BASE")
    if base and "mock" not in _SCHEMES:
        sub = pafs.SubTreeFileSystem(base, pafs.LocalFileSystem())
        register_scheme("mock", lambda p, _s=sub: (_s, p))


def resolve(path: str) -> tuple[pafs.FileSystem, str]:
    if "://" in path:
        scheme = path.split("://", 1)[0]
        if scheme not in _SCHEMES:
            _maybe_register_env_mock()
        if scheme in _SCHEMES:
            return _SCHEMES[scheme](path.split("://", 1)[1])
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _scheme_prefix(path: str) -> str:
    """Scheme to re-attach to filesystem-native paths returned from
    listings, so callers can feed them back into any fsio entry point
    (from_uri strips the scheme: 's3://bucket/k' resolves to 'bucket/k' —
    returning that raw would silently re-resolve as a LOCAL path)."""
    if "://" in path:
        return path.split("://", 1)[0] + "://"
    return ""


def exists(path: str) -> bool:
    f, p = resolve(path)
    return f.get_file_info(p).type != pafs.FileType.NotFound


def read_text(path: str) -> str:
    f, p = resolve(path)
    with f.open_input_stream(p) as s:
        return s.read().decode("utf-8")


def write_text_atomic(path: str, text: str) -> None:
    f, p = resolve(path)
    parent = p.rsplit("/", 1)[0]
    f.create_dir(parent, recursive=True)
    tmp = f"{parent}/.tmp-{uuid.uuid4().hex}"
    with f.open_output_stream(tmp) as s:
        s.write(text.encode("utf-8"))
    f.move(tmp, p)


def write_parquet_atomic(path: str, table) -> None:
    """Write ``table`` to ``path`` atomically, zstd like the Spark-written
    index files (``builder.index_writer``)."""
    import pyarrow.parquet as pq
    f, p = resolve(path)
    parent = p.rsplit("/", 1)[0]
    f.create_dir(parent, recursive=True)
    tmp = f"{parent}/.tmp-{uuid.uuid4().hex}"
    pq.write_table(table, tmp, filesystem=f, compression="zstd")
    f.move(tmp, p)


def _infos(path: str, recursive: bool = True):
    f, p = resolve(path)
    if f.get_file_info(p).type == pafs.FileType.NotFound:
        return f, []
    sel = pafs.FileSelector(p, recursive=recursive, allow_not_found=True)
    return f, [i for i in f.get_file_info(sel)
               if i.type == pafs.FileType.File]


def list_files(path: str, suffix: str = "") -> list[str]:
    """Recursive file listing, sorted, optionally filtered by suffix.
    Returned paths carry the input's scheme so they round-trip through any
    fsio entry point."""
    pre = _scheme_prefix(path)
    _f, infos = _infos(path)
    return sorted(pre + i.path for i in infos if i.path.endswith(suffix))


def delete_dir(path: str) -> None:
    """Recursively delete a directory if it exists (tombstone GC etc.)."""
    f, p = resolve(path)
    if f.get_file_info(p).type != pafs.FileType.NotFound:
        f.delete_dir(p)


def dir_bytes(path: str) -> int:
    _f, infos = _infos(path)
    return sum(i.size for i in infos)


def parquet_rows(path: str) -> int:
    """Row count from parquet footers only — no Spark job, no data read."""
    import pyarrow.parquet as pq
    f, infos = _infos(path)
    total = 0
    for i in infos:
        if i.path.endswith(".parquet"):
            total += pq.ParquetFile(i.path, filesystem=f).metadata.num_rows
    return total


def read_parquet_table(path: str, columns=None):
    """Read one parquet file or a directory of them (driver-side)."""
    import pyarrow.parquet as pq
    f, p = resolve(path)
    info = f.get_file_info(p)
    if info.type == pafs.FileType.Directory:
        import pyarrow as pa
        _f, infos = _infos(path)
        parts = [pq.read_table(i.path, columns=columns, filesystem=f)
                 for i in infos if i.path.endswith(".parquet")]
        return pa.concat_tables(parts)
    return pq.read_table(p, columns=columns, filesystem=f)

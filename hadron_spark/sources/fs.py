"""Filesystem utility ops (reference S10: hdfsLs / hdfsPut / hdfsGet /
hdfsCat / exists / delete / mkdir / chmod / tmp paths, shelled out to
`hadoop fs` in src/Hadron/Run.hs:122-261 and Run/Hadoop.hs:313-461).

Spark-first: go through the JVM Hadoop FileSystem API already inside
the SparkSession — the same client executors use, so every scheme
Spark can read (file://, hdfs://, s3a://, ...) works here with no
subprocess and no extra dependency.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass
class FileStat:
    """The reference's `File` record (Utils.hs: size/path + perms)."""

    path: str
    size: int
    is_dir: bool
    mtime: int


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI.create(path)
    return jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)


def _jpath(spark: SparkSession, path: str):
    return spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)


def exists(spark: SparkSession, path: str) -> bool:
    """hdfsFileExists (Run/Hadoop.hs)."""
    return _fs(spark, path).exists(_jpath(spark, path))


def ls(spark: SparkSession, path: str) -> list[FileStat]:
    """hdfsLs (Run/Hadoop.hs:313-340) — non-recursive listing."""
    fs = _fs(spark, path)
    statuses = fs.listStatus(_jpath(spark, path))
    return [
        FileStat(
            path=s.getPath().toString(),
            size=s.getLen(),
            is_dir=s.isDirectory(),
            mtime=s.getModificationTime(),
        )
        for s in statuses
    ]


def mkdir(spark: SparkSession, path: str) -> bool:
    """hdfsMkdir."""
    return _fs(spark, path).mkdirs(_jpath(spark, path))


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """hdfsDeletePath."""
    fs = _fs(spark, path)
    p = _jpath(spark, path)
    if not fs.exists(p):
        return False
    return fs.delete(p, recursive)


def put(spark: SparkSession, local_path: str, dest_path: str) -> None:
    """hdfsPut (copy from local)."""
    _fs(spark, dest_path).copyFromLocalFile(
        _jpath(spark, local_path), _jpath(spark, dest_path)
    )


def get(spark: SparkSession, src_path: str, local_path: str) -> None:
    """hdfsGet (copy to local)."""
    _fs(spark, src_path).copyToLocalFile(
        _jpath(spark, src_path), _jpath(spark, local_path)
    )


def cat(spark: SparkSession, path: str, max_bytes: int = 1 << 26) -> bytes:
    """hdfsCat — driver-side read of one file's bytes (debug/config
    use; bounded by max_bytes so a fat-fingered path can't OOM the
    driver). Unlike the reference's `hadoop fs -cat` subprocess there
    is no header-bytes quirk (Run/Hadoop.hs:423-437)."""
    fs = _fs(spark, path)
    p = _jpath(spark, path)
    size = fs.getFileStatus(p).getLen()
    if size > max_bytes:
        raise ValueError(f"cat: {path} is {size} bytes > max_bytes={max_bytes}")
    stream = fs.open(p)
    try:
        jvm = spark.sparkContext._jvm
        out = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 65536, False)
        return bytes(out.toByteArray())
    finally:
        stream.close()


def chmod(spark: SparkSession, path: str, mode: str) -> None:
    """hdfsChmod (Run/Hadoop.hs:313-461, the last unported S10 op):
    set POSIX permissions via the JVM FileSystem — `mode` is octal
    text like \"755\" or \"640\", same as the `hadoop fs -chmod` the
    reference shelled out to."""
    jvm = spark.sparkContext._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(
        int(mode, 8)
    )
    _fs(spark, path).setPermission(_jpath(spark, path), perm)


def mv(spark: SparkSession, src: str, dest: str) -> bool:
    """rename/move (the tmp-then-rename finalize primitive the
    reference's FanOut used, FanOut.hs:118-133 — Spark's committers
    do this internally; exposed for pipeline bookkeeping)."""
    return _fs(spark, src).rename(_jpath(spark, src), _jpath(spark, dest))


def random_tmp_path(spark: SparkSession, base: str, prefix: str = "hadron_tmp") -> str:
    """randomRemoteFile analog (Run/Hadoop.hs): a fresh path under
    `base` (not created)."""
    import secrets

    return f"{base.rstrip('/')}/{prefix}_{secrets.token_hex(8)}"


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Compact a directory of small files into ~target-sized files —
    the operational fix for the small-files problem that kills scan
    throughput at scale (every file costs a task + an open/footer
    read). Rewrites via tmp-dir + atomic rename (the reference's
    FanOut tmp-then-move contract, Run/FanOut.hs:120-146). Returns
    the new file count.

    Sizing uses the CURRENT on-disk bytes, so compression ratio is
    preserved; coalesce(n) avoids a shuffle (task-side concatenation
    only)."""
    total = sum(f.size for f in ls(spark, path) if not f.is_dir)
    n_files = max(1, -(-total // target_file_bytes))  # ceil
    df = spark.read.format(fmt).load(path)
    tmp = random_tmp_path(spark, path.rstrip("/") + "_compact")
    df.coalesce(n_files).write.format(fmt).mode("overwrite").save(tmp)
    delete(spark, path)
    mv(spark, tmp, path)
    # data files only: `_SUCCESS` and the local FS's `.crc` files are
    # the names Spark's own reader skips
    return sum(
        1
        for f in ls(spark, path)
        if not f.path.rpartition("/")[2].startswith(("_", "."))
    )

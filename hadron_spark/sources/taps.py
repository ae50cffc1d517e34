"""Taps: typed dataset bindings (paths + format + schema + options).

Reference parity: a hadron ``Tap a`` is a list of file paths plus a
``Protocol`` codec (reference src/Hadron/Controller.hs:334-351); the
Protocol zoo (id/lines/csv/base64-binary/gzip/show —
src/Hadron/Protocol.hs:138-183) collapses onto Spark's built-in
DataFrame sources. A Tap here is declarative: reads return a lazy
DataFrame (Catalyst pushes filters/pruning into the scan), writes go
through the committer, and `.gz` decompression is transparent.

Scale note: every read is a distributed scan — no driver-side file
iteration. `binary_dir_tap` uses the `binaryFile` source which splits
per-file across executors; at 100 TB use many small-ish objects, not
one giant file.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadron_spark.sources.pysource import read_lines, write_lines

# Protocol-name → Spark format. Mirrors reference Protocol constructors:
#   idProtocol/linesProtocol (Protocol.hs:138-145)  → text
#   csvProtocol (Protocol.hs:171-172)               → csv
#   base64SerProtocol/base64SafeCopyProtocol
#     (Protocol.hs:151-159, binary rows)            → parquet (typed, columnar —
#     the Spark-native replacement for base64-wrapped binary lines; the
#     reference itself lists Base64 overhead as a perf liability, TODO.org:10-13)
#   gzipProtocol (Protocol.hs:164-165)              → option("compression") /
#     transparent .gz read
#   showProtocol (Protocol.hs:182-183)              → json (debug-readable)
PROTOCOL_FORMATS = {
    "id": "text",
    "lines": "text",
    "csv": "csv",
    "binary": "parquet",
    "safecopy": "parquet",
    "show": "json",
    "json": "json",
    "parquet": "parquet",
    "orc": "orc",
    "text": "text",
    "binaryFile": "binaryFile",
}


@dataclass
class Tap:
    """Dataset = paths + format (+schema +options). Source AND sink,
    like the reference's Tap (Controller.hs:334-343; equality is by
    location, Controller.hs:341-343)."""

    paths: list[str]
    fmt: str = "parquet"
    schema: str | None = None  # DDL string or None → infer/native
    options: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if isinstance(self.paths, str):
            self.paths = [self.paths]
        self.fmt = PROTOCOL_FORMATS.get(self.fmt, self.fmt)

    # --- source ---------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        if self.fmt == "hadron_line":  # P11: a JVM text scan, no Python reader
            return read_lines(spark, self.paths, int(self.options.get("key_segments", "1")))
        reader = spark.read.format(self.fmt).options(**self.options)
        if self.schema:
            reader = reader.schema(self.schema)
        return reader.load(self.paths)

    # --- sink -----------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        mode: str = "error",
        partition_by: list[str] | None = None,
    ) -> None:
        """Write through Spark's committer (`_SUCCESS`, every save mode).
        A `hadron_line` tap writes one tab-framed line per row; cells are
        Spark's string CAST, not Python's `str` (NULL `""`, `true`,
        `1.0E20`, `[a, b]`), into `part-NNNNN-<uuid>-c000.txt[.gz]`
        files, not `part-NNNNN.tsv`, so appends never collide."""
        if self.fmt == "hadron_line":
            return write_lines(df, self.paths[0], mode, partition_by or [], self.options)
        writer = df.write.format(self.fmt).options(**self.options).mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(self.paths[0])

    def __eq__(self, other: Any) -> bool:  # location equality (Controller.hs:341)
        return isinstance(other, Tap) and sorted(self.paths) == sorted(other.paths)

    def __hash__(self) -> int:
        return hash(tuple(sorted(self.paths)))


def tap(path: str, fmt: str = "parquet", **kw: Any) -> Tap:
    """reference ``tap`` (Controller.hs:347-348)."""
    return Tap([path], fmt, **kw)


def taps(paths: list[str], fmt: str = "parquet", **kw: Any) -> Tap:
    """reference ``taps`` (Controller.hs:350-351)."""
    return Tap(list(paths), fmt, **kw)


def concat_taps(spark: SparkSession, tps: list[Tap]) -> DataFrame:
    """Union N same-typed taps (reference concatTaps,
    Controller.hs:364-376). Per-file decode dispatch is subsumed by
    reading each tap with its own format then unionByName."""
    if not tps:
        raise ValueError("concat_taps: empty tap list")
    dfs = [t.read(spark) for t in tps]
    return reduce(lambda a, b: a.unionByName(b), dfs)


def merge_taps(spark: SparkSession, left: Tap, right: Tap) -> DataFrame:
    """Union two differently-typed taps into a tagged sum (reference
    mergeTaps → Tap (Either a b), Controller.hs:422-439; dispatch by
    path prefix → here an explicit `_side` tag column).

    Columns missing from a side are null-filled, which is the typed
    analog of Either."""
    l = left.read(spark).withColumn("_side", F.lit("left"))
    r = right.read(spark).withColumn("_side", F.lit("right"))
    return l.unionByName(r, allowMissingColumns=True)


def binary_dir_tap(spark: SparkSession, directory: str, glob: str | None = None) -> DataFrame:
    """Read a directory of whole binary files as (path, modificationTime,
    length, content) — reference binaryDirTap/setupBinaryDir
    (Controller.hs:700-707, 745-760) which lists a dir, filters
    filenames, and hands each worker whole files.

    The `binaryFile` source distributes per-file; the filename filter
    becomes `pathGlobFilter` (pushed to the listing, not a post-scan
    filter)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(directory)


def file_list_tap(spark: SparkSession, list_file: str) -> DataFrame:
    """Input = a file containing one path per line; yield (path, content)
    for each listed file (reference fileListTap/readHdfsFile,
    Controller.hs:463-471, 445-454; auto-gunzips .gz).

    Spark-first: read the path list (tiny, driver-side is fine — it is
    a *list of paths*, not data), then one distributed binaryFile scan
    over all of them."""
    paths = [
        r.value.strip()
        for r in spark.read.text(list_file).collect()
        if r.value.strip()
    ]
    if not paths:
        return spark.createDataFrame([], "path string, content binary")
    return (
        spark.read.format("binaryFile")
        .load(paths)
        .select("path", "content")
    )


def either_decode(
    lines: DataFrame,
    value_col: str,
    json_schema: str,
    csv_schema: str,
    csv_options: dict[str, str] | None = None,
) -> DataFrame:
    """Per-line fallback decoding (reference eitherProtocol /
    eitherPrism, Protocol.hs:271-287: try codec A, then codec B).

    Primary codec is JSON — failure detected via the corrupt-record
    column (PERMISSIVE mode yields a null-filled struct, not NULL, so
    coalesce alone can't see the failure). Fallback is CSV, which is
    a total codec (any line parses, uncastable cells become NULL) —
    matching the reference, where the csv-conduit side accepts any
    line. `_codec` records which codec decoded each row."""
    c = F.col(value_col)
    a_full = F.from_json(
        c,
        json_schema + ", _corrupt string",
        {"columnNameOfCorruptRecord": "_corrupt", "mode": "PERMISSIVE"},
    )
    json_ok = a_full["_corrupt"].isNull() & c.isNotNull()
    a = a_full.dropFields("_corrupt")
    b = F.from_csv(c, csv_schema, csv_options or {})
    return lines.withColumn("decoded", F.when(json_ok, a).otherwise(b)).withColumn(
        "_codec", F.when(json_ok, F.lit("json")).otherwise(F.lit("csv"))
    )


def with_input_file(df: DataFrame, col_name: str = "input_file") -> DataFrame:
    """Current input filename per row (reference getFileName via the
    mapreduce_map_input_file env var, Basic.hs:122-126 — it drives
    joins and merged-tap dispatch there). Narrow metadata column."""
    return df.withColumn(col_name, F.input_file_name())


def read_tap(spark: SparkSession, t: Tap) -> list:
    """Collect a whole tap into driver memory (reference readTap,
    Controller.hs:383-412 — its concurrency/retry machinery is
    Spark's job scheduler here). Test/debug only; never on the hot
    path at scale."""
    return t.read(spark).collect()

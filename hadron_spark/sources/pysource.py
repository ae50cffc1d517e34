"""P11 — the reference's tab-separated line wire format: a JVM read
plan plus a REAL Spark data sink (Python DataSource API, Spark 4).

The reference's protocols serialize every record as
`key-segment \\t key-segment \\t ... \\t value \\n` on the Hadoop
Streaming wire (reference src/Hadron/Protocol.hs lineC/parseLine,
src/Hadron/Types.hs key-segment tabbing); COVERAGE previously mapped
P11 to "n/a — schema'd columns replace the tab wire format". This
module closes that last protocol row with a first-class source/sink:

    df = Tap(paths, "hadron_line",
             options={"key_segments": "2"}).read(spark)  # k1,k2,value
    spark.dataSource.register(HadronLineDataSource)
    df.write.format("hadron_line").option("path", out_dir).save()

Reads never cross into Python: `read_lines` is Spark's text scan
plus one `split`, the framing Hadoop's input format did before the
streaming mapper saw a line. Scale shape is therefore Hadoop's
`TextInputFormat`: plain files split and pack into partitions of at
most `spark.sql.files.maxPartitionBytes` (each file also costs
`spark.sql.files.openCostInBytes`, so small files get a partition
each), while a `.gz` file is unsplittable and stays one partition;
.gz decodes transparently (the reference's gzip protocol wrapper,
P6). Lines end at `\\n` only, so a CRLF line keeps its `\\r` in the
value. The value keeps any tabs beyond the declared key segments —
exactly parseLine's "split first k tabs" contract — and a line with
fewer segments pads the missing ones with `""`."""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def read_lines(spark: SparkSession, paths: list[str], key_segments: int) -> DataFrame:
    """(k1..kN, value) string rows over tab-framed line files, as a
    JVM plan: text scan, one `split(value, '\\t', N+1)`, projection.
    `get` (NULL when out of range; ANSI `[]` raises) + `coalesce`
    pad a short line's missing segments with `""`."""
    parts = (
        spark.read.option("lineSep", "\n")
        .text(paths)
        .select(F.split("value", "\t", key_segments + 1).alias("_parts"))
    )
    cols = [f"k{i + 1}" for i in range(key_segments)] + ["value"]
    return parts.select(
        *(F.coalesce(F.get("_parts", i), F.lit("")).alias(c) for i, c in enumerate(cols))
    )


class _LineWriterMessage(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class _LineWriter(DataSourceWriter):
    def __init__(self, options: dict, schema: StructType):
        self.path = options["path"]
        self.n_cols = len(schema.fields)

    def write(self, rows: Iterator) -> _LineWriterMessage:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        out = os.path.join(self.path, f"part-{pid:05d}.tsv")
        tmp = out + "._tmp"  # tmp-then-rename, the FanOut.hs contract
        n = 0
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in rows:
                fh.write("\t".join("" if v is None else str(v) for v in row))
                fh.write("\n")
                n += 1
        os.replace(tmp, out)
        return _LineWriterMessage(out, n)


class HadronLineDataSource(DataSource):
    """`hadron_line` sink: writes each row as its columns joined by
    tabs, one `part-NNNNN.tsv` per partition. Sink only — reads go
    through `Tap(paths, "hadron_line").read(spark)` (`read_lines`)."""

    @classmethod
    def name(cls) -> str:
        return "hadron_line"

    def writer(self, schema: StructType, overwrite: bool) -> _LineWriter:
        return _LineWriter(dict(self.options), schema)

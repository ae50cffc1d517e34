"""P11 — the reference's tab-separated line wire format, read and
written as JVM plans (Spark's text scan and text writer).

The reference's protocols serialize every record as
`key-segment \\t key-segment \\t ... \\t value \\n` on the Hadoop
Streaming wire (reference src/Hadron/Protocol.hs lineC/parseLine,
src/Hadron/Types.hs key-segment tabbing); COVERAGE previously mapped
P11 to "n/a — schema'd columns replace the tab wire format". This
module closes that last protocol row with a first-class source/sink:

    t = Tap(paths, "hadron_line", options={"key_segments": "2"})
    df = t.read(spark)                      # k1, k2, value
    Tap(out_dir, "hadron_line").write(df)   # write_lines

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
fewer segments pads the missing ones with `""`.

Writes stay in the JVM too: `write_lines` frames rows with `concat_ws`
for Spark's text writer, whose committer does the tmp-then-rename
finalize of the reference's FanOut (Run/FanOut.hs)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource
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


def write_lines(
    df: DataFrame, path: str, mode: str, partition_by: list[str], options: dict
) -> None:
    """Spark's text writer over the non-partition columns, each CAST to
    string with NULL → `""`, joined by tabs. The cast comes first:
    `concat_ws` skips NULLs (shifting later columns) and flattens
    arrays. A tab or newline inside a cell is written unescaped."""
    cells = [
        F.coalesce(F.col("`" + c.replace("`", "``") + "`").cast("string"), F.lit(""))
        for c in df.columns
        if c not in partition_by
    ]
    (
        df.select(F.concat_ws("\t", *cells).alias("value"), *partition_by)
        .write.options(**options)
        .mode(mode)
        .partitionBy(*partition_by)
        .text(path)
    )


class HadronLineDataSource(DataSource):
    """Keeps the `hadron_line` name registered. It neither reads nor
    writes: `Tap(paths, "hadron_line")` reads and writes as JVM plans,
    and `df.write.format("hadron_line")` raises, pointing there."""

    @classmethod
    def name(cls) -> str:
        return "hadron_line"

    def writer(self, schema: StructType, overwrite: bool):
        raise NotImplementedError(
            'hadron_line has no data source writer; write with Tap(path, "hadron_line").write(df)'
        )

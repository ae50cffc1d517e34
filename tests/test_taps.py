"""Tap surface (SURVEY §2.1-2.2: S1-S6, P1-P11)."""

from __future__ import annotations

import gzip
import os

from pyspark.sql import functions as F

from hadron_spark.sources.taps import (
    Tap,
    binary_dir_tap,
    concat_taps,
    file_list_tap,
    merge_taps,
    read_tap,
    tap,
)


def test_tap_read_parquet(spark, sf_dir):
    t = tap(f"{sf_dir}/region.parquet")
    assert t.read(spark).count() == 5


def test_tap_roundtrip_csv(spark, sf_dir, tmp_path):
    src = tap(f"{sf_dir}/region.parquet").read(spark)
    out = Tap([str(tmp_path / "region_csv")], "csv", options={"header": "true"})
    out.write(src, mode="overwrite")
    back = out.read(spark)
    assert back.count() == 5
    assert set(back.columns) == {"r_regionkey", "r_name"}


def test_tap_equality_by_location():
    assert tap("/a/b.parquet") == tap("/a/b.parquet", fmt="csv")
    assert tap("/a/b.parquet") != tap("/a/c.parquet")


def test_concat_taps(spark, sf_dir):
    t = tap(f"{sf_dir}/nation.parquet")
    df = concat_taps(spark, [t, tap(f"{sf_dir}/nation.parquet")])
    assert df.count() == 50


def test_merge_taps_tags_sides(spark, sf_dir):
    m = merge_taps(
        spark, tap(f"{sf_dir}/customer.parquet"), tap(f"{sf_dir}/supplier.parquet")
    )
    by_side = {r["_side"]: r["n"] for r in m.groupBy("_side").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_side["left"] > 0 and by_side["right"] > 0
    # left rows have customer cols, null supplier cols
    left_row = m.filter(F.col("_side") == "left").first()
    assert left_row["c_custkey"] is not None and left_row["s_suppkey"] is None


def test_binary_dir_tap_and_glob(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"\x89PNGxxxx")
    (tmp_path / "b.txt").write_bytes(b"hello")
    all_files = binary_dir_tap(spark, str(tmp_path))
    assert all_files.count() == 2
    only_bin = binary_dir_tap(spark, str(tmp_path), glob="*.bin")
    rows = only_bin.collect()
    assert len(rows) == 1 and rows[0]["content"] == b"\x89PNGxxxx"


def test_file_list_tap(spark, tmp_path):
    f1 = tmp_path / "one.txt"
    f1.write_bytes(b"first")
    f2 = tmp_path / "two.txt"
    f2.write_bytes(b"second")
    listing = tmp_path / "paths.txt"
    listing.write_text(f"{f1}\n{f2}\n")
    df = file_list_tap(spark, str(listing))
    contents = sorted(r["content"] for r in df.collect())
    assert contents == [b"first", b"second"]


def test_gzip_text_read(spark, tmp_path):
    # gzipProtocol analog: .gz read transparently (Protocol.hs:164-165)
    p = tmp_path / "lines.txt.gz"
    with gzip.open(p, "wt") as fh:
        fh.write("alpha\nbeta\n")
    df = tap(str(p), "lines").read(spark)
    assert sorted(r["value"] for r in df.collect()) == ["alpha", "beta"]


def test_read_tap_collects(spark, sf_dir):
    rows = read_tap(spark, tap(f"{sf_dir}/region.parquet"))
    assert len(rows) == 5


def test_orc_roundtrip(spark, tmp_path):
    """ORC is the second columnar format the engine supports natively
    (P4/P5 class: typed columnar storage replaces base64-wrapped
    binary lines)."""
    from hadron_spark.sources.taps import Tap

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    t = Tap([str(tmp_path / "orc_out")], "orc")
    t.write(df, mode="overwrite")
    back = t.read(spark)
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_schema_evolution_merge(spark, tmp_path):
    # P5 parity (base64SafeCopyProtocol = versioned records): parquet
    # schema evolution via mergeSchema replaces version-tagged codecs
    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v1 string").write.parquet(f"{d}/gen=1")
    spark.createDataFrame([(2, "b", 9.5)], "id long, v1 string, v2 double").write.parquet(
        f"{d}/gen=2"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert {f.name for f in merged.schema} >= {"id", "v1", "v2"}
    rows = {r["id"]: r["v2"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_register_views_and_cli_sql(spark, sf_dir):
    from hadron_spark.cli import register_views

    bound = register_views(spark, sf_dir)
    assert "lineitem" in bound and "documents" in bound
    n = spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"]
    assert n > 0


def test_tap_orc_roundtrip(spark, sf_dir, tmp_path):
    """Tap's format field is pass-through to the DataSource registry,
    so every built-in columnar/row format works unmodified — ORC
    here (the reference's protocol list stops at csv/gzip/base64,
    SURVEY §2.2)."""
    from hadron_spark.sources.taps import Tap

    src = Tap(f"{sf_dir}/region.parquet").read(spark)
    d = str(tmp_path / "region_orc")
    Tap(d, fmt="orc").write(src)
    back = Tap(d, fmt="orc").read(spark)
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)


def test_hadron_line_datasource_roundtrip(spark, tmp_path):
    """P11 line wire format: the tap reads a dir of small files one
    partition each, transparent .gz, tabs beyond the key segments stay
    in the value (parseLine's split-first-k contract), and the
    registered sink round-trips via tmp-then-rename part files."""
    from hadron_spark.sources.pysource import HadronLineDataSource

    spark.dataSource.register(HadronLineDataSource)
    (tmp_path / "a.tsv").write_text(
        "u1\tclick\tpage=/home extra\ttabbed\nu2\tview\tx\n"
    )
    with gzip.open(tmp_path / "b.tsv.gz", "wt") as fh:
        fh.write("u3\tclick\tz\n")

    df = Tap([str(tmp_path)], "hadron_line", options={"key_segments": "2"}).read(spark)
    rows = {tuple(r) for r in df.collect()}
    assert ("u1", "click", "page=/home extra\ttabbed") in rows
    assert ("u3", "click", "z") in rows
    assert df.rdd.getNumPartitions() == 2  # one per file

    out = str(tmp_path / "out")
    df.write.format("hadron_line").option("path", out).mode("append").save()
    back = Tap([out], "hadron_line", options={"key_segments": "2"}).read(spark)
    assert {tuple(r) for r in back.collect()} == rows


def _line_tap(path, k: int) -> Tap:
    return Tap([str(path)], "hadron_line", options={"key_segments": str(k)})


def test_hadron_line_edge_rows(spark, tmp_path):
    """parseLine framing on edge lines: CRLF keeps its `\\r` (lines end
    at `\\n` only), a short line pads with "", an empty line is all "",
    and tabs past segment k stay in the value."""
    p = tmp_path / "edge.tsv"
    p.write_bytes(b"u1\tclick\tv\r\nshort\n\nu2\tx\ty\tz\t\n")
    rows = sorted(tuple(r) for r in _line_tap(p, 2).read(spark).collect())
    assert rows == [
        ("", "", ""),
        ("short", "", ""),
        ("u1", "click", "v\r"),
        ("u2", "x", "y\tz\t"),
    ]
    assert _line_tap(p, 2).read(spark).columns == ["k1", "k2", "value"]


def test_hadron_line_multi_path_plain_and_gz(spark, tmp_path):
    (tmp_path / "a.tsv").write_text("a\t1\nb\t2\n")
    with gzip.open(tmp_path / "b.tsv.gz", "wt") as fh:
        fh.write("c\t3\td\n")
    t = Tap(
        [str(tmp_path / "a.tsv"), str(tmp_path / "b.tsv.gz")],
        "hadron_line",
        options={"key_segments": "1"},
    )
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        ("a", "1"),
        ("b", "2"),
        ("c", "3\td"),
    ]


def test_hadron_line_splits_large_plain_file(spark, tmp_path):
    """A plain file bigger than maxPartitionBytes splits like Hadoop's
    TextInputFormat: several partitions, every line read exactly once."""
    p = tmp_path / "big.tsv"
    p.write_text("".join(f"key{i % 7}\t{i}\n" for i in range(5000)))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        df = _line_tap(p, 1).read(spark)
        assert df.rdd.getNumPartitions() > 1
        rows = [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set(key, old)
    assert sorted(rows, key=lambda r: int(r[1])) == [
        (f"key{i % 7}", str(i)) for i in range(5000)
    ]


def test_hadron_line_read_is_a_jvm_scan(spark, tmp_path):
    """Plan guard: the tap reads through Spark's text scan, not a
    Python data source, so no Python boundary sits under the mapper."""
    p = tmp_path / "a.tsv"
    p.write_text("a\tb\n")
    plan = _line_tap(p, 1).read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "FileScan text" in plan
    assert "(Python)" not in plan


def test_with_input_file_on_line_tap(spark, tmp_path):
    """with_input_file (reference getFileName) names each line's file
    on a hadron_line tap."""
    from hadron_spark.sources.taps import with_input_file

    p = tmp_path / "a.tsv"
    p.write_text("k\tv\nk2\tv2\n")
    files = {r["input_file"] for r in with_input_file(_line_tap(p, 1).read(spark)).collect()}
    assert files == {p.as_uri()}

"""Line sources and part-file sinks.

Reference parity: text/gz line inputs over globs (runner.go:51 — Hadoop
Streaming decompresses .gz transparently; so does Spark's text source),
`part-*` output directories with optional gzip
(runner.go:137-151, :160-163). The tab-separated ``k\\tv`` line format is
gomrjob's inter-stage wire format (notes.txt:9-11); ``write_tsv_part_files``
emits it for interop with existing Hadoop-Streaming consumers.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gomrjob_spark.sources.paths import resolve_paths


def read_lines(
    spark: SparkSession, paths: list[str] | str, default_proto: str = "file://"
) -> DataFrame:
    """Read newline-terminated lines from text/gzip files or globs into a
    one-column DataFrame ``value: string`` (RawInputProtocol analog,
    mrproto/protocol.go:46-69 — minus the 2 MB buffer tuning, which the
    vectorized reader owns). Empty lines are dropped, matching the
    reference's skip-empties behavior."""
    if isinstance(paths, str):
        paths = [paths]
    df = spark.read.text(resolve_paths(paths, default_proto))
    return df.filter(F.length("value") > 0)


def read_text_dir(spark: SparkSession, path: str, default_proto: str = "file://") -> DataFrame:
    """Read a previous job's output directory (``part-*`` files), the
    step-chaining input convention (runner.go:147-151)."""
    (resolved,) = resolve_paths([path.rstrip("/") + "/part-*"], default_proto)
    return spark.read.text(resolved)


def write_part_files(
    df: DataFrame,
    path: str,
    compress: bool = False,
    num_files: int | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """Write a one-string-column DataFrame as a ``part-*`` text directory,
    optionally gzipped (runner.go:160-163 analog).

    ``num_files`` controls output fan-out (the ReducerTasks analog,
    runner.go:54). ``sort_by`` makes the output a total order, byte-sorted
    within and across part files, for golden-file parity (§1.3
    byte-lexicographic ordering). A sorted write computes its input once:
    the range partitioner's bound-sampling job fills a cache that the
    write then reads, so upstream Python code and counters run once."""
    owned = bool(sort_by) and df.storageLevel == StorageLevel.NONE
    if owned:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        out = df
        if sort_by:
            # global sort: range partitioner makes part-file order total
            n = num_files or df.sparkSession.sparkContext.defaultParallelism
            out = df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
        elif num_files:
            # repartition, not coalesce: the caller asked for an exact file
            # fan-out, and coalesce cannot INCREASE partition count — for
            # gzip output the file count IS the downstream read parallelism
            # (gzip is not splittable), so widening must work
            out = df.repartition(num_files)
        writer = out.write.mode("overwrite")
        if compress:
            writer = writer.option("compression", "gzip")
        writer.text(path)
    finally:
        if owned:
            df.unpersist()


def write_tsv_part_files(
    df: DataFrame,
    path: str,
    key_col: str = "key",
    value_col: str = "value",
    compress: bool = False,
    num_files: int | None = None,
    sorted_output: bool = False,
) -> None:
    """Write (key, value) rows as gomrjob wire-format ``k\\tv`` lines."""
    lines = df.select(
        F.concat_ws("\t", F.col(key_col).cast("string"), F.col(value_col).cast("string")).alias(
            "value"
        )
    )
    write_part_files(
        lines, path, compress=compress, num_files=num_files,
        sort_by=["value"] if sorted_output else None,
    )

"""Log-file sources.

The reference ingests S3 objects with a driver-side listing + boto3 reads
inside ``flatMap`` (``s3_server_access_logs.py:86-141,395-401``) — an opaque
PythonRDD that Catalyst can't see through. Spark-native replacement:
``spark.read.text`` over a path/glob list. FileSourceScanExec handles split
planning, small-file packing (``spark.sql.files.openCostInBytes``), locality
and column pruning; the parse stays in whole-stage codegen.

Input discovery stays what the reference does: a daily run hands over one
day directory, which the driver lists once, recursively, as the reference
lists the day prefix with one paged, delimiter-free LIST. What goes is the
per-file boto3 client and the JVM<->Python row hop.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..functions.s3_log_parse import parse_s3_access_log_lines


def read_text_lines(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """Raw lines (one ``value`` column). Accepts a path, glob, or list.

    A directory is read with every file below it, subfolders included, and
    infers no partition columns from ``key=value`` folder names. Globs and
    file paths read what they name. Prefer a directory to a ``dir/*`` glob:
    each glob match is its own root, and past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` roots Spark
    lists them again in a job, while a directory is listed once, on the
    driver."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.option("recursiveFileLookup", "true").text(list(paths))


def read_s3_access_logs(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """Read + parse S3 server-access logs into the typed 27-column table.

    Equivalent of the reference's list->parallelize->flatMap->createDataFrame
    chain (``s3_server_access_logs.py:389-401``) as a single declarative scan.
    """
    return parse_s3_access_log_lines(read_text_lines(spark, paths))

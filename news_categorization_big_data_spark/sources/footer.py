"""Parquet footers read on the driver, without a Spark job.

``spark.read.parquet(path)`` infers a table's schema with a job:
``ParquetUtils.inferSchema`` picks one footer (a summary file if any,
else the first data file by path) and
``SchemaMergeUtils.mergeSchemasInParallel`` reads it inside
``parallelize(...).collect()``, even for one file with
``mergeSchema=false``. :func:`footer_schema` reads that same footer over
py4j with Spark's own classes — ``ParquetFooterReader.readFooter``, a
``ParquetToSparkSchemaConverter`` built from the session ``SQLConf``,
``ParquetFileFormat.readSchemaFromFooter`` — so it returns exactly the
schema inference would, Spark's footer schema metadata and
``nanosAsLong`` included. :func:`row_groups` counts the row groups in
the footers of a scan's files for ``fan_out``'s scan-width estimate.

``footer_schema`` returns None wherever it could not stand in for
inference exactly: no JVM (Spark Connect), glob paths, ``mergeSchema``
on, summary files (``_metadata``/``_common_metadata``), partition
subdirectories, no non-empty data file, or any read error. The caller
then takes Spark's own path, which also raises Spark's own errors.
``row_groups`` returns None when any footer can't be read.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

#: What a footer read can raise: a JVM exception (py4j's, or one PySpark
#: converts), or AttributeError where the session has no JVM (Spark Connect).
_READ_ERRORS = (Py4JError, PySparkException, AttributeError)

_SUMMARY_FILES = ("_metadata", "_common_metadata")
#: SparkHadoopUtil.isGlobPath: Spark expands such a path before listing.
_GLOB_CHARS = frozenset("{}[]*?\\")


def _hidden(name: str) -> bool:
    """Spark's listing rule (HadoopFSUtils.shouldFilterOutPathName):
    names starting with ``_`` (unless partition-like, with ``=``) or
    ``.``, and in-flight ``._COPYING_`` copies, are not data. Summary
    files are not hidden."""
    if name.startswith(_SUMMARY_FILES):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _read_footer(spark: SparkSession, conf, status, row_groups: bool):
    """One file's ``ParquetMetadata``; the row-group list is skipped
    unless asked for."""
    jvm = spark._jvm
    converter = jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
    metadata_filter = converter.NO_FILTER if row_groups else converter.SKIP_ROW_GROUPS
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf)
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    return parquet.ParquetFooterReader.readFooter(input_file, metadata_filter)


def _schema_file(conf, jpath):
    """The file Spark's inference would read a flat table's schema from,
    or None where the listing is not flat data files only."""
    fs = jpath.getFileSystem(conf)
    status = fs.getFileStatus(jpath)
    if not status.isDirectory():
        return status
    files = []
    for child in fs.listStatus(jpath):
        name = child.getPath().getName()
        if _hidden(name):
            continue
        if child.isDirectory() or name.startswith(_SUMMARY_FILES):
            return None
        files.append((child.getPath().toString(), child))
    if not files:
        return None
    return min(files, key=lambda f: f[0])[1]


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` reports, read on the driver
    from one footer; None where only Spark's own inference applies."""
    if _GLOB_CHARS & set(path):
        return None
    try:
        sql_conf = spark._jsparkSession.sessionState().conf()
        if sql_conf.isParquetSchemaMergingEnabled():
            return None
        jvm = spark._jvm
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        status = _schema_file(conf, jvm.org.apache.hadoop.fs.Path(path))
        if status is None or status.getLen() == 0:
            return None
        footer = jvm.org.apache.parquet.hadoop.Footer(
            status.getPath(), _read_footer(spark, conf, status, row_groups=False)
        )
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        converter = parquet.ParquetToSparkSchemaConverter(sql_conf)
        schema = parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter)
        # the relation's data schema is made nullable (DataSource.resolveRelation)
        return StructType.fromJson(json.loads(schema.asNullable().json()))
    except _READ_ERRORS:
        return None


def row_groups(spark: SparkSession, files: list[str]) -> int | None:
    """Total row-group count over parquet ``files`` (as listed by
    ``DataFrame.inputFiles()``); None if any footer can't be read."""
    try:
        jvm = spark._jvm
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        total = 0
        for uri in files:
            jpath = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(uri))
            status = jpath.getFileSystem(conf).getFileStatus(jpath)
            total += _read_footer(spark, conf, status, row_groups=True).getBlocks().size()
        return total
    except _READ_ERRORS:
        return None

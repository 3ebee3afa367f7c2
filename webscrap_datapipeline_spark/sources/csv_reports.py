"""Raw rate-report CSV source (reference S1/S2, src/process_files.py:47
and :65-72) — pipe-delimited per-location files whose filename embeds the
location code and a timestamp (FIXTURES.md A1).

Spark-first shape: ONE multi-file scan with an explicit schema replaces
the reference's per-file read loop + concat; per-file lineage (the
reference's per-file enrichment inputs) is recovered with
input_file_name(), so the whole "read every file, enrich, union" stage
is a single lazy plan with no intermediate materialization (the
reference's ./data/processed hop existed only because pandas couldn't
hold the union — README.md:46).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Representative raw-report schema (FIXTURES.md A1). Column 14 (REF_CODE)
# is STRING by contract — the reference forces dtype={14: str} at
# src/process_files.py:47 to keep leading zeros; we declare it.
RAW_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("Rate Code", T.StringType()),
        T.StructField("Room Type", T.StringType()),
        T.StructField("Arrival Date", T.StringType()),
        T.StructField("Los", T.IntegerType()),
        T.StructField("Rate (USD)", T.DoubleType()),
        T.StructField("Base-Rate", T.DoubleType()),
        T.StructField("Differential", T.DoubleType()),
        T.StructField("Channel", T.StringType()),
        T.StructField("Status", T.StringType()),
        T.StructField("Min Stay", T.IntegerType()),
        T.StructField("Max Stay", T.IntegerType()),
        T.StructField("Closed To Arrival", T.StringType()),
        T.StructField("Closed To Departure", T.StringType()),
        T.StructField("Notes", T.StringType()),
        T.StructField("Ref Code", T.StringType()),  # index 14: MUST stay string
        T.StructField("Last Modified", T.StringType()),
    ]
)


_GLOB_CHARS = re.compile(r"[*?\[{\\]")


def read_raw_reports(
    spark: SparkSession, path_glob: str, schema: T.StructType = RAW_REPORT_SCHEMA
) -> DataFrame:
    """Scan all raw pipe-delimited reports in one pass, attaching
    per-file lineage as ``src_path``.

    When only the last path segment is a wildcard (``raw/*.csv``), the
    parent directory is read with that segment as ``pathGlobFilter``.
    Given the glob itself, Spark lists every matching file as a root
    path: above 32 files that is a parallel listing job with one task
    per file, and its metadata-directory probe logs a
    FileNotFoundException on every call."""
    reader = spark.read.option("sep", "|").option("header", True).schema(schema)
    parent, _, name = path_glob.rpartition("/")
    if parent and _GLOB_CHARS.search(name) and not _GLOB_CHARS.search(parent):
        reader, path_glob = reader.option("pathGlobFilter", name), parent
    return reader.csv(path_glob).withColumn("src_path", F.input_file_name())

"""File sources/sinks (O30/O31/O32).

* `write_tsv_file` — the reference's per-node TSV sink and validation
  report sink (`print_data`, cds_transformation_functions.py:106-122,
  :197-207): one flat tab-separated file with a header row; frames
  without a single non-null cell are skipped. The emptiness check rides
  the write job itself as a `DataFrame.observe` metric, so no probe job
  runs before the write.
* S3: the reference shuttles files with boto3 (:82-104, :346-360).
  Spark-native equivalent is the same writer pointed at an
  `s3a://bucket/prefix` URI (Hadoop S3A committer handles multipart
  upload and atomic commit); no separate code path needed.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def read_tsv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read.option("sep", "\t").option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def write_tsv_file(df: DataFrame, out_dir: str, name: str, prefix: str = "") -> str | None:
    """Reference `print_data` file contract: ONE flat
    ``<prefix>-<name>.tsv`` (cds_transformation_functions.py:106-122),
    not a part-file directory, and nothing at all for a frame with no
    row holding a non-null value (:119-120). The frame is written
    through the normal csv sink into a hidden temp dir while an
    observation counts its rows with any non-null cell; a zero count
    deletes the temp dir and returns None, otherwise the single part
    file is promoted with a filesystem rename — scheme-agnostic
    (file://, s3a://, ...) and metadata-only on posix filesystems.
    Edge sink for metadata-scale nodes (coalesce(1)). The predicate is
    explicit and backticked: column names may contain dots (parent-FK
    columns like ``study.phs_accession``)."""
    from cds_etl_spark.sources.transfer import _fs_and_path

    file_base = f"{prefix}-{name}" if prefix else name
    tmp = os.path.join(out_dir, f".{file_base}.tmp")
    any_set = reduce(lambda a, b: a | b, [F.col(f"`{c}`").isNotNull() for c in df.columns])
    seen = Observation()
    (
        df.observe(seen, F.count_if(any_set).alias("rows"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .option("emptyValue", "")
        .option("nullValue", "")
        .csv(tmp)
    )
    spark = df.sparkSession
    fs, tmp_path = _fs_and_path(spark, tmp)
    if seen.get["rows"] == 0:
        fs.delete(tmp_path, True)
        return None
    parts = [
        st.getPath()
        for st in fs.listStatus(tmp_path)
        if st.getPath().getName().startswith("part-")
    ]
    dest_str = os.path.join(out_dir, file_base + ".tsv")
    _, dest = _fs_and_path(spark, dest_str)
    fs.delete(dest, False)
    fs.rename(parts[0], dest)
    fs.delete(tmp_path, True)
    return dest_str


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source. With an explicit schema the read is a single
    pass; without one Spark runs an extra inference pass over the data
    — always pass the schema on large inputs (at 100 TB, inference IS
    a full scan). Corrupt lines land in ``_corrupt_record`` under the
    default PERMISSIVE mode instead of failing the job."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> str:
    """JSON-lines sink (one JSON object per row, splittable text)."""
    df.write.mode(mode).json(path)
    return path


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC source — same columnar/pushdown properties as parquet
    (vectorized reader, predicate pushdown, column pruning); supported
    so warehouses standardized on ORC can feed the same operators."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> str:
    df.write.mode(mode).orc(path)
    return path


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema,
    quarantine_dir: str | None = None,
) -> DataFrame:
    """Schema-enforced JSON-lines read with a CORRUPT-RECORD channel —
    the ingest-time twin of the reference's validation-as-output
    philosophy (reject rows into a report, never fail the run, never
    drop silently): rows that don't parse or don't match ``schema``
    land in ``quarantine_dir`` as (raw line, source file) JSONL for
    triage, and the returned DataFrame contains only clean rows.

    Mechanics: the file reads as TEXT and parses with ``from_json``
    in PERMISSIVE mode carrying ``columnNameOfCorruptRecord`` — the
    malformed line is CAPTURED, not dropped (DROPMALFORMED's silent
    data loss), and unlike the json reader's corrupt column this
    formulation has no SPARK-21610 restriction (no cache needed —
    at 100 TB caching the source to inspect rejects is not a plan).
    Good/bad is two filters over one scan projection; the quarantine
    write only materializes when corrupt rows exist. The caller
    passes an explicit schema — corrupt-record capture is undefined
    under inference, and a 100 TB ingest should never infer anyway."""
    from pyspark.sql.types import StringType, StructField, StructType

    corrupt = "_corrupt_record"
    full = StructType(
        list(schema.fields) + [StructField(corrupt, StringType())]
    )
    raw = spark.read.text(path).select(
        F.col("value").alias("raw"),
        F.input_file_name().alias("source_file"),
    )
    parsed = raw.withColumn(
        "rec",
        F.from_json(
            "raw",
            full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt},
        ),
    )
    is_bad = F.col("rec").isNull() | F.col(f"rec.{corrupt}").isNotNull()
    if quarantine_dir is not None:
        parsed.filter(is_bad).select("raw", "source_file").write.mode(
            "append"
        ).json(quarantine_dir)
    good = parsed.filter(~is_bad)
    return good.select(
        *[F.col(f"rec.{f.name}").alias(f.name) for f in schema.fields]
    )

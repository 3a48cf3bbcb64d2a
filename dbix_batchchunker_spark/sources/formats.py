"""Format-agnostic file sources/sinks (SURVEY.md §2.B scan/source row).

The reference reads whatever table the DBI handle points at; the file-side
analog is "read whatever format the corpus arrived in". These helpers make
the format a parameter while enforcing the two rules that matter at
100 TB:

* **Schema is explicit for text formats.** CSV/JSON schema inference is an
  EXTRA FULL PASS over the data before the real read — harmless at
  gigabytes, a day of cluster time at 100 TB. ``read_any`` therefore
  requires a schema for csv/json (pass one, or sample one off a bounded
  prefix with ``infer_schema_sample`` and REUSE it).
* **Columnar formats carry the pushdown.** parquet/orc scans prune columns
  and push predicates (`.explain` shows PushedFilters/ReadSchema);
  csv/json must parse whole lines regardless — the read path works, but
  SCALING.md's posture is "land text once, convert to parquet, run the
  pipeline on parquet". ``convert`` is that landing step as one
  distributed pass.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..operators import store_fs

_TEXT_FORMATS = {"csv", "json"}
_FORMATS = {"parquet", "orc", "csv", "json"}


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: Optional[StructType] = None,
    **options: str,
) -> DataFrame:
    """Read ``path`` as ``fmt``; text formats require an explicit schema
    (schema inference is a full extra pass at scale)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_FORMATS)}")
    if fmt in _TEXT_FORMATS and schema is None:
        raise ValueError(
            f"{fmt} reads require an explicit schema: inference costs a full "
            "pass over the data before the real read — derive one once with "
            "infer_schema_sample and reuse it"
        )
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).load(path)


def infer_schema_sample(
    spark: SparkSession, path: str, fmt: str, sample_files: int = 1, **options: str
) -> StructType:
    """Schema from a BOUNDED file sample (not the whole dataset): list the
    first ``sample_files`` files and let the format's inference run on just
    those. The returned schema is then passed explicitly to every real
    read."""
    fs, jvm_path = store_fs.fs_for(spark, path)
    if fs.isDirectory(jvm_path):
        statuses = [s for s in fs.listStatus(jvm_path) if s.isFile()]
        names = (str(s.getPath()) for s in statuses)
        # skip _SUCCESS/.crc markers — Spark's own readers ignore them too
        files = sorted(
            n for n in names if not n.rsplit("/", 1)[-1].startswith(("_", "."))
        )[:sample_files]
        if not files:
            raise ValueError(
                f"no data files found under {path!r} (only marker/hidden "
                "files) — nothing to infer a schema from"
            )
    else:
        files = [path]
    if fmt == "csv":
        options.setdefault("header", "true")
    options["inferSchema"] = "true"
    return spark.read.format(fmt).options(**options).load(files).schema


def write_any(
    df: DataFrame,
    path: str,
    fmt: str,
    mode: str = "overwrite",
    partition_by: Optional[list] = None,
    **options: str,
) -> None:
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_FORMATS)}")
    if fmt == "csv":
        options.setdefault("header", "true")
    writer = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def convert(
    spark: SparkSession,
    src_path: str,
    src_fmt: str,
    dst_path: str,
    schema: Optional[StructType] = None,
    dst_fmt: str = "parquet",
    partition_by: Optional[list] = None,
    **options: str,
) -> DataFrame:
    """One distributed pass: land a text-format corpus as columnar so every
    downstream read gets pruning + pushdown. Returns the converted frame
    (lazy re-read of the destination)."""
    df = read_any(spark, src_path, src_fmt, schema=schema, **options)
    write_any(df, dst_path, dst_fmt, partition_by=partition_by)
    # Re-read through read_any so a text DESTINATION format gets the same
    # schema/header discipline as any other read (a bare load() would
    # re-infer — the exact full pass this module exists to prevent — and
    # treat a csv header row as data).
    return read_any(spark, dst_path, dst_fmt, schema=df.schema)

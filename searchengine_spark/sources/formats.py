"""Multi-format table IO beside the parquet/Iceberg default path.

The engine's canonical storage is columnar parquet (zstd, ``tables.py``);
real corpora additionally arrive as CSV dumps, JSONL crawl exports, or ORC
warehouse tables (the reference ingests whatever its Mongo collections hold
— DBController.java:41-54; format plurality is the lake-side analog).

Contract at 100 TB:

- **The schema is always pinned, never inferred.** Inference is a second
  full pass over the input and type-drifts silently between files; every
  reader here takes an explicit StructType (``schemas.py``) and reads
  ``FAILFAST`` so a corrupt row stops the job instead of nulling through
  an aggregate.
- **Row formats are ingest-only.** ORC is columnar (predicate pushdown +
  column pruning like parquet); CSV/JSON scans always read whole rows, so
  the supported pipeline is convert-to-parquet at first touch
  (:func:`convert_to_parquet`) and serve every query from the columnar
  copy — never point a per-query scan at a 100 TB JSONL directory.
- **CSV carries flat rows only.** Array/map/struct columns have no CSV
  encoding; :func:`write_format` refuses them loudly rather than writing
  something a different engine would parse differently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FORMATS = ("parquet", "orc", "json", "csv")

# pinned wire options so every engine parses the same bytes the same way
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"  # microsecond-exact roundtrip
_TS_NTZ_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"  # TIMESTAMP_NTZ: no zone letters
_CSV_OPTS = {
    "header": "true",
    "timestampFormat": _TS_FMT,
    "timestampNTZFormat": _TS_NTZ_FMT,
    "nullValue": "\\N",
}
_JSON_OPTS = {"timestampFormat": _TS_FMT, "timestampNTZFormat": _TS_NTZ_FMT}


def _has_nested(schema: T.StructType) -> bool:
    return any(
        isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        for f in schema.fields
    )


def write_format(df: DataFrame, path: str, fmt: str, mode: str = "overwrite") -> None:
    """Write ``df`` at ``path`` in ``fmt`` (one of :data:`FORMATS`)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {FORMATS}")
    if fmt == "csv" and _has_nested(df.schema):
        bad = [f.name for f in df.schema.fields
               if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))]
        raise ValueError(f"CSV cannot carry nested columns {bad}; use json/orc/parquet")
    w = df.write.mode(mode)
    if fmt == "csv":
        w = w.options(**_CSV_OPTS)
    elif fmt == "json":
        w = w.options(**_JSON_OPTS)
    w.format(fmt).save(path)


def read_format(
    spark: SparkSession, path: str, fmt: str, schema: T.StructType
) -> DataFrame:
    """Schema-pinned FAILFAST read of ``path`` in ``fmt``. The returned
    DataFrame has exactly ``schema``'s columns in ``schema``'s order."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {FORMATS}")
    r = spark.read.schema(schema)
    if fmt == "csv":
        r = r.options(**_CSV_OPTS, mode="FAILFAST")
    elif fmt == "json":
        r = r.options(**_JSON_OPTS, mode="FAILFAST")
    return r.format(fmt).load(path).select(*[f.name for f in schema.fields])


def convert_to_parquet(
    spark: SparkSession,
    src_path: str,
    src_fmt: str,
    schema: T.StructType,
    out_path: str,
) -> DataFrame:
    """The ingest-once path: read a row-format (or ORC) source with a pinned
    schema and publish the columnar parquet copy every downstream query
    serves from. Returns the reread parquet DataFrame."""
    df = read_format(spark, src_path, src_fmt, schema)
    df.write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path)

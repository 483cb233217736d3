"""Multi-format file sources with per-file keys.

The reference implements splittable readers per format (SURVEY.md §2.1
S5-S11: CSV/TSV/TXT/JSONL/Avro/Parquet/ORC splittable DoFns over
common/FileReader.java byte-range scanning) plus filename→table-key
sanitization (common/SanitizeFileNameDoFn.java:42-83). Spark's FileScan
already does byte-range splits, header skipping, and schema handling; what
remains is a uniform API that (a) attaches the sanitized source key as a
column (the reference's KV key ≈ dynamic destination table), and (b) keeps
all cells strings for CSV/TSV/TXT/JSONL parity (readers produce only strings,
common/Util.java:143-151).
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

SOURCE_KEY_COL = "source_key"

_FORMATS = {"csv", "tsv", "txt", "jsonl", "json", "avro", "parquet", "orc"}


def sanitize_key(name: str) -> str:
    """Filename → safe table key: strip extension, non-alnum → underscore,
    must not start with a digit (BigQuery rules the reference enforces in
    SanitizeFileNameDoFn.java:52-66 / Util.java:153-160)."""
    base = name.rsplit("/", 1)[-1]
    # strip only a purely-alphanumeric extension — EXACTLY the rule of the
    # column form (_sanitize_col), so read_files' source_key and
    # sanitize_key-based routing (dynamic.py/notifications.py) agree on the
    # table key for every filename
    stem = re.sub(r"\.[A-Za-z0-9]+$", "", base)
    key = re.sub(r"[^a-zA-Z0-9_]", "_", stem)
    return ("_" + key) if re.match(r"^[0-9]", key) else key


def _sanitize_col(path_col):
    base = F.element_at(F.split(path_col, "/"), -1)
    stem = F.regexp_replace(base, r"\.[A-Za-z0-9]+$", "")
    key = F.regexp_replace(stem, r"[^a-zA-Z0-9_]", "_")
    return F.when(key.rlike(r"^[0-9]"), F.concat(F.lit("_"), key)).otherwise(key)


def read_files(
    spark: SparkSession,
    path: str,
    fmt: str,
    headers: list[str] | None = None,
    delimiter: str | None = None,
    streaming: bool = False,
    schema=None,
) -> DataFrame:
    """Read files of ``fmt`` under ``path``; every row carries a sanitized
    ``source_key`` column derived from its file (the dynamic-destination key).

    CSV/TSV: first line is the header (CSVColumnNamesDoFn analogue) unless
    ``headers`` is given (then all lines are data — the reference's
    --headers option for TXT/JSON, txt/TxtColumnNameDoFn.java:31-35).
    TXT: one string column ``line`` (+ user headers applied to a single col).
    JSONL: schema inferred (or passed); nested structs preserved (the
    reference flattens because DLP tables are flat — we keep them native).
    """
    fmt = fmt.lower()
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_FORMATS)}")

    reader = spark.readStream if streaming else spark.read
    if fmt in ("csv", "tsv"):
        sep = delimiter or ("\t" if fmt == "tsv" else ",")
        opts = {"sep": sep, "inferSchema": "false"}  # strings-only parity
        if headers:
            # StructType, not a spliced DDL string: headers with spaces,
            # dashes, or reserved words are data, not SQL identifiers
            hschema = StructType([StructField(h, StringType()) for h in headers])
            df = reader.options(**opts).schema(hschema).csv(path)
        else:
            if streaming and schema is None:
                raise ValueError(
                    "streaming CSV needs an explicit schema: pass headers=[...] "
                    "or schema=...; for per-file dynamic schemas use "
                    "sources.dynamic.DynamicSchemaCsvStream"
                )
            df = reader.options(**opts, header="true").csv(path) if not streaming else (
                reader.options(**opts, header="true").schema(schema).csv(path)
            )
    elif fmt == "txt":
        df = reader.text(path).withColumnRenamed("value", headers[0] if headers else "line")
    elif fmt in ("json", "jsonl"):
        if streaming and schema is None:
            raise ValueError(
                "streaming JSONL needs an explicit schema: pass schema=...; "
                "for per-file dynamic schemas use "
                "sources.dynamic.DynamicSchemaFileStream"
            )
        df = (reader.schema(schema) if schema is not None else reader).json(path)
    else:  # avro / parquet / orc — typed, vectorized, split natively
        if schema is not None:
            reader = reader.schema(schema)
        df = getattr(reader, "format")(fmt).load(path) if fmt == "avro" else getattr(
            reader, fmt
        )(path)
    # input_file_name() returns a URL-ENCODED URI ('my report.csv' arrives
    # as '.../my%20report.csv'); decode before sanitizing so this leg and
    # the sanitize_key()-based legs (dynamic.py, notifications.py) derive
    # the SAME table key for every filename. try_url_decode: a literal '%'
    # that is not a valid escape falls back to the raw name instead of
    # failing the scan.
    fname = F.input_file_name()
    decoded = F.coalesce(F.call_function("try_url_decode", fname), fname)
    return df.withColumn(SOURCE_KEY_COL, _sanitize_col(decoded))


def write_text_lines(df: DataFrame, path: str, delimiter: str = ",") -> None:
    """Row → delimiter-joined text line, partitioned per source key when
    present (ConvertTableRowToString + WriteToGCS analogue,
    common/WriteToGCS.java:66-139)."""
    cols = [c for c in df.columns if c != SOURCE_KEY_COL]
    # concat_ws SKIPS null args (fields would shift position); coalesce each
    # cell to "" so null cells emit an empty field like the reference's CSV
    line = F.concat_ws(
        delimiter, *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
    )
    if SOURCE_KEY_COL in df.columns:
        df.select(line.alias("value"), F.col(SOURCE_KEY_COL)).write.partitionBy(
            SOURCE_KEY_COL
        ).mode("append").text(path)
    else:
        df.select(line.alias("value")).write.mode("append").text(path)


def write_partitioned_by_key(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Dynamic per-key output (BigQueryDynamicWriteTransform / WriteToGCS
    analogue): one directory partition per source key."""
    df.write.partitionBy(SOURCE_KEY_COL).mode("append").format(fmt).save(path)

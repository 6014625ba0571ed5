"""Schema-explicit CSV / JSON-lines source and sink adapters.

Reference parity: the reference ingests JSON documents (SBOMs) and
emits TSV for its warehouse insert (entrypoint.sh jq @tsv semantics);
this module is the general columnar-table version of those text
formats, with the options pinned so a write→read round-trip is
LOSSLESS for every corpus type (long, double, string, timestamp):

- explicit schema on read (never inferSchema — schema drift on 100 TB
  of text files is silent data corruption);
- timestamps serialized at microsecond precision;
- doubles serialized in shortest-round-trip form (Spark default), so
  text → double parses back bit-identical;
- CSV quoting/escaping pinned to RFC-4180-style double-quote doubling
  so embedded commas, quotes, and newlines survive (multiLine on
  read for the newline case).

Scale: both formats read/write per-partition with no driver
involvement; CSV/JSON text is splittable line-wise (multiLine CSV
files are not — that option exists for correctness on quoted
newlines, and the writer keeps them by default since corpus strings
may embed them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

_CSV_OPTS = {
    "header": "true",
    "timestampFormat": TS_FMT,
    # TIMESTAMP_NTZ columns are formatted by a *separate* option; the
    # default truncates to milliseconds, silently losing µs precision.
    "timestampNTZFormat": TS_FMT,
    "nullValue": "\\N",  # distinguish NULL from empty string
    "quote": '"',
    "escape": '"',  # RFC-4180 quote doubling
    "multiLine": "true",  # quoted embedded newlines
    # both the reader AND writer trim unquoted whitespace by default —
    # data-mangling for a connector; pinned off on both sides
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
}

_JSON_OPTS = {"timestampFormat": TS_FMT, "timestampNTZFormat": TS_FMT}


def write_csv(df: DataFrame, path: str, n_files: int | None = None) -> None:
    out = df.repartition(n_files) if n_files else df
    w = out.write.mode("overwrite")
    for k, v in _CSV_OPTS.items():
        w = w.option(k, v)
    w.csv(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    r = spark.read.schema(schema)
    for k, v in _CSV_OPTS.items():
        r = r.option(k, v)
    return r.csv(path)


def write_jsonl(df: DataFrame, path: str, n_files: int | None = None) -> None:
    out = df.repartition(n_files) if n_files else df
    w = out.write.mode("overwrite")
    for k, v in _JSON_OPTS.items():
        w = w.option(k, v)
    w.json(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    r = spark.read.schema(schema)
    for k, v in _JSON_OPTS.items():
        r = r.option(k, v)
    return r.json(path)


def write_orc(df: DataFrame, path: str, n_files: int | None = None) -> None:
    """Columnar ORC sink (zlib default), the warehouse-interchange format.

    Binary columnar: types (incl. TIMESTAMP_NTZ at µs precision) survive
    without text-format pinning; splittable stripes give scan parallelism.
    """
    out = df.repartition(n_files) if n_files else df
    out.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — self-describing schema, footer-stats predicate pushdown."""
    return spark.read.orc(path)


# ---- ClickHouse TabSeparated (TSV) file connector -----------------------
#
# The reference's wire format (jq @tsv in, FORMAT TSV out).  Unlike
# quoted CSV, TSV escapes control characters INSIDE fields (\t \n \r
# \\ and \N for NULL), so records never span lines — the format stays
# line-splittable at any file size, which multiLine CSV is not.

_TSV_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def tsv_escape(c):
    """One ClickHouse TSV field: backslash, tab, LF, CR escaped; NULL as ``\\N``."""
    from pyspark.sql import functions as F

    s = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    s = F.replace(s, F.lit("\t"), F.lit("\\t"))
    s = F.replace(s, F.lit("\n"), F.lit("\\n"))
    s = F.replace(s, F.lit("\r"), F.lit("\\r"))
    return F.when(c.isNull(), F.lit("\\N")).otherwise(s)


def _tsv_unescape(c):
    # Correct single-pass unescape: after splitting on the encoded
    # literal backslash (\\), every backslash left in a segment starts
    # a real \t/\n/\r escape; fix those per segment, then rejoin the
    # segments with a single literal backslash.
    from pyspark.sql import functions as F

    def fix(seg):
        s = F.replace(seg, F.lit("\\t"), F.lit("\t"))
        s = F.replace(s, F.lit("\\n"), F.lit("\n"))
        return F.replace(s, F.lit("\\r"), F.lit("\r"))

    unesc = F.array_join(F.transform(F.split(c, r"\\\\", -1), fix), "\\")
    return F.when(c == "\\N", F.lit(None)).otherwise(unesc)


def _to_text(df: DataFrame):
    from pyspark.sql import functions as F

    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            c = F.date_format(c, _TSV_TS_FMT)
        else:
            c = c.cast("string")
        cols.append(tsv_escape(c))
    return df.select(F.concat_ws("\t", *cols).alias("value"))


def write_tsv(df: DataFrame, path: str, n_files: int | None = None) -> None:
    out = df.repartition(n_files) if n_files else df
    _to_text(out).write.mode("overwrite").text(path)


def read_tsv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    from pyspark.sql import functions as F

    raw = spark.read.text(path)
    parts = F.split(F.col("value"), "\t", -1)
    cols = []
    for i, f in enumerate(schema.fields):
        c = _tsv_unescape(parts[i])
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            c = F.to_timestamp(c, _TSV_TS_FMT).cast(f.dataType)
        else:
            c = c.cast(f.dataType)
        cols.append(c.alias(f.name))
    return raw.select(*cols)

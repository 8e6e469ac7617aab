"""The `files` input table: Iceberg catalog in production, parquet in tests.

The reference reads WARC via a custom Hadoop InputFormat
(/root/reference/processWarcFiles/.../Application.java:83-84) and N-quads via
a custom record delimiter (ConvertionToEntities.java:36-45). The new engine's
source is declarative: `spark.read.table(...)` against an Iceberg catalog
(predicate pushdown + partition pruning on `lang` / bucket come free from
Catalyst), with `spark.read.parquet` as the jar-free local stand-in.

The Iceberg jars are not in this container, so `read_files` probes the
catalog lazily and falls back -- the production path is exercised by unit
tests only up to plan construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FILES_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)


def read_files(
    spark: SparkSession,
    table: str | None = None,
    parquet_path: str | None = None,
    langs: list[str] | None = None,
) -> DataFrame:
    """Load the files table from Iceberg (`table`) or parquet (`parquet_path`).

    `langs` becomes a pushed-down partition/scan filter -- apply it here, at
    the scan, never after normalization.
    """
    if table is not None:
        try:
            df = spark.read.table(table)
        except Exception as e:  # Iceberg jars absent in the test container
            if parquet_path is None:
                raise RuntimeError(
                    f"catalog table {table!r} unavailable ({e}); "
                    "provide parquet_path for local runs"
                ) from e
            df = spark.read.schema(FILES_SCHEMA).parquet(parquet_path)
    elif parquet_path is not None:
        df = spark.read.schema(FILES_SCHEMA).parquet(parquet_path)
    else:
        raise ValueError("need table or parquet_path")
    if langs:
        df = df.where(F.col("lang").isin(langs))
    return df


def url_key(url, date):
    """The reference's document id (IgnoreFunction.java:94-103):
    `protocol::host::path::query::yyyyMMddHHmmss`, query literally "null"
    when absent (Java null string-concat) and the WARC date stripped of
    `-TZ:`. Built with parse_url (SURVEY.md §2.8) -- for the code corpus the
    (repo,path,commit) key replaces this, but the projection is part of the
    reference surface.
    """
    # concat_ws silently DROPS null segments, which would misalign the
    # '::' positions downstream consumers index into (provider = parts 0+1,
    # timestamp = part 2 in ConvertionToEntities.java:162-182). The
    # reference drops malformed URLs via its catch-all; we keep alignment
    # by pinning every segment non-null ('' for absent protocol/host/path,
    # the literal "null" for absent query, matching Java null-concat).
    q = F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit("null"))
    return F.concat_ws(
        "::",
        F.coalesce(F.lower(F.parse_url(url, F.lit("PROTOCOL"))), F.lit("")),
        F.coalesce(F.parse_url(url, F.lit("HOST")), F.lit("")),
        F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")),
        q,
        F.regexp_replace(date, "-|T|Z|:", ""),
    )


#: URL suffixes the reference drops outright (IgnoreFunction.java:32-39)
IGNORED_URL_SUFFIXES = (".css", ".js", ".ttf", "jquery", ".gz", "robots.txt")


def url_suffix_keep(url):
    """False for URLs whose path ends in an ignored suffix (reference F2,
    IgnoreFunction.java:105-109)."""
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))
    keep = F.lit(True)
    for s in IGNORED_URL_SUFFIXES:
        keep = keep & ~path.endswith(s)
    return keep

"""Raw-zone partitioned storage (reference A4/A7/A8, config.py:61-99).

The reference writes one HTML file per (site, region, experience) leaf named
``ddmmyyyy.html`` and finds "the latest" by reverse-lexicographic filename
sort — which mis-orders dates (SURVEY.md §1.3). The engine keeps the intent:

  * Hive-partitioned writes on (site, region, experience, ingest_date) —
    Spark manages directories; ingest_date is a proper *sortable* DATE
    partition column, injected explicitly (never wall-clock inside a query).
  * "Latest" is decided from partition directory NAMES, as the reference
    decides it from file names: one driver-side glob lists the scope's
    ``ingest_date=*`` directories, each name parses as a DATE and the max
    is taken as a date, never as a string. Only that partition is read,
    with the raw zone's declared schema — no Spark job at read time and
    no aggregate, join or exchange in the plan.
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import DataFrame, SparkSession

from e2e_etl_pipeline_spark.sources.acquire import ACQUIRE_COLUMNS, ACQUIRE_SCHEMA

PARTITION_COLS = ("site", "region", "experience", "ingest_date")

# Hadoop glob metacharacters; a backslash makes each one literal. Spark's
# path escaping already turns * ? [ ] { and \ into %XX; quoting the set keeps
# the pattern a literal match of the escaped name whatever that set is.
_GLOB_META = re.compile(r"([\\*?\[\]{},])")


def write_raw(df: DataFrame, path: str, mode: str = "append") -> None:
    """Partitioned raw-zone write. Expects PARTITION_COLS plus payload
    columns (doc_id, html)."""
    missing = [c for c in PARTITION_COLS if c not in df.columns]
    if missing:
        raise ValueError(f"raw-zone write missing partition columns: {missing}")
    df.write.mode(mode).partitionBy(*PARTITION_COLS).parquet(path)


def read_latest(
    spark: SparkSession,
    path: str,
    site: str | None = None,
    region: str | None = None,
    experience: str | None = None,
) -> DataFrame:
    """Read only the newest ingest_date partition (optionally scoped to a
    site/region/experience subtree; ``None`` means every value).

    This is A8 with the ddmmyyyy byte-sort bug fixed: directory names are
    compared as parsed DATEs, so chronological == sort order by
    construction. A name that does not parse (``__HIVE_DEFAULT_PARTITION__``
    for a NULL date) is skipped, as ``max`` skips NULL. An empty scope
    returns an empty frame; either way the columns are ``ACQUIRE_SCHEMA``.
    """
    jvm = spark._jvm  # noqa: SLF001
    escape = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    # Match the directory names Spark wrote: its own escaping (a/b →
    # a%2Fb), then glob-quoting whatever that escaping leaves special.
    scope = "/".join(
        f"{col}=" + ("*" if val is None else _GLOB_META.sub(r"\\\1", escape(val)))
        for col, val in (("site", site), ("region", region), ("experience", experience))
    )
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())  # noqa: SLF001
    dated = []
    for status in fs.globStatus(jvm.org.apache.hadoop.fs.Path(root, f"{scope}/ingest_date=*")):
        leaf = status.getPath().toString()
        try:
            dated.append((dt.date.fromisoformat(leaf.rpartition("=")[2]), leaf))
        except ValueError:
            continue
    if not dated:
        return spark.createDataFrame([], ACQUIRE_SCHEMA)
    newest = max(d for d, _ in dated)
    return (
        spark.read.schema(ACQUIRE_SCHEMA)
        .option("basePath", path)
        .parquet(*(leaf for d, leaf in dated if d == newest))
        .select(*ACQUIRE_COLUMNS)  # the reader puts partition columns last
    )

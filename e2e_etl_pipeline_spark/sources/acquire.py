"""Acquisition adapter: web-scrape sources as driver-side fetch → DataFrame.

The reference drives Chrome/Selenium over two job boards (A1/A2,
DataExtract/extract_data.py:108-146,199-246). Control crosses a process
boundary per element interaction (SURVEY.md §3.2) — which is exactly why the
engine keeps acquisition OUT of the cluster-side plan: a pluggable fetcher
callable runs on the driver (or inside foreachPartition for fan-out over a
URL table), and the engine's query surface starts at the resulting
(doc_id, site, region, experience, ingest_date, html) rows.

Selenium is optional and absent in this container; the default fetcher is a
deterministic synthetic generator so the full pipeline is testable offline.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

# (site, region, experience) → iterable of (doc_id, html)
Fetcher = Callable[[str, str, str], Iterable[tuple[int, str]]]

ACQUIRE_SCHEMA = (
    "doc_id long, site string, region string, experience string, "
    "ingest_date date, html string"
)
ACQUIRE_COLUMNS = ("doc_id", "site", "region", "experience", "ingest_date", "html")


def synthetic_fetcher(site: str, region: str, experience: str) -> list[tuple[int, str]]:
    """Offline stand-in for the Selenium scrapers: emits one merged HTML
    document shaped like each site's DOM contract (FIXTURES.md §1.3)."""
    if site == "jjit":
        items = "".join(
            f'<li data-index="{i}"><h3>Dev {region} {i}</h3>'
            f"<h6><span>8000</span><span>12000</span><span>PLN/month</span></h6></li>"
            for i in range(3)
        )
        return [(0, f"<ul>{items}</ul>")]
    items = "".join(
        f'<div data-test="default-offer">'
        f'<a data-test="link-offer-title">Eng {experience} {i}</a>'
        f'<h3 data-test="text-company-name">Firm {i}</h3>'
        f'<span data-test="offer-salary">10 000–12 000 zł brutto / mies.</span>'
        f"</div>"
        for i in range(3)
    )
    return [(0, f"<div>{items}</div>")]


def fetched_documents(
    spark: SparkSession,
    targets: list[tuple[str, str, str]],
    ingest_date: dt.date,
    fetcher: Fetcher = synthetic_fetcher,
) -> DataFrame:
    """Run the fetcher per target on the driver and return the raw-document
    DataFrame (FIXTURES.md §1.2 schema). ingest_date is an explicit argument
    — never wall-clock (SURVEY.md §1.3 determinism note)."""
    from e2e_etl_pipeline_spark.catalog import inline_frame

    rows = []
    for site, region, experience in targets:
        for doc_id, html in fetcher(site, region, experience):
            # Fail HERE, naming the offender: inline_frame's contract
            # forbids None field values (a NULL literal makes that
            # struct's field NullType and inline(array(...)) dies with a
            # far-away DATATYPE_MISMATCH). A fetcher emitting html=None
            # for a failed render is a fetcher bug, not a NULL document.
            if doc_id is None or html is None:
                raise ValueError(
                    f"fetcher returned a None field for site={site!r} "
                    f"region={region!r} experience={experience!r} "
                    f"(doc_id={doc_id!r}): fetchers must emit "
                    "(int, str) pairs — drop failed pages instead"
                )
            rows.append(
                {
                    "doc_id": doc_id,
                    "site": site,
                    "region": region,
                    "experience": experience,
                    "ingest_date": ingest_date,
                    "html": html,
                }
            )
    # JVM-side literal frame (catalog.inline_frame): a pickled-RDD
    # createDataFrame costs a Python-worker round-trip on every downstream
    # job. Cast doc_id up to the schema's long.
    if not rows:
        # no targets / every fetch empty: a typed empty frame with the
        # declared contract schema, not an inline_frame crash
        return spark.createDataFrame([], ACQUIRE_SCHEMA)
    df = inline_frame(spark, rows, list(ACQUIRE_COLUMNS))
    return df.withColumn("doc_id", df["doc_id"].cast("long"))

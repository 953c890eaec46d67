"""Test helpers: build bankdata rows and collect per-row error lists.

Mirrors the reference's row-isolated combined-test pattern
(tests/test_eft_banking_format_rules_combined.py in /root/reference):
start from a valid row, inject exactly one violation per test row, assert
the precise error list for each.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from etl_validator_github_spark.operators.validate import ERRORS_COL, with_errors
from etl_validator_github_spark.schema import COLUMNS, bankdata_schema

#: A fully valid M/EFT row (passes every rule in the catalog).
VALID_M_EFT = {
    "RecordOperation": "A",
    "OrganizationCode": "M",
    "PayeeID": "MFR001",
    "OrganizationIdentifier": "MFR001",
    "OrganizationName": "Apex Pharma",
    "OrganizationLegalName": "Apex Pharma",
    "OrganizationTIN": "123456789",
    "OrganizationTINType": "EIN",
    "ProfitNonprofit": "P",
    "OrganizationNPI": "1234567890",
    "PaymentMode": "EFT",
    "RoutingTransitNumber": "123456789",
    "AccountNumber": "123456",
    "AccountType": "CHKING",
    "EffectiveStartDate": "2026-03-10",
    "EffectiveEndDate": "",
    "AddressCode": "COR",
    "AddressLine1": "12 Main St",
    "AddressLine2": "",
    "CityName": "Springfield",
    "State": "VA",
    "PostalCode": "22030",
    "ContactCode": "AO",
    "ContactFirstName": "James",
    "ContactLastName": "Smith",
    "ContactTitle": "Director",
    "ContactPhone": "555-123-4567",
    "ContactFax": "",
    "ContactOtherPhone": "",
    "ContactEmail": "james.smith@example.com",
}

#: Valid D/CHK row (banking fields blank, AddressCode PMT).
VALID_D_CHK = {
    **VALID_M_EFT,
    "OrganizationCode": "D",
    "PayeeID": "DISP01",
    "OrganizationIdentifier": "DISP01",
    "PaymentMode": "CHK",
    "RoutingTransitNumber": "",
    "AccountNumber": "",
    "AccountType": "",
    "AddressCode": "PMT",
}

#: Valid R row (identity only; banking/address blank; PayeeID != OrgId).
VALID_R = {
    **{c: "" for c in COLUMNS},
    "RecordOperation": "A",
    "OrganizationCode": "R",
    "PayeeID": "R1234",
    "OrganizationIdentifier": "9876543210",
    "OrganizationName": "Apex Pharma",
    "OrganizationLegalName": "Apex Pharma",
    "EffectiveStartDate": "2026-03-10",
    "ContactCode": "AO",
    "ContactPhone": "555-123-4567",
    "ContactEmail": "r@example.com",
}


def make_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    full = [{**dict.fromkeys(COLUMNS, ""), **r} for r in rows]
    return spark.createDataFrame(full, schema=bankdata_schema(dates_as_strings=True))


def errors_for(spark: SparkSession, rows: list[dict]) -> list[list[str]]:
    """Per-row error lists, in input order (keyed by a __row tag)."""
    tagged = [{**r, "ContactTitle": r.get("ContactTitle", "")} for r in rows]
    df = make_df(spark, tagged)
    out = with_errors(df).select("PayeeID", ERRORS_COL).collect()
    return [row[ERRORS_COL] for row in out]


@contextmanager
def sql_executions(spark: SparkSession) -> Iterator[list[str]]:
    """Yield a list that, when the block exits, holds the description of
    every SQL execution the block started, oldest first.

    Read from the driver's SQL status store after draining the listener
    bus. Only executions newer than the block's start are kept, so the
    store's retention cap cannot hide or double-count one."""
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    bus = spark.sparkContext._jsc.sc().listenerBus()  # noqa: SLF001

    def newest(k: int = 64) -> list[tuple[int, str]]:
        bus.waitUntilEmpty()
        n = store.executionsCount()
        execs = store.executionsList(max(n - k, 0), k)
        return [
            (execs.apply(i).executionId(), execs.apply(i).description())
            for i in range(execs.size())
        ]

    start = max((i for i, _ in newest()), default=-1)
    started: list[str] = []
    yield started
    started.extend(d for i, d in newest() if i > start)


@contextmanager
def spark_jobs(spark: SparkSession) -> Iterator[list[int]]:
    """Yield a list that, when the block exits, holds the id of every
    Spark job the block started (read after draining the listener bus)."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    started: list[int] = []
    try:
        yield started
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    started.extend(sc.statusTracker().getJobIdsForGroup(group))

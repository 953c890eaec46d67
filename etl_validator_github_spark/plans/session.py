"""SparkSession builder tuned for this engine.

Local testing runs on local[N]; the same configs are the ones that matter
on a 1000-executor cluster: AQE for runtime re-planning (coalescing
post-shuffle partitions, skew-join splitting), a shuffle-partition count
sized to the data, and Arrow for any pandas interchange.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Local property Spark reads for job and SQL-execution descriptions.
_JOB_DESCRIPTION = "spark.job.description"


def get_spark(
    app_name: str = "etl-validator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def job_description(spark: SparkSession, text: str) -> Iterator[None]:
    """Label the Spark jobs and SQL executions started inside the block
    with ``text`` (the status store and UI show it per execution), then
    restore the description the calling thread had before."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, previous)


def explain_str(df) -> str:
    """Formatted physical plan as a string (for plan assertions in tests)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def gateway_token() -> int:
    """Identity of the live py4j gateway (0 before any JVM launch).

    Module-level memos of py4j-backed Column handles (rules/generator/
    validate/validation, r13) must key on this: the cached JavaObject
    handles go stale — failing with opaque py4j errors — if the gateway
    is ever shut down and relaunched within one interpreter (ADVICE
    r13). A stale entry is simply rebuilt under the new token.
    """
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    return id(gw) if gw is not None else 0

"""Shared helpers for the driver-facing query modules.

The driver calls queries() on ITS OWN SparkSession — configuration
unknown.  ``table()`` therefore pins the runtime-settable confs every
oracle comparison depends on:

* session timezone UTC — DuckDB timestamps are naive/UTC; any
  NTZ->LTZ cast (sessionization epochs) must agree;
* ICU case mappings off — semantics identical for this corpus
  (ASCII-range casing) and 10-30x faster lower()/upper()
  (see session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def prepare(spark: SparkSession) -> SparkSession:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    except Exception:
        pass  # conf absent on older Spark
    return spark


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    prepare(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fits_broadcast(df: DataFrame) -> bool:
    """True iff ``df``'s optimized-plan size estimate fits under the
    session's autoBroadcastJoinThreshold — the same statistic and the
    same parsed threshold the planner itself uses when it
    auto-broadcasts (an unfiltered parquet scan estimates its on-disk
    bytes, on any filesystem).  Lets a query hint-broadcast a
    *filtered/projected subset* of a table the planner would already
    have broadcast whole (strictly smaller, so strictly safer), while
    degrading to the unhinted plan at scale where the table outgrows
    the threshold.  Driver-side metadata only; no extra Spark job."""
    try:
        thr = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    except AttributeError:  # no JVM handle (Spark Connect): unhinted plan
        return False
    return 0 < size <= thr

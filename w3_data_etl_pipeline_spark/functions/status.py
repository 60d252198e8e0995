"""HTTP status enrichment (reference operators P12/P13).

Phrase/description come from a tiny static lookup table built once on
the driver from ``http.HTTPStatus`` (an Arrow-built local relation, so
no Python worker serves it) and broadcast-joined (the
reference calls HTTPStatus(code) per row,
reference src/common_package/status_code_tasks.py:67-76; unknown
codes -> NULL). The class banding replicates the reference's ordered
threshold chain (status_code_tasks.py:78-89).
"""

from __future__ import annotations

from http import HTTPStatus

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame


def status_lookup_df(spark: SparkSession) -> DataFrame:
    rows = [
        (int(s.value), s.phrase, s.description or None)
        for s in HTTPStatus
    ]
    return local_frame(
        spark, rows, "status_code int, code_phrase string, code_description string"
    )


def status_class(code: F.Column) -> F.Column:
    """>=500 server error / >=400 client error / >=300 redirection /
    >=200 success / >=100 informational — reference order preserved."""
    return (
        F.when(code >= 500, "Server Error")
        .when(code >= 400, "Client Error")
        .when(code >= 300, "Redirection")
        .when(code >= 200, "Success")
        .when(code >= 100, "Informational")
        .otherwise(F.lit(None))
    )


STATUS_CLASS_CASE_SQL = (
    "CASE WHEN {c} >= 500 THEN 'Server Error' WHEN {c} >= 400 THEN 'Client Error' "
    "WHEN {c} >= 300 THEN 'Redirection' WHEN {c} >= 200 THEN 'Success' "
    "WHEN {c} >= 100 THEN 'Informational' ELSE NULL END"
)


def enrich_status(df: DataFrame, spark: SparkSession, code_col: str = "status_code") -> DataFrame:
    """Adds code_phrase, code_type, code_description via broadcast join."""
    code = F.col(code_col).cast("int")
    lut = status_lookup_df(spark)
    out = df.withColumn("_code", code).join(
        F.broadcast(lut.withColumnRenamed("status_code", "_code")), "_code", "left"
    )
    return out.withColumn("code_type", status_class(F.col("_code"))).drop("_code")

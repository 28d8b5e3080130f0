"""Write-time schema validation with quarantine routing.

Spark-native equivalent of the reference's everit JSON-Schema check on
every POST/PUT/PATCH (PlanController.java:88–95, 170–176, 232–238): shape
and types come from ``from_json`` against the declared StructType; draft-07
``required`` sets become one SQL ``reason`` expression, built once at
import. Invalid rows are not dropped (the reference throws HTTP 400) —
they are routed to a quarantine DataFrame with a reason column, which is
the batch/stream analogue. :func:`validate` is :func:`annotate` (parse and
check) then :func:`split`; a caller writing both sides persists between.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataindexing_spark.documents.schema import (
    PLAN_SCHEMA,
    REQUIRED_ELEMENT_PATHS,
    REQUIRED_PATHS,
)


# Every violated required-field path of the parsed ``doc``, in
# REQUIRED_PATHS then REQUIRED_ELEMENT_PATHS order (an element path is
# violated when any linkedPlanServices element lacks it), or
# ``malformed_json`` when the body did not parse.
_REASON_SQL = (
    "CASE WHEN doc IS NULL THEN array('malformed_json') ELSE array_compact(array("
    + ", ".join(
        [f"CASE WHEN doc.{p} IS NULL THEN '{p}' END" for p in REQUIRED_PATHS]
        + [
            f"CASE WHEN exists(coalesce(doc.linkedPlanServices, array()), x -> x.{p} IS NULL)"
            f" THEN 'linkedPlanServices[].{p}' END"
            for p in REQUIRED_ELEMENT_PATHS
        ]
    )
    + ")) END"
)


def annotate(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """``raw`` with its body parsed to the typed ``doc`` struct column and
    the ``reason`` array of violations (empty for a valid body)."""
    parsed = raw.withColumn("doc", F.from_json(F.col(value_col), PLAN_SCHEMA))
    return parsed.withColumn("reason", F.expr(_REASON_SQL))


def split(annotated: DataFrame, value_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine) rows of an :func:`annotate` result."""
    valid = annotated.filter("size(reason) = 0").select(value_col, "doc")
    quarantine = annotated.filter("size(reason) > 0").select(value_col, "reason")
    return valid, quarantine


def validate(raw: DataFrame, value_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine): valid has a typed ``doc`` struct column;
    quarantine keeps the raw body plus a ``reason`` array column.

    Type violations (e.g. ``copay: "x"``) surface as a null parsed struct
    (PERMISSIVE corrupt-record semantics) or a null required leaf — both
    routes land in quarantine, mirroring BadRequestException at
    PlanController.java:94.
    """
    return split(annotate(raw, value_col), value_col)

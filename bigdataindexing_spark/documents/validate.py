"""Write-time schema validation with quarantine routing.

Spark-native equivalent of the reference's everit JSON-Schema check on
every POST/PUT/PATCH (PlanController.java:88–95, 170–176, 232–238): shape
and types come from ``from_json`` against the declared StructType; draft-07
``required`` sets become null-check predicates. Invalid rows are not
dropped (the reference throws HTTP 400) — they are routed to a quarantine
DataFrame with a reason column, which is the batch/stream analogue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataindexing_spark.documents.schema import (
    PLAN_SCHEMA,
    REQUIRED_ELEMENT_PATHS,
    REQUIRED_PATHS,
)


def _nested(doc: F.Column, path: str) -> F.Column:
    c = doc
    for seg in path.split("."):
        c = c.getField(seg)
    return c


def _missing_required(doc: F.Column) -> F.Column:
    """Array of violated required-field paths for a parsed doc."""
    # for each required path, emit the path string when the leaf is null
    parts = [F.when(_nested(doc, p).isNull(), F.lit(p)) for p in REQUIRED_PATHS]
    # per-element requireds inside linkedPlanServices
    arr = F.coalesce(doc.getField("linkedPlanServices"), F.array())
    for p in REQUIRED_ELEMENT_PATHS:
        any_bad = F.exists(arr, lambda x: _nested(x, p).isNull())
        parts.append(F.when(any_bad, F.lit(f"linkedPlanServices[].{p}")))
    return F.array_compact(F.array(*parts))


def validate(raw: DataFrame, value_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine): valid has a typed ``doc`` struct column;
    quarantine keeps the raw body plus a ``reason`` array column.

    Type violations (e.g. ``copay: "x"``) surface as a null parsed struct
    (PERMISSIVE corrupt-record semantics) or a null required leaf — both
    routes land in quarantine, mirroring BadRequestException at
    PlanController.java:94.
    """
    parsed = raw.withColumn("doc", F.from_json(F.col(value_col), PLAN_SCHEMA))
    missing = _missing_required(F.col("doc"))
    annotated = parsed.withColumn(
        "reason",
        F.when(F.col("doc").isNull(), F.array(F.lit("malformed_json"))).otherwise(
            missing
        ),
    )
    valid = annotated.filter(F.size("reason") == 0).select(value_col, "doc")
    quarantine = annotated.filter(F.size("reason") > 0).select(value_col, "reason")
    return valid, quarantine

"""Declared input and token schemas (nothing is inferred).

Mirrors the reference's fixed-contract discipline
(app/schemas/contracts.py:13-107 enforces shapes via Pydantic;
app/models/tables.py pins the at-rest DDL).  The enforcement points
are the stages' pandas-UDF output schemas, where a mismatch is a hard
error: ``stages.tokenize.VIEW_TYPE`` for the per-turn view and
``stages.extract.COMBINED_STAGE_SCHEMA`` for records and diagnostics.
The latter's Decimal columns follow the reference DDL: Numeric(15,2)
for money, Numeric(6,4) for tolerances, Numeric(5,4) for confidences
(tables.py:323-363).
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# primary input (BASELINE.json input_hint)
TRANSCRIPTS_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), True),
    StructField("text", StringType(), True),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), True),
])

# token IR (contracts.py:20-34), exposed for diagnostics / reuse
TOKEN_TYPE = StructType([
    StructField("text", StringType(), False),
    StructField("x0", DoubleType(), False),
    StructField("y0", DoubleType(), False),
    StructField("x1", DoubleType(), False),
    StructField("y1", DoubleType(), False),
    StructField("confidence", DoubleType(), False),
    StructField("start", IntegerType(), False),
    StructField("end", IntegerType(), False),
])

"""Explicit StructType schemas for the multimodal tables.

Schema-on-write, as in the reference, which derives its SQL DDL from
``attrs`` annotations (``src/farmrpg_etl/db/core/models.py:57-85``):
every table has a fixed, declared schema and nothing is inferred. The chat/user/mail record schemas are the DDL strings in
``farmrpg_etl_spark.parse.stage.SOURCE_FIELDS``; this module holds
the StructTypes of the binary-media and embedding tables.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --- multimodal: opaque binary + typed metadata --------------------------
MEDIA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),      # image | audio | video
        StructField("data", BinaryType(), False),      # opaque payload
        StructField("meta", StructType([
            StructField("mime", StringType(), True),
            StructField("width", IntegerType(), True),
            StructField("height", IntegerType(), True),
            StructField("duration_ms", IntegerType(), True),
        ]), True),
    ]
)

EMBEDDING = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("embedding", ArrayType(FloatType()), False),
        StructField("label", IntegerType(), True),
    ]
)

"""Canonical schemas.

The reference's wire record is one JSON object per Kafka message
(reference api_server.py:55, spark_consumer.py:13-17):
``{"user_id": str, "emoji_type": str, "timestamp": ISO-8601 str}``.
The engine declares it once and parses with ``from_json`` (schema-checked),
not ``json_tuple`` (reference spark_consumer.py:28-30 declares a schema it
never uses).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- the reference wire record (stringly-typed at the boundary) -----------
EMOJI_EVENT_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), True),
        T.StructField("emoji_type", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
    ]
)

# ISO-8601 with microseconds, as produced by datetime.isoformat()
# (reference client.py:111) — parsed WITHOUT the LEGACY policy.
ISO_MICROS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

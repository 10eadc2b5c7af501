from holochatstats_spark.streaming.ingest_stream import (  # noqa: F401
    stream_messages,
    stream_user_counters,
)

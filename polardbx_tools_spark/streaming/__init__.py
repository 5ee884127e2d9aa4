from polardbx_tools_spark.streaming.stream import (
    start_cdc_stream,
    start_dedup_stream,
    start_embedding_dedup_stream,
    start_windowed_counts_stream,
)

__all__ = [
    "start_cdc_stream",
    "start_dedup_stream",
    "start_embedding_dedup_stream",
    "start_windowed_counts_stream",
]

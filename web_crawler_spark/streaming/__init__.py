from web_crawler_spark.streaming.stream_ops import (  # noqa: F401
    seen_filter_dropdup_stream,
    stateful_seen_filter_stream,
    streaming_round_demo,
    windowed_event_metrics_stream,
)

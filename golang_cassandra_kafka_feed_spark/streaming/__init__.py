from golang_cassandra_kafka_feed_spark.streaming.fanout import (
    decode_post_events,
    run_fanout_pipeline,
)
from golang_cassandra_kafka_feed_spark.streaming.rollup import (
    read_rollup,
    rollup_foreach_batch,
    rollup_partials,
)
from golang_cassandra_kafka_feed_spark.streaming.windows import (
    session_counts_stream,
    tumbling_counts_stream,
)

__all__ = [
    "decode_post_events",
    "read_rollup",
    "rollup_foreach_batch",
    "rollup_partials",
    "run_fanout_pipeline",
    "tumbling_counts_stream",
    "session_counts_stream",
]

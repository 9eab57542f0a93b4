from sparkts.streaming.rollup import (  # noqa: F401
    commit_batch,
    compact_tier_output,
    read_tier_stream_output,
    stream_rollup,
    write_tier_stream,
)
from sparkts.streaming.anomaly import stream_anomaly_flags  # noqa: F401

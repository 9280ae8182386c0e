"""Structured Streaming variant of the pipeline (SURVEY.md section 2.10).

The reference is a cron micro-batcher ([PK] ``log_analyse.py`` run every N
minutes with an offset bookmark); the batch pipeline with checkpoint/resume
is the primary restatement of that. This package is the always-on variant:
every batch stage is a pure DataFrame -> DataFrame function, so it composes
unchanged into ``readStream`` / ``foreachBatch``.
"""

from abs_log_spark.streaming.pipeline import (
    SEQUENCES_SCHEMA,
    merge_stream_partials,
    read_sequence_stream,
    run_stream_foreach_batch,
    streaming_minute_agg,
    two_batch_trigger,
)

__all__ = [
    "SEQUENCES_SCHEMA",
    "merge_stream_partials",
    "read_sequence_stream",
    "run_stream_foreach_batch",
    "streaming_minute_agg",
    "two_batch_trigger",
]

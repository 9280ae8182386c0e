"""Structured Streaming variant of the pipeline (SURVEY.md section 2.10).

The reference is a cron micro-batcher ([PK] ``log_analyse.py`` run every N
minutes with an offset bookmark); the batch pipeline with checkpoint/resume
is that cycle. This package is the always-on variant: every batch stage is
a pure DataFrame -> DataFrame function, so it composes unchanged into
``readStream``, and ``foreachBatch`` runs each micro-batch as one
``run_pipeline`` increment into the same warehouse.
"""

from abs_log_spark.streaming.pipeline import (
    SEQUENCES_SCHEMA,
    read_sequence_stream,
    run_stream_foreach_batch,
    streaming_minute_agg,
    two_batch_trigger,
)

__all__ = [
    "SEQUENCES_SCHEMA",
    "read_sequence_stream",
    "run_stream_foreach_batch",
    "streaming_minute_agg",
    "two_batch_trigger",
]

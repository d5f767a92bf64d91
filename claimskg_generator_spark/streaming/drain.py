"""The one streaming driver: every micro-batch job in this package reads
its input through ``source`` and runs through ``drain``.

* ``source`` is the parquet file stream over a directory, capped at
  ``FILES_PER_TRIGGER`` files per micro-batch so a backlog drains in
  bounded batches instead of one unbounded first trigger.
* ``drain`` starts the query with the ``availableNow`` trigger: it
  processes everything present when it starts, then stops — the
  incremental catch-up mode every caller and test uses.  Progress lives
  in ``checkpoint_dir``, so the next drain resumes where this one ended.

The sink is either a ``foreachBatch`` callable or an output directory
for Spark's own exactly-once parquet file sink (its ``_spark_metadata``
log).  A ``foreachBatch`` sink is exactly-once only if it is idempotent
on ``batch_id``, which Structured Streaming keeps stable across
replays; ``snapshot_sink.SnapshotTableStreamWriter`` is the package's
one epoch-idempotent appender.
"""

from typing import Callable, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

FILES_PER_TRIGGER = 64


def source(spark: SparkSession, input_dir: str, schema=None) -> DataFrame:
    """The parquet file stream over ``input_dir``; the schema is read
    from the directory when none is given."""
    schema = schema or spark.read.parquet(input_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(input_dir)
    )


def drain(stream_df: DataFrame,
          sink: Union[Callable[[DataFrame, int], None], str],
          checkpoint_dir: str,
          output_mode: str = "append") -> StreamingQuery:
    """Start ``stream_df`` into ``sink`` (a ``foreachBatch`` callable or
    a parquet output directory) and return the StreamingQuery; the
    caller awaits its termination."""
    w = (
        stream_df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    if callable(sink):
        w = w.foreachBatch(sink)
    else:
        w = w.format("parquet").option("path", sink)
    return w.trigger(availableNow=True).start()

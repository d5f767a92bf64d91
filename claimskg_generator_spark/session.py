"""The product CLIs' session: one settings table and one helper that
applies it for the length of a run.

``canChangeCachedPlanOutputPartitioning`` lets AQE coalesce the final
shuffle of a shared (persisted) frame.  Unless it is set, Spark keeps a
persisted query's output partitioning, so every ``share()`` of a frame
that ends in a shuffle keeps ``spark.sql.shuffle.partitions`` (200 by
default) partitions, and every stage reading it as many tasks.  The
setting lives here and not in ``share()``: reading a cached frame whose
partitioning may change can add a shuffle, and the registered queries
run under sessions that already use few shuffle partitions, so their
plans stay as they are.
"""

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

from claimskg_generator_spark.operators.cache import release

SETTINGS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # plan construction is py4j-round-trip bound (~10k calls for the
    # full pipeline); per-op call-site capture adds ~20% on top.  A static
    # setting: it takes effect only in a session the helper creates.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


@contextmanager
def product_session(app_name: str) -> Iterator[SparkSession]:
    """The active session, or a new one named ``app_name``, with
    :data:`SETTINGS` applied (in an active session, the ones it can
    change).  On exit the shared frames are released, the caller's values
    of the settings come back, and a session this call created is
    stopped."""
    spark = SparkSession.getActiveSession()
    created = spark is None
    if created:
        spark = (SparkSession.builder.appName(app_name).config(map=SETTINGS)
                 .getOrCreate())
    saved = {key: spark.conf.get(key, None) for key in SETTINGS
             if spark.conf.isModifiable(key)}
    for key in saved:
        spark.conf.set(key, SETTINGS[key])
    try:
        yield spark
    finally:
        release()
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
        if created:
            spark.stop()

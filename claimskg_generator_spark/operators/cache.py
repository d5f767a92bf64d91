"""The one materialization policy.  ``share`` persists a frame that
several plan branches read, at the level ``DataFrame.cache()`` uses, and
records it; ``release`` unpersists every recorded frame.  Releases happen
before each registered query builds, in ``ClaimsKGPipeline.triples``
after its eager checkpoint, and when each CLI's ``main`` returns.
"""

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_shared: list[DataFrame] = []


def share(df: DataFrame) -> DataFrame:
    """Persist ``df`` (lazily) until the next :func:`release`."""
    _shared.append(df.persist(StorageLevel.MEMORY_AND_DISK_DESER))
    return df


def release() -> None:
    """Unpersist every shared frame, newest first so Spark re-plans no
    cached frame that reads a released one; a stopped session's frames
    are gone already."""
    while _shared:
        df = _shared.pop()
        if df.sparkSession.sparkContext._jsc is not None:
            df.unpersist(blocking=False)

"""SparkSession factory tuned for the flattening/rollup workload.

Single place where we set the configs that matter at scale:

- AQE on (runtime skew-join handling + partition coalescing).
- Arrow on (all our Python-side kernels are pandas/Arrow batch UDFs,
  never per-row Python).
- Session timezone pinned to UTC so ``unix_micros`` / ``date_format``
  are deterministic regardless of host TZ.
- ``spark.sql.shuffle.partitions`` sized by the caller (tests use a
  small number; a real cluster would use ~2-3x total cores). It is the
  initial partition count of every shuffle: AQE partition coalescing
  sizes each reduce side from the bytes the map side actually wrote,
  so a k-row aggregate or a contracted edge set runs on a few
  partitions without a per-query setting. No query path writes
  session conf — queries sharing one session never see each other's
  settings.

Operators whose output is lazy but which scan one intermediate several
times persist it through ``persist_frame``; the caller unpersists them
with ``release_frames`` once the consuming action has run. The
registry is per thread, so one thread's release never drops a frame
another thread's query still reads.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "timeseriesflattener-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_FRAMES = threading.local()


def _thread_frames() -> list[DataFrame]:
    frames = getattr(_FRAMES, "frames", None)
    if frames is None:
        frames = _FRAMES.frames = []
    return frames


def persist_frame(df: DataFrame) -> DataFrame:
    """Persist ``df`` at MEMORY_AND_DISK and record it under the calling
    thread until ``release_frames``. Spark's cache is keyed by plan:
    two threads persisting the SAME plan share one cached copy, and
    either thread's release drops it."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _thread_frames().append(df)
    return df


def frame_mark() -> int:
    """How many frames the calling thread holds — pass it to
    ``release_frames(since=...)`` to release only what is persisted
    after this point."""
    return len(_thread_frames())


def release_frames(since: int = 0) -> int:
    """Unpersist the frames the calling thread recorded after the first
    ``since``; returns how many were released. Safe at any time — an
    unpersisted plan silently recomputes."""
    frames = _thread_frames()
    released = 0
    while len(frames) > since:
        frame = frames.pop()
        try:
            frame.unpersist()
            released += 1
        except Exception:
            pass
    return released

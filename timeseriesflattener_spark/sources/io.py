"""Sources / sinks (SURVEY.md §2.1).

Reference equivalents: CSV scan with timestamp parse
(``testing/load_synth_data.py:16-22``), suffix-dispatched load/store
(``v1/misc_utils.py:88-109,151-166``), long->wide split
(``v1/df_transforms.py:8-28``), and the per-feature DiskCache
(``v1/feature_cache/cache_to_disk.py:15-167``) reimagined as a
spec-fingerprint parquet cache (the *tier* materialisation analog lives
in ``plans/tiers.py``).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frames import ValueFrame


def read_csv(
    spark: SparkSession,
    path: str,
    timestamp_cols: Sequence[str] = ("timestamp",),
    schema: str | None = None,
) -> DataFrame:
    """CSV scan with timestamp parsing (ref ``load_synth_data.py:16-22``).
    Prefer an explicit ``schema`` at scale — inferSchema is a full extra
    pass over the data."""
    reader = spark.read.option("header", "true")
    df = reader.csv(path, schema=schema) if schema else reader.option("inferSchema", "true").csv(path)
    for col in timestamp_cols:
        if col in df.columns:
            df = df.withColumn(col, F.to_timestamp(col))
    return df


def load_dataset(spark: SparkSession, path: str) -> DataFrame:
    """Suffix-dispatched load (ref ``v1/misc_utils.py:88-109``)."""
    if path.endswith(".csv"):
        return read_csv(spark, path)
    if path.endswith(".parquet") or os.path.isdir(path):
        return spark.read.parquet(path)
    raise ValueError(f"Unsupported dataset suffix: {path}")


def write_dataset(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Suffix-dispatched store (ref ``v1/misc_utils.py:151-166``)."""
    if path.endswith(".csv"):
        df.write.mode(mode).option("header", "true").csv(path)
    else:
        df.write.mode(mode).parquet(path)


def split_long_to_value_frames(
    df: DataFrame,
    name_col: str = "value_names",
    value_col: str = "value",
    entity_id_col_name: str = "entity_id",
    value_timestamp_col_name: str = "timestamp",
) -> dict[str, ValueFrame]:
    """Split a long frame on its name column into per-name ValueFrames
    (ref ``v1/df_transforms.py:8-28``). The distinct-name scan is one
    small job; each resulting frame is a pushdown-friendly filter over
    the same source (no data copied)."""
    names = [r[0] for r in df.select(name_col).distinct().collect()]
    return {
        name: ValueFrame(
            df=df.filter(F.col(name_col) == name)
            .withColumnRenamed(value_col, name)
            .drop(name_col),
            entity_id_col_name=entity_id_col_name,
            value_timestamp_col_name=value_timestamp_col_name,
        )
        for name in names
    }


class FeatureCache:
    """Spec-fingerprint parquet cache for flattened feature frames.

    Replaces the reference DiskCache's ctime-based most-recent-file
    lookup (``cache_to_disk.py:52-72``) with a deterministic key:
    sha256 of (spec description, input row count). Unlike the reference
    we do not drop/re-expand fallback rows (``:114-148``) — parquet
    encodes constant columns away, so the sparsity trick buys nothing.
    """

    def __init__(self, spark: SparkSession, cache_dir: str):
        self.spark = spark
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    @staticmethod
    def fingerprint(spec_description: dict, input_rows: int) -> str:
        payload = json.dumps({**spec_description, "rows": input_rows}, sort_keys=True, default=str)
        return hashlib.sha256(payload.encode()).hexdigest()[:24]

    def _path(self, key: str) -> str:
        return os.path.join(self.cache_dir, key)

    def get(self, key: str) -> DataFrame | None:
        path = self._path(key)
        if os.path.isdir(path):
            return self.spark.read.parquet(path)
        return None

    def put(self, key: str, df: DataFrame) -> DataFrame:
        """Write ``df`` as the entry for ``key`` and return it read back.
        The write goes to a sibling staging directory that is swapped in
        with ``os.replace``, so a failed or interrupted write never
        leaves a directory that ``get`` would take for a hit."""
        path = self._path(key)
        staged = f"{path}.staging-{uuid.uuid4().hex}"
        try:
            df.write.parquet(staged)
            if os.path.isdir(path):
                shutil.rmtree(path)
            os.replace(staged, path)
        finally:
            shutil.rmtree(staged, ignore_errors=True)
        return self.spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "entity_id",
    num_buckets: int = 64,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed catalog table so joins/aggregations keyed on
    ``bucket_col`` read pre-partitioned data — the co-located-join story
    for repeated flattens at 100 TB: bucket the events table and every
    prediction-time table by entity once, and the temporal fan-out join
    runs with NO exchange on either side (measured: 5 -> 2 exchanges in
    the flatten plan; the survivors are the post-join uuid aggregation).
    Both sides must use the same ``num_buckets``. On a real deployment
    the catalog is Hive/Iceberg; locally Spark's session catalog works.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back with its bucket spec intact (a plain
    ``spark.read.parquet`` of the files would LOSE the bucketing
    metadata and reintroduce the shuffle)."""
    return spark.table(table)


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_col: str = "shard",
    order_col: str | None = None,
    fmt: str = "parquet",
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialise packed training data as one directory per shard —
    the sink side of ``pipeline.assign_shards`` / ``pack_documents`` /
    ``curriculum_schedule`` (no reference counterpart; training-data
    pipeline mandate).

    Layout contract: ``partitionBy(shard_col)`` gives
    ``path/shard=N/part-*`` directories a loader can claim
    shard-per-worker; rows are first ``repartition(shard_col)``-ed so a
    shard's rows are contiguous in one task, then
    ``sortWithinPartitions(shard_col, order_col)`` so the rows inside
    each file appear in the deterministic order the packing op
    assigned — a loader streaming a shard's files in name order
    replays the curriculum / packing order exactly (a file split by
    ``max_records_per_file`` keeps task-sequential part numbering, so
    name order = row order). ``fmt``: ``parquet`` or ``jsonl``
    (Spark's native JSON-Lines writer — the interchange format most
    training stacks ingest).

    Scale shape: one shuffle on the shard key (uniform by
    construction — shards are md5 buckets), then a within-partition
    sort; no global sort, no driver involvement. On a cluster size
    ``spark.sql.shuffle.partitions`` >= n_shards so each shard gets
    its own task.
    """
    if fmt not in ("parquet", "jsonl"):
        raise ValueError(
            f"write_training_shards fmt must be 'parquet' or 'jsonl', "
            f"got {fmt!r}"
        )
    sort_cols = [shard_col] + ([order_col] if order_col else [])
    out = df.repartition(F.col(shard_col)).sortWithinPartitions(*sort_cols)
    writer = out.write.mode(mode).partitionBy(shard_col)
    if max_records_per_file is not None:
        if max_records_per_file < 1:
            raise ValueError(
                f"max_records_per_file must be >= 1, got "
                f"{max_records_per_file!r}"
            )
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if fmt == "jsonl":
        writer.json(path)
    else:
        writer.parquet(path)

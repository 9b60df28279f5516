"""Static feature join. Reference ``processors/static.py:12-30``.

Spark-first: the static side is per-entity metadata and is always tiny
relative to prediction times, so it is broadcast and left-joined
straight onto the prediction frame on the entity — no shuffle of the
prediction side and no uuid round trip. Note the reference renames with
the fallback suffix but does NOT fill nulls for static features; we
match that.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..specs import StaticSpec, fallback_str


def static_feature_name(spec: StaticSpec, value_col: str) -> str:
    return f"{spec.column_prefix}_{value_col}_fallback_{fallback_str(spec.fallback)}"


def broadcast_entity_join(
    df: DataFrame, side: DataFrame, side_entity_col: str, entity_col: str, *cols: Column
) -> DataFrame:
    """Left-join ``cols`` of the per-entity frame ``side`` onto ``df``
    on the entity, with ``side`` broadcast. The side's entity column is
    dropped from the result."""
    side = side.select(F.col(side_entity_col).alias("__side_entity"), *cols)
    return df.join(
        F.broadcast(side), on=F.col(entity_col) == F.col("__side_entity"), how="left"
    ).drop("__side_entity")


def join_static_spec(df: DataFrame, spec: StaticSpec, entity_col: str) -> DataFrame:
    """``df`` plus one column per static value, named by
    ``static_feature_name``."""
    vf = spec.value_frame
    renamed = [F.col(c).alias(static_feature_name(spec, c)) for c in vf.value_col_names]
    return broadcast_entity_join(df, vf.df, vf.entity_id_col_name, entity_col, *renamed)

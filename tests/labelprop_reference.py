"""Min-label propagation over the near-dup pair graph: the reference for
the star connected components in
``timeseriesflattener_spark.operators.dedup.duplicate_clusters``.

This is the ``algorithm="labelprop"`` path ``duplicate_clusters`` used to
offer beside the star rounds, kept here unchanged so the tests can
compare the star components against it: each round every node takes the
min label among itself and its neighbours, converged when no label
changes — O(diameter) rounds. Each round localCheckpoints, or the plan
doubles every iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def labelprop_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """(doc, cluster) with ``cluster`` the minimum doc id of the doc's
    connected component."""
    e = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = df.select(
        F.col(id_col).alias("doc"), F.col(id_col).alias("cluster")
    ).localCheckpoint(eager=True)

    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["doc"])
            .groupBy("dst")
            .agg(F.min("cluster").alias("__nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["doc"] == neighbor_min["dst"], "left")
            .select(
                "doc",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("__nmin"), F.col("cluster"))
                ).alias("cluster"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .filter(F.col("n.cluster") != F.col("o.cluster"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels

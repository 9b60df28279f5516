"""Operators keep no process-global state: persisted intermediates live
in a per-thread registry (``session.persist_frame`` /
``release_frames``), and no operator writes session conf — so queries
sharing one SparkSession from several threads never drop each other's
cached frames or see each other's settings."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from timeseriesflattener_spark.operators import dedup as D
from timeseriesflattener_spark.operators import similarity as S
from timeseriesflattener_spark.operators.pipeline import clean_corpus, curriculum_schedule
from timeseriesflattener_spark.session import frame_mark, persist_frame, release_frames

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _run_threads(*targets):
    errors: list[Exception] = []

    def guarded(fn):
        def run():
            try:
                fn()
            except Exception as exc:  # re-raised on the main thread
                errors.append(exc)

        return run

    threads = [threading.Thread(target=guarded(fn)) for fn in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    if errors:
        raise errors[0]


def test_release_in_one_thread_keeps_other_threads_frames(spark, docs):
    """Thread B persists (through an operator) and releases while thread
    A's query still reads its own persisted frame: A's frame stays
    cached and A's output is unchanged. The two threads persist
    different plans — Spark keys its cache by plan."""
    a_persisted, b_released = threading.Event(), threading.Event()
    seen: dict = {}

    def thread_a():
        frame = persist_frame(
            spark.range(0, 2_000).select("id", (F.col("id") % 7).alias("k"))
        )
        query = frame.groupBy("k").agg(F.sum("id").alias("s"))
        seen["before"] = sorted(tuple(r) for r in query.collect())
        a_persisted.set()
        assert b_released.wait(timeout=600)
        seen["level_after_b"] = frame.storageLevel
        seen["after"] = sorted(tuple(r) for r in query.collect())
        seen["a_released"] = release_frames()
        seen["level_after_a"] = frame.storageLevel

    def thread_b():
        assert a_persisted.wait(timeout=600)
        curriculum_schedule(docs).count()
        seen["b_released"] = release_frames()
        b_released.set()

    _run_threads(thread_a, thread_b)
    assert seen["b_released"] == 1
    assert seen["level_after_b"].useMemory  # B's release left A's frame cached
    assert seen["after"] == seen["before"]
    assert seen["before"] == sorted(
        (k, sum(i for i in range(2_000) if i % 7 == k)) for k in range(7)
    )
    assert seen["a_released"] == 1 and not seen["level_after_a"].useMemory


def test_clean_corpus_releases_only_its_own_frames(spark, docs):
    release_frames()
    held = persist_frame(docs.select("doc_id", F.length("text").alias("n")))
    held.count()
    audit = clean_corpus(
        docs.select("doc_id", "text").limit(60),
        quality_kwargs=dict(min_tokens=5),
        jaccard_threshold=0.5,
    )
    assert audit.count() == 60
    assert frame_mark() == 1  # the shingle frames it persisted are gone
    assert held.storageLevel.useMemory
    assert release_frames() == 1


def test_operators_write_no_session_conf(spark, embs, monkeypatch):
    """k-means, SemDeDup and the star connected-components rounds leave
    partition sizing to AQE: none of them calls ``spark.conf.set``."""
    calls: list[tuple] = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        calls.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    S.kmeans_fit(embs, k=4, n_iter=2)
    S.semantic_dedup(embs, k=4, n_iter=1, threshold_sq=10**9).collect()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40)] + [(100, 101)], "doc_a long, doc_b long"
    )
    labels = {r["doc"]: r["cluster"] for r in D.star_connected_components(pairs).collect()}
    assert labels == {**{i: 0 for i in range(1, 41)}, 101: 100}
    release_frames()
    assert calls == []

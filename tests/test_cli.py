"""Smoke test of the spark-submit entrypoint: every subcommand runs
through ``cli.main`` on a tiny synthetic corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from timeseriesflattener_spark import cli, session
from timeseriesflattener_spark.functions.gorilla import encode_chunks
from timeseriesflattener_spark.plans.tiers import TierStore
from timeseriesflattener_spark.sources.transcripts import derive_channels, read_transcripts


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cli_subcommands(spark, tmp_path, monkeypatch):
    # reuse the test session: get_spark on a live session would re-apply
    # its defaults to the session every later test shares
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    transcripts, store_root = str(tmp_path / "transcripts"), str(tmp_path / "store")

    assert cli.main([
        "synthesize", "--out", transcripts, "--conversations", "20", "--span-days", "3",
    ]) == 0
    assert read_transcripts(spark, transcripts).count() > 0

    assert cli.main(["materialize", "--transcripts", transcripts, "--store", store_root]) == 0
    store = TierStore(spark, store_root, cli.VALUE_COLS)

    def days_1m():
        day = F.to_date(F.timestamp_micros("bucket_start")).cast("string")
        return {r[0] for r in store.read_tier("1m").select(day).distinct().collect()}

    assert days_1m() == {"2024-01-01", "2024-01-02", "2024-01-03"}

    points = str(tmp_path / "points_1h")
    assert cli.main(["points", "--store", store_root, "--tier", "1h", "--out", points]) == 0
    assert _rows(spark.read.parquet(points)) == _rows(store.read_points("1h"))

    before_1h = _rows(store.read_tier("1h"))
    assert cli.main([
        "retention", "--store", store_root, "--keep", "1m=1", "--as-of", "2024-01-04",
    ]) == 0
    assert days_1m() == {"2024-01-03"}
    assert _rows(store.read_tier("1h")) == before_1h  # coarser tier untouched

    chunks = str(tmp_path / "chunks")
    assert cli.main(["encode-chunks", "--transcripts", transcripts, "--out", chunks]) == 0
    expect = encode_chunks(derive_channels(read_transcripts(spark, transcripts)), "text_len", tier="1h")
    assert _rows(spark.read.parquet(chunks)) == _rows(expect)

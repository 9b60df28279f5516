"""Watermarked windowed streaming aggregation: append-mode finalisation
semantics and value-exactness vs batch."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from timeseriesflattener_spark.streaming import start_stream
from timeseriesflattener_spark.streaming.windowed import windowed_partials

SCHEMA = "conv_id string, ts timestamp, v double"


def test_watermarked_stream_finalises_closed_windows(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    # three day-files arriving in order; 1h windows, 30min watermark
    days = []
    for d in range(3):
        rows = [
            ("a", t0 + dt.timedelta(days=d, hours=h, minutes=m), float(h))
            for h in range(4)
            for m in (0, 20, 40)
        ]
        days.append(spark.createDataFrame(rows, SCHEMA))
    in_dir = str(tmp_path / "in")
    for i, df in enumerate(days):
        df.coalesce(1).write.mode("append").parquet(in_dir)

    out_dir = str(tmp_path / "out")
    q = start_stream(
        spark,
        in_dir,
        SCHEMA,
        str(tmp_path / "ckpt"),
        lambda s: windowed_partials(s, ["v"], "1h", watermark="30 minutes"),
        out_dir,
        max_files_per_trigger=1,  # one file per micro-batch -> watermark advances between batches
    )
    q.awaitTermination(300)

    streamed = {
        (r["conv_id"], r["bucket_start"]): (r["v_count"], r["v_sum"])
        for r in spark.read.parquet(out_dir).collect()
    }
    batch_all = spark.createDataFrame([], SCHEMA)
    for df in days:
        batch_all = batch_all.unionByName(df)
    batch = {
        (r["conv_id"], r["bucket_start"]): (r["v_count"], r["v_sum"])
        for r in windowed_partials(
            spark.read.parquet(in_dir), ["v"], tier="1h", watermark="30 minutes"
        ).collect()
        # windowed_partials on a BATCH frame ignores the watermark -> all windows
    }
    # every emitted bucket is value-exact vs batch
    assert streamed, "stream emitted nothing"
    for k, v in streamed.items():
        assert batch[k] == v, k
    # finalisation contract: every window closed by the watermark of the
    # second-to-last batch MUST have been emitted by stream end
    wm = max(
        r["ts"] for r in days[1].collect()
    ) - dt.timedelta(minutes=30)
    emitted_keys = set(streamed)
    for k, _ in batch.items():
        conv, bstart = k
        end = dt.datetime.utcfromtimestamp(bstart / 1e6) + dt.timedelta(hours=1)
        if end <= wm:
            assert k in emitted_keys, (k, wm)
    # and nothing emitted twice (append-only sink, one row per bucket)
    n_rows = spark.read.parquet(out_dir).count()
    assert n_rows == len(streamed)


def test_streaming_session_windows_finalise_and_match_batch(spark, tmp_path):
    """Gap sessions under readStream: every emitted session is
    value-exact vs the batch session_window_stats result, sessions only
    finalise once the watermark passes, and nothing emits twice."""
    from timeseriesflattener_spark.operators.sessions import session_window_stats
    from timeseriesflattener_spark.streaming.windowed import session_partials

    t0 = dt.datetime(2024, 1, 1)
    # conv "a": two sessions split by a 2h silence; arrival over 3 files
    # so the watermark advances between micro-batches
    files = [
        [("a", t0 + dt.timedelta(minutes=m), 1.0) for m in (0, 10, 20)],
        [("a", t0 + dt.timedelta(minutes=m), 1.0) for m in (150, 160)],
        [("a", t0 + dt.timedelta(hours=12), 1.0)],  # watermark pusher
    ]
    in_dir = str(tmp_path / "sess_in")
    for rows in files:
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)

    out_dir = str(tmp_path / "sess_out")
    q = start_stream(
        spark,
        in_dir,
        SCHEMA,
        str(tmp_path / "sess_ckpt"),
        lambda s: session_partials(s, gap="30 minutes", watermark="30 minutes"),
        out_dir,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    streamed = {
        (r["conv_id"], r["session_start"]): (
            r["session_end"], r["duration_micros"], r["n_events"]
        )
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r["conv_id"], r["session_start"]): (
            r["session_end"], r["duration_micros"], r["n_events"]
        )
        for r in session_window_stats(
            spark.read.parquet(in_dir), dt.timedelta(minutes=30)
        ).collect()
    }
    assert streamed, "stream emitted nothing"
    for k, v in streamed.items():
        assert batch[k] == v, k
    # the two closed sessions must have finalised (the 12h event's
    # watermark passed both); the trailing single-event session may
    # stay open at availableNow stream end
    assert ("a", t0) in streamed
    assert ("a", t0 + dt.timedelta(minutes=150)) in streamed
    assert streamed[("a", t0)] == (t0 + dt.timedelta(minutes=20), 1_200_000_000, 3)
    assert spark.read.parquet(out_dir).count() == len(streamed)


def test_stream_drop_exact_duplicates_across_batches(spark, tmp_path):
    """A duplicate text arriving in a LATER micro-batch (within the
    watermark) is dropped; distinct texts all survive."""
    from timeseriesflattener_spark.streaming.windowed import (
        stream_drop_exact_duplicates,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "doc_id long, ts timestamp, text string"
    batches = [
        [(1, t0, "alpha beta"), (2, t0 + dt.timedelta(minutes=1), "gamma")],
        # 3 duplicates 1 (same normalised text) in the NEXT batch
        [(3, t0 + dt.timedelta(minutes=2), "  Alpha   Beta "),
         (4, t0 + dt.timedelta(minutes=3), "delta")],
    ]
    in_dir = str(tmp_path / "dd_in")
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(in_dir)

    out_dir = str(tmp_path / "dd_out")
    q = start_stream(
        spark, in_dir, schema, str(tmp_path / "dd_ckpt"),
        lambda s: stream_drop_exact_duplicates(s, watermark="1 hour"),
        out_dir,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    kept = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert 3 not in kept          # cross-batch duplicate dropped
    assert {1, 2, 4} <= kept


def test_stream_dedup_against_static_ref(spark, tmp_path):
    """The streaming ingest gate: docs already in the STATIC accepted
    corpus are dropped in every micro-batch (stream-static left anti),
    within-stream duplicates are dropped across batches, and novel docs
    survive exactly once. Also drives the pre-materialised-fingerprint
    path (ref_fingerprint_col) — identical survivors."""
    import time as _time

    from timeseriesflattener_spark.operators.dedup import normalized_text
    from timeseriesflattener_spark.streaming.windowed import stream_dedup_against

    t0 = dt.datetime(2024, 1, 1)
    schema = "doc_id long, ts timestamp, text string"
    ref = spark.createDataFrame(
        [(100, "alpha beta gamma"), (101, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    batches = [
        # 1 = copy of ref 100 (mod case/ws) -> dropped by the anti-join
        [(1, t0, " Alpha  beta GAMMA "), (2, t0, "novel one here")],
        # 3 = within-stream dup of 2 -> dropped by cross-batch state;
        # 4 = copy of ref 101 -> anti-join again (stateless, per-batch)
        [(3, t0 + dt.timedelta(minutes=2), "Novel  one HERE"),
         (4, t0 + dt.timedelta(minutes=3), "delta epsilon zeta"),
         (5, t0 + dt.timedelta(minutes=4), "novel two there")],
    ]
    in_dir = str(tmp_path / "da_in")
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(in_dir)
        _time.sleep(1.05)  # file source orders batches by mtime

    def run(out_name, **kwargs):
        out_dir = str(tmp_path / out_name)
        start_stream(
            spark, in_dir, schema, str(tmp_path / (out_name + "_ckpt")),
            lambda s: stream_dedup_against(s, watermark="1 hour", **kwargs),
            out_dir,
            max_files_per_trigger=1,
        ).awaitTermination(300)
        return {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}

    assert run("da_out", ref_df=ref) == {2, 5}
    # pre-materialised fingerprint table -> same survivors
    fps = ref.select(F.md5(normalized_text(F.col("text"))).alias("fingerprint"))
    assert run("da_out_fp", ref_df=fps, ref_fingerprint_col="fingerprint") == {2, 5}
    # without within-stream state, only the static gate applies
    assert run("da_out_ws", ref_df=ref, within_stream=False) == {2, 3, 5}


def test_full_stats_stream_feeds_finalize(spark, tmp_path):
    """full_stats=True (round 4): the watermarked stream sink carries the
    complete rollup partial-state schema, so plans.rollup.finalize turns
    finalised windows into the full aggregator set — numerically equal
    to the batch partial_aggregate->finalize on the same closed
    windows."""
    from timeseriesflattener_spark.plans import rollup as R

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0 + dt.timedelta(days=d, hours=h, minutes=m), float(h * 10 + m))
        for d in range(3)
        for h in range(3)
        for m in (0, 20, 40)
    ]
    in_dir = str(tmp_path / "in")
    for d in range(3):
        day = [r for r in rows if r[1].day == 1 + d]
        spark.createDataFrame(day, SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)

    out_dir = str(tmp_path / "out")
    q = start_stream(
        spark,
        in_dir,
        SCHEMA,
        str(tmp_path / "ckpt"),
        lambda s: windowed_partials(
            s, ["v"], "1h", watermark="30 minutes", full_stats=True
        ),
        out_dir,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    sink = spark.read.parquet(out_dir)
    streamed = R.finalize(sink, ["v"], include_bucket_ts=False)
    batch = R.finalize(
        R.partial_aggregate(
            spark.read.parquet(in_dir), ["v"], tier="1h", order_col=None
        ),
        ["v"],
        include_bucket_ts=False,
    )
    skeys = {(r["conv_id"], r["bucket_start"]) for r in streamed.collect()}
    assert skeys, "stream emitted nothing"
    sm = {(r["conv_id"], r["bucket_start"]): r.asDict() for r in streamed.collect()}
    bm = {(r["conv_id"], r["bucket_start"]): r.asDict() for r in batch.collect()}
    for k in skeys:
        assert k in bm
        for col, v in sm[k].items():
            w = bm[k][col]
            assert v == w or (
                isinstance(v, float) and isinstance(w, float) and abs(v - w) < 1e-12
            ), (k, col, v, w)
    # slope/var actually exercised: at least one window has both non-null
    assert any(r["v_var"] is not None for r in streamed.collect())


def test_quality_pass_expr_matches_quality_filter(spark):
    """The pure-projection gate decides identically to the audit-frame
    quality_filter on the shared corpus (all thresholds engaged)."""
    from pyspark.sql import functions as F

    from timeseriesflattener_spark.operators.text import (
        quality_filter,
        quality_pass_expr,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    kw = dict(
        min_tokens=25,
        min_stopword_ratio=0.02,
        max_dup_line_ratio=0.08,
        min_mean_word_length=4.2,
        min_alpha_word_ratio=0.5,
    )
    audit = {
        r["doc_id"]: r["passed"] for r in quality_filter(docs, **kw).collect()
    }
    expr = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", quality_pass_expr(F.col("text"), **kw).alias("p")
        ).collect()
    }
    assert audit == expr


def test_stream_quality_probes_fail_exactly_one_rule(spark):
    """VERDICT r4 #7: the stream_clean_corpus probe docs each fail
    EXACTLY the targeted rule under the streaming thresholds — the
    audit-frame fail_reason is the target, the pure-projection gate
    agrees, and neutralizing only the targeted threshold makes the doc
    pass (so no second rule is hiding behind the first)."""
    from pyspark.sql import functions as F

    from __spark_entry__ import _STREAM_QUALITY_INJECT
    from timeseriesflattener_spark.operators.text import (
        quality_filter,
        quality_pass_expr,
    )

    kw = dict(
        min_tokens=25,
        max_tokens=200,
        min_stopword_ratio=0.02,
        min_alpha_word_ratio=0.5,
    )
    targets = {
        9_100_000: None,  # survivor sentinel
        9_100_001: "too_short",
        9_100_002: "too_long",
        9_100_003: "punct",
        9_100_004: "stopword",
        9_100_005: "repetition",
        9_100_006: "word_length",
        9_000_001: "symbol",
        9_000_002: "bullet",
        9_000_003: "ellipsis",
        9_000_004: "alpha",
    }
    neutralize = {
        "too_short": {"min_tokens": 0},
        "too_long": {"max_tokens": 10_000},
        "punct": {"max_punct_ratio": 1.0},
        "stopword": {"min_stopword_ratio": 0.0},
        "repetition": {"max_dup_line_ratio": 1.0},
        "symbol": {"max_symbol_word_ratio": 1.0},
        "word_length": {"max_mean_word_length": 1_000.0},
        "bullet": {"max_bullet_line_ratio": 1.0},
        "ellipsis": {"max_ellipsis_line_ratio": 1.0},
        "alpha": {"min_alpha_word_ratio": 0.0},
    }
    docs = spark.createDataFrame(_STREAM_QUALITY_INJECT, "doc_id long, text string")
    audit = {
        r["doc_id"]: r["fail_reason"]
        for r in quality_filter(docs, **kw).collect()
    }
    assert audit == targets
    expr = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", quality_pass_expr(F.col("text"), **kw).alias("p")
        ).collect()
    }
    assert expr == {i: t is None for i, t in targets.items()}
    # exactly-one: relax ONLY the targeted rule -> the probe passes
    for doc_id, target in targets.items():
        if target is None:
            continue
        relaxed = dict(kw)
        relaxed.update(neutralize[target])
        row = (
            docs.filter(F.col("doc_id") == doc_id)
            .select(quality_pass_expr(F.col("text"), **relaxed).alias("p"))
            .collect()[0]
        )
        assert row["p"] is True, (doc_id, target)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(
                ["the", "a", "data", "#", "...", "-", "…x", "longwordhere",
                 "x", "1234", "ab.,;:", "end..."]
            ),
            min_size=0,
            max_size=9,
        ).map(lambda toks: "".join(
            t + sep for t, sep in zip(toks, ["\n", " ", "\t\n", " ", "\r\n",
                                             " ", " ", " ", " "])
        )),
        min_size=1,
        max_size=12,
    )
)
def test_quality_filter_expr_equivalence_property(spark, docs):
    """Generated newline/tab/punctuation-soup corpora with thresholds
    tight enough that EVERY rule fires somewhere across examples: the
    audit-frame quality_filter and the streaming quality_pass_expr must
    decide identically, doc for doc."""
    from pyspark.sql import functions as F

    from timeseriesflattener_spark.operators.text import (
        quality_filter,
        quality_pass_expr,
    )

    kw = dict(
        min_tokens=2,
        max_tokens=6,
        max_punct_ratio=0.25,
        min_stopword_ratio=0.1,
        max_dup_line_ratio=0.4,
        max_symbol_word_ratio=0.15,
        min_mean_word_length=2.0,
        max_mean_word_length=6.0,
        max_bullet_line_ratio=0.5,
        max_ellipsis_line_ratio=0.2,
        min_alpha_word_ratio=0.6,
    )
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    audit = {r["doc_id"]: r["passed"] for r in quality_filter(df, **kw).collect()}
    expr = {
        r["doc_id"]: r["p"]
        for r in df.select(
            "doc_id", quality_pass_expr(F.col("text"), **kw).alias("p")
        ).collect()
    }
    assert audit == expr


def test_stream_clean_matches_batch(spark, tmp_path):
    """stream_clean (quality gate + cross-batch exact dedup) over two
    micro-batches == the batch pipeline's quality+exact stages: same
    surviving fingerprint set, clones in batch 2 dropped."""
    import time

    from pyspark.sql import functions as F

    from timeseriesflattener_spark.operators.dedup import (
        drop_exact_duplicates,
        normalized_text,
    )
    from timeseriesflattener_spark.operators.text import quality_pass_expr
    from timeseriesflattener_spark.streaming.windowed import stream_clean

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    clones = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        F.lit("2024-01-01 00:05:00").cast("timestamp").alias("ts"),
    )
    in_dir = str(tmp_path / "in")
    base.coalesce(1).write.parquet(in_dir)
    time.sleep(1.05)  # distinct mtimes -> deterministic batch order
    clones.coalesce(1).write.mode("append").parquet(in_dir)

    out_dir = str(tmp_path / "out")
    start_stream(
        spark, in_dir, "doc_id long, text string, ts timestamp", str(tmp_path / "ckpt"),
        lambda s: stream_clean(s, quality_kwargs=dict(min_tokens=25)),
        out_dir,
        max_files_per_trigger=1,
    ).awaitTermination()
    survivors = spark.read.parquet(out_dir)
    # no clone survives (its fingerprint was seen in batch 1 — IF the
    # original passed quality; clones of failing docs also fail quality)
    got = {
        r["f"]
        for r in survivors.select(
            F.md5(normalized_text(F.col("text"))).alias("f")
        ).collect()
    }
    batch = drop_exact_duplicates(
        base.unionByName(clones).filter(
            quality_pass_expr(F.col("text"), min_tokens=25)
        )
    )
    want = {
        r["f"]
        for r in batch.select(
            F.md5(normalized_text(F.col("text"))).alias("f")
        ).collect()
    }
    assert got == want and got
    # exactly-once per fingerprint
    assert survivors.count() == len(got)


def test_stream_m4_matches_batch_across_micro_batches(spark, tmp_path):
    """m4_partials with maxFilesPerTrigger=1 (one micro-batch per
    file): a bucket fed from BOTH batches must still equal the batch
    downsample_m4 exactly — struct min/max state merges across batches
    with no order sensitivity."""
    import pytest

    from timeseriesflattener_spark.operators.rolling import downsample_m4
    from timeseriesflattener_spark.streaming.windowed import m4_partials

    t0 = dt.datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, value double"
    # batch file 1: early half of hour 0 + a point in hour 1
    f1 = [(1, t0 + dt.timedelta(minutes=m), float(v)) for m, v in ((0, 5), (10, 9), (70, 2))]
    # batch file 2: late half of hour 0 (same bucket as f1's points!)
    # with the bucket max, plus hour 2, plus a far sentinel to flush
    f2 = [(1, t0 + dt.timedelta(minutes=m), float(v)) for m, v in ((30, 11), (50, 1), (130, 4))]
    f2.append((99, t0 + dt.timedelta(days=30), 0.0))
    in_dir = str(tmp_path / "m4in")
    for rows in (f1, f2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(in_dir)

    start_stream(
        spark,
        in_dir,
        schema,
        str(tmp_path / "m4ckpt"),
        lambda s: m4_partials(
            s, dt.timedelta(hours=1), entity_col="user_id", watermark="10 minutes"
        ),
        str(tmp_path / "m4out"),
        max_files_per_trigger=1,
    ).awaitTermination()

    got = (
        spark.read.parquet(str(tmp_path / "m4out"))
        .filter(F.col("entity") != 99)
        .collect()
    )
    batch = downsample_m4(
        spark.createDataFrame(f1 + f2[:-1], schema),
        dt.timedelta(hours=1),
        entity_col="user_id",
    ).collect()

    def key(rows):
        return sorted(
            (
                r["entity"], str(r["bucket_start"]), str(r["first_ts"]),
                str(r["first_val"]), str(r["min_val"]), str(r["max_val"]),
                str(r["last_val"]), r["n_points"],
            )
            for r in rows
        )

    assert key(got) == key(batch)
    # the hour-0 bucket really did span both micro-batches
    h0 = [r for r in got if r["bucket_start"].hour == 0][0]
    assert h0["n_points"] == 4 and float(h0["max_val"]) == 11.0
    assert float(h0["first_val"]) == 5.0 and float(h0["last_val"]) == 1.0

    with pytest.raises(ValueError, match="whole-second"):
        start_stream(
            spark, in_dir, schema, str(tmp_path / "y"),
            lambda s: m4_partials(s, dt.timedelta(microseconds=500)),
            str(tmp_path / "x"),
        )

"""End-to-end corpus cleaning pipeline: the standard pre-training
hygiene sequence composed from the individually-verified operators —

    1. quality gate   (C4/Gopher rules, ``text.quality_filter``)
    2. exact dedup    (keep lowest id per normalised text,
                       ``dedup.drop_exact_duplicates``)
    3. near-dup dedup (n-gram Jaccard pairs -> connected components ->
                       keep cluster minimum, ``dedup.ngram_jaccard_pairs``
                       + ``dedup.duplicate_clusters``)
    4. decontamination (drop docs sharing word n-grams with a benchmark
                       set, ``dedup.drop_contaminated``)

``clean_corpus`` returns the AUDIT frame — one row per input doc with
the FIRST stage that dropped it (or ``kept``) — because at 100 TB you
commit a cleaning run only after inspecting per-stage drop rates;
``drop_unclean`` applies it (left-semi join on the kept ids).

Each stage operates on the previous stage's survivors, so drop
attribution is unambiguous (a doc that is both low-quality and a
near-dup reports ``quality``). Scale shape: every stage is the
already-audited distributed formulation (no new shuffles beyond the
component operators); each stage's survivor ID set is materialised
exactly once (eager ``localCheckpoint`` of the 8-byte id frames), so
neither the returned audit nor a later ``drop_unclean`` re-runs the
quality scan / dedup windows — later stages recover text by semi-join
of the raw corpus against the checkpointed ids (one cheap base re-scan
instead of an operator recompute). The frames the dedup stages persist
are released before returning (``release_frames`` from the mark taken
on entry, so frames the caller persisted earlier stay cached) —
everything that needed them has been materialised by then.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import frame_mark, persist_frame, release_frames
from .dedup import (
    drop_contaminated,
    drop_exact_duplicates,
    duplicate_clusters,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
)
from .text import quality_filter


def _params_fingerprint(params: dict) -> str:
    """Stable hex fingerprint of the cleaning parameters, stored in each
    stage's commit artifact so a persist dir reused with DIFFERENT
    thresholds fails loudly instead of silently serving stale ids."""
    return hashlib.sha256(
        json.dumps(params, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def _commit_path(path: str) -> str:
    # NOT underscore-prefixed and NOT inside the ids dir: Spark's file
    # index hides leading-underscore files (a binaryFile probe of
    # _SUCCESS returns 0 rows even when the marker exists — verified),
    # and a sibling file inside the ids dir would pollute its parquet
    # footprint. A one-row parquet is readable by every session type.
    return path.rstrip("/") + "__commit"


def _read_commit(
    spark: SparkSession, path: str, _force_fallback: bool = False
) -> str | None:
    """Fingerprint recorded by a completed stage at ``path``, or None if
    the stage has not committed. The commit artifact is a one-row
    parquet written AFTER the ids parquet — the commit boundary.

    Only "stage did not commit" maps to None: path absent, or the
    marker dir exists but holds no data files (a kill mid-marker-write
    leaves only Spark's ``_temporary`` staging dir — that crash window
    is exactly what the commit boundary is for, so it must read as
    uncommitted, not as a hard schema error). Any OTHER failure (a
    transient FS outage, a corrupt artifact) PROPAGATES, because
    mapping it to "not done" would make a resumed 100 TB cleaning run
    silently recompute a finished stage and overwrite its ids. Classic
    sessions use a Hadoop FS existence probe (any scheme: hdfs://,
    s3a://, ...); Spark Connect sessions (no ``_jvm``) distinguish
    absence by the reader's error class."""
    from pyspark.errors import AnalysisException

    marker = _commit_path(path)
    jvm = None
    if not _force_fallback:
        try:
            jvm = spark._jvm
        except Exception:
            jvm = None
    if jvm is not None:
        hpath = jvm.org.apache.hadoop.fs.Path(marker)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return None
        try:
            rows = spark.read.parquet(marker).collect()
        except AnalysisException as e:
            if "UNABLE_TO_INFER_SCHEMA" in str(e):
                return None  # partial write: dir exists, no data files
            raise
    else:
        try:
            rows = spark.read.parquet(marker).collect()
        except AnalysisException as e:
            msg = str(e)
            if (
                "PATH_NOT_FOUND" in msg
                or "Path does not exist" in msg
                or "UNABLE_TO_INFER_SCHEMA" in msg
            ):
                return None
            raise
    return rows[0]["fingerprint"] if rows else None


def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    benchmark: DataFrame | None = None,
    quality_kwargs: dict | None = None,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
    contamination_n: int = 8,
    bench_text_col: str = "text",
    bench_id_col: str = "doc_id",
    near_dup: str = "jaccard",
    persist_ids_to: str | None = None,
) -> DataFrame:
    """(id, stage) audit frame for the 4-stage cleaning pipeline; stage
    is the first stage that dropped the doc, or ``kept``.

    This pipeline decides each document's FATE; it never rewrites text.
    The RefinedWeb-style pass that DOES rewrite text — cross-document
    boilerplate line removal — is ``dedup.dedup_lines``: run it first
    and feed its cleaned ``text`` here, so quality rules and shingles
    see the de-boilerplated form.

    ``near_dup``: "jaccard" (all-pairs over capped shingles — exact,
    the oracle-checked default) or "minhash" (MinHash+LSH candidates
    verified with exact Jaccard — the 100 TB path: same precision,
    recall bounded by the banding; swap it in when the corpus outgrows
    the all-pairs join).

    ``persist_ids_to``: directory (any Hadoop-FS scheme) for the
    per-stage survivor-id parquet. Default (None) materialises stages
    via eager ``localCheckpoint`` — fastest locally, but checkpoint
    blocks live on executor block managers, so an executor loss forces
    stage recomputation and a driver death loses the run. With a
    directory, each stage's ids are written once and re-read; a killed
    job RESUMES — stages whose ``ids_<stage>__commit`` artifact exists
    (a one-row parquet written AFTER the ids, the commit boundary) are
    served from parquet without recomputing the quality scan / dedup
    joins (same ledger-marker pattern as plans.tiers). The artifact
    records a fingerprint of the cleaning parameters: reusing a dir
    with DIFFERENT parameters raises ``ValueError`` instead of
    silently serving ids computed under other thresholds. (The corpus
    itself is not fingerprinted — reuse a dir only for the same
    corpus.) The audit itself is identical either way."""
    spark = df.sparkSession
    mark = frame_mark()

    if near_dup not in ("minhash", "jaccard"):
        raise ValueError(f"unknown near_dup strategy {near_dup!r}")

    fingerprint = _params_fingerprint(
        {
            "text_col": text_col,
            "id_col": id_col,
            "has_benchmark": benchmark is not None,
            "quality_kwargs": quality_kwargs or {},
            "shingle_k": shingle_k,
            "jaccard_threshold": jaccard_threshold,
            "max_shingle_freq": max_shingle_freq,
            "contamination_n": contamination_n,
            "bench_text_col": bench_text_col,
            "bench_id_col": bench_id_col,
            "near_dup": near_dup,
        }
    )

    def ids_of(make_frame, stage_name: str) -> DataFrame:
        # materialise a stage's survivor ids ONCE (8-byte rows, lineage
        # truncated) so downstream consumers never re-run the stage.
        # ``make_frame`` is a THUNK: with a commit artifact present the
        # stage is never even constructed — duplicate_clusters and the
        # quality scan run eager actions at build time, so deferring
        # construction (not just the write) is what makes resume skip
        # the expensive recomputation, not merely the final id write
        if persist_ids_to is None:
            return make_frame().select(id_col).localCheckpoint(eager=True)
        path = f"{persist_ids_to.rstrip('/')}/ids_{stage_name}"
        stored = _read_commit(spark, path)
        if stored is not None:
            if stored != fingerprint:
                raise ValueError(
                    f"persist dir {path!r} was committed under different "
                    f"clean_corpus parameters (fingerprint {stored} != "
                    f"{fingerprint}); use a fresh persist_ids_to directory"
                )
            return spark.read.parquet(path)
        make_frame().select(id_col).write.mode("overwrite").parquet(path)
        spark.createDataFrame(
            [(fingerprint,)], "fingerprint string"
        ).coalesce(1).write.mode("overwrite").parquet(_commit_path(path))
        return spark.read.parquet(path)

    def make_s1() -> DataFrame:
        return quality_filter(df, text_col, id_col, **(quality_kwargs or {})).filter(
            "passed"
        )

    s1_ids = ids_of(make_s1, "quality")
    s1 = df.join(s1_ids, id_col, "left_semi")

    s2_ids = ids_of(lambda: drop_exact_duplicates(s1, text_col, id_col), "exact_dup")
    s2 = df.join(s2_ids, id_col, "left_semi")

    def make_s3() -> DataFrame:
        if near_dup == "minhash":
            pairs = minhash_dedup_pairs(
                s2,
                text_col=text_col,
                id_col=id_col,
                threshold=jaccard_threshold,
                k=shingle_k,
            )
        else:
            pairs = ngram_jaccard_pairs(
                s2,
                k=shingle_k,
                threshold=jaccard_threshold,
                text_col=text_col,
                id_col=id_col,
                max_shingle_freq=max_shingle_freq,
            )
        clusters = duplicate_clusters(
            s2, pairs.select("doc_a", "doc_b"), id_col=id_col
        )
        return clusters.filter(F.col("doc") == F.col("cluster")).select(
            F.col("doc").alias(id_col)
        )

    s3_ids = ids_of(make_s3, "near_dup")

    if benchmark is not None:

        def make_s4() -> DataFrame:
            s3 = df.join(s3_ids, id_col, "left_semi")
            return drop_contaminated(
                s3,
                benchmark,
                n=contamination_n,
                text_col=text_col,
                id_col=id_col,
                bench_text_col=bench_text_col,
                bench_id_col=bench_id_col,
            )

        s4_ids = ids_of(make_s4, "contaminated")
    else:
        s4_ids = s3_ids
    # every consumer of the shingle frames has materialised by now
    release_frames(since=mark)

    def flag(surv_ids: DataFrame, name: str) -> DataFrame:
        return surv_ids.select(F.col(id_col), F.lit(True).alias(name))

    audit = (
        df.select(id_col)
        .join(flag(s1_ids, "__s1"), id_col, "left")
        .join(flag(s2_ids, "__s2"), id_col, "left")
        .join(flag(s3_ids, "__s3"), id_col, "left")
        .join(flag(s4_ids, "__s4"), id_col, "left")
    )
    stage: Column = (
        F.when(F.col("__s1").isNull(), F.lit("quality"))
        .when(F.col("__s2").isNull(), F.lit("exact_dup"))
        .when(F.col("__s3").isNull(), F.lit("near_dup"))
        .when(F.col("__s4").isNull(), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    return audit.select(F.col(id_col), stage.alias("stage"))


def drop_unclean(df: DataFrame, audit: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep only docs the audit marked ``kept``."""
    return df.join(
        audit.filter(F.col("stage") == "kept").select(id_col), id_col, "left_semi"
    )


def corpus_stats(
    df: DataFrame,
    by: tuple[str, ...] | list[str] = ("lang", "source"),
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_kwargs: dict | None = None,
) -> DataFrame:
    """Data-card aggregation — the per-domain summary a training run
    publishes (and the input to ``mix_domains`` budget decisions): per
    ``by`` group, document/token/char counts, exact-duplicate footprint
    (docs minus distinct normalised fingerprints), quality-gate pass
    counts, and mean doc length / quality / pass rate.

    One map-side-combined ``groupBy`` over a pure projection; the
    distinct-fingerprint count uses Spark's two-phase distinct
    expansion (partial distinct per partition, so a hot domain never
    builds one unbounded buffer). Every emitted mean is derived from
    an EXACT numerator — integer sums, or the quality score rounded
    per-row to 6 decimals and summed as DECIMAL — then divided once,
    so the result is independent of partial-aggregation order and
    bit-identical cross-engine (a plain ``avg`` over doubles is
    neither: float summation order varies run to run)."""
    from .dedup import normalized_text
    from .text import char_count, quality_pass_expr, quality_score, token_count

    by = list(by)
    t = F.col(text_col)
    keyed = df.select(
        *by,
        token_count(t).alias("__nt"),
        char_count(t).alias("__nc"),
        F.md5(normalized_text(t)).alias("__fp"),
        quality_score(t).cast("decimal(18,6)").alias("__q"),
        quality_pass_expr(t, **(quality_kwargs or {})).cast("long").alias("__pass"),
    )
    agg = keyed.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("n_tokens"),
        F.sum("__nc").alias("n_chars"),
        F.count_distinct(F.col("__fp")).alias("__nd"),
        F.sum("__pass").alias("n_quality_pass"),
        F.sum("__q").cast("decimal(20,6)").alias("__sq"),
    )
    return agg.select(
        *by,
        "n_docs",
        "n_tokens",
        "n_chars",
        (F.col("n_docs") - F.col("__nd")).alias("n_exact_dups"),
        "n_quality_pass",
        (F.col("n_tokens").cast("double") / F.col("n_docs")).alias(
            "mean_doc_tokens"
        ),
        (F.col("__sq").cast("double") / F.col("n_docs")).alias("mean_quality"),
        (F.col("n_quality_pass").cast("double") / F.col("n_docs")).alias(
            "quality_pass_rate"
        ),
    )


def _u32_of_key(key: Column) -> Column:
    """First 8 hex digits of ``md5(key)`` as a 32-bit integer (exact in
    a long; conv(hex, 16, 10) — no engine-private hash). The ONE hash
    expression behind every randomness-free order/shard/sample decision
    in this module — ``_hash_u32`` and ``deterministic_resample`` both
    route through it, so the reproducibility contracts cannot drift."""
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


def _hash_u32(id_col: str, salt: str) -> Column:
    """``_u32_of_key`` over the standard ``salt || id`` key:
    assign_shards, pack_contexts and deterministic_sample all derive
    from this form."""
    return _u32_of_key(F.concat(F.lit(salt), F.col(id_col).cast("string")))


def _with_hash_order(
    df: DataFrame, id_col: str, salt: str, n_shards: int
) -> DataFrame:
    """Append the shared ordering scaffold: ``__h`` (full md5 hex, the
    tie-free order key), ``shard`` (u32 mod n_shards) and ``__b`` (the
    first two hex chars — a PREFIX of the order key, so bucket ranges
    partition the per-shard order)."""
    key = F.concat(F.lit(salt), F.col(id_col).cast("string"))
    h = F.md5(key)
    shard = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(n_shards)
    )
    return (
        df.withColumn("__h", h)
        .withColumn("shard", shard.cast("int"))
        .withColumn("__b", F.substring(F.col("__h"), 1, 2))
    )


def _running_total_before(out: DataFrame, measure: Column) -> DataFrame:
    """``__runtot`` = sum of ``measure`` over all rows BEFORE the
    current one in the per-shard ``__h`` order — computed two-stage so
    no window is ever partitioned by the low-cardinality shard alone:
    a within-(shard, __b) running sum plus broadcast per-bucket offsets
    (n_shards x 256 rows, aggregated map-side, cumulated on the
    driver-sized frame). Value-identical to one window over (shard),
    max task size corpus/(n_shards*256)."""
    from pyspark.sql import Window

    w = Window.partitionBy("shard", "__b").orderBy("__h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    within = F.coalesce(F.sum(measure).over(w), F.lit(0))
    totals = out.groupBy("shard", "__b").agg(F.sum(measure).alias("__bt"))
    cum = Window.partitionBy("shard").orderBy("__b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__bt").over(cum), F.lit(0))
    ).select("shard", "__b", "__off")
    return (
        out.withColumn("__within", within)
        .join(F.broadcast(offsets), ["shard", "__b"])
        .withColumn("__runtot", F.col("__off") + F.col("__within"))
    )


def assign_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "",
    with_position: bool = True,
) -> DataFrame:
    """Deterministic training-shard packing — the last mile of a
    data pipeline: every doc gets a stable ``shard`` in [0, n_shards)
    and a deterministic intra-shard ``pos`` (the reproducible "shuffle"
    order training jobs need: same corpus + same salt => byte-identical
    shards; change the salt => a fresh permutation).

    Shard = first 8 hex digits of ``md5(salt || id)`` mod n_shards —
    md5 is computable identically in plain SQL (no engine-private
    hash), so the assignment is reproducible by the DuckDB oracle and
    by downstream loaders in other runtimes. Order key = the full md5
    hex (tie-free). Scale shape: shard assignment is a pure projection
    (no shuffle); ``pos`` is a TWO-STAGE rank so no window is ever
    partitioned by the low-cardinality ``shard`` alone (n_shards=2
    would funnel half the corpus through one task): rows are ranked
    within ``(shard, bucket)`` where bucket = the first two hex chars
    of the order key — a PREFIX of it, so bucket ranges partition the
    order — and a per-(shard, bucket) count frame (n_shards x 256 rows,
    aggregated map-side, cumulated on the driver-sized frame, broadcast
    back) supplies the offset of each bucket's first row. The result is
    value-identical to ``row_number() over (partition by shard order by
    h)`` — same tie-free total order — with max task size corpus /
    (n_shards * 256) instead of corpus / n_shards. (``pos`` is the
    running COUNT of earlier rows — ``_running_total_before`` with
    measure 1, the same scaffold ``pack_contexts`` sums tokens over.)"""
    out = _with_hash_order(df, id_col, salt, n_shards)
    if not with_position:
        return out.drop("__h", "__b")
    return (
        _running_total_before(out, F.lit(1))
        .withColumn("pos", F.col("__runtot").cast("int"))
        .drop("__h", "__b", "__within", "__off", "__runtot")
    )


def pack_contexts(
    df: DataFrame,
    budget: int,
    token_col: str,
    id_col: str = "doc_id",
    salt: str = "",
    n_shards: int = 1,
    keep_tokens: bool = False,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the step after
    ``assign_shards`` in a training pipeline: documents are concatenated
    in a deterministic pseudo-random order and the token stream is cut
    every ``budget`` tokens into fixed-length training contexts (the
    padding-free packing LLM loaders use). Each doc reports its shard,
    its token offset in the shard's stream (``tok_start``) and the
    context ids its tokens land in (``first_ctx``/``last_ctx`` — a doc
    straddling a cut spans several).

    Same md5 order and reproducibility contract as ``assign_shards``
    (same corpus + salt => byte-identical packing; plain-SQL hash so
    loaders in other runtimes can recompute it). Scale shape mirrors the
    two-stage rank there: the running token sum is computed within
    ``(shard, h-prefix bucket)`` windows and bucket-level token totals
    (n_shards x 256 rows, map-side combined, broadcast back) supply each
    bucket's stream offset — no window partitioned by the
    low-cardinality shard alone, max task size corpus/(n_shards*256).

    Zero-token docs occupy no stream space but are still assigned the
    context at their offset (first_ctx == last_ctx).

    ``keep_tokens=True`` appends the token count as ``n_toks`` (the
    input to ``context_manifest``, which needs the span length to cut
    per-context slices without re-scanning text)."""
    if budget < 1:
        raise ValueError(
            f"pack_contexts budget must be >= 1, got {budget!r} "
            "(0 divides by zero; negative budgets produce nonsense "
            "context ids that explode downstream in context_manifest)"
        )
    # NULL token counts occupy no stream space (coalesce here, not at
    # the consumers: F.least/F.greatest SKIP nulls, so a NULL n_toks
    # reaching context_manifest would fabricate phantom full-width
    # slices overlapping the next doc's range)
    toks = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    out = _with_hash_order(df, id_col, salt, n_shards)
    packed = _running_total_before(out, toks).withColumn(
        "tok_start", F.col("__runtot")
    )
    first_ctx = F.floor(F.col("tok_start") / budget)
    last_ctx = F.floor(
        (F.col("tok_start") + F.greatest(toks, F.lit(1)) - 1) / budget
    )
    cols = [
        F.col(id_col),
        F.col("shard"),
        F.col("tok_start"),
        first_ctx.cast("long").alias("first_ctx"),
        last_ctx.cast("long").alias("last_ctx"),
    ]
    if keep_tokens:
        cols.append(toks.alias("n_toks"))
    return packed.select(*cols)


def curriculum_schedule(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    edges: tuple[float, ...] | list[float] = (0.4, 0.7, 0.9),
    salt: str = "",
) -> DataFrame:
    """Quality-curriculum training order: every doc gets a global
    position ``pos`` in a schedule that walks the quality bins in
    ascending order (lowest-quality bin first — the common "save the
    best data for the end of training" schedule; invert upstream by
    negating the bin if needed) and, within a bin, the deterministic
    md5(salt || id) permutation the rest of the packing family uses.
    Returns (id, bin, pos) with ``pos`` a permutation of [0, n).

    No total sort anywhere: the bin is a pure projection
    (``text.quality_bins``), the within-bin rank is the two-stage
    (bin, h-prefix bucket) scaffold shared with ``assign_shards`` (no
    window partitioned by the low-cardinality bin alone), and the
    global bin offsets are a <= (#bins) row broadcast. Value-identical
    to ``row_number() over (order by bin, md5hex) - 1`` — the DuckDB
    oracle states it exactly that way — at a max task size of
    corpus/(#bins * 256) instead of one machine holding a total sort."""
    from pyspark.sql import Window

    from .text import quality_bins

    # the bin projection is ~10 regex passes over every doc's text and
    # the plan below consumes it through THREE un-shared branches (rank
    # window, bucket totals, per-bin sizes) — persist the NARROW
    # (id, bin) frame so the text is scanned once, not three times
    # (released by the caller's release_frames())
    base = persist_frame(
        df.select(F.col(id_col), quality_bins(F.col(text_col), edges).alias("bin"))
    )
    key = F.concat(F.lit(salt), F.col(id_col).cast("string"))
    out = (
        base.withColumn("__h", F.md5(key))
        .withColumn("shard", F.col("bin").cast("int"))
        .withColumn("__b", F.substring(F.col("__h"), 1, 2))
    )
    ranked = _running_total_before(out, F.lit(1))
    sizes = out.groupBy("shard").agg(F.count(F.lit(1)).alias("__n"))
    w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.withColumn(
        "__goff", F.coalesce(F.sum("__n").over(w), F.lit(0))
    ).select("shard", "__goff")
    return (
        ranked.join(F.broadcast(offsets), "shard")
        .withColumn("pos", (F.col("__goff") + F.col("__runtot")).cast("long"))
        .select(F.col(id_col), F.col("bin"), F.col("pos"))
    )


def pack_documents(
    df: DataFrame,
    budget: int,
    token_col: str,
    id_col: str = "doc_id",
    salt: str = "",
    n_shards: int = 1,
) -> DataFrame:
    """No-split (next-fit) document packing — the complement of
    ``pack_contexts`` for loaders that must NOT fragment documents
    (instruction tuning, long-context curricula): docs are walked in
    the same deterministic per-shard md5 order and greedily appended to
    the current bin; a doc that would overflow ``budget`` opens a new
    bin. A doc larger than the budget occupies a bin alone (it is
    placed when its bin is empty — never an infinite cascade). Returns
    (id, shard, bin, bin_tok_start).

    Unlike every other op in this module, next-fit is a true sequential
    recurrence (each bin boundary depends on the entire packing prefix
    — neither a prefix sum nor any window expresses it), so this is the
    one place the packing family crosses into Python: an Arrow-batched
    ``mapInPandas`` scan per shard, with shard-hash ``repartition`` +
    ``sortWithinPartitions`` arranging each shard's docs contiguously
    in md5 order and a per-shard carry dict across Arrow batches (the
    Gorilla-encode pattern — measured far cheaper than per-group
    applyInPandas). Parallelism is therefore at most ``n_shards``, and
    AQE coalescing merges small shards into one Python task (each task
    pays a fixed Python-worker cost, as in ``encode_chunks``): at
    100 TB you pick n_shards for bounded shard size anyway, and each
    task is one linear pass. Determinism: the md5 order is
    partition-layout-free and the scan is order-defined, so output is
    byte-identical for any input partitioning — and the recurrence is
    reproducible in plain SQL (the driver oracle replays it with a
    recursive CTE)."""
    if budget < 1:
        raise ValueError(
            f"pack_documents budget must be >= 1, got {budget!r}"
        )
    import pandas as pd

    toks = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    out = _with_hash_order(
        df.select(F.col(id_col), toks.alias("__t")), id_col, salt, n_shards
    )
    arranged = (
        out.repartition("shard")
        .sortWithinPartitions("shard", "__h")
        .select(id_col, "shard", "__t")
    )
    # id type passes through unchanged (string/int/... ids all pack —
    # same contract as assign_shards/pack_contexts, which hash the id
    # as a string and carry the original column)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, shard int, bin long, bin_tok_start long"

    def pack(batches):
        state: dict[int, tuple[int, int]] = {}  # shard -> (bin, fill)
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            shards = pdf["shard"].to_numpy()
            ts = pdf["__t"].to_numpy()
            n = len(pdf)
            bins = [0] * n
            starts = [0] * n
            for i in range(n):
                sh = int(shards[i])
                t = int(ts[i])
                b, fill = state.get(sh, (0, 0))
                if fill + t > budget and fill > 0:
                    b += 1
                    fill = 0
                bins[i] = b
                starts[i] = fill
                state[sh] = (b, fill + t)
            yield pd.DataFrame(
                {id_col: ids, "shard": shards, "bin": bins, "bin_tok_start": starts}
            )

    return arranged.mapInPandas(pack, schema)


def prepare_training_data(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    benchmark: DataFrame | None = None,
    sample_rate: float = 1.0,
    sample_rates: dict[str, float] | None = None,
    stratify_col: str | None = None,
    n_shards: int = 1,
    salt: str = "",
    **clean_kwargs,
) -> DataFrame:
    """The whole corpus-to-training-shards path in one call:
    ``clean_corpus`` (4-stage audit) -> keep survivors -> and
    ``deterministic_sample`` -> ``assign_shards``. Returns
    (id, shard, pos): the exact reproducible shard layout a training
    job consumes. Every stage is the individually-verified operator;
    this function only composes them, so the 100 TB properties
    (distributed stages, resumable ``persist_ids_to`` via
    ``clean_kwargs``, no shard-only windows, no RNG) are inherited.
    ``salt`` feeds both the sample draw and the shard permutation —
    one knob reruns the whole layout deterministically."""
    audit = clean_corpus(
        df, text_col=text_col, id_col=id_col, benchmark=benchmark, **clean_kwargs
    )
    kept = drop_unclean(df, audit, id_col=id_col)
    sampled = deterministic_sample(
        kept,
        rate=sample_rate,
        rates=sample_rates,
        stratify_col=stratify_col,
        id_col=id_col,
        salt=salt,
    )
    return assign_shards(sampled.select(id_col), n_shards, id_col=id_col, salt=salt)


def deterministic_sample(
    df: DataFrame,
    rate: float | None = None,
    rates: dict[str, float] | None = None,
    stratify_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Reproducible hash-threshold sampling — how a training pipeline
    takes "50% of web, 100% of wiki, 10% of forum" and gets the SAME
    subset on every run and in every engine: keep a row iff the first
    8 hex digits of ``md5(salt || id)`` read as a 32-bit integer fall
    under ``rate * 2^32``. No RNG, no seed plumbing, no
    partition-order sensitivity (Spark's ``df.sample`` is none of
    those); the predicate is a pure per-row expression, so the sample
    is one filtered scan pass — no shuffle, no sort. md5 keeps it
    recomputable in plain SQL / other runtimes (same contract as
    ``assign_shards``). Changing ``salt`` draws an independent sample;
    nested samples with the same salt are MONOTONE (rate 0.1 ⊂ rate
    0.5 — shrink a corpus without resampling everything, the thing a
    curriculum sweep needs).

    ``rates`` + ``stratify_col``: per-stratum rates (source mixing /
    language weights); strata not listed fall back to ``rate`` (which
    defaults to 0.0 — i.e. DROPPED — only when ``rates`` is given;
    with no ``rates``, ``rate`` is REQUIRED: an accidental bare
    ``deterministic_sample(df)`` must not silently return the empty
    frame)."""
    if rate is None and not rates:
        raise ValueError(
            "deterministic_sample requires an explicit rate= (or rates= "
            "with stratify_col=); rate=0.0 would silently drop the corpus"
        )
    if max([rate or 0.0] + list((rates or {}).values())) > 1.0:
        raise ValueError(
            "deterministic_sample rates must be <= 1 (a rate above 1 "
            "would silently cap at keep-everything); use "
            "deterministic_resample for epoch-style upsampling"
        )
    u = _hash_u32(id_col, salt)

    def threshold(r: float) -> Column:
        return F.lit(int(r * (1 << 32)))

    if rates:
        if stratify_col is None:
            raise ValueError("rates= requires stratify_col=")
        thr: Column = threshold(rate if rate is not None else 0.0)
        for stratum, r in sorted(rates.items()):
            thr = F.when(F.col(stratify_col) == stratum, threshold(r)).otherwise(thr)
    else:
        thr = threshold(rate)
    return df.filter(u < thr)


def deterministic_resample(
    df: DataFrame,
    rate: float | None = None,
    rates: dict[str, float] | None = None,
    stratify_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "",
    copy_col: str = "copy_idx",
    max_rate_cap: float = 100.0,
) -> DataFrame:
    """``deterministic_sample`` generalised to rates ABOVE 1 — the
    source-mixing knob a training pipeline actually turns ("2.5 epochs
    of wiki, 0.3 of web"): each row is emitted ``floor(rate)`` times
    plus one fractional md5-threshold draw, so rate 2.5 yields two full
    copies and a 50% chance of a third. Every emitted row carries
    ``copy_col`` (0, 1, ...) so downstream ``assign_shards`` can salt
    per copy and de-correlate repeats.

    Same reproducibility contract as the rest of the md5 family: copy
    ``k`` of a row survives iff ``u32(md5(salt || k || ':' || id)) <
    (rate - k) * 2^32`` — a pure per-row expression (explode of a
    driver-sized copy sequence, no RNG, no shuffle, recomputable in
    plain SQL), and MONOTONE in rate (raising 2.2 -> 2.5 only adds
    rows; a curriculum sweep never resamples what it already drew).
    For ``rate <= 1`` the result is ``deterministic_sample`` plus a
    constant ``copy_idx = 0`` column (copy 0 uses the hash key
    ``salt || '0:' || id``, so pass the same composite salt to
    ``deterministic_sample`` when mixing the two).

    ``rates`` + ``stratify_col``: per-stratum rates; unlisted strata
    fall back to ``rate`` (required unless ``rates`` is given, same
    guard as ``deterministic_sample``)."""
    if rate is None and not rates:
        raise ValueError(
            "deterministic_resample requires an explicit rate= (or "
            "rates= with stratify_col=)"
        )
    if rates and stratify_col is None:
        raise ValueError("rates= requires stratify_col=")
    all_rates = [rate if rate is not None else 0.0] + sorted(
        (rates or {}).values()
    )
    if any(r < 0 for r in all_rates):
        raise ValueError("resample rates must be >= 0")
    if max(all_rates) > max_rate_cap:
        # symmetric to deterministic_sample's >1 guard: a typo'd rate
        # (250 for 2.50) would silently fan every row out rate-fold —
        # a 1B-row corpus becomes a 250B-row stage before anyone
        # notices. Epochs beyond ~100 are never a real mixing decision;
        # raise the cap explicitly if one ever is.
        raise ValueError(
            f"resample rate {max(all_rates)} exceeds max_rate_cap="
            f"{max_rate_cap}; each row is emitted ~rate times — pass a "
            f"higher max_rate_cap= explicitly if this is intentional"
        )
    max_copies = int(max(all_rates)) + 1  # ceil of the largest rate

    if rates:
        r_expr: Column = F.lit(float(rate if rate is not None else 0.0))
        for stratum, r in sorted(rates.items()):
            r_expr = F.when(
                F.col(stratify_col) == stratum, F.lit(float(r))
            ).otherwise(r_expr)
    else:
        r_expr = F.lit(float(rate))

    k = F.explode(F.sequence(F.lit(0), F.lit(max_copies - 1))).alias(copy_col)
    out = df.select("*", k)
    key = F.concat(
        F.lit(salt),
        F.col(copy_col).cast("string"),
        F.lit(":"),
        F.col(id_col).cast("string"),
    )
    u = _u32_of_key(key)
    # copy k's threshold = clamp(rate - k, 0, 1) * 2^32; full copies
    # (rate - k >= 1) pass unconditionally, so the hash only decides
    # the one fractional copy — monotone in rate by construction
    thr = F.least(
        F.greatest(r_expr - F.col(copy_col), F.lit(0.0)), F.lit(1.0)
    ) * F.lit(float(1 << 32))
    return out.filter(u.cast("double") < thr)


def mixture_plan(
    df: DataFrame,
    targets: dict[str, float],
    domain_col: str = "lang",
    unit_col: str | None = None,
    max_rate: float = 10.0,
) -> DataFrame:
    """The per-domain audit/plan behind ``mix_domains``: one row per
    TARGET domain with what's ``available`` (row count, or
    ``sum(unit_col)`` — pass the token-count column to mix by tokens,
    the unit that actually matters for a training run), the ``target``,
    and the resulting ``rate = target / available`` capped at
    ``max_rate`` (an impossible target must not silently explode a tiny
    domain into thousands of copies — cap it and let the plan SHOW the
    shortfall: ``rate < target/available`` is visible in the frame).

    One map-side-combined aggregate; its per-domain output (one row per
    distinct domain — small at any corpus scale) is broadcast into a
    right-outer join that preserves every target row. (For an outer
    join Spark can only build the non-preserved side, so the broadcast
    hint goes on the aggregate, not the targets literal — a hint on the
    preserved side is silently dropped.) Domains present in the data
    but absent from ``targets`` fall out of the join — they mix at
    rate 0. A target for a domain with no rows yields
    ``available = 0, rate = 0`` (nothing to upsample from)."""
    if not targets:
        raise ValueError("mixture_plan requires at least one target domain")
    if any(t < 0 for t in targets.values()):
        raise ValueError("mixture targets must be >= 0")
    if max_rate < 1:
        raise ValueError(f"max_rate must be >= 1, got {max_rate}")
    spark = df.sparkSession
    tgt = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(targets.items())],
        schema=f"{domain_col} string, target double",
    )
    measure = (
        F.sum(F.col(unit_col)) if unit_col else F.count(F.lit(1))
    ).cast("double")
    avail = df.groupBy(domain_col).agg(measure.alias("available"))
    rate = F.when(
        F.col("available") > 0,
        F.least(F.col("target") / F.col("available"), F.lit(float(max_rate))),
    ).otherwise(F.lit(0.0))
    return (
        F.broadcast(avail)
        .join(tgt, domain_col, "right")
        .na.fill({"available": 0.0})
        .select(domain_col, "available", "target", rate.alias("rate"))
    )


def mix_domains(
    df: DataFrame,
    targets: dict[str, float],
    domain_col: str = "lang",
    unit_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "",
    copy_col: str = "copy_idx",
    max_rate: float = 10.0,
) -> DataFrame:
    """Source mixing to TARGET budgets — the knob a training-data
    pipeline turns as "300k tokens of en, 80k of zh, drop the rest":
    derives per-domain rates from the data via ``mixture_plan`` (rate =
    target / available, by rows or by ``unit_col`` units) and applies
    them through ``deterministic_resample``, so under- AND over-sampling
    (epochs > 1) fall out of one call and the draw inherits the whole
    md5 reproducibility contract: no RNG, partition-order-free, monotone
    in each target, recomputable in plain SQL (the ``mix_domains``
    driver oracle re-derives the rates AND the draws in DuckDB and
    matches exactly — rates are IEEE divisions of exact counts, so even
    they are bit-identical cross-engine).

    The plan's rates cross the driver (a len(targets)-row collect —
    driver-side control flow, same class as the tier-day lists), because
    ``deterministic_resample`` sizes its copy-explode from the LARGEST
    rate at plan-build time. Domains not in ``targets`` are filtered
    out BEFORE the explode so the copy fan-out never touches them."""
    plan = mixture_plan(
        df,
        targets,
        domain_col=domain_col,
        unit_col=unit_col,
        max_rate=max_rate,
    )
    rates = {
        r[domain_col]: r["rate"] for r in plan.collect() if r["rate"] > 0
    }
    if not rates:
        return deterministic_resample(
            df.filter(F.lit(False)),
            rate=0.0,
            id_col=id_col,
            salt=salt,
            copy_col=copy_col,
        )
    return deterministic_resample(
        df.filter(F.col(domain_col).isin(list(rates))),
        rate=0.0,
        rates=rates,
        stratify_col=domain_col,
        id_col=id_col,
        salt=salt,
        copy_col=copy_col,
        # rates here are already capped at max_rate by mixture_plan;
        # keep resample's typo guard from rejecting a deliberate cap
        max_rate_cap=max(100.0, float(max_rate)),
    )


def context_manifest(
    df: DataFrame,
    budget: int,
    token_col: str,
    id_col: str = "doc_id",
    salt: str = "",
    n_shards: int = 1,
) -> DataFrame:
    """The loader-side view of ``pack_contexts``: one row per
    (shard, ctx, doc) — for training context ``ctx``, which docs
    contribute tokens and at what intra-context range
    [``slice_start``, ``slice_start + slice_len``). A loader assembles
    context ``ctx`` by concatenating its rows ordered by
    ``slice_start``; every context except each shard's last is exactly
    ``budget`` tokens (slices tile it with no gaps — pinned by test).

    Derived purely from the packing arithmetic (explode of each doc's
    first..last context span) — no second scan of the text; the fanout
    per doc is bounded by tokens/budget. Zero-token docs emit one
    zero-length slice at their offset, so the manifest still records
    where they sit in the curriculum order."""
    packed = pack_contexts(
        df, budget, token_col, id_col=id_col, salt=salt,
        n_shards=n_shards, keep_tokens=True,
    )
    ctx = F.explode(F.sequence(F.col("first_ctx"), F.col("last_ctx"))).alias("ctx")
    e = packed.select(id_col, "shard", "tok_start", "n_toks", ctx)
    doc_end = F.col("tok_start") + F.col("n_toks")
    ctx_lo = F.col("ctx") * budget
    ctx_hi = (F.col("ctx") + 1) * budget
    slice_start = F.greatest(F.col("tok_start"), ctx_lo) - ctx_lo
    slice_len = (
        F.least(doc_end, ctx_hi) - F.greatest(F.col("tok_start"), ctx_lo)
    )
    return e.select(
        F.col("shard"),
        F.col("ctx"),
        F.col(id_col),
        slice_start.cast("long").alias("slice_start"),
        F.greatest(slice_len, F.lit(0)).cast("long").alias("slice_len"),
    )


def split_corpus(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    group_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic named train/validation/test split. Each row gets a
    ``split`` label by where the first 8 hex digits of
    ``md5(salt || key)`` land among the cumulative ``fractions``
    thresholds — the same randomness-free u32 contract as
    ``deterministic_sample`` / ``assign_shards``, so the split is
    identical on every run, in every engine, and under any
    partitioning. ``fractions`` is ordered (insertion order defines the
    threshold bands); if it sums to < 1 the remainder gets
    ``split = NULL`` (an explicit held-out pool, visible rather than
    silently dropped). Rows whose key column (``group_col`` if given,
    else ``id_col``) is NULL also get ``split = NULL`` — a NULL key
    hashes to NULL and matches no band — so they land in the same pool
    as the held-out remainder; leakage-aware callers must repair or
    filter NULL family keys upstream rather than assume the NULL pool
    is purely the fractional remainder.

    **Leakage control**: pass ``group_col`` to key the hash on a family
    column (dedup cluster id, conversation id, source domain) instead of
    the row id — every row of a family then lands in the SAME split, so
    near-duplicate documents can never straddle train and test. This is
    the step naive random splits get wrong at corpus scale.

    Scale shape: a pure per-row projection — no shuffle, no sort, no
    sample(), nothing stateful. One scan pass at 100 TB.
    """
    if not fractions:
        raise ValueError("split_corpus requires at least one split fraction")
    for name, frac in fractions.items():
        if not (0.0 < frac <= 1.0):
            raise ValueError(
                f"split_corpus fraction {name!r} must be in (0, 1], got {frac!r}"
            )
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(
            f"split_corpus fractions sum to {total!r} > 1; they must sum "
            "to at most 1 (use deterministic_resample for upsampling)"
        )
    key_col = group_col if group_col is not None else id_col
    u = _hash_u32(key_col, salt)
    span = 1 << 32
    cum = 0.0
    label: Column | None = None
    for name, frac in fractions.items():
        cum += frac
        # exact-at-1.0 guard: float cum drift must not leave a 1-ulp
        # sliver of NULLs when the user asked for a total split
        thr = span if cum > 1.0 - 1e-9 else int(round(cum * span))
        branch = (u < F.lit(thr), F.lit(name))
        label = F.when(*branch) if label is None else label.when(*branch)
    return df.withColumn("split", label)

"""Text analysis operators for large-scale training-data pipelines:
token counting, quality scoring, n-gram language ID, rolling-hash
document fingerprinting.

All pure ``pyspark.sql.functions`` column expressions (JVM-side,
whole-stage-codegen'd) — no Python UDFs anywhere. Each factory returns
Columns so the operators fuse into whatever scan/projection the caller
builds (single pass over the text column).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny marker-word inventories for the n-gram/stopword language ID
#: heuristic. Deliberately small + deterministic — parity with the
#: DuckDB oracle matters more than linguistic accuracy here.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por"],
    "fr": ["le", "les", "des", "est", "dans", "une", "pour", "avec"],
    "de": ["der", "die", "das", "und", "ist", "mit", "von", "nicht"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["a", "an", "for", "on", "as", "are", "was"]


def tokens(text: Column) -> Column:
    """Whitespace tokenisation: maximal runs of non-whitespace, where
    "whitespace" is the EXPLICIT ASCII class ``[ \\t\\r\\n\\f]`` — RE2's
    ``\\s``, the cross-engine contract. This is deliberately NOT
    Python's ``str.split()``, which additionally splits on \\x0B and
    Unicode whitespace (NBSP etc.): Java's ``\\S`` includes \\x0B while
    RE2's (DuckDB oracles, other-runtime loaders) does not, so the
    explicit class is the only definition both engines compute
    identically (the \\x0B divergence is pinned by a differential test
    whose Python reference uses the same class). Implemented as
    ``regexp_extract_all`` rather than ``split(trim(text))`` — SQL
    ``trim`` strips spaces only, so a leading/trailing newline used to
    smuggle a phantom empty token into every count (round-4 hypothesis
    differential caught it); empty/whitespace-only text has 0 tokens,
    not 1. (The BPE-ish regex variant is ``bpe_ish_tokens``.)"""
    return F.regexp_extract_all(text, F.lit(r"[^ \t\r\n\f]+"), 0)


def bpe_ish_tokens(text: Column) -> Column:
    """Regex token split approximating a byte-pair-style pre-tokeniser:
    words, numbers, and single punctuation marks each count."""
    return F.regexp_extract_all(text, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\r\n\f]"), 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def char_count(text: Column) -> Column:
    return F.length(text)


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\.,;:!\?]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def mean_word_length(text: Column) -> Column:
    """Mean characters per whitespace token. Computed as
    (non-whitespace chars) / (token count) — one regex strip + one
    split, no per-token higher-order pass."""
    chars = F.length(F.regexp_replace(text, r"[ \t\r\n\f]+", ""))
    return chars / F.greatest(token_count(text), F.lit(1))


def symbol_word_ratio(text: Column, symbols: Sequence[str] = ("#", "...")) -> Column:
    """Gopher rule input: (# occurrences of hash / ellipsis) per word."""
    counts = []
    for s in symbols:
        pat = "".join("\\" + c if c in r".^$*+?()[]{}|\\" else c for c in s)
        counts.append(F.size(F.regexp_extract_all(text, F.lit(pat), 0)))
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return total / F.greatest(token_count(text), F.lit(1))


#: whitespace stripped from line edges. An explicit class — NOT ``\s`` —
#: because Java ``\s`` includes \x0B while DuckDB/RE2's does not; the
#: explicit class keeps the Spark rules and the SQL oracles identical.
_LINE_STRIP = r"^[ \t\r\n\f]+|[ \t\r\n\f]+$"


def _strip_line(s: Column) -> Column:
    return F.regexp_replace(s, _LINE_STRIP, "")


def _nonempty_lines(text: Column) -> Column:
    """Lines with ALL edge whitespace stripped (tabs and CR too — SQL
    ``trim`` strips only spaces, which mis-reads '\\t- item' bullets and
    CRLF corpora; Gopher's rules assume ``str.strip()`` semantics)."""
    return F.filter(
        F.transform(F.split(text, "\n"), _strip_line), lambda s: s != ""
    )


def bullet_line_ratio(text: Column) -> Column:
    """Fraction of non-empty lines starting with a bullet marker
    (Gopher drops docs where >90% of lines are bullets)."""
    lines = _nonempty_lines(text)
    bullets = F.size(F.filter(lines, lambda s: s.rlike(r"^[-*•]")))
    return bullets / F.greatest(F.size(lines), F.lit(1))


def ellipsis_line_ratio(text: Column) -> Column:
    """Fraction of non-empty lines ending with an ellipsis
    (Gopher drops docs where >30% of lines end mid-thought)."""
    lines = _nonempty_lines(text)
    ell = F.size(F.filter(lines, lambda s: s.rlike(r"(\.\.\.|…)$")))
    return ell / F.greatest(F.size(lines), F.lit(1))


def alpha_word_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens containing at least one ASCII
    letter (Gopher keeps docs where >=80% of words are alphabetic)."""
    toks = tokens(text)
    alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    return alpha / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence
    - punctuation excess. Deterministic, SQL-expressible."""
    n_tok = token_count(text).cast("double")
    length_term = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    return F.round(
        F.lit(0.5) * length_term
        + F.lit(0.4) * F.least(stopword_ratio(text) * 4, F.lit(1.0))
        + F.lit(0.1) * (F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))),
        6,
    )


def quality_bins(text: Column, edges: Sequence[float] = (0.4, 0.7, 0.9)) -> Column:
    """Curriculum bin for a document: ``bin = |{edge <= quality}|``, so
    ``len(edges) + 1`` bins with bin 0 the lowest quality and the top
    bin the best — the ordering key for quality-ascending curriculum
    schedules and the stratum key for per-bin mixing rates. A pure
    projection over ``quality_score`` (no rank, no sort, no shuffle):
    binning by FIXED score thresholds rather than by quantile rank is
    deliberate — a global ntile needs a total sort and re-bins every
    historical doc whenever the corpus grows, while threshold bins are
    stable under ingest and recomputable per-row in any engine (the
    score is rounded to 6 decimals before comparing, so the
    edge-comparison is bit-exact cross-engine)."""
    if list(edges) != sorted(set(float(e) for e in edges)):
        raise ValueError(f"edges must be strictly increasing, got {edges!r}")
    if not edges:
        raise ValueError("quality_bins requires at least one edge")
    q = quality_score(text)
    b: Column = F.lit(0)
    for e in edges:
        b = b + (q >= F.lit(float(e))).cast("int")
    return b


def lang_id(text: Column) -> Column:
    """argmax language by distinct marker hits; 'und' when no marker
    matches. Ties resolve in LANG_MARKERS order (en, es, fr, de)."""
    toks = tokens(F.lower(text))
    scores = [
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in markers])))
        for markers in LANG_MARKERS.values()
    ]
    langs = list(LANG_MARKERS)
    best = F.greatest(*scores)
    result = F.lit("und")
    for lang, score in reversed(list(zip(langs, scores))):
        result = F.when(score == best, F.lit(lang)).otherwise(result)
    return F.when(best > 0, result).otherwise(F.lit("und"))


def fingerprint64(text: Column) -> Column:
    """64-bit document fingerprint: xxhash64 of the whitespace-normalised
    text — the cheap exact-dup key (a rolling/shingled variant lives in
    ``operators.dedup.simhash64``)."""
    return F.xxhash64(F.trim(F.regexp_replace(text, r"[ \t\r\n\f]+", " ")))


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per document with the full stat set."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        char_count(t).alias("n_chars"),
        token_count(t).alias("n_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_guess"),
        fingerprint64(t).alias("fingerprint"),
    )


# --------------------------------------------- repetition (Gopher-style)


def word_ngrams(text: Column, n: int = 2) -> Column:
    """Overlapping word ``n``-gram strings of the whitespace-tokenised
    text (positions 1..len-n+1) — the unit for Gopher's duplicate-n-gram
    fraction. Returns an empty array for docs shorter than ``n``.

    The token array is BOUND once via a single-element ``transform``
    wrapper before the per-position lambda touches it: an expression
    referenced inside a higher-order-function lambda is re-evaluated
    PER ELEMENT (the ``shingles_from_tokens`` pitfall), which here
    would re-run the tokeniser regex once per n-gram position —
    O(len²) per document (measured 11x wall on the 10x corpus before
    the binding)."""

    def build(toks: Column) -> Column:
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        )

    return F.transform(F.array(tokens(text)), build)[0]


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lines: Column | None = None,
) -> DataFrame:
    """Intra-document repetition signals (Gopher / MassiveText quality
    rules): the fraction of duplicate LINES and the fraction of
    characters sitting inside those duplicate lines. High values mark
    boilerplate / templated pages that poison training data.

    Linear shape: explode trimmed non-empty lines, count per
    (doc, line) with a map-side-combined hash aggregation, then reduce
    per doc — two keyed aggregations, both spill-safe, no per-row
    quadratic higher-order expressions (an array-based formulation
    would re-scan the line array per distinct line: O(lines²) on a
    pathological 10k-line page). Docs with no non-empty lines emit
    zeros.

    ``lines`` overrides the repetition unit: pass e.g.
    ``word_ngrams(F.col("text"), 2)`` for Gopher's duplicate-2-gram
    fraction instead of physical lines.
    """
    t = F.col(text_col)
    if lines is None:
        lines = _nonempty_lines(t)
    per_line = (
        df.select(F.col(id_col), F.explode(lines).alias("__line"))
        .groupBy(id_col, "__line")
        .agg(F.count("*").alias("__k"))
        .withColumn("__len", F.length("__line"))
    )
    per_doc = per_line.groupBy(id_col).agg(
        F.sum("__k").alias("n_lines"),
        (F.sum("__k") - F.count("*")).alias("n_dup_lines"),
        F.sum(F.when(F.col("__k") > 1, F.col("__k") * F.col("__len")).otherwise(0)).alias(
            "__dup_chars"
        ),
        F.sum(F.col("__k") * F.col("__len")).alias("__total_chars"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_dup_lines", F.lit(0)).alias("n_dup_lines"),
            # round 9: tie-free for ratios whose denominator < 1024
            # (only terminating binary/decimal expansions can land a
            # .5 tie; the longest such expansion below 1024 is 1/512 =
            # 9 digits, where round 9 is a no-op)
            F.round(
                F.coalesce(
                    F.col("n_dup_lines") / F.greatest(F.col("n_lines"), F.lit(1)),
                    F.lit(0.0),
                ),
                9,
            ).alias("dup_line_ratio"),
            F.round(
                F.coalesce(
                    F.col("__dup_chars") / F.greatest(F.col("__total_chars"), F.lit(1)),
                    F.lit(0.0),
                ),
                9,
            ).alias("dup_char_ratio"),
        )
    )


# ------------------------------------------------------- PII scrubbing


#: conservative patterns valid in BOTH Java regex (Spark) and RE2
#: (DuckDB/Go scrubbers): no backreferences, no lookaround
PII_PATTERNS: dict[str, str] = {
    # local@domain.tld
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # international-ish phone: 8+ chars of digits/separators between digits
    "phone": r"\+?[0-9][0-9()\- \t\r\n\f]{6,}[0-9]",
    # bare long digit runs (account/card numbers)
    "digits": r"[0-9]{9,}",
}


def scrub_pii(
    text: Column, kinds: Sequence[str] = ("email", "digits", "phone")
) -> Column:
    """Redact PII-looking spans with ``<KIND>`` tokens — the standard
    pre-training hygiene pass. Pure ``regexp_replace`` chain (JVM-side,
    codegen'd). Order matters: emails first (so their digit runs stay
    intact inside <EMAIL>), then bare digit runs (account/card numbers,
    which the broader phone pattern would otherwise swallow), then
    separator-formatted phones."""
    out = text
    for kind in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def pii_counts(text: Column, kinds: Sequence[str] = ("email", "phone", "digits")) -> list[Column]:
    """One match-count column per PII kind (pre-scrub audit metric)."""
    return [
        F.size(F.regexp_extract_all(text, F.lit(PII_PATTERNS[k]), 0)).alias(
            f"n_{k}"
        )
        for k in kinds
    ]


# ------------------------------------------------- quality filtering


def quality_pass_expr(
    text: Column,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    max_punct_ratio: float = 0.3,
    min_stopword_ratio: float = 0.0,
    max_dup_line_ratio: float = 0.3,
    max_symbol_word_ratio: float = 0.1,
    min_mean_word_length: float = 1.0,
    max_mean_word_length: float = 12.0,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.0,
    lines: Column | None = None,
) -> Column:
    """The quality gate as ONE boolean Column — a pure projection with
    no aggregation or join, so it applies unchanged to a STREAMING
    DataFrame (``streaming.windowed.stream_clean``) or as a cheap
    filter pushdown. Same rules and thresholds as ``quality_filter``;
    the repetition ratio is computed per row via ``array_distinct``
    ((n - distinct)/n == repetition_stats' n_dup_lines/n exactly —
    the audit frame's explode formulation exists for the per-line
    char-weighted stats, which this gate does not need)."""
    if lines is None:
        lines = _nonempty_lines(text)
    n_lines = F.size(lines)
    dup_ratio = (n_lines - F.size(F.array_distinct(lines))) / F.greatest(
        n_lines, F.lit(1)
    )
    nt = token_count(text)
    mwl = mean_word_length(text)
    return (
        (nt >= min_tokens)
        & (nt <= max_tokens)
        & (punct_ratio(text) <= max_punct_ratio)
        & (stopword_ratio(text) >= min_stopword_ratio)
        & (dup_ratio <= max_dup_line_ratio)
        & (symbol_word_ratio(text) <= max_symbol_word_ratio)
        & (mwl >= min_mean_word_length)
        & (mwl <= max_mean_word_length)
        & (bullet_line_ratio(text) <= max_bullet_line_ratio)
        & (ellipsis_line_ratio(text) <= max_ellipsis_line_ratio)
        & (alpha_word_ratio(text) >= min_alpha_word_ratio)
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    max_punct_ratio: float = 0.3,
    min_stopword_ratio: float = 0.0,
    max_dup_line_ratio: float = 0.3,
    max_symbol_word_ratio: float = 0.1,
    min_mean_word_length: float = 1.0,
    max_mean_word_length: float = 12.0,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.0,
    lines: Column | None = None,
) -> DataFrame:
    """C4/Gopher-style document quality gate: (id, passed, fail_reason)
    where ``fail_reason`` is the FIRST failed rule in a fixed order
    (too_short, too_long, punct, stopword, repetition, symbol,
    word_length, bullet, ellipsis, alpha) and null when the doc passes.
    Default thresholds follow Gopher's published bands (symbol-to-word
    0.1, bullet lines 0.9, ellipsis lines 0.3) with permissive defaults
    for the rules Gopher states as [3,10] mean word length / 0.8 alpha
    ratio — tighten per corpus. ``lines`` sets the repetition unit (see
    ``repetition_stats``). Keep the decision frame instead of filtering
    in place so pipelines can audit drop rates per rule before
    committing — ``drop_low_quality`` applies it."""
    t = F.col(text_col)
    base = df.select(
        F.col(id_col),
        token_count(t).alias("__nt"),
        punct_ratio(t).alias("__pr"),
        stopword_ratio(t).alias("__sr"),
        symbol_word_ratio(t).alias("__sw"),
        mean_word_length(t).alias("__mwl"),
        bullet_line_ratio(t).alias("__bl"),
        ellipsis_line_ratio(t).alias("__el"),
        alpha_word_ratio(t).alias("__aw"),
    )
    rep = repetition_stats(df, text_col, id_col, lines=lines).select(
        F.col(id_col), F.col("dup_line_ratio").alias("__dl")
    )
    reason = (
        F.when(F.col("__nt") < min_tokens, F.lit("too_short"))
        .when(F.col("__nt") > max_tokens, F.lit("too_long"))
        .when(F.col("__pr") > max_punct_ratio, F.lit("punct"))
        .when(F.col("__sr") < min_stopword_ratio, F.lit("stopword"))
        .when(F.col("__dl") > max_dup_line_ratio, F.lit("repetition"))
        .when(F.col("__sw") > max_symbol_word_ratio, F.lit("symbol"))
        .when(
            (F.col("__mwl") < min_mean_word_length)
            | (F.col("__mwl") > max_mean_word_length),
            F.lit("word_length"),
        )
        .when(F.col("__bl") > max_bullet_line_ratio, F.lit("bullet"))
        .when(F.col("__el") > max_ellipsis_line_ratio, F.lit("ellipsis"))
        .when(F.col("__aw") < min_alpha_word_ratio, F.lit("alpha"))
    )
    return (
        base.join(rep, id_col)
        .select(
            F.col(id_col),
            reason.isNull().alias("passed"),
            reason.alias("fail_reason"),
        )
    )


def drop_low_quality(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", **kwargs) -> DataFrame:
    """Keep only docs passing ``quality_filter`` (left-semi join)."""
    keep = quality_filter(df, text_col, id_col, **kwargs).filter("passed").select(id_col)
    return df.join(keep, id_col, "left_semi")


def adjacent_pairs(toks: Column) -> Column:
    """Adjacent token pairs ``tok[i] || ' ' || tok[i+1]`` — the BPE
    merge-candidate unit. Empty array below 2 tokens. ``zip_with`` of
    the two shifted slices evaluates the token expression a constant
    number of times — never per element (the ``shingles_from_tokens``
    pitfall: ``element_at(<expr>, i)`` inside a lambda re-runs the
    tokeniser regex per pair position, O(len²) per document); the
    single-element ``transform`` wrapper then binds the token
    expression so it evaluates exactly once per row."""

    def build(t: Column) -> Column:
        tail_len = F.greatest(F.size(t) - 1, F.lit(0))
        return F.zip_with(
            F.slice(t, 1, tail_len),
            F.slice(t, 2, tail_len),
            lambda a, b: F.concat_ws(" ", a, b),
        )

    return F.transform(F.array(toks), build)[0]


def vocab_induct(
    df: DataFrame,
    text_col: str = "text",
    top_terms: int = 500,
    top_pairs: int = 500,
) -> DataFrame:
    """Tokeniser induction statistics over the corpus: the ``top_terms``
    most frequent BPE-ish pre-tokens (``bpe_ish_tokens`` — words,
    numbers, single punctuation) and the ``top_pairs`` most frequent
    ADJACENT token pairs (the candidate set a BPE trainer's first merge
    round ranks). Returns ``(kind, token, freq)`` with
    ``kind in ('term','pair')``; ties at the cutoff break on the token
    string so the top-K set is deterministic across engines and runs.

    Scale shape (100 TB): each leg is explode -> map-side-combined hash
    aggregation -> global top-K via ``orderBy().limit(K)``, which Spark
    executes as TakeOrderedAndProject (per-partition heap of K, driver
    merge of n_partitions * K rows — no total sort, no single-key
    window funnel). The two legs union AFTER their limits, so the
    combined plan moves 2K rows past the aggregations, regardless of
    corpus size.
    """
    if top_terms < 1 or top_pairs < 1:
        raise ValueError(
            f"vocab_induct top_terms/top_pairs must be >= 1, got "
            f"{top_terms!r}/{top_pairs!r}"
        )
    toks = bpe_ish_tokens(F.col(text_col))

    def _topk(unit: Column, kind: str, k: int) -> DataFrame:
        return (
            df.select(F.explode(unit).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.col("freq").desc(), F.col("token").asc())
            .limit(k)
            .select(F.lit(kind).alias("kind"), "token", "freq")
        )

    return _topk(toks, "term", top_terms).unionByName(
        _topk(adjacent_pairs(toks), "pair", top_pairs)
    )


def chunk_documents(
    df: DataFrame,
    size: int,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window token chunking — the retrieval / long-eval
    counterpart of ``pipeline.pack_contexts``: each document is cut into
    windows of ``size`` whitespace tokens every ``stride`` tokens
    (``stride`` defaults to ``size`` = disjoint; ``stride < size``
    overlaps, the RAG-index convention). Chunk text is the tokens
    re-joined with single spaces (tokeniser-normalised, the unit every
    downstream embedder sees). Every token lands in at least one chunk;
    the final window may be short; docs with zero tokens produce zero
    chunks. Returns ``(id_col, chunk_id, tok_start, n_toks, chunk_text)``
    with ``chunk_id = tok_start / stride``.

    Scale shape (100 TB): pure per-row arithmetic — one projection
    computes the start offsets (``sequence(0, n-1, stride)``), one
    explode emits the windows, ``slice`` + ``array_join`` build the
    text. No shuffle, no window functions, no Python. Fan-out is
    ``ceil(n/stride)`` rows per doc, the same ratio in every engine.
    """
    if size < 1:
        raise ValueError(f"chunk_documents size must be >= 1, got {size!r}")
    stride = size if stride is None else stride
    if not (1 <= stride <= size):
        raise ValueError(
            f"chunk_documents stride must be in [1, size], got {stride!r} "
            f"(stride > size would silently drop tokens between windows)"
        )
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.when(
        n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    exploded = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(starts).alias("tok_start"),
    )
    return exploded.select(
        F.col(id_col),
        (F.col("tok_start") / stride).cast("long").alias("chunk_id"),
        F.col("tok_start").cast("long").alias("tok_start"),
        F.least(F.lit(size), F.size("__toks") - F.col("tok_start"))
        .cast("long")
        .alias("n_toks"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("tok_start") + 1, F.lit(size)), " "
        ).alias("chunk_text"),
    )


def bigram_model(
    ref: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Word-bigram counts over a reference corpus — the model side of
    ``lm_score``. Returns ``(pair_counts, left_counts, vocab_size)``:
    ``pair_counts(pair, c_pair)``, ``left_counts(w1, c_left)`` (count of
    bigrams starting at ``w1``), and a 1-row vocab-size frame to
    cross-join (distinct lowercased tokens). Tokens are lowercased
    whitespace tokens; bigrams are ``'w1 w2'`` strings.

    Scale shape: two map-side-combined hash aggregations (pair counts,
    then left-marginals FROM the pair counts — the raw bigram stream is
    aggregated once); vocab size is a two-phase distinct count
    collapsing to one row. All keyed, no windows."""
    toks_lower = tokens(F.lower(F.col(text_col)))
    pairs = ref.select(
        F.explode(word_ngrams(F.lower(F.col(text_col)), 2)).alias("pair")
    )
    pair_counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("c_pair"))
    left_counts = (
        pair_counts.groupBy(
            F.substring_index(F.col("pair"), " ", 1).alias("w1")
        )
        .agg(F.sum("c_pair").alias("c_left"))
    )
    vocab = ref.select(F.explode(toks_lower).alias("tok")).agg(
        F.count_distinct("tok").alias("vocab_size")
    )
    return pair_counts, left_counts, vocab


def lm_score(
    df: DataFrame,
    ref: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    quantize: int | None = None,
) -> DataFrame:
    """CCNet-style perplexity-proxy quality scoring: the per-document
    mean negative log2 likelihood under an add-``alpha``-smoothed word
    BIGRAM model trained on ``ref`` (default: ``df`` itself — self-
    scoring, the usual first pass; production trains ``ref`` on a
    trusted corpus like Wikipedia and keeps the lowest-perplexity web
    docs). ``P(w2|w1) = (c(w1 w2) + alpha) / (c(w1 .) + alpha * V)``
    with ``V`` the reference vocab size; unseen bigrams back off to
    ``alpha / (c_left + alpha * V)``, unseen left-words to ``1/V``.
    Returns ``(id_col, n_bigrams, n_unseen, lm_score)`` for every doc
    with at least one bigram — lower score = more reference-like.

    Cross-engine reproducibility (``quantize``): the mean of raw
    ``log2`` terms is an engine-accumulation-order-dependent double.
    With ``quantize=Q`` each bigram's nll is first snapped to the
    integer grid ``round(nll * Q)`` — counts are exact integers, so
    the grid value is identical in any engine whose log2 agrees to
    ~1 ulp, provided no nll lands within jitter of a rounding boundary
    (measured margin on the synthetic corpus: >= 4e-10 absolute vs
    ~7e-15 jitter, 5 orders of magnitude) — the weighted sum then
    accumulates EXACTLY, and ``lm_score`` is the single IEEE division
    ``sum(n_occ * nll_q) / (sum(n_occ) * Q)``: bit-identical in any
    engine, within 1/Q of the raw mean. ``quantize=None`` keeps the
    raw double mean (one-engine semantics).

    Scale shape (100 TB): model build is two keyed aggregations; the
    scoring side pre-aggregates to ``(doc, pair, n_occ)`` (map-side
    combined) BEFORE joining, so the raw per-instance bigram stream
    never shuffles on the bigram key, and the score is the
    occurrence-weighted mean. Head bigrams ('of the' appears in nearly
    every doc) still skew the join key itself — that is the AQE
    skew-join case: the model side is one row per key, so Spark can
    split the skewed doc-side partitions and replicate the count row.
    One groupBy(id) finishes; the 1-row vocab frame broadcasts."""
    ref = df if ref is None else ref
    if alpha <= 0:
        raise ValueError(f"lm_score alpha must be > 0, got {alpha!r}")
    pair_counts, left_counts, vocab = bigram_model(ref, text_col)
    doc_pairs = (
        df.select(
            F.col(id_col),
            F.explode(word_ngrams(F.lower(F.col(text_col)), 2)).alias("pair"),
        )
        .groupBy(id_col, "pair")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    joined = (
        doc_pairs.join(pair_counts, "pair", "left")
        .withColumn("w1", F.substring_index(F.col("pair"), " ", 1))
        .join(left_counts, "w1", "left")
        .crossJoin(F.broadcast(vocab))
    )
    num = F.coalesce(F.col("c_pair"), F.lit(0)) + F.lit(alpha)
    den = (
        F.coalesce(F.col("c_left"), F.lit(0))
        + F.lit(alpha) * F.col("vocab_size")
    )
    nll = F.log2(den) - F.log2(num)
    if quantize is not None:
        if quantize < 1:
            raise ValueError(f"lm_score quantize must be >= 1, got {quantize!r}")
        nll_q = F.round(nll * F.lit(quantize), 0).cast("long")
        score = F.sum(F.col("n_occ") * nll_q).cast("double") / (
            F.sum("n_occ") * F.lit(quantize)
        )
    else:
        score = F.sum(F.col("n_occ") * nll) / F.sum("n_occ")
    return joined.groupBy(id_col).agg(
        F.sum("n_occ").cast("long").alias("n_bigrams"),
        F.sum(F.when(F.col("c_pair").isNull(), F.col("n_occ")).otherwise(0))
        .cast("long")
        .alias("n_unseen"),
        score.alias("lm_score"),
    )


def domain_tfidf_topk(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    k: int = 20,
    quantize: int | None = None,
) -> DataFrame:
    """Top-``k`` most DISTINCTIVE terms per domain (source / language /
    subcorpus) by TF-IDF with domains as the "documents": the data-card
    view that tells you what a slice of the corpus is actually about
    before you weight it in a mixture. ``tfidf = tf * ln(N/df_t)`` with
    ``tf`` the term's count inside the domain, ``df_t`` the number of
    domains containing it and ``N`` the domain count.
    Returns ``(domain, term, tf, df_t, tfidf, rank)``, rank 1..k.

    Cross-engine reproducibility (``quantize``): with ``quantize=Q``
    the score is snapped to the integer grid ``round(tfidf * Q)``
    BEFORE ranking and emitted as BIGINT ``tfidf_q`` — tf/df_t/N are
    exact integers, so the grid value (and therefore the rank and its
    ``(tfidf_q DESC, term)`` tie-break) is identical in every engine
    whose ln agrees to ~1 ulp, provided no score lands within jitter
    of a rounding boundary (measured margin on the synthetic corpus:
    >= 0.28 grid units vs ~1e-9 jitter). ``quantize=None`` ranks and
    emits the raw double ``tfidf`` (one-engine semantics).

    Scale shape (100 TB): term counts and domain frequencies are two
    map-side-combined aggregations joined counts-to-counts on the term
    key; the 1-row domain-count frame broadcasts. The per-domain top-k
    deliberately avoids a window partitioned by the LOW-CARDINALITY
    domain alone over the full term stream (a handful of domains would
    funnel the whole vocabulary through a handful of tasks — the
    ``assign_shards``/``curriculum_schedule`` lesson): stage 1 ranks
    within ``(domain, md5-prefix bucket)`` — 16 buckets, high fan-out —
    and keeps each bucket's local top-k (any global top-k row is
    necessarily in its bucket's top-k); stage 2 ranks the <= 16k
    survivors per domain exactly. Spark >= 3.5 additionally inserts
    ``WindowGroupLimit`` under BOTH windows (map-side per-partition
    top-k before each shuffle — pinned in the plan test), so the
    domain-only exchange moves at most ``k x n_tasks`` rows even
    before the bucket stage; the two layers together bound the
    reduce-side sort at <= 16k rows per domain regardless of
    vocabulary size. Value-identical to the one-window formulation
    (pytest-pinned), which is what the oracle states."""
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError(f"domain_tfidf_topk k must be >= 1, got {k!r}")
    if quantize is not None and quantize < 1:
        raise ValueError(
            f"domain_tfidf_topk quantize must be >= 1, got {quantize!r}"
        )
    dom = F.col(domain_col)
    tf = (
        df.select(dom.alias("domain"), F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
        .groupBy("domain", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    ndom = df.agg(F.count_distinct(dom).alias("n_domains"))
    raw = F.col("tf") * F.log(
        F.col("n_domains").cast("double") / F.col("df_t")
    )
    if quantize is not None:
        score_col = "tfidf_q"
        score = F.round(raw * F.lit(quantize), 0).cast("long")
    else:
        score_col = "tfidf"
        score = raw
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndom))
        .select("domain", "term", "tf", "df_t", score.alias(score_col))
    )
    bucket = F.substring(F.md5(F.col("term")), 1, 1)
    w_bucket = Window.partitionBy("domain", bucket).orderBy(
        F.col(score_col).desc(), F.col("term").asc()
    )
    pruned = scored.withColumn("__br", F.row_number().over(w_bucket)).filter(
        F.col("__br") <= k
    )
    w_dom = Window.partitionBy("domain").orderBy(
        F.col(score_col).desc(), F.col("term").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w_dom).cast("long"))
        .filter(F.col("rank") <= k)
        .drop("__br")
    )

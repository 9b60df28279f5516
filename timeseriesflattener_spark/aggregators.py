"""Aggregator registry: named renderers of ONE Spark SQL aggregate
expression over *masked* inputs.

Parity target: reference ``aggregators.py`` (registry at 22-61, catalog
at 75-211) and v1 ``v1/aggregation_fns.py``. Each aggregator receives
SQL text for the window-masked value (``CASE WHEN <within> THEN value
END``), the masked event timestamp, and an optional stable order column,
and returns the text of ONE aggregate expression — so N specs x M
lookperiods x K aggregators fuse into a single ``SELECT … GROUP BY
uuid`` (one shuffle, one parse), where the reference loops
spec-at-a-time (``main.py:109-134``).

Null/NaN contract (reference parity traps, SURVEY.md §7.3):

- masking uses *null* (so null-skipping aggregates ignore out-of-window
  rows); the fallback — possibly NaN — is applied only after
  aggregation, exactly like reference ``processors/temporal.py:133-135``.
- ``count`` / ``unique_count`` / ``has_values`` return 0/False on empty
  windows and therefore never receive the fallback
  (reference ``aggregators.py:105-122,179-193``).
- ``earliest``/``latest`` tie-break by the order column when provided,
  else by value; the reference uses in-memory frame order
  (``aggregators.py:126-156``) which does not exist distributed.
- ``slope`` uses x = whole days since epoch (truncated), matching v2's
  ``.dt.total_days()`` (``aggregators.py:205-207``) — not fractional
  days (that is the v1 behavior, ``v1/flattened_dataset.py:216-220``).
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Sequence

from .functions.sqltext import micros


class Aggregator(ABC):
    """A named renderer of one Spark SQL aggregate expression."""

    name: str
    output_type: type  # float | int | bool — used for fallback validation
    #: aggregates that can never return null (no fallback fill needed)
    never_null: bool = False
    #: True if the expression distinguishes masked (out-of-window) rows
    #: from absent rows — disables the union-of-lookperiods range
    #: pushdown into the join, which would prune exactly those rows
    needs_full_history: bool = False

    @abstractmethod
    def sql(self, value: str, ts: str, order: str | None) -> str:
        """SQL text of the aggregate over the masked value/timestamp
        operands (see :func:`register_aggregator` for the contract)."""

    def new_col_name(self, previous_col_name: str) -> str:
        return f"{previous_col_name}_{self.name}"


class MinAggregator(Aggregator):
    """Minimum non-null value in the window. Ref ``aggregators.py:75-82``."""

    name = "min"
    output_type = float

    def sql(self, value: str, ts: str, order: str | None) -> str:
        return f"min({value})"


class MaxAggregator(Aggregator):
    """Maximum. Ref ``aggregators.py:85-92``."""

    name = "max"
    output_type = float

    def sql(self, value: str, ts: str, order: str | None) -> str:
        return f"max({value})"


class MeanAggregator(Aggregator):
    """Null-skipping mean. Ref ``aggregators.py:95-102``."""

    name = "mean"
    output_type = float

    def sql(self, value: str, ts: str, order: str | None) -> str:
        return f"avg({value})"


class CountAggregator(Aggregator):
    """Count of non-null values; 0 on empty window (never falls back).

    Ref ``aggregators.py:105-112``.
    """

    name = "count"
    output_type = int
    never_null = True

    def sql(self, value: str, ts: str, order: str | None) -> str:
        return f"count({value})"


class UniqueCountAggregator(Aggregator):
    """Exact distinct count of non-null values (NOT approx_count_distinct
    — the reference is exact, ``aggregators.py:115-122``).

    DELIBERATE parity deviation: polars ``n_unique`` counts the null
    bucket as a distinct value, and the reference's masked frames
    contain nulls for every out-of-window row — so upstream output is
    +1 whenever a prediction time has any out-of-window history (the
    common case), contradicting the reference's own docstring ("number
    of unique values") and its tested behaviour on dense windows
    (``aggregators_test.py:89-91``). We count distinct NON-NULL values
    (the documented semantics). For bit-parity migrations use
    ``unique_count_with_null`` (:class:`UniqueCountNullsAggregator`),
    which replicates the null-counting."""

    name = "unique_count"
    output_type = int
    never_null = True

    def sql(self, value: str, ts: str, order: str | None) -> str:
        return f"count(DISTINCT {value})"


class UniqueCountNullsAggregator(Aggregator):
    """polars ``n_unique`` bit-parity: distinct non-null values PLUS one
    if the masked window contains any null (out-of-window row, no rows
    at all via the left join, or a genuine null value) — exactly what
    the reference computes on masked frames (``aggregators.py:115-122``
    over ``processors/temporal.py:57-64`` masking). See
    :class:`UniqueCountAggregator` for why this is a compat flag and
    not the default."""

    name = "unique_count_with_null"
    output_type = int
    never_null = True
    # the null bucket comes from rows the range-pushed join would prune
    needs_full_history = True

    def sql(self, value: str, ts: str, order: str | None) -> str:
        # count(*) == 0 can't happen: the left join always yields >= 1 row
        has_null = f"max(CASE WHEN {value} IS NULL THEN 1 ELSE 0 END)"
        return f"count(DISTINCT {value}) + coalesce({has_null}, 1)"


class SumAggregator(Aggregator):
    """Sum. Ref ``aggregators.py:159-166``."""

    name = "sum"
    output_type = float

    def sql(self, value: str, ts: str, order: str | None) -> str:
        return f"sum({value})"


class VarianceAggregator(Aggregator):
    """Sample variance (ddof=1): [1,2] -> 0.5 (ref ``aggregators_test.py:95-97``)."""

    name = "var"
    output_type = float

    def sql(self, value: str, ts: str, order: str | None) -> str:
        return f"var_samp({value})"


class HasValuesAggregator(Aggregator):
    """True iff any non-null value in the window; False on empty —
    never falls back. Ref ``aggregators.py:179-193``."""

    name = "bool"
    output_type = bool
    never_null = True

    def sql(self, value: str, ts: str, order: str | None) -> str:
        return f"count({value}) > 0"


def _ordered_extreme(fn: str, value: str, ts: str, order: str) -> str:
    """``fn`` (min/max) over a struct whose natural ordering is
    (ts, order, value), null when the value is null — so it picks the
    earliest/latest non-null value deterministically without a sort or
    a window function."""
    return (
        f"{fn}(CASE WHEN {value} IS NOT NULL AND {ts} IS NOT NULL THEN "
        f"named_struct('ts', {ts}, 'ord', {order}, 'value', {value}) END).`value`"
    )


class EarliestAggregator(Aggregator):
    """Value at the minimum in-window timestamp. Ref ``aggregators.py:126-139``.

    Without an order column: ``min_by(value, ts)`` — all-primitive
    buffers, so the WHOLE fused aggregation stays in codegen'd
    HashAggregate (struct min/max would demote every co-grouped
    aggregator to SortAggregate). Timestamp ties resolve arbitrarily,
    exactly as the reference's first-in-frame-order does distributed.
    With an order column: deterministic struct-min tie-break."""

    name = "earliest"
    output_type = float

    def sql(self, value: str, ts: str, order: str | None) -> str:
        if order is None:
            return f"min_by({value}, CASE WHEN {value} IS NOT NULL THEN {ts} END)"
        return _ordered_extreme("min", value, ts, order)


class LatestAggregator(Aggregator):
    """Value at the maximum in-window timestamp. Ref ``aggregators.py:142-156``.

    Note the reference's tie semantics (first in frame order among
    tied-max rows); with an order column we take the max (ts, ord) pair,
    i.e. the last event of the tied instant — deterministic and
    consistent with ``latest``'s meaning on transcript turns. Without an
    order column, primitive ``max_by`` keeps the aggregation hash-based
    (see EarliestAggregator)."""

    name = "latest"
    output_type = float

    def sql(self, value: str, ts: str, order: str | None) -> str:
        if order is None:
            return f"max_by({value}, CASE WHEN {value} IS NOT NULL THEN {ts} END)"
        return _ordered_extreme("max", value, ts, order)


class SlopeAggregator(Aggregator):
    """OLS slope of value vs whole-days-since-epoch.

    x = truncated ``total_days()`` (``aggregators.py:196-211``);
    slope = corr(x,y)*std(y)/std(x) == covar_samp/var_samp == regr_slope
    over pairwise-non-null rows. One point (or zero x-variance) -> null
    -> fallback.

    DELIBERATE parity deviation: the reference computes ``corr`` over
    the masked (y, x) pairs but ``std(x)`` over the UNMASKED x column —
    timestamps of out-of-window rows leak into the denominator, so its
    slope diverges from a true in-window regression whenever an entity
    has history outside the union of lookperiods. ``regr_slope`` here
    does pairwise deletion on both sides (the sane semantics);
    golden-parity consumers porting entities with out-of-window history
    will see different values from upstream on exactly those rows.
    """

    name = "slope"
    output_type = float

    def sql(self, value: str, ts: str, order: str | None) -> str:
        # truncate-toward-zero division matches polars' total_days();
        # regr_slope does pairwise deletion: rows where either side is
        # null (out-of-window) are ignored, like polars corr over the
        # masked frame.
        y = f"CAST({value} AS DOUBLE)"
        x = f"CAST(CAST({micros(ts)} / 86400000000 AS BIGINT) AS DOUBLE)"
        return f"regr_slope({y}, CASE WHEN {y} IS NOT NULL THEN {x} END)"


_REGISTRY: dict[str, Aggregator] = {}


def register_aggregator(name: str, aggregator: Aggregator) -> None:
    """Extension point — the reference's 'any pl.Expr factory' UDAF
    surface (``aggregators.py:64-69``) maps to registering a named
    SQL-text renderer here.

    Contract of ``aggregator.sql(value, ts, order)``: each argument is
    Spark SQL text that can be used as an operand — the window-masked
    value (null outside the window), the masked event timestamp, and
    the quoted order column or ``None``. It returns the text of ONE
    aggregate expression without an alias, e.g. ``max({value}) -
    min({value})``; the flattener wraps it as ``coalesce(<text>,
    <fallback>) AS <feature name>`` unless ``never_null`` is set.
    Identifiers inside the text must be backtick-quoted
    (``functions.sqltext.ident``)."""
    _REGISTRY[name] = aggregator


for _agg in [
    MinAggregator(),
    MaxAggregator(),
    MeanAggregator(),
    CountAggregator(),
    UniqueCountAggregator(),
    UniqueCountNullsAggregator(),
    SumAggregator(),
    VarianceAggregator(),
    HasValuesAggregator(),
    EarliestAggregator(),
    LatestAggregator(),
    SlopeAggregator(),
]:
    register_aggregator(_agg.name, _agg)

# string aliases per reference ``aggregators.py:22-61``
register_aggregator("has_values", HasValuesAggregator())
register_aggregator("variance", VarianceAggregator())
register_aggregator("change_per_day", SlopeAggregator())
register_aggregator("mean", MeanAggregator())


def string_to_aggregator(name: str) -> Aggregator:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise ValueError(f"Unknown aggregator '{name}'. Known: {sorted(_REGISTRY)}") from None


def strings_to_aggregators(names: Sequence[str]) -> list[Aggregator]:
    return [string_to_aggregator(n) for n in names]


def validate_compatible_fallback_type_for_aggregator(
    aggregator: Aggregator, fallback: float | int | bool | str | None
) -> None:
    """Reference ``aggregators.py:11-19``: the fallback must be fillable
    into the aggregator's output type. bool output accepts only bool/None;
    numeric output accepts int/float (incl. NaN) /None."""
    if fallback is None:
        return
    if aggregator.output_type is bool:
        if not isinstance(fallback, bool):
            raise ValueError(
                f"Invalid fallback value {fallback!r} for aggregator "
                f"{type(aggregator).__name__}: expected bool or None."
            )
        return
    # numeric outputs: polars fill_null accepts bool/int/float (bool casts
    # to 0/1) but not str — mirror that.
    if not isinstance(fallback, (bool, int, float)):
        raise ValueError(
            f"Invalid fallback value {fallback!r} for aggregator {type(aggregator).__name__}."
        )

"""SQL text for wide aggregations: quoted identifiers, exact literals,
and one-parse selects.

Building an aggregation through the Column API costs a py4j round trip
per expression node — about 40 per fused aggregate, so a 300-aggregate
flatten spent more driver time building its plan than the executors
spent running it. The same expressions rendered as text cost one parse.

The literal rules keep every analyzed type equal to what ``F.lit``
produced, so plans and outputs do not change:

- identifiers are backtick-quoted, inner backticks doubled;
- ``bool`` -> ``true``/``false``;
- ``int`` -> digits (Spark types values beyond int32 as BIGINT, as
  ``F.lit`` does);
- finite ``float`` -> ``<repr>D`` (a bare ``0.5`` would parse as
  DECIMAL); ``repr`` round-trips exactly, ``-0.0`` included;
- NaN and ±Infinity have no literal syntax: ``CAST('NaN' AS DOUBLE)``
  spells them, wrapped in ``coalesce(…, 0D)`` because a string cast is
  nullable where ``F.lit`` is not.

``spark.sql`` formats its text with Python's ``str.format`` when given
a DataFrame argument, so :func:`select` escapes ``{``/``}`` in the
expressions it is given; :func:`run` binds the relation :data:`SOURCE`.
"""

from __future__ import annotations

import math
import numbers
from typing import Sequence

from pyspark.sql import DataFrame

#: the relation name that :func:`run` binds to its DataFrame
SOURCE = "{src}"


def ident(name: str) -> str:
    """Backtick-quoted identifier (inner backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def lit(value: bool | int | float) -> str:
    """Exact SQL literal with the type ``F.lit(value)`` would have."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, numbers.Integral):
        return str(int(value))
    if isinstance(value, numbers.Real):
        value = float(value)
        if math.isfinite(value):
            return f"{value!r}D"
        spelled = "NaN" if math.isnan(value) else ("Infinity" if value > 0 else "-Infinity")
        return f"coalesce(CAST('{spelled}' AS DOUBLE), 0D)"
    raise TypeError(f"no SQL literal for {value!r}")


def micros(col: str) -> str:
    """Microseconds since epoch (text twin of ``timeutils.micros``)."""
    return f"unix_micros(CAST({col} AS TIMESTAMP))"


def _braces(text: str) -> str:
    return text.replace("{", "{{").replace("}", "}}")


def select(columns: Sequence[str], source: str = SOURCE, group_by: Sequence[str] = ()) -> str:
    """``SELECT columns FROM source [GROUP BY group_by]``. ``source`` is
    :data:`SOURCE` or a parenthesised text built by this function."""
    text = f"SELECT {_braces(', '.join(columns))} FROM {source}"
    if group_by:
        text += f" GROUP BY {_braces(', '.join(group_by))}"
    return text


def run(df: DataFrame, text: str) -> DataFrame:
    """Parse and analyze ``text`` once, reading ``df`` as :data:`SOURCE`."""
    return df.sparkSession.sql(text, src=df)

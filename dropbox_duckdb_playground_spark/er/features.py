"""ER feature engineering (E1) — the reference's per-record lambdas
re-expressed as native column functions (no UDFs).

Reference lambdas (examples/meta.py:261-273, applied by
MessyFeatureEngineer/CanonFeatureEngineer, mapper/messy.py:110-148,
mapper/canon.py:36-87):
- ``before_whitespace``: text up to the first space
- ``before_upper_bracket``: text up to the first '['
- ``before_marks``: text up to the first of several punctuation marks
- ``full_name``: identity

All are prefix-extractions — `substring_index` / `split` territory.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def before_whitespace(c: Column) -> Column:
    return F.substring_index(c, " ", 1)


def before_upper_bracket(c: Column) -> Column:
    return F.substring_index(c, "[", 1)


def before_marks(c: Column) -> Column:
    """Prefix before the first requirement-spec mark (extras/version/env
    markers in PyPI requirement strings)."""
    return F.element_at(F.split(c, r"[\[\(<;=!>~ ]"), 1)


DEFAULT_FEATURES: Mapping[str, Callable[[Column], Column]] = {
    "full_name": lambda c: c,
    "before_whitespace": before_whitespace,
    "before_upper_bracket": before_upper_bracket,
    "before_marks": before_marks,
}


def engineer_features(df: DataFrame) -> DataFrame:
    """(node_id, name) -> (node_id, <feature cols>) — one narrow projection."""
    src = F.lower(F.col("name"))
    return df.select(
        "node_id", *[fn(src).alias(fname) for fname, fn in DEFAULT_FEATURES.items()]
    )

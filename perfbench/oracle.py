"""Output checks, run outside every timed region.

Batch keys are compared with their DuckDB oracle by the repository's own
checker (``tools/check.py``): row count, sorted column names, int/float
dtype kinds, and an order-insensitive hash of canonical row strings."""

from __future__ import annotations

import pandas as pd

from tools.check import canon_rows, duckdb_con, kind_problems, value_hash

__all__ = ["compare", "duckdb_con"]


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the difference."""
    if len(got) != len(want):
        return f"rowcount {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    kinds = kind_problems(got, want)
    if kinds:
        return "; ".join(kinds)
    if value_hash(canon_rows(got)) != value_hash(canon_rows(want)):
        return "value hash differs"
    return None

"""Output checks: order-insensitive table digests and result-set
comparison against a DuckDB oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd


def digest(df, id_col: str | None = "msg_id") -> tuple:
    """(rows, sum of per-row xxhash64, sum of ``id_col``) — equal for
    equal row multisets whatever the order or partitioning."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    aggs = [
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)),
    ]
    if id_col is not None:
        aggs.append(F.coalesce(F.sum(id_col), F.lit(0)))
    row = df.agg(*aggs).first()
    return tuple(int(v) for v in row)


def _cell(v):
    """One value in a form both engines' frames agree on: sequences as
    tuples, nulls (None/NaN/NaT) as None, integral floats as ints (a
    nullable integer column arrives as float64), times at microseconds."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if pd.isna(v):
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return int(v) if float(v).is_integer() else float(v)
    if hasattr(v, "isoformat"):
        return str(np.datetime64(v, "us"))
    return v


def canonical_rows(pdf) -> list[tuple]:
    """Rows of a pandas frame as sorted tuples over name-sorted columns."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def compare(spark_pdf, oracle_pdf) -> str | None:
    """None when the two result sets are equal as multisets, else why."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    a, b = canonical_rows(spark_pdf), canonical_rows(oracle_pdf)
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"row {i}: {x!r} != {y!r}"
    return None

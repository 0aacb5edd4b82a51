"""Driver-style result canonicalization shared by the oracle checkers.

The external driver compares each registry query against its DuckDB twin by
collecting BOTH result sets into pandas (Spark via Arrow ``toPandas()``,
DuckDB via ``.df()``), sorting columns by name and rows by value, then
hashing the values dtype-SENSITIVELY. Two representation hazards follow:

* a DuckDB HUGEINT (int128 — what ``sum()`` over BIGINT returns) reaches
  pandas as float64 and hash-diverges from Spark's int64 even when every
  value is numerically identical. Twins must CAST integral outputs.
* an array-typed output column makes rows unhashable (pandas ``TypeError:
  unhashable type: 'list'``) and crashes the comparison. Registry entries
  must stringify array outputs on both engines.

These helpers reproduce that canonicalization so the hazard class is a
local test failure (tests/test_queries_oracle.py) and a
``scripts/check_oracle.py`` failure instead of a red driver row.
"""

from __future__ import annotations

from datetime import date
from decimal import Decimal

import numpy as np
import pandas as pd

#: Spark simpleString() type names whose DuckDB twin column must not arrive
#: as float64 (the HUGEINT-leak signature).
INTEGRAL_SPARK_TYPES = {"tinyint", "smallint", "int", "bigint", "long", "integer"}


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, rows sorted by every column,
    index dropped. Raises TypeError (like the driver) on unhashable cell
    values such as lists."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if cols:
        pdf = pdf.sort_values(cols, kind="mergesort")
    return pdf.reset_index(drop=True)


def frame_hash(pdf: pd.DataFrame):
    """Dtype-sensitive value hash of a canonicalized frame (int64 1000000
    and float64 1000000.0 hash differently, as under the driver)."""
    if pdf.empty:
        return ("empty", tuple(pdf.columns))
    return int(pd.util.hash_pandas_object(pdf, index=False).sum())


def _cell_unhashable(v) -> bool:
    # order matters: list/ndarray cells (the hazard itself) would make
    # pd.isna return an elementwise array whose truthiness raises
    if isinstance(v, (list, tuple, set, dict, np.ndarray)):
        return True
    # DECIMAL / DATE / TIMESTAMP cells arrive as these hashable scalars
    # (datetime is a date subclass)
    if v is None or isinstance(v, (str, bytes, float, int, bool, Decimal, date)):
        return False
    try:
        return not (isinstance(v, type(pd.NaT)) or bool(pd.isna(v)))
    except (TypeError, ValueError):
        return True


def conformance_errors(
    spark_schema, pdf: pd.DataFrame, spark_pdf: pd.DataFrame | None = None
) -> list[str]:
    """Representation hazards the driver's hash would trip on, for one
    pandas frame checked against the Spark schema: float64 where Spark is
    integral (HUGEINT leak), and non-scalar object cells (arrays/lists).

    ``spark_pdf``: the Spark side's own pandas frame, when available. A
    NULL-bearing integer column legitimately reaches pandas as float64
    from BOTH engines (nullable-int promotion), and the driver's hashes
    then agree — so the float64-vs-integral flag only fires when the
    Spark frame itself did NOT promote that column to float64."""
    errs = []
    spark_types = {f.name: f.dataType.simpleString() for f in spark_schema.fields}
    for col in pdf.columns:
        dt = pdf[col].dtype
        st = spark_types.get(col, "?")
        if dt == np.float64 and st in INTEGRAL_SPARK_TYPES:
            spark_promoted = (
                spark_pdf is not None
                and col in spark_pdf.columns
                and spark_pdf[col].dtype == np.float64
            )
            if not spark_promoted:
                errs.append(f"{col}: float64 vs spark {st} (uncast HUGEINT?)")
        if dt == object:
            bad = pdf[col].map(_cell_unhashable)
            if bad.any():
                ex = pdf[col][bad].iloc[0]
                errs.append(f"{col}: unhashable cell type {type(ex).__name__}")
    return errs

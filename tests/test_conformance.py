"""Driver-canonicalization helpers (crawler_spark.conformance): the checks
must REPORT representation hazards, never crash on them, and must not
false-positive on the nullable-int promotion both engines share."""

from __future__ import annotations

import numpy as np
import pandas as pd

from crawler_spark.conformance import (
    _cell_unhashable,
    canon,
    conformance_errors,
    frame_hash,
)


class _Field:
    def __init__(self, name, type_str):
        self.name = name
        self._t = type_str

    @property
    def dataType(self):
        outer = self

        class _T:
            def simpleString(self):
                return outer._t

        return _T()


class _Schema:
    def __init__(self, cols: dict[str, str]):
        self.fields = [_Field(n, t) for n, t in cols.items()]


def test_list_cells_report_instead_of_raising():
    # multi-element list/ndarray cells make pd.isna return an elementwise
    # array; the checker must classify them, not die on its truthiness
    pdf = pd.DataFrame({"a": [[1, 2, 3], [4, 5]]})
    errs = conformance_errors(_Schema({"a": "array<bigint>"}), pdf)
    assert len(errs) == 1 and "unhashable" in errs[0]
    assert _cell_unhashable(np.array([1, 2]))
    assert _cell_unhashable({"k": 1})
    assert not _cell_unhashable(None)
    assert not _cell_unhashable("s")
    assert not _cell_unhashable(np.float64(1.5))


def test_nullable_int_promotion_is_not_flagged():
    # a NULL-bearing integer column reaches pandas as float64 from BOTH
    # engines, and the driver's hashes then agree — no flag
    duck = pd.DataFrame({"n": [1.0, np.nan]})
    spark_same = pd.DataFrame({"n": [1.0, np.nan]})
    assert conformance_errors(_Schema({"n": "bigint"}), duck, spark_pdf=spark_same) == []


def test_hugeint_leak_still_flagged():
    # spark kept int64 while duck came out float64: the HUGEINT signature
    duck = pd.DataFrame({"n": [1.0, 2.0]})
    spark_int = pd.DataFrame({"n": [1, 2]})
    errs = conformance_errors(_Schema({"n": "bigint"}), duck, spark_pdf=spark_int)
    assert errs and "HUGEINT" in errs[0]
    # and with no spark frame available the check stays conservative (flags)
    assert conformance_errors(_Schema({"n": "bigint"}), duck)


def test_frame_hash_is_dtype_sensitive():
    a = canon(pd.DataFrame({"x": [1_000_000, 2]}))
    b = canon(pd.DataFrame({"x": [1_000_000.0, 2.0]}))
    assert frame_hash(a) != frame_hash(b)
    assert frame_hash(a) == frame_hash(canon(pd.DataFrame({"x": [2, 1_000_000]})))


def test_decimal_and_date_cells_are_hashable_scalars():
    # DECIMAL / DATE / TIMESTAMP outputs reach pandas as these objects; they
    # hash fine and must not be reported as unhashable cells
    from datetime import date, datetime
    from decimal import Decimal

    for v in (Decimal("1.50"), date(2024, 1, 2), datetime(2024, 1, 2, 3, 4)):
        assert not _cell_unhashable(v), v
    pdf = pd.DataFrame({"d": [Decimal("1.5"), Decimal("2")], "t": [date(2024, 1, 2)] * 2})
    assert conformance_errors(_Schema({"d": "decimal(10,2)", "t": "date"}), pdf) == []

"""The oracle comparator is strict: drifts a looser canonicalizer would
absorb (``%.6g`` floats, whole-second timestamps) must be reported.
Spark-free — the comparator sees plain Python rows."""

import datetime
import decimal
import math

import pytest

from tools.check_correctness import compare

TS = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
X = 254531.35


def _problems(sp_val, dk_val, dk_type="DOUBLE"):
    return compare(["k", "v"], [(1, sp_val)], ["k", "v"], ["BIGINT", dk_type], [(1, dk_val)])


def test_equal_results_match_across_types_order_and_case():
    sp = [(2, 0.5, TS, [1.0, 2.5]), (1, 3.0, None, [])]
    dk = [(decimal.Decimal("3.00"), 1, None, []), (0.5, 2, TS, [1, 2.5])]
    assert compare(
        ["k", "x", "ts", "arr"], sp, ["X", "K", "TS", "ARR"],
        ["DECIMAL(18,2)", "BIGINT", "TIMESTAMP", "DOUBLE[]"], dk,
    ) == []


@pytest.mark.parametrize(
    "sp_val, dk_val",
    [
        (X, math.nextafter(X, math.inf)),
        (TS, TS + datetime.timedelta(microseconds=1)),
        ([1.0, X, 3.0], [1.0, math.nextafter(X, 0.0), 3.0]),
    ],
    ids=["float_last_digit", "timestamp_1us", "list_element"],
)
def test_value_drift_is_a_problem(sp_val, dk_val):
    problems = _problems(sp_val, dk_val)
    assert len(problems) == 1 and problems[0].startswith("values differ")


def test_hugeint_oracle_column_is_a_problem():
    problems = _problems(7, 7, dk_type="HUGEINT")
    assert len(problems) == 1 and "HUGEINT" in problems[0]


def test_column_and_row_count_mismatches_are_problems():
    assert compare(["a"], [(1,)], ["b"], ["BIGINT"], [(1,)])[0].startswith("cols")
    assert compare(["a"], [(1,), (2,)], ["a"], ["BIGINT"], [(1,)])[0].startswith("rows")

"""How a run turns per-operation spans into ``run_s``, and the steal
accounting behind it."""

from __future__ import annotations

import pytest

from harness import Span, steal_pct, withheld_share
from run import op_run_s


def _span(wall_s: float, withheld: float = 0.0) -> Span:
    return Span("p0/op", "op", "p0", 0, 0, wall_s, withheld)


def test_steal_shares_of_all_and_of_busy_time():
    # (steal, busy, total) jiffies: 10 stolen of 40 busy of 200 in all
    start, end = (5, 100, 1000), (15, 140, 1200)
    assert steal_pct(start, end) == pytest.approx(5.0)
    assert withheld_share(start, end) == pytest.approx(0.25)
    assert withheld_share(end, end) == 0.0 and steal_pct(end, end) == 0.0


def test_run_s_sums_each_operations_least_unstolen_wall():
    passes = [
        {"a": _span(2.0, 0.5), "b": _span(1.0)},  # a: 1.0 unstolen
        {"a": _span(1.5), "b": _span(1.2, 0.5)},  # b: 0.6 unstolen
    ]
    assert op_run_s(passes) == pytest.approx(1.0 + 0.6)
    assert op_run_s(passes, wall=True) == pytest.approx(1.5 + 1.0)


def test_an_operation_missing_from_a_pass_uses_the_others():
    passes = [{"a": _span(2.0)}, {"a": _span(3.0), "b": _span(1.0)}]
    assert op_run_s(passes, wall=True) == pytest.approx(3.0)

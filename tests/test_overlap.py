"""functions/overlap.py: results come back in argument order, a failure
propagates only after every sibling has finished, and when several
callables fail the first one in argument order wins."""

from __future__ import annotations

import threading

import pytest

from odbc2deltalake_spark.functions.overlap import overlap


def test_results_come_back_in_argument_order():
    fast_done = threading.Event()

    def slow():
        assert fast_done.wait(5)  # finishes after `fast`
        return "slow"

    def fast():
        fast_done.set()
        return "fast"

    assert overlap(slow, fast, lambda: 3) == ("slow", "fast", 3)
    assert overlap() == ()


def test_failure_waits_for_slower_sibling():
    started, failed, finished = threading.Event(), threading.Event(), threading.Event()

    def boom():
        assert started.wait(5)
        failed.set()
        raise RuntimeError("boom")

    def slow():
        started.set()
        assert failed.wait(5)  # still running when `boom` raises
        finished.set()

    with pytest.raises(RuntimeError, match="boom"):
        overlap(boom, slow)
    assert finished.is_set()


def test_first_failure_in_argument_order_wins():
    second_failed = threading.Event()

    def first():
        assert second_failed.wait(5)  # fails after `second`
        raise KeyError("first")

    def second():
        second_failed.set()
        raise ValueError("second")

    with pytest.raises(KeyError, match="first"):
        overlap(first, second)

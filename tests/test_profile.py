"""profile.overlap: argument-order results, first failure re-raised."""

from __future__ import annotations

import threading
import time

import pytest

from ai_data_pipeline_spark.profile import overlap


def test_overlap_returns_results_in_argument_order_and_runs_concurrently():
    barrier = threading.Barrier(2, timeout=10)

    def slow():
        barrier.wait()  # only passes if the other thunk runs meanwhile
        time.sleep(0.05)
        return "slow"

    def fast():
        barrier.wait()
        return "fast"

    assert overlap(slow, fast) == ["slow", "fast"]


def test_overlap_reraises_the_first_failure_in_argument_order():
    def fail(msg):
        def thunk():
            raise ValueError(msg)

        return thunk

    with pytest.raises(ValueError, match="first"):
        overlap(lambda: 1, fail("first"), fail("second"))

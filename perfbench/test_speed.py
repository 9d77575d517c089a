"""Tests of the scaling of end-to-end metrics to the reference host speed.

No Spark.  Run from the repository root with ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import pytest

from perfbench.workloads import at_reference_speed

RAW = {
    "turns_per_s": 400.0, "latency_p50_ms": 3000.0, "latency_p90_ms": 4000.0,
    "merged_read_s": 0.6, "setup_s": 30.0, "peak_rss_mb": 2500.0,
}


def test_a_slow_host_shortens_times_and_raises_rates():
    # the reference job ran at half the reference speed
    out = at_reference_speed("stream_chain", RAW, 0.5)
    assert out["latency_p50_ms"] == pytest.approx(1500.0)
    assert out["latency_p90_ms"] == pytest.approx(2000.0)
    assert out["merged_read_s"] == pytest.approx(0.3)
    assert out["setup_s"] == pytest.approx(15.0)
    assert out["turns_per_s"] == pytest.approx(800.0)
    assert out["peak_rss_mb"] == RAW["peak_rss_mb"]


def test_the_offered_rate_is_not_scaled():
    out = at_reference_speed("stream_live", RAW, 0.5)
    assert out["turns_per_s"] == RAW["turns_per_s"]
    assert out["latency_p50_ms"] == pytest.approx(1500.0)


def test_the_reference_speed_leaves_values_unchanged():
    assert at_reference_speed("stream_chain", RAW, 1.0) == RAW

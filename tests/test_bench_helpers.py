"""bench.py helpers: the steal canary the detail record carries."""

from __future__ import annotations


def test_steal_canary_positive_and_repeatable():
    """The canary must return positive wall seconds for fixed work.
    The repeatability band is best-effort (ADVICE r11): under the heavy
    co-tenant CPU steal the canary exists to DETECT, a wall-clock ratio
    assertion flakes exactly when the canary is doing its job — so the
    band compares MEDIANS of three draws per side and is skipped
    outright when the raw draws already show steal-scale dispersion."""
    import statistics

    import bench
    import pytest

    a = [bench._steal_canary() for _ in range(3)]
    b = [bench._steal_canary() for _ in range(3)]
    assert all(x > 0 for x in a + b)
    spread = max(a + b) / min(a + b)
    if spread > 3:
        pytest.skip(
            f"steal-scale dispersion across draws ({spread:.1f}x) — the "
            "machine is exactly the state the canary flags; a band "
            "assertion here would fail the test for working correctly"
        )
    med_a, med_b = statistics.median(a), statistics.median(b)
    assert max(med_a, med_b) / min(med_a, med_b) < 10

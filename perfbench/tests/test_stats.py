"""The per-type percentile rule and the end-to-end summaries."""

import pytest

from perfbench import stats


def test_median_always_higher_percentiles_need_ten_beyond():
    assert stats.min_samples(0.5) == 1
    assert stats.min_samples(0.9) == 100
    assert stats.min_samples(0.75) == 40
    assert stats.percentile([3.0], 0.5) == 3.0
    assert stats.percentile([1.0] * 99, 0.9) is None
    assert stats.percentile([float(i) for i in range(100)], 0.9) == pytest.approx(89.1)


def test_percentiles_are_per_type_never_pooled():
    samples = {"fast": [0.1] * 30, "slow": [1.0] * 30}
    assert stats.per_type(samples, 0.5) == {"fast": 0.1, "slow": 1.0}
    # p75 of the pooled 60 samples would be 1.0 and shift with the mix;
    # here neither type has the 40 samples p75 needs
    assert stats.per_type(samples, 0.75) == {}


def test_op_p50_does_not_move_with_the_mix():
    even = {"fast": [0.1] * 20, "slow": [1.0] * 20}
    skewed = {"fast": [0.1] * 5, "slow": [1.0] * 35}
    a = stats.end_to_end(1.0, even, busy_s=22.0)
    b = stats.end_to_end(1.0, skewed, busy_s=35.5)
    assert a["op_s.p50"] == pytest.approx(b["op_s.p50"]) == pytest.approx(0.1 ** 0.5)
    assert a["ops_per_s"] == pytest.approx(40 / 22.0)
    assert set(a) == set(stats.UNITS)


def test_host_noise_shares():
    before = {"jiffies": 1000, "steal": 10, "psi_some_us": 0}
    after = {"jiffies": 1400, "steal": 30, "psi_some_us": 500_000}
    noise = stats.host_noise(before, after, wall_s=2.0)
    assert noise == {"steal_frac": pytest.approx(0.05), "cpu_pressure": pytest.approx(0.25)}
    assert stats.host_noise({}, {}, 1.0) == {}

"""Numpy t-digest kernel tests — mirror the reference's golden checks
(/root/reference/src/torchestra/test_normalization.py:546-629): quantile
and cdf vs exact numpy quantiles at the reference tolerances."""

import numpy as np

from torchestra_spark.tdigest import TDigest, digest_from_state, digest_to_state


def _fit(values, compression=1000.0, shards=1):
    td = TDigest(compression)
    t = td.new_digest()
    for shard in np.array_split(values, shards):
        s = td.new_digest()
        td.add_values(s, shard)
        td.merge_digests(t, s)
    td.finalize(t)
    return td, t


def test_cdf_matches_numpy_quantiles():
    # pattern of test_normalization.py:615-629: 2 shards x 1000 values,
    # cdf at exact-quantile grid points should be ~the grid, atol 1e-2
    rng = np.random.RandomState(42)
    data = rng.rand(2000)
    td, t = _fit(data, shards=2)
    qs = np.linspace(0.01, 0.99, 99)
    grid = np.quantile(data, qs)
    est = td.cdf(t, grid)
    assert np.allclose(est, qs, atol=1e-2)


def test_quantile_matches_numpy():
    rng = np.random.RandomState(7)
    data = rng.randn(5000) * 3.0 + 10.0
    td, t = _fit(data, shards=4)
    qs = np.array([0.1, 0.25, 0.5, 0.75, 0.9])
    est = td.quantile(t, qs)
    exact = np.quantile(data, qs)
    assert np.allclose(est, exact, atol=1e-1)


def test_single_value():
    # test_normalization.py:546-557 pattern
    td, t = _fit(np.array([5.0]))
    assert np.allclose(td.quantile(t, np.array([0.0, 0.5, 1.0])), 5.0)
    assert td.cdf(t, np.array([5.0]))[0] == 0.5
    assert td.cdf(t, np.array([4.0]))[0] == 0.0
    assert td.cdf(t, np.array([6.0]))[0] == 1.0


def test_cdf_nan_is_nan():
    td, t = _fit(np.arange(100.0))
    est = td.cdf(t, np.array([-1.0, np.nan, 50.0, 200.0]))
    assert np.isnan(est[1])
    assert est[0] == 0.0 and est[3] == 1.0 and abs(est[2] - 0.5) < 0.02


def test_compression_stress_40k():
    # test_normalization.py:560-571: 40k values at compression 1000
    rng = np.random.RandomState(0)
    data = rng.rand(40_000)
    td, t = _fit(data)
    assert t.n_processed <= 2000
    qs = np.array([0.25, 0.5, 0.75])
    assert np.allclose(td.quantile(t, qs), np.quantile(data, qs), atol=1e-2)


def test_low_compression_tails():
    # test_normalization.py:599-612: 4k values at compression 4
    rng = np.random.RandomState(1)
    data = rng.rand(4000)
    td, t = _fit(data, compression=4.0)
    assert t.n_processed <= 8 + 2
    est = td.cdf(t, np.array([np.min(data), np.max(data)]))
    assert est[0] <= 0.05 and est[1] >= 0.95


def test_merge_equals_single_digest_within_tolerance():
    rng = np.random.RandomState(3)
    data = rng.randn(10_000)
    _, t1 = _fit(data, shards=1)
    td, t8 = _fit(data, shards=8)
    qs = np.linspace(0.05, 0.95, 19)
    assert np.allclose(td.quantile(t8, qs), np.quantile(data, qs), atol=5e-2)


def test_state_roundtrip():
    rng = np.random.RandomState(5)
    data = rng.rand(3000)
    td, t = _fit(data)
    state = digest_to_state(t)
    t2 = digest_from_state(state, 1000.0)
    x = rng.rand(100)
    assert np.array_equal(td.cdf(t, x), td.cdf(t2, x))
    q = np.linspace(0, 1, 11)
    assert np.array_equal(td.quantile(t, q), td.quantile(t2, q))

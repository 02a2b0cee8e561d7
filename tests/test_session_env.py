"""The allocator-tuning env defaults `get_spark` exports for the JVM
gateway and its forked Python workers (guide §4: page-fault/memcg
charge churn from per-buffer mmap/munmap in every Arrow stage)."""

import os

import pytest

from torchestra_spark.session import _apply_malloc_tuning

_KEYS = ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_", "ARROW_DEFAULT_MEMORY_POOL")


@pytest.fixture(autouse=True)
def _own_env(monkeypatch):
    """Let monkeypatch own every key ``_apply_malloc_tuning`` reads or
    may set, so os.environ is the same before and after each test.
    ``delenv`` on an absent key records nothing to undo, so each key is
    set first (recording its prior state) and then removed."""
    def env():  # pytest itself rewrites PYTEST_CURRENT_TEST per phase
        return {k: v for k, v in os.environ.items() if k != "PYTEST_CURRENT_TEST"}

    before = env()
    for k in _KEYS + ("SPARK_GRAFT_MALLOC_TUNING",):
        monkeypatch.setenv(k, "")
        monkeypatch.delenv(k)
    yield
    monkeypatch.undo()
    assert env() == before


def test_malloc_tuning_sets_defaults(monkeypatch):
    _apply_malloc_tuning()

    assert os.environ["MALLOC_MMAP_THRESHOLD_"] == str(1024**3)
    assert os.environ["MALLOC_TRIM_THRESHOLD_"] == str(1024**3)
    assert os.environ["ARROW_DEFAULT_MEMORY_POOL"] == "system"


def test_malloc_tuning_respects_existing_values(monkeypatch):
    monkeypatch.setenv("MALLOC_MMAP_THRESHOLD_", "131072")
    monkeypatch.setenv("ARROW_DEFAULT_MEMORY_POOL", "jemalloc")
    _apply_malloc_tuning()

    assert os.environ["MALLOC_MMAP_THRESHOLD_"] == "131072"
    assert os.environ["ARROW_DEFAULT_MEMORY_POOL"] == "jemalloc"
    # unset keys still get the default
    assert os.environ["MALLOC_TRIM_THRESHOLD_"] == str(1024**3)


def test_malloc_tuning_disabled_by_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MALLOC_TUNING", "0")
    _apply_malloc_tuning()

    for k in _KEYS:
        assert k not in os.environ

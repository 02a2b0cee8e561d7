"""The allocator-tuning env defaults `get_spark` exports for the JVM
gateway and its forked Python workers (guide §4: page-fault/memcg
charge churn from per-buffer mmap/munmap in every Arrow stage), its
choice of shuffle scratch dir, and its default master."""

import os
from types import SimpleNamespace

import pytest

from torchestra_spark import session
from torchestra_spark.session import _apply_malloc_tuning, _local_dir

_KEYS = ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_", "ARROW_DEFAULT_MEMORY_POOL")


@pytest.fixture(autouse=True)
def _own_env(monkeypatch):
    """Let monkeypatch own every key the session helpers read or
    may set, so os.environ is the same before and after each test.
    ``delenv`` on an absent key records nothing to undo, so each key is
    set first (recording its prior state) and then removed."""
    def env():  # pytest itself rewrites PYTEST_CURRENT_TEST per phase
        return {k: v for k, v in os.environ.items() if k != "PYTEST_CURRENT_TEST"}

    before = env()
    for k in _KEYS + ("SPARK_GRAFT_MALLOC_TUNING", "SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_MASTER"):
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
    for off in ("0", "false", "FALSE", "no", "Off", " off "):
        monkeypatch.setenv("SPARK_GRAFT_MALLOC_TUNING", off)
        _apply_malloc_tuning()

        for k in _KEYS:
            assert k not in os.environ, off


@pytest.mark.parametrize("free_gib, master, want", [
    (16, "local[4]", "/dev/shm"),
    (16, "local", "/dev/shm"),
    (16, "local[*]", "/dev/shm"),
    (1, "local[4]", None),                 # tmpfs too small
    (16, "spark://head:7077", None),       # cluster: /dev/shm is the driver's
    (16, "yarn", None),
    (16, "k8s://https://api:6443", None),
])
def test_local_dir_shm_only_for_local_master(monkeypatch, free_gib, master, want):
    class _St:
        f_bavail, f_frsize = free_gib * 1024**2, 1024

    monkeypatch.setattr(session.os.path, "isdir", lambda p: True)
    monkeypatch.setattr(session.os, "access", lambda p, mode: True)
    monkeypatch.setattr(session.os, "statvfs", lambda p: _St)
    assert _local_dir(master) == want


@pytest.mark.parametrize("master", ["local[4]", "spark://head:7077"])
def test_local_dir_env_override(monkeypatch, master):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/scratch/nvme")
    assert _local_dir(master) == "/scratch/nvme"


class _Builder:
    """Records the master ``get_spark`` picks; starts no JVM."""

    def __init__(self):
        self.master_url = None

    def appName(self, name):
        return self

    def master(self, url):
        self.master_url = url
        return self

    def config(self, key, value):
        return self

    def getOrCreate(self):
        return self.master_url


@pytest.mark.parametrize("env_master, arg, want", [
    (None, None, "local[3]"),              # one slot per core in the affinity set
    ("spark://head:7077", None, "spark://head:7077"),
    ("spark://head:7077", "local[2]", "local[2]"),
])
def test_default_master_from_host(monkeypatch, env_master, arg, want):
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Builder()))
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")  # the library ignores it
    if env_master is not None:
        monkeypatch.setenv("SPARK_GRAFT_MASTER", env_master)
    assert session.get_spark(master=arg) == want

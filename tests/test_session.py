"""Driver heap sizing: the env override wins, else 24g capped at half
of physical memory."""

from pgsync_spark.session import driver_memory

GiB = 2**30


def test_driver_memory_caps_at_half_of_physical(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(15 * GiB) == "7680m"
    assert driver_memory(48 * GiB) == "24576m"
    assert driver_memory(256 * GiB) == "24576m"
    # read from the host when not given
    mb = int(driver_memory()[:-1])
    assert 0 < mb <= 24 * 1024


def test_driver_memory_env_takes_precedence(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(15 * GiB) == "3g"
    assert driver_memory(256 * GiB) == "3g"

"""session.default_driver_memory: the driver heap a session asks for
when SPARK_GRAFT_DRIVER_MEM is unset. No Spark session."""

from alstom_spark_cassandra_spark import session


def _host(monkeypatch, gib):
    page = 4096
    values = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": gib * 2**30 // page}
    monkeypatch.setattr(session.os, "sysconf", values.__getitem__)


def test_small_host_gets_half_its_memory(monkeypatch):
    _host(monkeypatch, 15)
    assert session.default_driver_memory() == f"{15 * 1024 // 2}m"


def test_large_host_is_capped_at_24g(monkeypatch):
    _host(monkeypatch, 256)
    assert session.default_driver_memory() == f"{24 * 1024}m"

"""Host-derived session defaults (session.py): no Spark needed."""

from project_gutenberg_full_text_search_spark import session


def _mb(spec: str) -> int:
    assert spec.endswith("m"), spec
    return int(spec[:-1])


def test_derived_driver_heap_fits_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    heap_mb = _mb(session.driver_memory())
    assert 0 < heap_mb * 2**20 <= session.physical_memory_bytes()
    assert heap_mb <= 48 * 1024


def test_derived_driver_heap_is_half_of_memory_capped_at_48g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "physical_memory_bytes", lambda: 16 * 2**30)
    assert session.driver_memory() == "8192m"
    monkeypatch.setattr(session, "physical_memory_bytes", lambda: 512 * 2**30)
    assert session.driver_memory() == "49152m"


def test_driver_mem_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "6g")
    assert session.driver_memory() == "6g"


def test_host_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.host_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session.host_cpus() >= 1

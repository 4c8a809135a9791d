"""Engine defaults that must follow the host and the registry, not luck."""

from gcp_cloudsql_to_bigquery_spark.session import default_driver_memory
from gcp_cloudsql_to_bigquery_spark.workload import queries


def test_registry_holds_every_query():
    # every operator module is imported outright; one that fails to import
    # fails here instead of silently shrinking the registry
    assert len(queries()) == 375


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_of_a_small_host(tmp_path):
    # a 15.7 GiB host: the old fixed 16g heap exceeded physical RAM
    assert default_driver_memory(_meminfo(tmp_path, 16_453_000)) == "8033m"


def test_driver_memory_keeps_16g_on_large_hosts(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 32 * 2**20)) == "16g"
    assert default_driver_memory(_meminfo(tmp_path, 256 * 2**20)) == "16g"
    assert default_driver_memory(str(tmp_path / "absent")) == "16g"

"""Session defaults that depend on the host (no Spark needed)."""

from __future__ import annotations

from dup_ocropy_spark.session import driver_memory


def _meminfo(tmp_path, avail_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {2 * avail_kb} kB\n"
                 f"MemFree:        {avail_kb // 2} kB\n"
                 f"MemAvailable:   {avail_kb} kB\n")
    return str(p)


def test_driver_memory_is_half_of_available(tmp_path):
    # 15 GB host: half of ~14.6 GiB available, below the 16 GiB cap
    assert driver_memory({}, _meminfo(tmp_path, 15_300_000)) == "7470m"


def test_driver_memory_clamped(tmp_path):
    assert driver_memory({}, _meminfo(tmp_path, 512 * 1024)) == "1024m"
    assert driver_memory({}, _meminfo(tmp_path, 256 << 20)) == "16384m"


def test_driver_memory_env_override_and_fallback(tmp_path):
    env = {"SPARK_DRIVER_MEMORY": "3g"}
    assert driver_memory(env, _meminfo(tmp_path, 15_300_000)) == "3g"
    assert driver_memory({}, str(tmp_path / "missing")) == "4g"
    (tmp_path / "no_avail").write_text("MemTotal: 1000 kB\n")
    assert driver_memory({}, str(tmp_path / "no_avail")) == "4g"

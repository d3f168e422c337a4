"""Resource defaults of get_spark: cores from the affinity mask, driver
memory from the RAM the machine has available."""

import os

from ont_d2rq_spark import session


def _meminfo(tmp_path, available_kb):
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {available_kb * 2} kB\n"
        f"MemFree:        {available_kb // 2} kB\n"
        f"MemAvailable:   {available_kb} kB\n"
    )
    return str(p)


def test_default_cpus_is_the_affinity_mask():
    assert session.default_cpus() == len(os.sched_getaffinity(0))


def test_default_driver_memory_is_a_quarter_of_available(tmp_path):
    assert session.default_driver_memory(_meminfo(tmp_path, 15 << 20)) == "3840m"


def test_default_driver_memory_caps_at_48g(tmp_path):
    assert session.default_driver_memory(_meminfo(tmp_path, 400 << 20)) == "49152m"


def test_default_driver_memory_without_meminfo(tmp_path):
    assert session.default_driver_memory(str(tmp_path / "missing")) == "49152m"

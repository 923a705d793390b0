"""Driver heap default (no Spark)."""

from __future__ import annotations

from ner_spark.session import default_driver_memory


def _meminfo(tmp_path, text):
    p = tmp_path / "meminfo"
    p.write_text(text)
    return str(p)


def test_driver_memory_is_a_quarter_of_ram(tmp_path):
    def heap(kib):
        return default_driver_memory(
            _meminfo(tmp_path, f"MemFree:  1000 kB\nMemTotal: {kib} kB\n")
        )

    assert heap(16_479_424) == "4g"  # a 15.7 GiB host
    assert heap(64 << 20) == "16g"
    assert heap(2 << 20) == "1g"  # clamped below
    assert heap(512 << 20) == "32g"  # clamped above


def test_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "32g"
    assert default_driver_memory(_meminfo(tmp_path, "MemFree: 1 kB\n")) == "32g"

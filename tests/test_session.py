"""Session defaults that depend on the host."""

from konlspark.session import _default_driver_memory


def test_driver_memory_default_fits_the_host(tmp_path):
    def host(text):
        path = tmp_path / "meminfo"
        path.write_text(text)
        return _default_driver_memory(str(path))

    def total(kib):
        return f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n"

    # half of MemTotal in whole GiB, between 1g and 24g
    assert host(total(16_089_912)) == "7g"  # a 15 GiB host
    assert host(total(128 << 20)) == "24g"
    assert host(total(1 << 20)) == "1g"
    assert host("MemFree: 1 kB\n") == "24g"
    assert _default_driver_memory(str(tmp_path / "missing")) == "24g"

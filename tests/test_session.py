"""Session defaults that must fit the host."""

import os

from icdc_dataloader_spark import session


def test_driver_memory_is_sixty_percent_of_ram_capped_at_48g():
    gib = 1 << 30
    assert session.default_driver_memory(15 * gib) == "9216m"
    assert session.default_driver_memory(80 * gib) == "49152m"
    assert session.default_driver_memory(512 * gib) == "49152m"


def test_driver_memory_default_reads_host_ram(monkeypatch):
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert session.default_driver_memory() == session.default_driver_memory(ram)

    def unavailable(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", unavailable)
    assert session.default_driver_memory() == "49152m"

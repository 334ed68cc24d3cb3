"""Session defaults that need no Spark: the driver heap sizing."""

import os

import pytest

from web_crawler_spark import session

GIB = 2**30


@pytest.mark.parametrize(
    "phys_gib, want",
    [(15, "7680m"), (4, "2048m"), (32, "16384m"), (256, "16384m")],
)
def test_default_driver_memory_is_half_of_physical_capped_at_16g(
    monkeypatch, phys_gib, want
):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * GIB // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    assert session.default_driver_memory() == want

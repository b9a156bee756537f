"""Session defaults that depend on the host."""

from __future__ import annotations

import os

from cassandra_iot_pipeline_spark.session import _default_driver_memory


def test_default_driver_heap_is_at_most_half_the_host_memory():
    # a local-mode driver heap sized past the host lets the one JVM grow
    # until the kernel kills it mid-run
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = _default_driver_memory()
    assert heap.endswith("g")
    assert 1 <= int(heap[:-1]) <= 48
    assert int(heap[:-1]) * 2**30 <= phys // 2

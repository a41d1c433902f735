"""Session defaults are sized from the host the job starts on."""

import os

from ocr_corrector_spark.session import host_cpus, host_driver_heap


def test_cpus_follow_the_affinity_mask():
    assert host_cpus() == len(os.sched_getaffinity(0))


def test_driver_heap_is_a_clamped_quarter_of_ram():
    total_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    heap = host_driver_heap()
    assert heap.endswith("g")
    gib = int(heap[:-1])
    assert 1 <= gib <= 8
    assert gib <= max(1, total_gib / 4)

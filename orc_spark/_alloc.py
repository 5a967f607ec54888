"""Executor-side allocator tuning.

This sandbox's (and many container runtimes') kernel page-fault path
serializes under concurrent first-touch faults; glibc returns large
blocks to the OS via mmap/trim on free, so every Arrow batch / numpy
temporary re-faults its pages on every task.  ``tune_worker()`` makes
worker heaps grow-and-stay:

* mallopt(M_MMAP_THRESHOLD / M_TRIM_THRESHOLD, 1 GiB): large numpy
  temporaries live on the reusable heap instead of fresh mmaps.

pyarrow deliberately STAYS on its default jemalloc pool — switching to
the system allocator measured ~4x WORSE at 32 workers (see the NOTE in
tune_worker and CLAUDE.md); do not "restore" a set_memory_pool call.

Called at the top of the executor kernels that allocate per batch:
stripe encode/decode, the ``.orc`` scan, write and DataSource
readers, ``orcscan.run_tasks`` (every driver-planned collect-style
job) and the text, dedup, packing and media functions.  Idempotent
and best-effort; safe and beneficial on real clusters too.
"""

from __future__ import annotations

_done = False

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3


def tune_worker() -> None:
    global _done
    if _done:
        return
    _done = True
    try:
        import ctypes
        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(_M_TRIM_THRESHOLD, 1 << 30)
        libc.mallopt(_M_MMAP_THRESHOLD, 1 << 30)
    except Exception:
        pass
    # NOTE: do NOT switch Arrow to the system pool here — measured
    # 32-worker throughput drops ~4x when Arrow IPC buffers go through
    # glibc heap growth instead of jemalloc's extent reuse.

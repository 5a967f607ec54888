"""Spans, self-time arithmetic, the RLE v2 segment census and the
/proc RSS sampler used by the benchmark.

Spans are recorded from the benchmark's own code, around calls into
each layer's public functions (and, during the single-process replay,
around module attributes the benchmark wraps).  They carry a name,
start, end and parent id, stay in memory and are written out once, at
the end of the run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SEGMENT_KINDS = ("short_repeat", "direct", "patched_base", "delta")

# RLE v2 5-bit width codes -> bit widths (ORC spec, "Integer Run Length
# Encoding, version 2"): codes 0..23 are widths 1..24, then 26..64
_WIDTHS = list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]


class Tracer:
    """In-memory span recorder.  With ``enabled=False`` ``span`` is a
    no-op, so traced and untraced runs execute the same code."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Record one span; yields its record (``None`` when disabled)
        so the caller may rename it once the call's outcome is known."""
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: the summed duration of its spans minus the part
    of each span's interval that its child spans cover."""
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["name"]] += dur - _covered(children[s["id"]], s["start"],
                                         s["end"])
    return dict(out)


def total_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: the summed (inclusive) duration of its spans."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["end"] - s["start"]
    return dict(out)


def _skip_varint(buf, pos: int) -> int:
    while buf[pos] & 0x80:
        pos += 1
    return pos + 1


def _closest_fixed_bits(n: int) -> int:
    if n <= 24:
        return max(n, 1)
    return next(w for w in (26, 28, 30, 32, 40, 48, 56, 64) if n <= w)


def rle2_census(buf) -> tuple[dict[str, int], int]:
    """Walk the segment headers of one RLE v2 stream.  Returns
    (segment count per kind, values covered).  Raises ValueError when
    the walk does not end exactly at the end of the buffer."""
    buf = bytes(buf)
    counts = dict.fromkeys(SEGMENT_KINDS, 0)
    values = 0
    pos, n = 0, len(buf)
    while pos < n:
        first = buf[pos]
        kind = first >> 6
        if kind == 0:                    # SHORT_REPEAT
            length = (first & 0x07) + 3
            pos += 1 + ((first >> 3) & 0x07) + 1
        else:
            code = (first >> 1) & 0x1F
            length = (((first & 0x01) << 8) | buf[pos + 1]) + 1
            if kind == 1:                # DIRECT
                pos += 2 + (length * _WIDTHS[code] + 7) // 8
            elif kind == 2:              # PATCHED_BASE
                third, fourth = buf[pos + 2], buf[pos + 3]
                base_bytes = ((third >> 5) & 0x07) + 1
                patch_bits = _closest_fixed_bits(
                    _WIDTHS[third & 0x1F] + ((fourth >> 5) & 0x07) + 1)
                pos += 4 + base_bytes + (length * _WIDTHS[code] + 7) // 8 \
                    + ((fourth & 0x1F) * patch_bits + 7) // 8
            else:                        # DELTA: base, delta base, blob
                pos = _skip_varint(buf, _skip_varint(buf, pos + 2))
                if code:
                    pos += ((length - 2) * _WIDTHS[code] + 7) // 8
        counts[SEGMENT_KINDS[kind]] += 1
        values += length
    if pos != n:
        raise ValueError(f"RLE v2 walk ended at byte {pos} of {n}")
    return counts, values


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot,
    summed over its CPUs (the ``steal`` field of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    parent: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        parent[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        kids = parent.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_rss_bytes(root: int, top_python: int) -> int:
    """Summed RSS, read from /proc, of the descendants of ``root``: the
    driver JVM plus the ``top_python`` largest Python processes.  At
    most that many Python workers run tasks at once; idle ones linger
    for a while, in numbers that vary from run to run."""
    page = os.sysconf("SC_PAGE_SIZE")
    other, python = 0, []
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        if comm.startswith("python"):
            python.append(rss)
        else:
            other += rss
    return other + sum(sorted(python)[-top_python:])


class RssSampler:
    """Samples ``tree_rss_bytes(os.getpid(), top_python)`` on a
    background thread and keeps the peak.  Use as a context manager."""

    def __init__(self, top_python: int, interval_s: float = 0.1):
        self.top_python = top_python
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes,
                                  tree_rss_bytes(root, self.top_python))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

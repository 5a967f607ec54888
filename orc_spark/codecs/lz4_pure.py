"""Pure-Python LZ4 block codec (public LZ4 block format spec).

Decode reads lz4-compressed ORC files; ``compress`` (r5, beyond the
reference and beyond Spark's own writer, neither of which does lz4)
emits spec-conforming blocks: greedy 4-byte hash matching, 16-bit
offsets, the end-of-block rules honored (matches start no later than
12 bytes before the end and stop 5 bytes short; the final sequence is
literals-only), so any conforming lz4 reader — including our own
decoder and Spark's JVM ORC reader — consumes the output."""

from __future__ import annotations


def _emit_len(out: bytearray, rem: int) -> None:
    while rem >= 255:
        out.append(255)
        rem -= 255
    out.append(rem)


def compress(data: bytes) -> bytes:
    """Raw input -> one LZ4 block.  ORC's per-chunk original fallback
    absorbs incompressible chunks above this layer."""
    data = bytes(data)
    n = len(data)
    out = bytearray()
    table: dict[bytes, int] = {}
    pos = 0
    anchor = 0
    match_limit = n - 12   # spec: no match starts in the last 12 bytes
    while pos <= match_limit:
        key = data[pos:pos + 4]
        cand = table.get(key)
        table[key] = pos
        if cand is None or pos - cand >= (1 << 16):
            pos += 1
            continue
        ml = 4
        max_ml = (n - 5) - pos   # spec: last 5 bytes stay literal
        while True:
            step = min(max_ml - ml, 512)
            if step <= 0:
                break
            a = data[cand + ml:cand + ml + step]
            b = data[pos + ml:pos + ml + step]
            if a == b:
                ml += step
                continue
            for i in range(step):
                if a[i] != b[i]:
                    break
            ml += i
            break
        lit = pos - anchor
        out.append(((15 if lit >= 15 else lit) << 4)
                   | (15 if ml - 4 >= 15 else ml - 4))
        if lit >= 15:
            _emit_len(out, lit - 15)
        out += data[anchor:pos]
        out += (pos - cand).to_bytes(2, "little")
        if ml - 4 >= 15:
            _emit_len(out, ml - 4 - 15)
        pos += ml
        anchor = pos
    lit = n - anchor
    out.append((15 if lit >= 15 else lit) << 4)
    if lit >= 15:
        _emit_len(out, lit - 15)
    out += data[anchor:n]
    return bytes(out)


def decompress(data: bytes, max_out: int | None = None) -> bytes:
    """``max_out`` bounds the decompressed size (decompression-bomb
    guard); truncated input raises instead of returning silently short
    data."""
    data = bytes(data)
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        token = data[pos]
        pos += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                if pos >= n:
                    raise ValueError("corrupt lz4: truncated length")
                b = data[pos]
                pos += 1
                lit_len += b
                if b != 255:
                    break
        if pos + lit_len > n:
            raise ValueError("corrupt lz4: truncated literals")
        out += data[pos:pos + lit_len]
        pos += lit_len
        if max_out is not None and len(out) > max_out:
            raise ValueError("lz4 output exceeds max_out")
        if pos >= n:
            break  # last sequence is literals-only
        if pos + 2 > n:
            raise ValueError("corrupt lz4: truncated offset")
        offset = int.from_bytes(data[pos:pos + 2], "little")
        pos += 2
        if offset == 0:
            raise ValueError("corrupt lz4: zero offset")
        match_len = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                if pos >= n:
                    raise ValueError("corrupt lz4: truncated length")
                b = data[pos]
                pos += 1
                match_len += b
                if b != 255:
                    break
        start = len(out) - offset
        if start < 0:
            raise ValueError("corrupt lz4: offset before start")
        if offset >= match_len:
            out += out[start:start + match_len]
        else:
            for i in range(match_len):
                out.append(out[start + i])
        if max_out is not None and len(out) > max_out:
            raise ValueError("lz4 output exceeds max_out")
    return bytes(out)

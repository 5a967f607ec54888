"""Property / cross-validation tests for the codec kernels.

Mirrors the reference's randomized round-trip layer (e.g.
runlengthintegerwriterv2_test.go:120-174: 10^6 random int64 write->read
equality) with seeded generators shaped like token data (FIXTURES.md §1):
uniform, constant runs, monotonic ramps, zipf vocab, outlier-spiked.
The fast run-level RLE v2 encoder is additionally cross-checked
byte-for-byte against the per-value port of the reference state machine.
"""

import numpy as np
import pytest

from orc_spark.codecs import bits, byterle, fsst, rle1, rle2

RNG = np.random.default_rng(42)


def _gen_cases():
    cases = {}
    cases["uniform_small"] = RNG.integers(0, 50257, 2000).astype(np.int64)
    cases["uniform_large"] = RNG.integers(-2**62, 2**62, 2000).astype(np.int64)
    cases["constant"] = np.full(1500, 42, dtype=np.int64)
    cases["short_runs"] = np.repeat(
        RNG.integers(0, 100, 400), RNG.integers(1, 12, 400)).astype(np.int64)
    cases["long_runs"] = np.repeat(
        RNG.integers(0, 100, 10), RNG.integers(100, 1500, 10)).astype(np.int64)
    cases["ramp_up"] = np.arange(3000, dtype=np.int64) * 3 + 7
    cases["ramp_down"] = np.arange(3000, 0, -1, dtype=np.int64) * 5
    cases["monotonic_jitter"] = np.cumsum(
        RNG.integers(0, 9, 2000)).astype(np.int64)
    zipf = np.minimum(RNG.zipf(1.2, 3000), 50256).astype(np.int64)
    cases["zipf_vocab"] = zipf
    spiked = RNG.integers(2000, 2100, 2000).astype(np.int64)
    idx = RNG.choice(2000, 60, replace=False)
    spiked[idx] = RNG.integers(1_000_000, 2_000_000, 60)
    cases["outlier_spiked"] = spiked  # patched-base territory
    spiked_neg = spiked.copy()
    spiked_neg[::7] -= 3000
    cases["outlier_spiked_neg"] = spiked_neg
    cases["alternating"] = np.tile([0, 1], 1000).astype(np.int64)
    cases["tiny_1"] = np.array([5], dtype=np.int64)
    cases["tiny_2"] = np.array([5, 5], dtype=np.int64)
    cases["tiny_2b"] = np.array([5, 9], dtype=np.int64)
    cases["boundary_512"] = np.full(512, 7, dtype=np.int64)
    cases["boundary_513"] = np.full(513, 7, dtype=np.int64)
    cases["boundary_515"] = np.full(515, 7, dtype=np.int64)
    cases["run_into_var"] = np.concatenate(
        [np.full(514, 7), RNG.integers(0, 100, 600)]).astype(np.int64)
    cases["var_into_run"] = np.concatenate(
        [RNG.integers(0, 100, 509), np.full(300, 3)]).astype(np.int64)
    cases["extremes"] = np.array(
        [0, -1, 1, 2**63 - 1, -2**63, 17, 17, 17, -2**63, 2**63 - 1],
        dtype=np.int64)
    # mixed structure: concatenation of everything (codec switching)
    cases["mixed"] = np.concatenate(
        [cases["short_runs"], cases["ramp_up"][:500], cases["outlier_spiked"],
         cases["constant"][:200], cases["uniform_small"][:700]])
    return cases


CASES = _gen_cases()


@pytest.mark.parametrize("name", sorted(CASES))
@pytest.mark.parametrize("signed", [True, False])
def test_rle2_fast_matches_slow_port(name, signed):
    vals = CASES[name]
    fast = rle2.encode(vals, signed)
    slow = rle2.encode_slow(vals, signed)
    assert fast == slow, f"{name}: fast {fast.hex()[:80]} != slow {slow.hex()[:80]}"
    dec = rle2.decode(fast, len(vals), signed)
    assert (dec == vals).all(), name


@pytest.mark.parametrize("signed", [True, False])
def test_rle2_random_1e5_roundtrip(signed):
    rng = np.random.default_rng(7)
    vals = rng.integers(-2**63, 2**63, 100_000, dtype=np.int64) if signed \
        else rng.integers(0, 2**63, 100_000, dtype=np.int64)
    enc = rle2.encode(vals, signed)
    assert (rle2.decode(enc, len(vals), signed) == vals).all()


def test_rle2_random_structured_fuzz():
    # many short random arrays mixing runs/ramps to stress segmentation
    rng = np.random.default_rng(1234)
    for trial in range(120):
        parts = []
        for _ in range(rng.integers(1, 6)):
            kind = rng.integers(0, 4)
            ln = int(rng.integers(1, 40))
            if kind == 0:
                parts.append(np.full(ln, rng.integers(0, 5)))
            elif kind == 1:
                parts.append(rng.integers(0, 4, ln))
            elif kind == 2:
                parts.append(np.arange(ln) * int(rng.integers(-3, 4)))
            else:
                parts.append(rng.integers(0, 2**40, ln))
        vals = np.concatenate(parts).astype(np.int64)
        for signed in (True, False):
            fast = rle2.encode(vals, signed)
            assert fast == rle2.encode_slow(vals, signed), \
                f"trial {trial} signed={signed}: {vals.tolist()[:60]}"
            assert (rle2.decode(fast, len(vals), signed) == vals).all()


@pytest.mark.parametrize("signed", [True, False])
def test_rle2_partial_read_all_segment_kinds(signed):
    # decode(n < encoded count) must clamp uniformly across
    # SHORT_REPEAT / DIRECT / PATCHED_BASE / DELTA — read_rows'
    # stride seeks rely on partial reads ending mid-segment
    rng = np.random.default_rng(99)
    cases = {
        "short_repeat": np.full(8, 7, dtype=np.int64),
        "direct": rng.integers(0, 2**30, 64, dtype=np.int64),
        "delta_mono": np.arange(200, dtype=np.int64) * 3 + 11,
        "patched": np.where(rng.random(259) < 0.04,
                            rng.integers(2**40, 2**45, 259),
                            rng.integers(0, 2**8, 259)).astype(np.int64),
    }
    for name, vals in cases.items():
        enc = rle2.encode(vals, signed)
        for n in (1, len(vals) // 2, len(vals) - 1, len(vals)):
            dec = rle2.decode(enc, n, signed)
            assert dec.shape == (n,), (name, n)
            assert (dec == vals[:n]).all(), (name, n)


@pytest.mark.parametrize("signed", [True, False])
def test_rle1_roundtrip(signed):
    rng = np.random.default_rng(99)
    for vals in (
        rng.integers(-2**63, 2**63, 20_000, dtype=np.int64),
        np.repeat(rng.integers(0, 50, 200), rng.integers(1, 200, 200)).astype(np.int64),
        np.arange(5000, dtype=np.int64),
        np.arange(5000, dtype=np.int64) * -97,
        np.array([1, 2, 3], dtype=np.int64),
    ):
        enc = rle1.encode(vals, signed)
        assert (rle1.decode(enc, len(vals), signed) == vals).all()


def test_byterle_fast_matches_slow():
    rng = np.random.default_rng(5)
    cases = [
        rng.integers(0, 256, 10_000, dtype=np.uint8),
        rng.integers(0, 2, 10_000, dtype=np.uint8),
        np.repeat(rng.integers(0, 256, 100, dtype=np.uint8),
                  rng.integers(1, 300, 100)).astype(np.uint8),
        np.full(100_000, 0xAB, dtype=np.uint8),
        np.tile([1, 1, 2, 2], 500).astype(np.uint8),
    ]
    # targeted boundary fuzz around the 128-literal cap
    for _ in range(200):
        parts = []
        for _ in range(rng.integers(1, 5)):
            if rng.integers(0, 2):
                parts.append(np.full(int(rng.integers(1, 140)),
                                     rng.integers(0, 4), dtype=np.uint8))
            else:
                parts.append(rng.integers(0, 3, int(rng.integers(1, 140)),
                                          dtype=np.uint8))
        cases.append(np.concatenate(parts))
    for i, data in enumerate(cases):
        fast = byterle.encode(data)
        slow = byterle.encode_slow(data)
        assert fast == slow, f"case {i}"
        assert (byterle.decode(fast, len(data)) == data).all(), f"case {i}"


def test_boolean_roundtrip():
    rng = np.random.default_rng(3)
    for n in (1, 7, 8, 9, 100_000):
        bits_in = rng.integers(0, 2, n).astype(bool)
        enc = byterle.encode_bools(bits_in)
        assert (byterle.decode_bools(enc, n) == bits_in).all()
    # mostly-true present streams compress well
    mostly = np.ones(80_000, dtype=bool)
    mostly[::1111] = False
    enc = byterle.encode_bools(mostly)
    assert len(enc) < 2_000
    assert (byterle.decode_bools(enc, len(mostly)) == mostly).all()


def test_fsst_roundtrip():
    text = (b"the quick brown fox jumps over the lazy dog " * 200 +
            b"http://example.com/path?q=1 " * 100 +
            bytes(range(256)))
    frame = fsst.encode_blob(text)
    assert fsst.decode_blob(frame) == text
    # repetitive text must actually compress
    rep = b"tokenizer tokenizer tokenizer " * 500
    assert len(fsst.encode_blob(rep)) < len(rep) // 2
    assert fsst.decode_blob(fsst.encode_blob(b"")) == b""


def test_percentile_bits_basics():
    zz = np.array([1] * 99 + [2**40], dtype=np.uint64)
    assert bits.percentile_bits(zz, 1.0) == 48  # closest fixed >= 41
    assert bits.percentile_bits(zz, 0.9) == 1


def test_decimal_mantissa_fast_matches_reference():
    """Whole-array zigzag-varint decode (128-bit limbs) == scalar
    reference, decimal(38) mantissas above int64 included; a mantissa
    past 128 bits or a short stream raises ValueError."""
    import random
    import pytest
    from orc_spark.codecs import decimal as dc
    random.seed(7)
    vals = ([random.randrange(-10**18, 10**18) for _ in range(4000)]
            + [random.randrange(-10**38 + 1, 10**38) for _ in range(500)]
            + [0, 1, -1, 127, -128, 2**62, -(2**62),
               2**63 - 1, -(2**63), 2**64, -(2**64), 2**127 - 1,
               -(2**127), 10**38 - 1, -(10**38 - 1)])
    data = dc.encode_mantissas(vals)
    lo, hi = dc.decode_limbs(data, len(vals))
    got = [int(a) + (int(b) << 64) for a, b in zip(lo.tolist(), hi.tolist())]
    assert got == dc.decode_mantissas(data, len(vals))
    with pytest.raises(ValueError):
        dc.decode_limbs(dc.encode_mantissas([2**128]), 1)
    with pytest.raises(ValueError):
        dc.decode_limbs(data[:3], len(vals))

"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import layers  # noqa: E402
import run  # noqa: E402
from tracing import (SEGMENT_KINDS, Tracer, rle2_census,  # noqa: E402
                     self_times)
from orc_spark.codecs import rle2  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


# -- RLE v2 segment census -------------------------------------------------

def _planted():
    rng = np.random.default_rng(7)
    small = (np.arange(512) * 5) % 13            # no runs of 3
    patched = small.copy()
    patched[::97] = 1 << 40                      # rare wide outliers
    return {
        "short_repeat": np.full(6, 9),
        "delta": np.arange(0, 3000, 7),
        "direct": rng.integers(0, 1 << 20, 512),
        "patched_base": patched,
    }


@pytest.mark.parametrize("kind", sorted(_planted()))
@pytest.mark.parametrize("signed", [False, True])
def test_census_finds_planted_segment_kind(kind, signed):
    values = _planted()[kind].astype(np.int64)
    counts, covered = rle2_census(rle2.encode(values, signed=signed))
    assert covered == len(values)
    assert counts == {k: int(k == kind) for k in SEGMENT_KINDS}


def test_census_walks_mixed_streams_to_the_end():
    values = np.concatenate(list(_planted().values())).astype(np.int64)
    buf = rle2.encode(values, signed=True)
    counts, covered = rle2_census(buf)
    assert covered == len(values)
    assert sum(counts.values()) >= 4
    with pytest.raises((ValueError, IndexError)):
        rle2_census(buf[:-1])


# -- spans and self time ---------------------------------------------------

def _span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start": start,
            "end": end}


def test_self_time_subtracts_child_coverage():
    spans = [_span(0, "outer", None, 0.0, 10.0),
             _span(1, "a", 0, 1.0, 3.0),
             _span(2, "b", 0, 2.0, 5.0),      # overlaps a
             _span(3, "c", 0, 8.0, 12.0),     # runs past the parent
             _span(4, "leaf", 2, 2.5, 3.5)]
    st = self_times(spans)
    assert st["outer"] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st["a"] == pytest.approx(2.0)
    assert st["b"] == pytest.approx(3.0 - 1.0)
    assert st["c"] == pytest.approx(4.0)
    assert st["leaf"] == pytest.approx(1.0)


def test_tracer_records_nesting_and_disabled_is_noop():
    tr = Tracer()
    with tr.span("p"):
        with tr.span("q") as rec:
            rec["name"] = "q2"
    assert [s["name"] for s in tr.spans] == ["p", "q2"]
    assert tr.spans[1]["parent"] == 0 and tr.spans[0]["parent"] is None
    off = Tracer(enabled=False)
    with off.span("p") as rec:
        assert rec is None
    assert off.spans == []


# -- stripe cutting and percentiles -----------------------------------------

def test_cut_stripes_follows_row_and_token_limits():
    n_tok = np.array([5, 5, 50, 1, 1, 1, 1, 1], dtype=np.int32)
    table = pa.table({"n_tok": n_tok})
    sizes = [p.num_rows for p in layers.cut_stripes(table, 4, 12)]
    assert sizes == [3, 4, 1]     # token-limited, row-limited, rest


def test_p_hi_needs_ten_samples_beyond():
    from workload import p_hi
    assert p_hi([1.0] * 19) is None
    q, _ = p_hi(list(range(100)))
    assert q == pytest.approx(90.0)


# -- metric names ---------------------------------------------------------

def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    per_layer = [m["name"] for m in spec["per_layer"]]
    assert e2e == [n for n, _ in run.E2E]
    assert per_layer == [n for n, _ in layers.PER_LAYER]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    units = {m["name"]: m["unit"] for m in
             spec["end_to_end"] + spec["per_layer"]}
    assert units == dict(run.E2E + layers.PER_LAYER)
    names = e2e + per_layer
    assert len(set(names)) == len(names)
    for name in names:
        assert NAME.fullmatch(name), name


# -- output checks (Spark) --------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[2]")
         .appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.driver.memory", "1g")
         .getOrCreate())
    yield s
    s.stop()


def _token_table(n=50, bump=None):
    rng = np.random.default_rng(3)
    tokens = [rng.integers(0, 50257, int(k)).astype(np.int32)
              for k in rng.integers(1, 120, n)]
    if bump is not None:
        tokens[bump] = tokens[bump].copy()
        tokens[bump][0] += 1
    return pa.table({
        "doc_id": [f"doc-{i:05d}" for i in range(n)],
        "tokens": pa.array(tokens, pa.list_(pa.int32())),
        "n_tok": pa.array([len(t) for t in tokens], pa.int32()),
        "source": ["web"] * n,
    })


def test_digest_catches_one_changed_token(spark, tmp_path):
    from workload import digest
    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    pq.write_table(_token_table(), a)
    pq.write_table(_token_table(bump=17), b)
    da = digest(spark.read.parquet(str(a)))
    db = digest(spark.read.parquet(str(b)))
    assert da[:2] == db[:2]
    assert da[2] != db[2]


def test_planted_corruption_drives_fail_ratio_above_zero(spark, tmp_path):
    """A stripe table written from an input with one token changed
    must fail the decode check, and so count as failed operations."""
    from orc_spark.operators import encode as enc_ops
    from workload import Ledger, Paths, Workload, run_checks

    tokens = tmp_path / "tokens"
    tokens.mkdir()
    pq.write_table(_token_table(), tokens / "part-0.parquet")
    bad = tmp_path / "bad.parquet"
    pq.write_table(_token_table(bump=17), bad)
    stripes = str(tmp_path / "stripes")
    enc_ops.encode(spark.read.parquet(str(bad))).write.parquet(stripes)

    wl = Workload(spark, Paths(docs="", tokens=str(tokens),
                               stripes=stripes, orc=""),
                  np.ones((1, 4), np.float32))
    wl.input_facts()
    read = next(op for op in wl.ops() if op.name == "read")
    ledger = Ledger()
    ledger.attempted["read"] = 3
    run_checks([read], ledger, workers=1)
    assert ledger.check_failed == {"read"}
    assert ledger.fail_ratio() == 1.0

    ok = tmp_path / "ok_stripes"
    enc_ops.encode(wl.tokens_df()).write.parquet(str(ok))
    wl.paths.stripes = str(ok)
    clean = Ledger()
    clean.attempted["read"] = 3
    run_checks([read], clean, workers=1)
    assert clean.fail_ratio() == 0.0

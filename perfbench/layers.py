"""Per-layer measurements of a traced run (``--trace 1``).

Everything here times calls into a layer's public functions from the
benchmark's side; nothing inside ``orc_spark`` is instrumented:

* Spark-level phases (as bench_extra.py does them): scan-only noop ->
  passthrough ``mapInArrow`` -> encode kernel noop -> kernel + parquet
  write, and encoded-table scan -> full decode.  Task counts, bytes,
  GC and run time of the kernel + write job come from the session's
  Spark event log.
* Per-operator noop times of the documents pipeline.
* A single-process replay of the workload's own stripes (cut with the
  job's stripe limits) with the module attributes ``rle2.encode`` /
  ``rle2.decode``, ``compression.compress`` / ``decompress`` and
  ``stripe.encode_column`` wrapped in spans; ``stripe.py`` and the ORC
  writer/reader call them through their modules, so the wrappers see
  every call.  The RLE v2 segment census walks the headers of every
  stream ``rle2.encode`` returned during the stripe replay.
* ``orcscan.plan_tasks`` with and without the predicate.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

from tracing import SEGMENT_KINDS, rle2_census, self_times, total_times
from workload import (ORC_CODEC, ORC_STRIPE_ROWS, PREDICATE, STRIPE_ROWS,
                      CheckFailed, noop, p_hi)

PHASE_REPS = 2
KERNEL_WRITE_JOB = "phase:encode.kernel_write"
SELF_SPANS = ("stripe.encode_stripe", "stripe.decode_stripe",
              "stripe.encode_column", "stripe.encode_column.dictionary",
              "rle2.encode", "rle2.decode", "compression.compress",
              "compression.decompress", "orcwriter.write_orc",
              "orcfile.read_stripe_columns")
_CODEC_METRICS = (("compress_MBps", "MB/s"), ("decompress_MBps", "MB/s"),
                  ("compress_share", "ratio"), ("decompress_share", "ratio"),
                  ("ratio", "ratio"), ("original_chunk_ratio", "ratio"))

PER_LAYER = [
    ("spark.scan_s", "s"),
    ("spark.tasks", "count"),
    ("spark.input_records", "count"),
    ("spark.output_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.gc_ms", "ms"),
    ("spark.executor_run_ms", "ms"),
    ("boundary.s", "s"),
    ("boundary.share", "ratio"),
    ("encode.kernel_s", "s"),
    ("encode.write_s", "s"),
    ("encode.stripes", "count"),
    ("encode.stripe_tokens_p50", "tokens"),
    ("encode.stripe_tokens_max", "tokens"),
    ("decode.scan_s", "s"),
    ("decode.kernel_s", "s"),
    ("stripe.encode_tok_per_s", "tokens/s"),
    ("stripe.decode_tok_per_s", "tokens/s"),
    ("stripe.encode_ms_p50", "ms"),
    ("stripe.encode_ms_phi", "ms"),
    ("stripe.decode_ms_p50", "ms"),
    ("stripe.decode_ms_phi", "ms"),
    ("stripe.phi_pct", "%"),
    ("stripe.replay_stripes", "count"),
    ("rle2.encode_values_per_s", "values/s"),
    ("rle2.decode_values_per_s", "values/s"),
    ("rle2.encode_share", "ratio"),
    ("rle2.decode_share", "ratio"),
    *[(f"rle2.segments.{k}", "count") for k in SEGMENT_KINDS],
    ("dictionary.encode_share", "ratio"),
    *[(f"compression.{codec}.{m}", u) for codec in ("zstd", ORC_CODEC)
      for m, u in _CODEC_METRICS],
    ("orcwriter.write_tok_per_s", "tokens/s"),
    ("orcscan.planned_tasks", "count"),
    ("orcscan.stripes_kept_ratio", "ratio"),
    ("text.quality_scores_s", "s"),
    ("text.lang_id_s", "s"),
    ("dedup.minhash_lsh_pairs_s", "s"),
    ("dedup.pairs", "count"),
    ("similarity.cosine_topk_s", "s"),
    ("similarity.lsh_ann_topk_s", "s"),
    ("tracing.overhead_s", "s"),
    *[(f"self_s.{name}", "s") for name in SELF_SPANS],
]


def _timed(fn, tracer, name: str, reps: int = 1) -> float:
    """Median wall time of ``reps`` calls, each recorded as a span."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        with tracer.span(name):
            fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def phases(spark, wl, tracer, work: str) -> dict:
    from orc_spark.operators import encode as enc_ops
    tok = wl.tokens_df()
    stripes = spark.read.parquet(wl.paths.stripes)
    iso_dir = os.path.join(work, "phase_stripes")

    def passthrough(batches):
        yield from batches

    jobs = [
        ("spark.scan", lambda: noop(tok)),
        ("boundary.passthrough",
         lambda: noop(tok.mapInArrow(passthrough, tok.schema))),
        ("encode.kernel_noop",
         lambda: noop(enc_ops.encode(tok, stripe_rows=STRIPE_ROWS))),
        ("encode.kernel_write",
         lambda: enc_ops.encode(tok, stripe_rows=STRIPE_ROWS)
         .write.mode("overwrite").parquet(iso_dir)),
        ("decode.scan", lambda: noop(stripes)),
        ("decode.full", lambda: noop(enc_ops.decode(stripes))),
    ]
    sc = spark.sparkContext
    t = {}
    try:
        for name, fn in jobs:
            sc.setJobDescription(f"phase:{name}")
            t[name] = _timed(fn, tracer, f"phase.{name}", PHASE_REPS)
    finally:
        sc.setJobDescription(None)
    boundary = t["boundary.passthrough"] - t["spark.scan"]
    return {
        "spark.scan_s": t["spark.scan"],
        "boundary.s": boundary,
        "boundary.share": boundary / t["encode.kernel_noop"],
        "encode.kernel_s": t["encode.kernel_noop"] -
        t["boundary.passthrough"],
        "encode.write_s": t["encode.kernel_write"] - t["encode.kernel_noop"],
        "decode.scan_s": t["decode.scan"],
        "decode.kernel_s": t["decode.full"] - t["decode.scan"],
    }


def operators(wl, tracer) -> dict:
    from orc_spark.functions import dedup, similarity, text
    from workload import MIN_JACCARD, TOP_K
    docs, emb, q = wl.docs_df(), wl.emb_df(), wl.query
    return {
        "text.quality_scores_s": _timed(
            lambda: noop(text.quality_scores(docs)), tracer,
            "functions.text.quality_scores"),
        "text.lang_id_s": _timed(
            lambda: noop(text.lang_id(docs)), tracer,
            "functions.text.lang_id"),
        "dedup.minhash_lsh_pairs_s": _timed(
            lambda: noop(dedup.minhash_lsh_pairs(docs,
                                                 min_jaccard=MIN_JACCARD)),
            tracer, "functions.dedup.minhash_lsh_pairs"),
        "dedup.pairs": len(wl.last["pairs"]),
        "similarity.cosine_topk_s": _timed(
            lambda: similarity.cosine_topk(emb, q, k=TOP_K).collect(),
            tracer, "functions.similarity.cosine_topk"),
        "similarity.lsh_ann_topk_s": _timed(
            lambda: similarity.lsh_ann_topk(emb, q, k=TOP_K).collect(),
            tracer, "functions.similarity.lsh_ann_topk"),
    }


class Probe:
    """Wraps codec module attributes in spans and counts their work."""

    def __init__(self, tracer, census: bool):
        self.tracer = tracer
        self.rle_values = {"encode": 0, "decode": 0}
        self.rle_streams: list[bytes] | None = [] if census else None
        self.codec = defaultdict(lambda: defaultdict(int))

    def _rle_encode(self, rec, args, kwargs, out) -> None:
        self.rle_values["encode"] += len(args[0])
        if self.rle_streams is not None:
            self.rle_streams.append(out)

    def _rle_decode(self, rec, args, kwargs, out) -> None:
        self.rle_values["decode"] += len(out)

    def _compress(self, rec, args, kwargs, out) -> None:
        c = self.codec[args[1] if len(args) > 1 else kwargs.get("kind")]
        c["in"] += len(args[0])
        c["out"] += len(out)
        pos = 0
        while pos < len(out):     # ORC chunk headers: (len << 1) | orig
            v = int.from_bytes(out[pos:pos + 3], "little")
            c["chunks"] += 1
            c["original"] += v & 1
            pos += 3 + (v >> 1)

    def _decompress(self, rec, args, kwargs, out) -> None:
        kind = args[1] if len(args) > 1 else kwargs.get("kind")
        self.codec[kind]["decompressed"] += len(out)

    @staticmethod
    def _mark_dictionary(rec, args, kwargs, out) -> None:
        if rec is not None and out[0].startswith("DICTIONARY"):
            rec["name"] = "stripe.encode_column.dictionary"

    @contextmanager
    def installed(self):
        from orc_spark import stripe
        from orc_spark.codecs import compression, rle2
        hooks = [(rle2, "encode", "rle2.encode", self._rle_encode),
                 (rle2, "decode", "rle2.decode", self._rle_decode),
                 (compression, "compress", "compression.compress",
                  self._compress),
                 (compression, "decompress", "compression.decompress",
                  self._decompress),
                 (stripe, "encode_column", "stripe.encode_column",
                  self._mark_dictionary)]
        saved = []
        try:
            for mod, attr, name, after in hooks:
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrap(orig, name, after))
            yield self
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)

    def _wrap(self, orig, name, after):
        tracer = self.tracer

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
            after(rec, args, kwargs, out)
            return out
        return wrapper


def cut_stripes(table, max_rows: int, max_tokens: int):
    """Slice a token table the way the encode kernel closes stripes:
    after ``max_rows`` rows, or after the row that brings the buffered
    tokens to ``max_tokens``."""
    cum = np.cumsum(np.asarray(table.column("n_tok")).astype(np.int64))
    lo, n = 0, table.num_rows
    while lo < n:
        base = cum[lo - 1] if lo else 0
        j = int(np.searchsorted(cum, base + max_tokens, side="left"))
        end = min(j + 1, lo + max_rows, n)
        yield table.slice(lo, end - lo)
        lo = end


def _codec_metrics(prefix: str, c: dict, tot: dict, enc_s: float,
                   dec_s: float) -> dict:
    comp_s = tot.get("compression.compress", 0.0)
    decomp_s = tot.get("compression.decompress", 0.0)
    return {
        f"{prefix}.compress_MBps": c["in"] / 1e6 / comp_s,
        f"{prefix}.decompress_MBps": c["decompressed"] / 1e6 / decomp_s,
        f"{prefix}.compress_share": comp_s / enc_s,
        f"{prefix}.decompress_share": decomp_s / dec_s,
        f"{prefix}.ratio": c["out"] / c["in"],
        f"{prefix}.original_chunk_ratio": c["original"] / c["chunks"],
    }


def replay_stripes(wl, tracer, ledger) -> dict:
    """Encode and decode the workload's own stripes in this process."""
    import pyarrow.parquet as pq
    from orc_spark import stripe
    from orc_spark.operators.encode import DEFAULT_STRIPE_TOKENS

    mark = len(tracer.spans)
    probe = Probe(tracer, census=True)
    enc_ms, dec_ms, tokens = [], [], 0
    with probe.installed():
        for path in sorted(glob.glob(os.path.join(wl.paths.tokens,
                                                  "*.parquet"))):
            table = pq.read_table(path)
            for piece in cut_stripes(table, STRIPE_ROWS,
                                     DEFAULT_STRIPE_TOKENS):
                ledger.attempted["replay_stripe"] += 1
                t0 = time.perf_counter()
                with tracer.span("stripe.encode_stripe"):
                    row = stripe.encode_stripe(piece, stripe.TOKEN_SCHEMA)
                t1 = time.perf_counter()
                row.pop("_stats_obj", None)
                with tracer.span("stripe.decode_stripe"):
                    back = stripe.decode_stripe(row, stripe.TOKEN_SCHEMA)
                t2 = time.perf_counter()
                enc_ms.append((t1 - t0) * 1e3)
                dec_ms.append((t2 - t1) * 1e3)
                tokens += int(np.asarray(piece.column("n_tok")).sum())
                if not back.equals(piece.cast(back.schema)):
                    ledger.raised["replay_stripe"] += 1
    census = dict.fromkeys(SEGMENT_KINDS, 0)
    for buf in probe.rle_streams:
        try:
            counts, _ = rle2_census(buf)
        except ValueError:
            ledger.raised["replay_stripe"] += 1
            continue
        for k, v in counts.items():
            census[k] += v
    sub = tracer.spans[mark:]
    tot = total_times(sub)
    enc_s, dec_s = tot["stripe.encode_stripe"], tot["stripe.decode_stripe"]
    # the median stands in when no percentile above it is supported
    q, enc_hi = p_hi(enc_ms) or (50.0, statistics.median(enc_ms))
    _, dec_hi = p_hi(dec_ms) or (50.0, statistics.median(dec_ms))
    out = {
        "stripe.encode_tok_per_s": tokens / enc_s,
        "stripe.decode_tok_per_s": tokens / dec_s,
        "stripe.encode_ms_p50": statistics.median(enc_ms),
        "stripe.encode_ms_phi": enc_hi,
        "stripe.decode_ms_p50": statistics.median(dec_ms),
        "stripe.decode_ms_phi": dec_hi,
        "stripe.phi_pct": q,
        "stripe.replay_stripes": len(enc_ms),
        "rle2.encode_values_per_s":
            probe.rle_values["encode"] / tot["rle2.encode"],
        "rle2.decode_values_per_s":
            probe.rle_values["decode"] / tot["rle2.decode"],
        "rle2.encode_share": tot["rle2.encode"] / enc_s,
        "rle2.decode_share": tot["rle2.decode"] / dec_s,
        "dictionary.encode_share": self_times(sub).get(
            "stripe.encode_column.dictionary", 0.0) / enc_s,
        **{f"rle2.segments.{k}": v for k, v in census.items()},
        **_codec_metrics("compression.zstd", probe.codec["zstd"], tot,
                         enc_s, dec_s),
    }
    return out


def replay_orc(wl, tracer, work: str) -> dict:
    """Write one partition of the token table as a real .orc file in
    this process, then read every stripe back."""
    import pyarrow.parquet as pq
    from orc_spark.sources import orcwriter
    from orc_spark.sources.orcfile import ORCFile

    path = sorted(glob.glob(os.path.join(wl.paths.tokens, "*.parquet")))[0]
    table = pq.read_table(path)
    out_path = os.path.join(work, "replay.orc")
    mark = len(tracer.spans)
    probe = Probe(tracer, census=False)
    with probe.installed():
        with tracer.span("orcwriter.write_orc"):
            orcwriter.write_orc(table, out_path, codec=ORC_CODEC,
                                stripe_rows=ORC_STRIPE_ROWS)
        f = ORCFile(out_path)
        for si in range(len(f.stripes)):
            with tracer.span("orcfile.read_stripe_columns"):
                f.read_stripe_columns(si)
    tot = total_times(tracer.spans[mark:])
    tokens = int(np.asarray(table.column("n_tok")).sum())
    return {
        "orcwriter.write_tok_per_s": tokens / tot["orcwriter.write_orc"],
        **_codec_metrics(f"compression.{ORC_CODEC}", probe.codec[ORC_CODEC],
                         tot, tot["orcwriter.write_orc"],
                         tot["orcfile.read_stripe_columns"]),
    }


def orc_planning(wl) -> dict:
    from orc_spark.sources import orcscan
    files = orcscan.orc_files(wl.paths.orc)
    every, _ = orcscan.plan_tasks(files)
    kept, _ = orcscan.plan_tasks(files, predicate=PREDICATE)
    return {"orcscan.planned_tasks": len(every),
            "orcscan.stripes_kept_ratio": len(kept) / len(every)}


def collect(spark, wl, tracer, ledger, work: str) -> dict:
    """Every per-layer metric that needs the live session or the
    workload's files (the event-log ones come after the session
    stops)."""
    out = {"encode.stripes": wl.facts["stripes"],
           "encode.stripe_tokens_p50": wl.facts["stripe_tokens_p50"],
           "encode.stripe_tokens_max": wl.facts["stripe_tokens_max"]}
    out.update(phases(spark, wl, tracer, work))
    out.update(operators(wl, tracer))
    out.update(orc_planning(wl))
    mark = len(tracer.spans)
    out.update(replay_stripes(wl, tracer, ledger))
    out.update(replay_orc(wl, tracer, work))
    st = self_times(tracer.spans[mark:])
    out.update({f"self_s.{name}": st.get(name, 0.0) for name in SELF_SPANS})
    return out


def eventlog_metrics(eventlog_dir: str) -> dict:
    """Task metrics of the kernel + parquet write phase jobs, per run
    of the phase, from the session's Spark event log."""
    stage_desc: dict[int, str | None] = {}
    agg = defaultdict(int)
    for path in glob.glob(os.path.join(eventlog_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd" and \
                        stage_desc.get(ev.get("Stage ID")) == KERNEL_WRITE_JOB:
                    m = ev.get("Task Metrics") or {}
                    agg["tasks"] += 1
                    agg["run_ms"] += m.get("Executor Run Time", 0)
                    agg["gc_ms"] += m.get("JVM GC Time", 0)
                    agg["input"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0)
                    agg["output"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    agg["shuffle"] += (m.get("Shuffle Write Metrics") or
                                       {}).get("Shuffle Bytes Written", 0)
    if not agg["tasks"]:
        raise CheckFailed("no kernel-write tasks in the Spark event log")
    return {"spark.tasks": agg["tasks"] / PHASE_REPS,
            "spark.input_records": agg["input"] / PHASE_REPS,
            "spark.output_bytes": agg["output"] / PHASE_REPS,
            "spark.shuffle_write_bytes": agg["shuffle"] / PHASE_REPS,
            "spark.gc_ms": agg["gc_ms"] / PHASE_REPS,
            "spark.executor_run_ms": agg["run_ms"] / PHASE_REPS}

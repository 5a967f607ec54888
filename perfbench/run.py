"""Layered end-to-end benchmark for orc_spark.

    python3 perfbench/run.py --workload tokens_real --seed 1 \
        --seconds 30 --trace 0

One driver process is a single closed-loop client on local[nproc]: it
issues the Spark jobs of one workload one after another for
``--seconds`` seconds, checks every operation's output outside the
timed region, and prints one line per metric followed, as the last
line, by one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` the run is
traced and the metrics are the per-layer ones (see README.md).

Run it from the root of a checkout: it builds its inputs from the seed
and writes only under ``.perfbench_work/`` there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload -> the token table it encodes
WORKLOADS = {
    "tokens_real": {"replicate": 6},
    "tokens_synthetic": {"synthetic_docs": 10_000},
}
N_DOCS = 5000            # sf0.1 documents table size
N_VECS = 2000            # sf0.1 embeddings table size
SETUP_REPEATS = 3

E2E = [
    ("setup_s", "s"),
    ("write_tokens_per_s", "tokens/s"),
    ("read_tokens_per_s", "tokens/s"),
    ("projected_read_s", "s"),
    ("bytes_per_token", "B/token"),
    ("orc_write_tokens_per_s", "tokens/s"),
    ("orc_read_tokens_per_s", "tokens/s"),
    ("orc_bytes_per_token", "B/token"),
    ("peak_rss_mb", "MB"),
]
# metric -> (operation whose median time it reports, per token?)
_TIMED = {
    "write_tokens_per_s": ("write", True),
    "read_tokens_per_s": ("read", True),
    "projected_read_s": ("projected_read", False),
    "orc_write_tokens_per_s": ("orc_write", True),
    "orc_read_tokens_per_s": ("orc_read", True),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def git_sha() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, check=True,
                              timeout=30).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def materialise(spark, workload: str, seed: int, base: str,
                n_docs: int, n_vecs: int, scale: dict, n_files: int):
    """Generate and write every input of one workload run."""
    import inputs
    from workload import Paths
    paths = Paths(docs=os.path.join(base, "docs"),
                  tokens=os.path.join(base, "tokens"),
                  stripes=os.path.join(base, "stripes"),
                  orc=os.path.join(base, "orc"))
    mat = inputs.write_docs(paths.docs, n_docs, n_vecs, seed)
    if workload == "tokens_real":
        inputs.write_real_tokens(spark, paths.docs, paths.tokens,
                                 scale["replicate"], seed, n_files)
    else:
        inputs.write_synthetic_tokens(paths.tokens, scale["synthetic_docs"],
                                      seed, n_files)
    return paths, mat


def e2e_metrics(ledger, facts: dict, setup_s: float,
                peak_rss_bytes: int) -> dict:
    tokens = facts["tokens"]
    out = {"setup_s": setup_s,
           "bytes_per_token": facts.get("enc_bytes", 0) / tokens,
           "orc_bytes_per_token": facts.get("orc_bytes", 0) / tokens,
           "peak_rss_mb": peak_rss_bytes / (1 << 20)}
    for metric, (op, per_token) in _TIMED.items():
        ts = ledger.times.get(op)
        if not ts:
            out[metric] = 0.0
            continue
        med = statistics.median(ts)
        out[metric] = tokens / med if per_token else med
    return out


def describe_timings(ledger) -> None:
    from workload import p_hi
    for op, ts in ledger.times.items():
        hi = p_hi(ts)
        tail = f"p{hi[0]:.0f}={hi[1]:.4f}s" if hi else \
            "no percentile above the median has 10 samples beyond it"
        print(f"timing {op}: median={statistics.median(ts):.4f}s "
              f"wall_median={statistics.median(ledger.wall[op]):.4f}s "
              f"n={len(ts)} {tail}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "orc_spark", "__init__.py")):
        print("perfbench: no orc_spark package next to perfbench/; run "
              "from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import layers
    import session
    from tracing import RssSampler, Tracer, cpu_steal_s
    from workload import (CheckFailed, Ledger, Workload, run_checks,
                          run_rounds, warm_up)

    scale = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    mach = session.machine()
    cpus = mach["nproc"]
    n_files = 2 * cpus
    eventlog_dir = os.path.join(run_dir, "eventlog") if args.trace else None

    t0 = time.perf_counter()
    spark = session.start(ROOT, run_dir, cpus, mach["mem_total_mb"],
                          eventlog_dir)
    tracer = Tracer(enabled=bool(args.trace))
    layer_metrics: dict = {}
    phases = {"session_start_s": time.perf_counter() - t0}
    try:
        mat_s = []
        for i in range(SETUP_REPEATS):
            base = os.path.join(run_dir, f"input{i}")
            t = time.perf_counter()
            paths, mat = materialise(spark, args.workload, args.seed, base,
                                     N_DOCS, N_VECS, scale, n_files)
            mat_s.append(time.perf_counter() - t)
            if i + 1 < SETUP_REPEATS:
                shutil.rmtree(base)
        phases["materialise_s"] = mat_s
        wl = Workload(spark, paths, mat)
        ops = wl.ops()
        untimed = wl.pipeline_ops() if args.trace else []
        t = time.perf_counter()
        warm_up(wl, ops + untimed)
        phases["warm_up_s"] = time.perf_counter() - t
        setup_s = (phases["session_start_s"] + statistics.median(mat_s) +
                   phases["warm_up_s"])
        ledger = Ledger()
        t, steal = time.perf_counter(), cpu_steal_s()
        if args.trace:
            run_rounds(ops, args.seconds, tracer, ledger, paired=True)
            peak_rss = 0
        else:
            with RssSampler(top_python=cpus) as rss:
                run_rounds(ops, args.seconds, tracer, ledger)
            peak_rss = rss.peak_bytes
        phases["measure_s"] = time.perf_counter() - t
        phases["measure_steal_s"] = cpu_steal_s() - steal
        t = time.perf_counter()
        for op in untimed:
            ledger.attempted[op.name] += 1
        run_checks(ops + untimed, ledger, cpus)
        facts = wl.facts
        phases["checks_s"] = time.perf_counter() - t
        if args.trace:
            t = time.perf_counter()
            layer_metrics = layers.collect(spark, wl, tracer, ledger,
                                           run_dir)
            phases["layers_s"] = time.perf_counter() - t
            layer_metrics["tracing.overhead_s"] = sum(
                statistics.median(d) for d in ledger.overhead_s.values())
    finally:
        t = time.perf_counter()
        session.stop(spark)
        phases["stop_s"] = time.perf_counter() - t
    if args.trace:
        # the event log is complete only once the session has stopped
        ledger.attempted["eventlog"] += 1
        try:
            layer_metrics.update(layers.eventlog_metrics(eventlog_dir))
        except CheckFailed as exc:
            print(f"check failed: eventlog: {exc}", file=sys.stderr)
            ledger.raised["eventlog"] += 1

    import pyarrow
    import numpy
    import pyspark
    env = {**mach, "master": f"local[{cpus}]",
           "driver_memory_mb": session.driver_memory_mb(
               mach["mem_total_mb"]),
           "git_sha": git_sha(), "workload": args.workload,
           "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
           "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
           "numpy": numpy.__version__,
           "input": {k: facts[k] for k in ("rows", "tokens",
                                           "parquet_bytes")},
           "phases": phases,
           "samples": min((len(ts) for ts in ledger.times.values()),
                          default=0)}
    print(json.dumps({"env": env}))
    describe_timings(ledger)
    print(f"op_fail_ratio {ledger.fail_ratio():.6f} ratio "
          f"({ledger.n_failed} of {ledger.n_attempted} operations)")

    if args.trace:
        trace_dir = os.path.join(work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir,
                                 f"{args.workload}-seed{args.seed}.json"),
                    {"env": env, "metrics": layer_metrics})
        metrics = {name: {"value": layer_metrics.get(name, 0.0),
                          "unit": unit}
                   for name, unit in layers.PER_LAYER}
    else:
        values = e2e_metrics(ledger, facts, setup_s, peak_rss)
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in E2E}
    for name, m in metrics.items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": ledger.n_failed == 0,
                      "attempted": ledger.n_attempted,
                      "failed": ledger.n_failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

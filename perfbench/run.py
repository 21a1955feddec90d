#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload point_lookup --seed 1 --seconds 20 --trace 0

Builds the workload's tables from generated lineitem rows, measures a
closed loop for ``--seconds``, checks every distinct read against DuckDB,
prints a report and, as the last line, one JSON object with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Exits 2 without a result when the program's packages are not next to the
benchmark directory.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
# import the benchmark as a package from the checkout root, so its module
# names never shadow others
sys.path[0] = os.path.dirname(BENCH_DIR)

from perfbench.harness import (  # noqa: E402
    ROOT,
    Clock,
    Outcome,
    RunDir,
    failed_spark_tasks,
    percentile,
    program_present,
    result_line,
    start_spark,
    stop_spark,
    table_bytes,
)

CLOCK = Clock()

END_TO_END_UNITS = {
    "setup_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "queries_per_s": "1/s",
    "scan_rows_per_s": "rows/s",
    "ingest_rows_per_s": "rows/s",
    "stored_bytes_per_row": "B/row",
}


def parse_args(argv):
    from perfbench.workloads import SCALES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full",
                   help="input size; 'tiny' is for the smoke test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    if not program_present():
        print(f"perfbench: the program's packages are not in {ROOT}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    run_dir = RunDir()
    try:
        run_dir.enter()
        return run(args, run_dir)
    finally:
        run_dir.remove()


def run(args, run_dir: RunDir) -> int:
    from perfbench.data import Lineitem
    from perfbench.trace import Tracer
    from perfbench.workloads import SCALES, WORKLOADS, Bench

    scale = SCALES[args.scale]
    # lineitem generation overlaps the JVM start-up
    with ThreadPoolExecutor(max_workers=1) as ex:
        gen = ex.submit(Lineitem, scale["sf"], run_dir.data)
        t = time.perf_counter()
        spark = start_spark(run_dir)
        spark_start_s = time.perf_counter() - t
        try:
            lineitem = gen.result()
        except BaseException:
            stop_spark(spark)
            raise
    try:
        tracer = Tracer() if args.trace else None
        bench = Bench(spark, lineitem, run_dir.data, run_dir.cache, args.seed, scale)
        wl = WORKLOADS[args.workload](bench)
        t = time.perf_counter()
        wl.setup()
        build_s = time.perf_counter() - t
        wl.warm_up()
        setup_s = CLOCK.now()
        phases = {"spark_start_s": spark_start_s, "build_s": build_s,
                  "warm_up_s": time.perf_counter() - t - build_s}
        if not wl.ingest_in_loop:
            ingest = (bench.write_rows, bench.write_s)
        else:
            bench.write_rows, bench.write_s, bench.sink_s = 0, 0.0, []
        if tracer is None:
            loop_s = timed_loop(wl, args.seconds)
        else:
            from perfbench.trace import wrap_segment_reader

            bench.tracer = tracer
            with wrap_segment_reader(tracer):
                loop_s = timed_loop(wl, args.seconds)
        if wl.ingest_in_loop:
            ingest = (bench.write_rows, bench.write_s)
        bench.verify_scans(wl.threads)
        stored = sum(table_bytes(d) for d in wl.table_dirs()) / wl.live_rows()
        if tracer is not None:
            layer_passes(wl, tracer)
        outcome = Outcome(
            attempted=bench.attempted,
            errors=bench.errors,
            mismatches=bench.mismatches,
            failed_tasks=failed_spark_tasks(spark),
            notes=bench.notes,
        )
        lat = bench.latencies
        e2e = {
            "setup_s": setup_s,
            "query_p50_s": statistics.median(lat),
            "query_p90_s": percentile(lat, 90),
            "queries_per_s": len(lat) / loop_s,
            "scan_rows_per_s": bench.rows_covered / sum(lat),
            "ingest_rows_per_s": ingest[0] / ingest[1],
            "stored_bytes_per_row": stored,
        }
        report(args, bench, outcome, e2e, loop_s, phases)
        if tracer is None:
            metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in e2e.items()}
        else:
            from perfbench.layers import layer_metrics, write_trace

            metrics = layer_metrics(bench, tracer, spark_start_s, outcome.failed_tasks)
            out = write_trace(ROOT, args, tracer, metrics)
            print(f"trace: spans and summary in {os.path.relpath(out, ROOT)}")
    finally:
        stop_spark(spark)
        lineitem.close()
    print(result_line(outcome, metrics))
    return 0


def timed_loop(wl, seconds: float) -> float:
    """Run the closed loop from fresh latency records; returns its wall
    seconds."""
    wl.b.reset_measures()
    t = time.perf_counter()
    wl.loop(t + seconds)
    return time.perf_counter() - t


def layer_passes(wl, tracer) -> None:
    """Layers the loop does not drive on every workload: the sink's task
    writer on one input batch, the result cache on one query, and one
    compaction of the workload's table."""
    from perfbench.trace import wrap_segment_reader

    b = wl.b
    with wrap_segment_reader(tracer):
        b.encode_pass(wl.encode_input(), wl.name)
        if not b.cache_calls:
            for _ in range(3):  # one miss, then hits
                b.cached(wl.dashboard())
        if not b.compact_calls:
            b.compact(*wl.compact_target())


def report(args, bench, outcome, e2e, loop_s, phases) -> None:
    lat = bench.latencies
    beyond_p90 = sum(x > e2e["query_p90_s"] for x in lat)
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} scale={args.scale}")
    for k, v in e2e.items():
        print(f"  {k:<22} {v:14.6g} {END_TO_END_UNITS[k]}")
    print("  per shape: " + " ".join(
        f"{k}(n={len(v)},p50={statistics.median(v):.3f})" for k, v in sorted(bench.by_shape.items())))
    print("  setup: " + " ".join(f"{k}={v:.3f}" for k, v in phases.items()))
    print(f"  reads={len(lat)} beyond_p90={beyond_p90} loop_s={loop_s:.3f} "
          f"writes={len(bench.sink_s)} compactions={len(bench.compact_calls)}")
    if bench.compact_calls:
        cs = statistics.median(c["s"] for c in bench.compact_calls)
        print(f"  {'compact_s':<22} {cs:14.6g} s")
    print(f"  {'failed_ratio':<22} {outcome.failed_ratio:14.6g} ratio")
    verdict = "PASS" if outcome.failed == 0 else "FAIL"
    print(f"check: {verdict} {bench.checked} results compared with DuckDB; "
          f"attempted={outcome.attempted} errors={outcome.errors} "
          f"wrong={outcome.mismatches} failed_tasks={outcome.failed_tasks}")
    for n in outcome.notes:
        print(f"  note: {n}")
    sys.stdout.flush()


if __name__ == "__main__":
    sys.exit(main())

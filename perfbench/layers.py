"""Per-layer metrics of a traced run, computed from its spans and the
calls the benchmark timed directly, and the trace files it writes."""

from __future__ import annotations

import json
import os
import statistics

from perfbench.trace import Tracer, output_dir, summarize

LAYER_UNITS = {
    "spark_session.start_s": "s",
    "writer.encode_ns_per_row": "ns/row",
    "pinot_datasource.sink_s_per_batch": "s",
    "catalog.discover_ms": "ms",
    "manifest.lookup_ms": "ms",
    "manifest.fresh_ratio": "ratio",
    "pinot_datasource.schema_ms": "ms",
    "pinot_datasource.plan_ms": "ms",
    "pinot_datasource.tasks_per_query": "count",
    "pinot_datasource.segments_kept_ratio": "ratio",
    "pinot_datasource.read_ms_per_task": "ms",
    "pinot_datasource.read_rows_per_s": "rows/s",
    "segment_reader.open_ms": "ms",
    "segment_reader.decode_ns_per_row.dict": "ns/row",
    "segment_reader.decode_ns_per_row.raw": "ns/row",
    "segment_reader.decode_ns_per_row.lz4": "ns/row",
    "segment_reader.probe_ms": "ms",
    "spark.load_ms": "ms",
    "spark.handoff_ms": "ms",
    "spark.failed_tasks": "count",
    "cache.hit_ratio": "ratio",
    "cache.digest_ms": "ms",
    "maintenance.compact_s": "s",
    "maintenance.rewritten_bytes_per_live_byte": "ratio",
    "maintenance.segments_in_out": "ratio",
    "trace.overhead_ratio": "ratio",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(bench, tracer: Tracer, spark_start_s: float,
                  failed_tasks: int) -> dict[str, tuple[float, str]]:
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s)

    def ms(name: str) -> list[float]:
        return [(s["end"] - s["start"]) / 1e6 for s in by_name.get(name, ())]

    def mean_ms(*names: str) -> float:
        vals = [v for n in names for v in ms(n)]
        return statistics.fmean(vals) if vals else 0.0

    def count(name: str, key: str) -> float:
        return sum(s["counts"].get(key, 0) for s in by_name.get(name, ()))

    def ns_per_row(name: str) -> float:
        return _ratio(sum(ms(name)) * 1e6, count(name, "rows"))

    compacts = bench.compact_calls
    digests = [c["digest_ms"] for c in bench.cache_calls if c["digest_ms"] is not None]
    values = {
        "spark_session.start_s": spark_start_s,
        "writer.encode_ns_per_row": ns_per_row("writer.write_segment"),
        "pinot_datasource.sink_s_per_batch": statistics.median(bench.sink_s),
        "catalog.discover_ms": mean_ms("catalog.discover"),
        "manifest.lookup_ms": mean_ms("manifest.lookup"),
        "manifest.fresh_ratio": _ratio(count("manifest.lookup", "fresh"),
                                       count("manifest.lookup", "segments")),
        "pinot_datasource.schema_ms": mean_ms("pinot_datasource.schema"),
        "pinot_datasource.plan_ms": mean_ms("pinot_datasource.plan"),
        "pinot_datasource.tasks_per_query": _ratio(count("pinot_datasource.plan", "tasks"),
                                                   len(ms("pinot_datasource.plan"))),
        "pinot_datasource.segments_kept_ratio": _ratio(count("pinot_datasource.plan", "kept"),
                                                       count("pinot_datasource.plan", "segments")),
        "pinot_datasource.read_ms_per_task": mean_ms("pinot_datasource.read_task"),
        "pinot_datasource.read_rows_per_s": _ratio(count("pinot_datasource.read_task", "rows"),
                                                   sum(ms("pinot_datasource.read_task")) / 1e3),
        "segment_reader.open_ms": mean_ms("segment_reader.open"),
        "segment_reader.decode_ns_per_row.dict": ns_per_row("segment_reader.decode_probe.dict"),
        "segment_reader.decode_ns_per_row.raw": ns_per_row("segment_reader.decode_probe.raw"),
        "segment_reader.decode_ns_per_row.lz4": ns_per_row("segment_reader.decode_probe.lz4"),
        "segment_reader.probe_ms": mean_ms("segment_reader.probe.inverted",
                                           "segment_reader.probe.sorted",
                                           "segment_reader.probe.bloom"),
        "spark.load_ms": mean_ms("spark.load"),
        "spark.handoff_ms": statistics.median(bench.handoff_ms) if bench.handoff_ms else 0.0,
        "spark.failed_tasks": failed_tasks,
        "cache.hit_ratio": _ratio(sum(c["hit"] for c in bench.cache_calls), len(bench.cache_calls)),
        "cache.digest_ms": statistics.fmean(digests) if digests else 0.0,
        "maintenance.compact_s": statistics.median(c["s"] for c in compacts),
        "maintenance.rewritten_bytes_per_live_byte": _ratio(
            sum(c["rewritten_bytes"] for c in compacts), compacts[-1]["live_bytes"]),
        "maintenance.segments_in_out": _ratio(sum(c["segments_in"] for c in compacts),
                                              sum(c["segments_out"] for c in compacts)),
        # a traced read's whole span tree over its Spark part, which is
        # what the same read costs untraced
        "trace.overhead_ratio": _ratio(sum(ms("query")),
                                       sum(ms("query")) - sum(ms("inproc"))),
    }
    return {k: (float(v), LAYER_UNITS[k]) for k, v in values.items()}


def dominant(tracer: Tracer, metrics: dict) -> dict:
    """Which costs more per query: in-process decode or Spark's hand-off."""
    queries = sum(1 for s in tracer.spans if s["name"] == "query")
    decode_ms = sum(
        (s["end"] - s["start"]) / 1e6 for s in tracer.spans if s["name"] == "segment_reader.decode"
    )
    per_query = _ratio(decode_ms, queries)
    handoff = metrics["spark.handoff_ms"][0]
    return {
        "queries": queries,
        "decode_ms_per_query": per_query,
        "handoff_ms_per_query": handoff,
        "dominant": "spark.handoff" if handoff >= per_query else "segment_reader.decode",
    }


def write_trace(root: str, args, tracer: Tracer, metrics: dict) -> str:
    out = output_dir(root, args.workload, args.seed)
    tracer.write(os.path.join(out, "spans.jsonl"))
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "self_time": summarize(tracer.spans),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "decode_vs_handoff": dominant(tracer, metrics),
    }
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    d = summary["decode_vs_handoff"]
    print(f"  dominant per query: {d['dominant']} (decode {d['decode_ms_per_query']:.2f} ms, "
          f"handoff {d['handoff_ms_per_query']:.2f} ms over {d['queries']} traced reads)")
    for k, (v, u) in metrics.items():
        print(f"  {k:<44} {v:14.6g} {u}")
    return out

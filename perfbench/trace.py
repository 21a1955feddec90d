"""Spans around calls into the program's layers, recorded from the
benchmark's side only (the program carries no tracing).

A traced op is one span tree: the Spark calls a user makes, then an
in-process replay of the same read through the layers Spark drives in its
Python workers (catalog, manifest, ``PinotDataSource`` schema / plan /
read), with ``SegmentReader`` calls wrapped while the replay runs. Spans
are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        """Record ``name`` as a child of this thread's open span. The
        yielded dict's ``counts`` may be updated inside the block."""
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": stack[-1] if stack else None,
            "name": name,
            "start": time.perf_counter_ns(),
            "end": None,
            "counts": dict(counts),
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter_ns()
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict[int, int]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in sorted(children.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def summarize(spans: list[dict]) -> dict:
    """Per layer (the span name's first dotted part) and per span name:
    calls, total and self milliseconds, and summed counts."""
    selft = self_times(spans)
    by_name: dict[str, dict] = {}
    by_layer: dict[str, dict] = {}
    for s in spans:
        for key, table in ((s["name"], by_name), (s["name"].split(".")[0], by_layer)):
            e = table.setdefault(key, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0, "counts": {}})
            e["calls"] += 1
            e["total_ms"] += (s["end"] - s["start"]) / 1e6
            e["self_ms"] += selft[s["id"]] / 1e6
            for k, v in s["counts"].items():
                if isinstance(v, (int, float)):
                    e["counts"][k] = e["counts"].get(k, 0) + v
    return {"layers": by_layer, "spans": by_name}


@contextlib.contextmanager
def wrap_segment_reader(tracer: Tracer):
    """Wrap the ``SegmentReader`` calls the read path makes (open, Arrow
    decode, index probes) with spans for the duration of the block."""
    from pinot_segment.segment_reader import SegmentReader

    originals = {}

    def wrap(attr: str, span: str, counter=None):
        orig = SegmentReader.__dict__[attr]
        originals[attr] = orig
        fn = orig.__func__ if isinstance(orig, classmethod) else orig

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span) as rec:
                out = fn(*args, **kwargs)
                if counter is not None:
                    rec["counts"].update(counter(out))
                return out

        setattr(SegmentReader, attr, classmethod(traced) if isinstance(orig, classmethod) else traced)

    wrap("open", "segment_reader.open")
    wrap("read_columns_arrow", "segment_reader.decode", lambda t: {"rows": t.num_rows, "columns": t.num_columns})
    wrap("inverted_match_mask", "segment_reader.probe.inverted")
    wrap("sorted_row_range", "segment_reader.probe.sorted")
    wrap("bloom_might_contain", "segment_reader.probe.bloom")
    try:
        yield
    finally:
        for attr, orig in originals.items():
            setattr(SegmentReader, attr, orig)


def replay_read(tracer: Tracer, query) -> dict:
    """Drive one read through the program's layers in-process, as Spark's
    Python workers do: discover segments, look the manifest up, build the
    schema, push filters, plan partitions, read every partition."""
    from datafusion_pinot_spark.catalog import FileSystemMetadataProvider
    from datafusion_pinot_spark.sources.pinot_datasource import PinotDataSource
    from pinot_segment.manifest import stats_for_segments

    table = query.table
    t_plan = time.perf_counter()
    with tracer.span("catalog.discover") as rec:
        segs = FileSystemMetadataProvider(table.data_dir).get_segment_paths(table.name)
        rec["counts"]["segments"] = len(segs)
    with tracer.span("manifest.lookup") as rec:
        stats = stats_for_segments(segs)
        rec["counts"].update(
            segments=len(stats), fresh=sum(v is not None for v in stats.values())
        )
    source = PinotDataSource(query.read_options())
    with tracer.span("pinot_datasource.schema"):
        schema = source.schema()
    with tracer.span("pinot_datasource.plan") as rec:
        reader = source.reader(schema)
        list(reader.pushFilters([p.pushed() for p in query.where]))
        parts = reader.partitions()
        kept = sum(len(p.segment_dirs) for p in parts)
        rec["counts"].update(tasks=len(parts), segments=len(segs), kept=kept)
    plan_s = time.perf_counter() - t_plan
    rows = 0
    with tracer.span("pinot_datasource.read") as rec:
        for p in parts:
            with tracer.span("pinot_datasource.read_task") as trec:
                n = sum(b.num_rows for b in reader.read(p))
                trec["counts"]["rows"] = n
            rows += n
        rec["counts"].update(tasks=len(parts), rows=rows)
    read_s = time.perf_counter() - t_plan - plan_s
    return {"tasks": len(parts), "rows": rows, "plan_s": plan_s, "read_s": read_s}


def decode_probe(tracer: Tracer, segment_dir: str, columns: dict[str, str]) -> None:
    """Decode one column of each encoding from one segment (``columns``
    maps encoding label -> column name)."""
    from pinot_segment.segment_reader import SegmentReader

    reader = SegmentReader.open(segment_dir)
    for label, col in columns.items():
        with tracer.span(f"segment_reader.decode_probe.{label}") as rec:
            t = reader.read_columns_arrow([col])
            rec["counts"]["rows"] = t.num_rows


def output_dir(root: str, workload: str, seed: int) -> str:
    path = os.path.join(root, ".perfbench_out", f"{workload}-seed{seed}")
    os.makedirs(path, exist_ok=True)
    return path

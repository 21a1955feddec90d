"""The workloads: their tables, their closed loops and their checks.

Each workload builds its tables through the pinot sink, warms up, then
runs a closed loop for the measured seconds. A read is timed from plan
build to full materialisation: aggregates through ``collect()``, whose
rows are then compared with DuckDB over the same input rows on every
execution; scans through the ``noop`` sink, each distinct scan collected
and checked once after the loop.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import random
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from perfbench.data import COLUMNS, Lineitem, Table, sink_write
from perfbench.harness import cpus, table_bytes
from perfbench.queries import Pred, Query, compare, expected
from perfbench.trace import Tracer, decode_probe, replay_read

# Sizes per scale: "full" is the benchmark, "tiny" the smoke test.
SCALES = {
    "full": {
        "sf": 0.1,
        "scan_segments": 16,
        "lookup_rows": 160_000,
        "lookup_segments": 16,
        "lookup_pool": 40,
        "ingest_base_rows": 40_000,
        "ingest_batch_rows": 5_000,
        "ingest_batches": 16,
        "compact_every": 2,
    },
    "tiny": {
        "sf": 0.01,
        "scan_segments": 4,
        "lookup_rows": 20_000,
        "lookup_segments": 6,
        "lookup_pool": 10,
        "ingest_base_rows": 4_000,
        "ingest_batch_rows": 1_000,
        "ingest_batches": 16,
        "compact_every": 2,
    },
}

ENCODINGS = {"dict": "l_shipmode", "raw": "l_extendedprice", "lz4": "l_part"}
TS_BASE = dt.datetime(1995, 1, 1)
PACKED = {"segments_per_partition": "auto"}


class Bench:
    """State of one run: the session, the inputs, and what was measured."""

    def __init__(self, spark, lineitem: Lineitem, data_dir: str, cache_dir: str,
                 seed: int, scale: dict) -> None:
        self.spark = spark
        self.li = lineitem
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.seed = seed
        self.rng = random.Random(seed)
        self.scale = scale
        self.tracer: Tracer | None = None
        self.lock = threading.Lock()
        self.reset_measures()
        self.attempted = 0
        self.errors = 0
        self.mismatches = 0
        self.checked = 0
        self.notes: list[str] = []
        self.scans: dict[tuple, Query] = {}
        self.executed: Counter = Counter()
        self._want: dict[tuple, list] = {}
        self._cursors = threading.local()
        self.sink_s: list[float] = []
        self.write_rows = 0
        self.write_s = 0.0
        self.compact_calls: list[dict] = []
        self.cache_calls: list[dict] = []
        self.handoff_ms: list[float] = []

    def reset_measures(self) -> None:
        self.latencies = []
        self.by_shape: dict[str, list[float]] = {}
        self.rows_covered = 0

    def _timed(self, q: Query, took: float) -> None:
        with self.lock:
            self.latencies.append(took)
            self.by_shape.setdefault(q.shape, []).append(took)
            self.rows_covered += q.table.rid_hi
            self.executed[q.key] += 1

    def note(self, msg: str) -> None:
        with self.lock:
            if len(self.notes) < 20:
                self.notes.append(msg)

    def table_dir(self, name: str) -> str:
        return os.path.join(self.data_dir, f"{name}_OFFLINE")

    def _cursor(self):
        cur = getattr(self._cursors, "cur", None)
        if cur is None:
            cur = self._cursors.cur = self.li.cursor()
        return cur

    # -- ops ---------------------------------------------------------------
    def write(self, df, table_dir: str, mode: str, rows: int, bloom=()) -> None:
        """One sink ``save()``."""
        t = time.perf_counter()
        sink_write(df, table_dir, mode, bloom)
        took = time.perf_counter() - t
        with self.lock:
            self.sink_s.append(took)
            self.write_rows += rows
            self.write_s += took

    def append(self, df, table_dir: str, rows: int) -> bool:
        """A timed append op; False when it failed."""
        with self.lock:
            self.attempted += 1
        try:
            self.write(df, table_dir, "append", rows)
            return True
        except Exception as e:  # a failed op is counted, the loop goes on
            self._failed("append", e)
            return False

    def _failed(self, what: str, e: Exception) -> None:
        with self.lock:
            self.errors += 1
        self.note(f"{what}: {type(e).__name__}: {str(e)[:200]}")

    def read(self, q: Query, timed: bool = True) -> None:
        """Run ``q`` to full materialisation (traced when the run traces)
        and check it."""
        if timed:
            with self.lock:
                self.attempted += 1
        try:
            if self.tracer is not None and timed:
                took, rows = self._traced_read(q)
            else:
                t = time.perf_counter()
                rows = self._execute(q, q.load(self.spark))
                took = time.perf_counter() - t
        except Exception as e:
            if timed:
                self._failed(q.shape, e)
            else:
                self.note(f"warm-up {q.shape}: {type(e).__name__}: {str(e)[:200]}")
            return
        if q.collects:
            self._check(q, rows, timed)
        else:
            with self.lock:
                self.scans.setdefault(q.key, q)
        if timed:
            self._timed(q, took)

    def _execute(self, q: Query, df):
        plan = q.plan(df)
        if q.collects:
            return [tuple(r) for r in plan.collect()]
        plan.write.format("noop").mode("overwrite").save()
        return None

    def _check(self, q: Query, rows, count: bool) -> None:
        cur = self._cursor()
        want = self._want.get(q.key)
        if want is None:
            want = self._want[q.key] = expected(q, cur)
        diff = compare(q, rows, cur, want)
        with self.lock:
            self.checked += 1
            if diff is not None:
                self.mismatches += count
        if diff is not None:
            self.note(diff)

    def _traced_read(self, q: Query):
        tr = self.tracer
        with tr.span("query", shape=q.shape) as root:
            t = time.perf_counter()
            with tr.span("spark.load"):
                df = q.load(self.spark)
            with tr.span("spark.execute"):
                rows = self._execute(q, df)
            took = time.perf_counter() - t
            with tr.span("inproc"):
                info = replay_read(tr, q)
                seg = _probe_segment(q.table, self.rng)
                if seg is not None:
                    decode_probe(tr, seg, ENCODINGS)
                    _index_probe(seg)
            # in-process read time spread over the tasks Spark runs at once
            parallel = max(1, min(cpus(), info["tasks"]))
            handoff_ms = (took - info["plan_s"] - info["read_s"] / parallel) * 1e3
            root["counts"]["handoff_ms"] = handoff_ms
            with self.lock:
                self.handoff_ms.append(handoff_ms)
        return took, rows

    def verify_scans(self, threads: int = 1) -> None:
        """Collect each distinct scan once and compare with DuckDB; a wrong
        answer fails every timed execution of that scan."""

        def one(q: Query) -> None:
            try:
                got = [tuple(r) for r in q.check_plan(q.plan(q.load(self.spark))).collect()]
                diff = compare(q, got, self._cursor())
            except Exception as e:
                diff = f"{q.shape}: check raised {type(e).__name__}: {str(e)[:200]}"
            with self.lock:
                self.checked += 1
                if diff is not None:
                    self.mismatches += max(1, self.executed[q.key])
            if diff is not None:
                self.note(diff)

        with ThreadPoolExecutor(max_workers=threads) as ex:
            for f in [ex.submit(one, q) for q in list(self.scans.values())]:
                f.result()

    def compact(self, table_dir: str, target_docs: int) -> None:
        """A timed ``compact_table`` op."""
        from datafusion_pinot_spark.maintenance import compact_table

        with self.lock:
            self.attempted += 1
        t = time.perf_counter()
        try:
            out = compact_table(self.spark, table_dir, target_docs)
        except Exception as e:
            self._failed("compact_table", e)
            return
        took = time.perf_counter() - t
        self.compact_calls.append({
            "s": took,
            "segments_in": len(out["removed_segments"]),
            "segments_out": len(out["merged_segments"]),
            "rewritten_bytes": sum(
                table_bytes(os.path.join(table_dir, s)) for s in out["merged_segments"]
            ),
            "live_bytes": table_bytes(table_dir),
        })

    def cached(self, q: Query) -> None:
        """A timed dashboard read through the result cache, checked."""
        from datafusion_pinot_spark import cache

        built = []

        def build(spark):
            built.append(1)
            return q.plan(q.load(spark))

        with self.lock:
            self.attempted += 1
        digest_ms = None
        try:
            if self.tracer is not None:
                with self.tracer.span("cache.digest") as rec:
                    cache.table_state_digest(q.table.dir)
                digest_ms = (rec["end"] - rec["start"]) / 1e6
            t = time.perf_counter()
            df = cache.cached_query(self.spark, q.table.dir, self.cache_dir, q.shape, build)
            rows = [tuple(r) for r in df.collect()]
            took = time.perf_counter() - t
        except Exception as e:
            self._failed(f"{q.shape} (cached)", e)
            return
        self._check(q, rows, True)
        self._timed(q, took)
        self.cache_calls.append({"hit": not built, "digest_ms": digest_ms})

    def encode_pass(self, parquet_path: str, label: str) -> None:
        """Run the sink's task-side writer in-process on one input batch
        (into a scratch table) with ``write_segment`` wrapped."""
        import pyarrow.parquet as pq

        import pinot_segment.writer as writer_mod
        from datafusion_pinot_spark.sources.pinot_datasource import PinotDataSource
        from perfbench.data import INVERTED_COLUMNS, RAW_COLUMNS

        tr = self.tracer
        schema = self.spark.read.parquet(parquet_path).schema
        batches = pq.read_table(parquet_path).to_batches()
        rows = sum(b.num_rows for b in batches)
        orig = writer_mod.write_segment

        def traced(*args, **kwargs):
            with tr.span("writer.write_segment", rows=rows):
                return orig(*args, **kwargs)

        writer_mod.write_segment = traced
        try:
            src = PinotDataSource({
                "path": self.table_dir(f"encode_{label}"),
                "raw": ",".join(RAW_COLUMNS),
                "inverted": ",".join(INVERTED_COLUMNS),
            })
            with tr.span("pinot_datasource.sink_task", rows=rows):
                src.writer(schema, False).write(iter(batches))
        finally:
            writer_mod.write_segment = orig


def _probe_segment(table: Table, rng: random.Random) -> str | None:
    segs = sorted(
        os.path.join(table.dir, e, "v3") for e in os.listdir(table.dir)
        if os.path.isdir(os.path.join(table.dir, e, "v3"))
    )
    return rng.choice(segs) if segs else None


def _index_probe(seg: str) -> None:
    """One call of each index probe on a segment (spans come from the
    SegmentReader wrappers)."""
    from pinot_segment.segment_reader import SegmentReader

    r = SegmentReader.open(seg)
    r.inverted_match_mask("l_tag", ["rare-3"])
    r.sorted_row_range("l_orderkey", 1000, True, 2000, True)
    r.bloom_might_contain("l_orderkey", [1000])


def _closed_loop(clients: int, deadline: float, op_stream) -> None:
    """``clients`` threads, each issuing its next op when the last ends."""

    def client(i: int) -> None:
        for op in op_stream(i):
            if time.perf_counter() >= deadline:
                return
            op()

    with ThreadPoolExecutor(max_workers=clients) as ex:
        for f in [ex.submit(client, i) for i in range(clients)]:
            f.result()


# -- workloads ---------------------------------------------------------------


class Workload:
    name = ""
    threads = 1
    ingest_in_loop = False  # else ingest is measured on the set-up writes

    def __init__(self, bench: Bench) -> None:
        self.b = bench

    def setup(self) -> None:
        """Build the tables (through the sink) the loop reads."""
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def loop(self, deadline: float) -> None:
        raise NotImplementedError

    def table_dirs(self) -> list[str]:
        raise NotImplementedError

    def live_rows(self) -> int:
        raise NotImplementedError

    def dashboard(self) -> Query:
        """The query the traced run sends through the result cache."""
        raise NotImplementedError

    def encode_input(self) -> str:
        """A parquet batch for the in-process encode pass."""
        raise NotImplementedError

    def compact_target(self) -> tuple[str, int]:
        """Table and target docs for the traced run's compaction pass
        (needed only when the loop does not compact)."""
        raise NotImplementedError


class WideScan(Workload):
    """One client cycling the reference's seven shapes over a table of
    scan-sized segments, default read options."""

    name = "wide_scan"

    def setup(self) -> None:
        b = self.b
        self.parquet = b.li.export("lineitem", 0, b.li.rows)
        self.table = Table("scan", b.table_dir("scan"), b.li.rows)
        df = (
            b.spark.read.parquet(self.parquet)
            .repartitionByRange(b.scale["scan_segments"], "l_orderkey")
            .sortWithinPartitions("l_orderkey")
        )
        b.write(df, self.table.dir, "overwrite", b.li.rows)
        self.shapes = scan_shapes(self.table)

    def warm_up(self) -> None:
        for q in self.shapes:
            self.b.read(q, timed=False)

    def loop(self, deadline: float) -> None:
        rng = random.Random(self.b.seed * 7 + 1)

        def stream(_):
            while True:
                order = list(self.shapes)
                rng.shuffle(order)
                for q in order:
                    yield lambda q=q: self.b.read(q)

        _closed_loop(1, deadline, stream)

    def table_dirs(self):
        return [self.table.dir]

    def live_rows(self):
        return self.table.rid_hi

    def dashboard(self):
        return self.shapes[4]

    def encode_input(self):
        return self.parquet

    def compact_target(self):
        return self.table.dir, 2 * self.table.rid_hi // self.b.scale["scan_segments"] + 1


def scan_shapes(t: Table) -> list[Query]:
    """The reference's seven benchmark shapes (BASELINE.md) on lineitem."""
    return [
        Query("count_star", t, (), aggs=(("count(*)", "n"),)),
        Query("scan_dict", t, ("l_returnflag", "l_shipmode", "l_tag"), check="fingerprint"),
        Query("scan_raw_lz4", t, ("l_comment", "l_quantity"), check="fingerprint"),
        Query(
            "agg_sum_avg_max", t, ("l_extendedprice", "l_quantity", "l_discount"),
            aggs=(("sum(l_extendedprice)", "s"), ("avg(l_quantity)", "a"), ("max(l_discount)", "m")),
        ),
        Query(
            "groupby_topk", t, ("l_shipmode", "l_extendedprice"),
            aggs=(("count(*)", "n"), ("sum(l_extendedprice)", "s")),
            group=("l_shipmode",), order=(("s", True),), limit=10,
        ),
        Query(
            "groupby_raw_topk", t, ("l_part", "l_quantity"),
            aggs=(("avg(l_quantity)", "a"),), group=("l_part",),
            order=(("a", True), ("l_part", False)), limit=10,
        ),
        Query("projection_limit", t, ("l_comment", "l_quantity", "l_extendedprice"),
              limit=10, check="subset"),
    ]


class PointLookup(Workload):
    """``nproc`` clients sending selective probes to many small segments:
    a key-sorted table (zone maps, sorted ranges, inverted tag, TIMESTAMP
    range) and the same rows hashed on the key with a bloom filter."""

    name = "point_lookup"

    @property
    def threads(self):
        return cpus()

    def setup(self) -> None:
        b = self.b
        n = min(b.scale["lookup_rows"], b.li.rows)
        cols = tuple(c for c in COLUMNS if c != "l_comment")
        self.parquet = b.li.export("lookup", 0, n, cols)
        segs = b.scale["lookup_segments"]
        self.sorted_t = Table("lk_sorted", b.table_dir("lk_sorted"), n)
        self.hashed_t = Table("lk_hashed", b.table_dir("lk_hashed"), n)
        src = b.spark.read.parquet(self.parquet)
        b.write(
            src.repartitionByRange(segs, "l_orderkey").sortWithinPartitions("l_orderkey"),
            self.sorted_t.dir, "overwrite", n,
        )
        b.write(src.repartition(segs, "l_orderkey"), self.hashed_t.dir, "overwrite", n,
                bloom=("l_orderkey",))
        self.pool = self._pool(b.li.orderkeys(n), b.scale["lookup_pool"])

    def _pool(self, keys: list[int], size: int) -> list[Query]:
        """``size`` probes, five kinds in turn; every other group of five
        asks for absent keys (half inside the key range, half past it).
        Reads pack the surviving small segments into tasks
        (``segments_per_partition=auto``, the source's option for tables of
        many small segments); default packing is read by ingest_compact."""
        rng = random.Random(self.b.seed * 7 + 2)
        present = set(keys)
        kmax = keys[-1]

        absent_keys = itertools.count()

        def key(absent: bool) -> int:
            if not absent:
                return rng.choice(keys)
            if next(absent_keys) % 2 == 0:  # inside the key range: zone maps keep it
                while True:
                    k = rng.randint(1, kmax)
                    if k not in present:
                        return k
            return kmax + rng.randint(1, kmax)  # past the range: pruned

        s, h = self.sorted_t, self.hashed_t
        agg = (("count(*)", "n"), ("sum(l_extendedprice)", "s"))
        out = []
        for i in range(size):
            absent = (i // 5) % 2 == 1
            kind = i % 5
            if kind == 0:
                out.append(Query("sorted_eq", s, ("l_orderkey", "l_extendedprice"),
                                 (Pred("l_orderkey", "=", key(absent)),), agg, options=PACKED))
            elif kind == 1:
                lo = key(absent)
                out.append(Query("sorted_range", s, ("l_orderkey", "l_extendedprice"),
                                 (Pred("l_orderkey", ">=", lo),
                                  Pred("l_orderkey", "<=", lo + rng.randint(20, 200))), agg, options=PACKED))
            elif kind == 2:
                ks = tuple(sorted({key(absent) for _ in range(3)}))
                out.append(Query("bloom_in", h, ("l_orderkey", "l_extendedprice"),
                                 (Pred("l_orderkey", "in", ks),), agg, options=PACKED))
            elif kind == 3:
                tag = f"rare-{rng.randrange(20) + (20 if absent else 0)}"
                out.append(Query("inverted_eq", s, ("l_tag", "l_extendedprice"),
                                 (Pred("l_tag", "=", tag),), agg, options=PACKED))
            else:
                t0 = TS_BASE + dt.timedelta(minutes=key(absent))
                out.append(Query("ts_range", s, ("l_ts", "l_extendedprice"),
                                 (Pred("l_ts", ">=", t0),
                                  Pred("l_ts", "<", t0 + dt.timedelta(minutes=rng.randint(5, 60)))),
                                 agg, options=PACKED))
        return out

    def warm_up(self) -> None:
        # each client's first probe, all at once: the cold start of the
        # session's Python workers overlaps as it will in the loop
        with ThreadPoolExecutor(max_workers=self.threads) as ex:
            for f in [ex.submit(self.b.read, self.pool[self._start(i)], False)
                      for i in range(self.threads)]:
                f.result()

    def _start(self, client: int) -> int:
        """Client ``client`` walks the pool from here, so every client
        sends the five probe kinds in turn, starting at a different kind."""
        return client * (len(self.pool) // self.threads + 1)

    def loop(self, deadline: float) -> None:
        def stream(i):
            k = self._start(i)
            while True:
                q = self.pool[k % len(self.pool)]
                k += 1
                yield lambda q=q: self.b.read(q)

        _closed_loop(self.threads, deadline, stream)

    def table_dirs(self):
        return [self.sorted_t.dir, self.hashed_t.dir]

    def live_rows(self):
        return self.sorted_t.rid_hi + self.hashed_t.rid_hi

    def dashboard(self):
        return self.pool[3]

    def encode_input(self):
        return self.parquet

    def compact_target(self):
        return self.hashed_t.dir, 2 * self.hashed_t.rid_hi // self.b.scale["lookup_segments"] + 1


class IngestCompact(Workload):
    """One client in steps: append a seed-sliced batch, read it back
    (freshness count, filtered aggregate, a cached dashboard read once
    after the write and then from the cache), and compact every few
    appends."""

    name = "ingest_compact"
    ingest_in_loop = True
    CACHED_READS = 3  # one miss after each write, then hits
    STEP_SECONDS = 5  # nominal; a step takes 5-8 s on 4 cores

    def setup(self) -> None:
        b, sc = self.b, self.b.scale
        rng = random.Random(b.seed * 7 + 3)
        base = min(sc["ingest_base_rows"], b.li.rows // 2)
        self.dir = b.table_dir("ingest")
        self.base_parquet = b.li.export("ingest_base", 0, base)
        # seed-sliced batches in pairs of batch_rows +- d: every compaction
        # cycle (two appends) ingests the same number of rows
        batch = sc["ingest_batch_rows"]
        sizes = []
        for _ in range(sc["ingest_batches"] // 2):
            d = rng.randint(-batch // 5, batch // 5)
            sizes += [batch + d, batch - d]
        self.batches = []
        lo = base
        for i, size in enumerate(sizes):
            hi = min(b.li.rows, lo + size)
            self.batches.append((b.li.export(f"ingest_{i:03d}", lo, hi), hi - lo))
            lo = hi
        b.write(b.spark.read.parquet(self.base_parquet).repartition(4), self.dir, "overwrite", base)
        self.rid_hi = base
        self.step = 0
        self.params = random.Random(b.seed * 7 + 4)

    def table(self) -> Table:
        return Table("ingest", self.dir, self.rid_hi)

    def _reads(self) -> tuple[Query, Query]:
        t = self.table()
        fresh = Query("fresh_count", t, (), aggs=(("count(*)", "n"),))
        mode = self.params.choice(["AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR"])
        filtered = Query(
            "filtered_agg", t, ("l_shipmode", "l_quantity", "l_extendedprice"),
            (Pred("l_shipmode", "=", mode), Pred("l_quantity", "<", float(self.params.randint(5, 45)))),
            (("count(*)", "n"), ("sum(l_extendedprice)", "s")),
        )
        return fresh, filtered

    def dashboard(self) -> Query:
        return Query(
            "dashboard", self.table(), ("l_returnflag", "l_quantity"),
            aggs=(("count(*)", "n"), ("sum(l_quantity)", "q")), group=("l_returnflag",),
        )

    def warm_up(self) -> None:
        with ThreadPoolExecutor(max_workers=2) as ex:
            for f in [ex.submit(self.b.read, q, False) for q in self._reads()]:
                f.result()

    def loop(self, deadline: float) -> None:
        """A fixed amount of work: one step per ``STEP_SECONDS`` of the
        measured time, rounded to whole compaction cycles. The table then
        grows the same way in every run, and a faster program finishes
        sooner instead of reading a bigger table."""
        b, every = self.b, self.b.scale["compact_every"]
        cycles = max(1, round((deadline - time.perf_counter()) / (self.STEP_SECONDS * every)))
        if self.step + cycles * every > len(self.batches):
            raise ValueError("ingest_compact has fewer input batches than the run needs")
        for _ in range(cycles * every):
            path, rows = self.batches[self.step]
            if b.append(b.spark.read.parquet(path), self.dir, rows):
                self.rid_hi += rows
            self.step += 1
            for q in self._reads():
                b.read(q)
            dash = self.dashboard()
            for _ in range(self.CACHED_READS):
                b.cached(dash)
            if self.step % every == 0:
                b.compact(self.dir, every * 2 * b.scale["ingest_batch_rows"])

    def table_dirs(self):
        return [self.dir]

    def live_rows(self):
        return self.rid_hi

    def encode_input(self):
        return self.batches[0][0]


WORKLOADS = {w.name: w for w in (WideScan, PointLookup, IngestCompact)}

"""Benchmark inputs: TPC-H lineitem from DuckDB's built-in generator, the
Spark-side parquet the workloads ingest, and the DuckDB oracle over the
same rows.

Every row carries a dense ``rid`` (generation order) on the oracle side
only; a table built from the first ``n`` rows is checked with
``WHERE rid < n``.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

import duckdb

# lineitem plus three derived columns the probes need: a rare tag (inverted
# index), an ingest-time stamp clustered with the order key (TIMESTAMP zone
# maps) and a high-cardinality part name (RAW LZ4 string, ~sf*200k values).
LINEITEM_SQL = """
SELECT
    row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rid,
    l_orderkey,
    l_partkey,
    l_quantity::DOUBLE AS l_quantity,
    l_extendedprice::DOUBLE AS l_extendedprice,
    l_discount::DOUBLE AS l_discount,
    l_returnflag,
    l_shipmode,
    CASE WHEN l_partkey % 500 = 0 THEN 'rare-' || (l_suppkey % 20)
         ELSE 'common' END AS l_tag,
    TIMESTAMP '1995-01-01' + to_minutes(l_orderkey) AS l_ts,
    'part-' || l_partkey AS l_part,
    l_comment
FROM lineitem
"""

COLUMNS = (
    "l_orderkey l_partkey l_quantity l_extendedprice l_discount l_returnflag "
    "l_shipmode l_tag l_ts l_part l_comment"
).split()

# Sink options shared by every table: RAW numeric, RAW LZ4 strings and an
# inverted index on the rare tag, so each encoding and index is on disk.
RAW_COLUMNS = ("l_extendedprice", "l_part", "l_comment")
INVERTED_COLUMNS = ("l_tag",)


@dataclass(frozen=True)
class Table:
    """A pinot table the benchmark built: its directory and the oracle rows
    it holds (``rid < rid_hi``)."""

    name: str
    dir: str
    rid_hi: int

    @property
    def data_dir(self) -> str:
        return os.path.dirname(self.dir)


class Lineitem:
    """Generated rows, held in DuckDB for the oracle; slices are exported
    to parquet for Spark to ingest."""

    def __init__(self, sf: float, out_dir: str) -> None:
        self.out_dir = out_dir
        self._con = duckdb.connect()
        self._con.execute("SET threads TO 2")  # leave cores to the JVM starting meanwhile
        self._con.execute(f"CALL dbgen(sf={sf})")
        self._con.execute(f"CREATE TABLE li AS {LINEITEM_SQL}")
        for t in "lineitem orders customer part partsupp supplier nation region".split():
            self._con.execute(f"DROP TABLE IF EXISTS {t}")
        self.rows = self._con.execute("SELECT count(*) FROM li").fetchone()[0]
        self._lock = threading.Lock()

    def cursor(self):
        """A cursor for one thread (DuckDB connections are not shared)."""
        with self._lock:
            return self._con.cursor()

    def export(self, name: str, lo: int, hi: int, columns=COLUMNS) -> str:
        """Write rows ``lo <= rid < hi`` to ``<out_dir>/<name>.parquet``."""
        path = os.path.join(self.out_dir, f"{name}.parquet")
        cols = ", ".join(columns)
        with self._lock:
            self._con.execute(
                f"COPY (SELECT {cols} FROM li WHERE rid >= {lo} AND rid < {hi} "
                f"ORDER BY rid) TO '{path}' (FORMAT PARQUET)"
            )
        return path

    def orderkeys(self, hi: int) -> list[int]:
        with self._lock:
            rows = self._con.execute(
                f"SELECT DISTINCT l_orderkey FROM li WHERE rid < {hi} ORDER BY 1"
            ).fetchall()
        return [r[0] for r in rows]

    def close(self) -> None:
        self._con.close()


def sink_write(df, table_dir: str, mode: str, bloom: tuple[str, ...] = ()):
    """``df.write.format("pinot")`` with the shared index options."""
    w = (
        df.write.format("pinot")
        .mode(mode)
        .option("raw", ",".join(RAW_COLUMNS))
        .option("inverted", ",".join(INVERTED_COLUMNS))
    )
    if bloom:
        w = w.option("bloom", ",".join(bloom))
    w.save(table_dir)

"""Read queries as data: one spec gives the Spark plan the workloads time,
the DuckDB SQL that checks it, and the pushed filters the traced run
replays in-process.

A spec is a projection (the pinot ``columns`` read option, this source's
projection pushdown), a conjunction of simple predicates, and optionally
aggregates, grouping, ordering and a limit.
"""

from __future__ import annotations

import datetime as dt
import math
from dataclasses import dataclass, field

from perfbench.data import Table

_OPS = {"=": "__eq__", ">=": "__ge__", "<=": "__le__", "<": "__lt__", ">": "__gt__"}


@dataclass(frozen=True)
class Pred:
    column: str
    op: str  # one of _OPS or "in"
    value: object

    def spark(self):
        from pyspark.sql import functions as F

        col = F.col(self.column)
        if self.op == "in":
            return col.isin(*self.value)
        value = self.value
        if isinstance(value, dt.datetime):
            # naive values are UTC, the session time zone
            value = value.replace(tzinfo=dt.timezone.utc)
        return getattr(col, _OPS[self.op])(F.lit(value))

    def sql(self) -> str:
        if self.op == "in":
            return f"{self.column} IN ({', '.join(_lit(v) for v in self.value)})"
        return f"{self.column} {self.op} {_lit(self.value)}"

    def pushed(self):
        """The Data Source API filter Spark pushes for this predicate."""
        from pyspark.sql import datasource as ds

        attr = (self.column,)
        if self.op == "in":
            return ds.In(attr, tuple(self.value))
        cls = {
            "=": ds.EqualTo,
            ">=": ds.GreaterThanOrEqual,
            "<=": ds.LessThanOrEqual,
            "<": ds.LessThan,
            ">": ds.GreaterThan,
        }[self.op]
        # naive datetimes are read as UTC, like the tz-aware ones Spark pushes
        return cls(attr, self.value)


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    return repr(v)


@dataclass(frozen=True)
class Query:
    """One read. ``check`` says how results are compared with DuckDB:
    ``rows`` (exact rows, in order when ``order`` is set), ``fingerprint``
    (row count plus per-column sums, for full scans) or ``subset`` (every
    returned row exists in the table, for LIMIT without ORDER BY)."""

    shape: str
    table: Table
    columns: tuple[str, ...]
    where: tuple[Pred, ...] = ()
    aggs: tuple[tuple[str, str], ...] = ()  # (SQL expression, alias)
    group: tuple[str, ...] = ()
    order: tuple[tuple[str, bool], ...] = ()  # (output column, descending)
    limit: int | None = None
    check: str = "rows"
    options: dict = field(default_factory=dict, hash=False, compare=False)

    @property
    def collects(self) -> bool:
        """Small results (aggregates) are materialised with ``collect()``,
        so every timed execution is also checked; scans go to the noop
        sink."""
        return bool(self.aggs) and self.check == "rows"

    @property
    def key(self) -> tuple:
        return (self.shape, self.table.name, self.where, self.table.rid_hi)

    def read_options(self) -> dict[str, str]:
        return {"path": self.table.dir, "columns": ",".join(self.columns), **self.options}

    # -- Spark ---------------------------------------------------------
    def load(self, spark):
        opts = self.read_options()
        path = opts.pop("path")
        return spark.read.format("pinot").options(**opts).load(path)

    def plan(self, df):
        from pyspark.sql import functions as F

        for p in self.where:
            df = df.where(p.spark())
        if self.aggs:
            exprs = [F.expr(f"{e} AS {a}") for e, a in self.aggs]
            df = df.groupBy(*self.group).agg(*exprs) if self.group else df.agg(*exprs)
        if self.order:
            df = df.orderBy(*[F.col(c).desc() if d else F.col(c).asc() for c, d in self.order])
        if self.limit is not None:
            df = df.limit(self.limit)
        return df

    def check_plan(self, df):
        """The DataFrame whose collected rows are compared with DuckDB."""
        if self.check != "fingerprint":
            return df
        from pyspark.sql import functions as F

        return df.agg(*[F.expr(e) for e in self._fingerprint_exprs()])

    # -- DuckDB ----------------------------------------------------------
    def _fingerprint_exprs(self) -> list[str]:
        exprs = ["count(*)"]
        for c in self.columns:
            if c in ("l_returnflag", "l_shipmode", "l_tag", "l_part", "l_comment"):
                exprs += [f"sum(length({c}))", f"min({c})", f"max({c})"]
            elif c != "l_ts":
                exprs.append(f"sum({c})")
        return exprs

    def oracle_sql(self) -> str:
        conds = [f"rid < {self.table.rid_hi}"] + [p.sql() for p in self.where]
        where = " AND ".join(conds)
        if self.check == "fingerprint":
            return f"SELECT {', '.join(self._fingerprint_exprs())} FROM li WHERE {where}"
        if self.check == "subset":
            return ""
        cols = [f"{e} AS {a}" for e, a in self.aggs] if self.aggs else list(self.columns)
        sql = f"SELECT {', '.join(list(self.group) + cols)} FROM li WHERE {where}"
        if self.group:
            sql += f" GROUP BY {', '.join(self.group)}"
        if self.order:
            sql += " ORDER BY " + ", ".join(f"{c} {'DESC' if d else 'ASC'}" for c, d in self.order)
        if self.limit is not None:
            sql += f" LIMIT {self.limit}"
        return sql


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def expected(query: Query, cursor) -> list[tuple]:
    return cursor.execute(query.oracle_sql()).fetchall()


def compare(query: Query, got: list[tuple], cursor, want=None) -> str | None:
    """None when ``got`` (rows collected from Spark) matches DuckDB (or
    ``want``, DuckDB's rows computed earlier), else a one-line description
    of the difference."""
    if query.check == "subset":
        if len(got) != query.limit:
            return f"{query.shape}: {len(got)} rows, expected {query.limit}"
        cols = ", ".join(query.columns)
        cursor.execute(f"CREATE OR REPLACE TEMP TABLE got_rows AS SELECT {cols} FROM li LIMIT 0")
        cursor.executemany(
            f"INSERT INTO got_rows VALUES ({', '.join('?' for _ in query.columns)})", got
        )
        missing = cursor.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM got_rows EXCEPT "
            f"SELECT {cols} FROM li WHERE rid < {query.table.rid_hi})"
        ).fetchone()[0]
        return f"{query.shape}: {missing} rows not in table" if missing else None
    if want is None:
        want = expected(query, cursor)
    if not query.order and query.check == "rows":
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    if len(got) != len(want):
        return f"{query.shape}: {len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_close(x, y) for x, y in zip(g, w)):
            return f"{query.shape}: got {g!r}, expected {w!r}"
    return None

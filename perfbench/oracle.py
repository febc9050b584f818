"""DuckDB oracle for the benchmark's output checks.

Every check runs outside the timed region. SPARQL results and store
snapshots are compared by an order-insensitive fingerprint that Spark and
DuckDB compute the same way: the row count and the sum, over rows, of the
first 32 bits of the MD5 of the row's columns cast to text and joined by
a separator. Registered queries' collected rows are compared with their
oracle SQL's rows, order-insensitively, floats to a relative 1e-9.
"""

from __future__ import annotations

import math
import os

import duckdb

from rippledb_spark.queries.triples import TRIPLES_CTE

_SEP, _NULL = "\u001f", "\u0001"


def spark_fingerprint(df) -> tuple[int, int]:
    """(rows, hash sum) of a Spark DataFrame; one aggregate job that reads
    every output column."""
    import pyspark.sql.functions as F

    cols = [F.coalesce(F.col(f"`{c}`").cast("string"), F.lit(_NULL)) for c in df.columns]
    h = F.conv(F.substring(F.md5(F.concat_ws(_SEP, *cols)), 1, 8), 16, 10).cast("long")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


class Oracle:
    """One in-memory DuckDB database with a view over each generated table,
    and the derived ``triples`` graph materialised as table ``base``."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for name in sorted(os.listdir(data_dir)):
            t, ext = os.path.splitext(name)
            if ext == ".parquet":
                path = os.path.join(data_dir, name)
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.con.execute(
            f"CREATE TABLE base AS WITH {TRIPLES_CTE.strip()} SELECT * FROM triples"
        )

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def fingerprint(self, sql: str) -> tuple[int, int]:
        """The DuckDB twin of :func:`spark_fingerprint` over ``sql``'s rows."""
        cols = [d[0] for d in self.con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
        parts = ", ".join(
            f"coalesce(CAST(q.\"{c}\" AS VARCHAR), chr(1))" for c in cols
        )
        n, h = self.con.execute(
            f"SELECT count(*), coalesce(sum(('0x' || substr(md5(concat_ws(chr(31), {parts})), 1, 8))::BIGINT), 0) "
            f"FROM ({sql}) q"
        ).fetchone()
        return int(n), int(h)

    def compare(self, rows: list[tuple], cols: list[str], sql: str) -> str | None:
        """None when ``rows`` (with column names ``cols``) equal the result of
        ``sql``: same column names, and the same rows in any order, floats
        equal to a relative 1e-9. Otherwise what differs."""
        cur = self.con.execute(sql)
        want, want_cols = cur.fetchall(), [d[0] for d in cur.description]
        if sorted(cols) != sorted(want_cols):
            return f"columns {cols} != {want_cols}"
        if len(rows) != len(want):
            return f"{len(rows)} rows != {len(want)}"
        got_n, want_n = _normalize(rows, cols), _normalize(want, want_cols)
        for a, b in zip(got_n, want_n):
            if not all(_same(x, y) for x, y in zip(a, b)):
                return f"row {a} != {b}"
        return None


def _normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Columns in name order, rows sorted; numbers sort by value."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(v):
        if v is None:
            return (0, "")
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return (2, float(v))
        return (1, str(v))

    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple(key(v) for v in r))


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return str(a) == str(b)

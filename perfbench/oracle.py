"""Expected answers computed with DuckDB over the same parquet fixtures, and
the parsers and comparisons that check the engine's responses against them."""
import csv
import datetime
import decimal
import io
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class Oracle:
    def __init__(self, fixtures):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            p = os.path.join(fixtures, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self._rows = {}

    def rows(self, sql):
        if sql not in self._rows:
            self._rows[sql] = self.con.sql(sql).fetchall()
        return self._rows[sql]


def parse_rows(body, fmt):
    """Result rows of one response body, as lists of cells."""
    if fmt == "JSONCompact":
        return json.loads(body)["data"]
    if fmt == "JSONEachRow":
        return [list(json.loads(l).values()) for l in body.decode().splitlines() if l]
    if fmt == "CSV":
        return list(csv.reader(io.StringIO(body.decode())))
    raise ValueError(fmt)


def cell_matches(got, want):
    if want is None:
        return got is None or got in ("", "\\N", "NULL")
    if isinstance(want, bool):
        return str(got).lower() in ("true", "1") if want else str(got).lower() in ("false", "0")
    if isinstance(want, (int, float, decimal.Decimal)):
        try:
            g = float(got)
        except (TypeError, ValueError):
            return False
        return math.isclose(g, float(want), rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(want, datetime.datetime):
        text = got.isoformat(" ") if isinstance(got, datetime.datetime) else str(got).replace("T", " ")
        return text.startswith(want.strftime("%Y-%m-%d %H:%M:%S"))
    if isinstance(want, datetime.date):
        return str(got)[:10] == want.isoformat()
    return str(got) == str(want)


def _key(row):
    return tuple(str(c) for c in row)


def rows_match(got, want, ordered):
    """Equal within a float tolerance; row order only counts when the query
    orders its result."""
    if len(got) != len(want):
        return False, f"{len(got)} rows, expected {len(want)}"
    if not ordered:
        got = sorted(got, key=lambda r: _key([_norm(c) for c in r]))
        want = sorted(want, key=lambda r: _key([_norm(c) for c in r]))
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(cell_matches(a, b) for a, b in zip(g, w)):
            return False, f"row {i}: {g!r} != {w!r}"
    return True, ""


def _norm(c):
    try:
        return repr(round(float(c), 6))
    except (TypeError, ValueError):
        return str(c)


def has_top_level_order(sql):
    s = sql.upper()
    i = s.rfind("ORDER BY")
    return i >= 0 and s.rfind(")") < i

"""Cell-exact result check against the DuckDB oracles.

The canonicalization is the one `scripts/selfcheck.py` applies: sort
the columns by name, key every cell so that cells the self-check
treats as equal get identical keys (NaN == NaN, -0.0 != 0.0,
1 == 1.0 == Decimal('1'), timestamps at microsecond precision), and
compare the sorted multisets of row keys. When the oracle SQL ends in
an ORDER BY over plain output columns, the Spark result must also be
in that order.

A result is reduced to a fingerprint (column names, row count and a
SHA-256 over the sorted row keys), so oracle results can be cached
per data directory and compared without keeping the rows.
"""
import decimal
import hashlib
import json
import math
import os
import re

ORACLE_VERSION = "1"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell_key(v):
    """Canonical key of one cell (selfcheck.py's `cell_key`)."""
    if isinstance(v, bool):
        v = int(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == 0.0:
            return "-0.0" if math.copysign(1, v) < 0 else "0"
        if v.is_integer():
            return repr(int(v))
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        if v != v or not v.is_finite():
            return "nan" if v != v else repr(float(v))
        if v == v.to_integral_value():
            return repr(int(v))
        f = float(v)
        return repr(f) if decimal.Decimal(f) == v else \
            "d:" + format(v, "f").rstrip("0")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell_key(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{kk}:{cell_key(v[kk])}" for kk in sorted(v)) + "}"
    if v is None:
        return "\x00"
    if hasattr(v, "isoformat"):
        try:
            return v.isoformat(timespec="microseconds")
        except TypeError:
            return v.isoformat()
    return repr(v)


def fingerprint(table):
    """{"columns", "rows", "sha256"} of a pyarrow table."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    keys = sorted("\x1f".join(cell_key(c) for c in row)
                  for row in zip(*data))
    h = hashlib.sha256()
    for k in keys:
        h.update(k.encode("utf-8", "surrogatepass"))
        h.update(b"\x1e")
    return {"columns": cols, "rows": table.num_rows, "sha256": h.hexdigest()}


def order_violation(sql, table):
    """selfcheck.py's ORDER BY lint over the Spark result's row order;
    None when ordered or when the ORDER BY is not plain columns."""
    m = re.search(r"\border\s+by\s+(.+?)(\s+limit\s+\d+)?\s*;?\s*$",
                  sql, re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    colnames = list(table.column_names)
    items = []
    for part in m.group(1).split(","):
        toks = part.strip().split()
        if not toks or len(toks) > 2:
            return None
        col, desc = toks[0].strip('"'), False
        if len(toks) == 2:
            u = toks[1].upper()
            if u == "DESC":
                desc = True
            elif u != "ASC":
                return None
        if col not in colnames:
            return None
        items.append((colnames.index(col), desc))
    rows = list(zip(*[table.column(c).to_pylist() for c in colnames]))
    prev = None
    for i, r in enumerate(rows):
        if prev is not None:
            for idx, desc in items:
                a, b = prev[idx], r[idx]
                if a is None or b is None or \
                   (isinstance(a, float) and a != a) or \
                   (isinstance(b, float) and b != b):
                    break
                if isinstance(a, str) and isinstance(b, str):
                    a, b = a.encode("utf-8"), b.encode("utf-8")
                try:
                    lt, gt = a < b, a > b
                except TypeError:
                    return None
                if not lt and not gt:
                    continue
                if gt != desc:
                    return (f"order contract violated at row {i}: col "
                            f"{colnames[idx]} {a!r} then {b!r}")
                break
        prev = r
    return None


class Oracle:
    """DuckDB oracle fingerprints over one data directory, cached on
    disk under `cache_dir` keyed by (data identity, SQL text)."""

    def __init__(self, data_dir, data_id, cache_dir):
        self.data_dir = data_dir
        self.data_id = data_id
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        if self._con is None:
            import duckdb
            con = duckdb.connect()
            con.execute("SET memory_limit = '4GB'")
            con.execute("SET threads = 4")
            con.execute("SET preserve_insertion_order = false")
            spill = os.path.join(self.cache_dir, "spill")
            os.makedirs(spill, exist_ok=True)
            con.execute(f"SET temp_directory = '{spill}'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data_dir}/{t}.parquet')")
            self._con = con
        return self._con

    def _path(self, sql):
        h = hashlib.sha256(
            f"{ORACLE_VERSION}\0{self.data_id}\0{sql}".encode()).hexdigest()
        return os.path.join(self.cache_dir, f"{h[:24]}.json")

    def expected(self, sql):
        p = self._path(sql)
        if os.path.isfile(p):
            with open(p) as f:
                return json.load(f)
        res = self._compute(sql)
        if "error" in res:
            return res
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(res, f)
        os.replace(tmp, p)
        return res

    def _compute(self, sql):
        try:
            table = self._connect().sql(sql).arrow()
        except Exception as e:  # an oracle that cannot run is a finding
            return {"error": f"oracle SQL error: {e}"[:300]}
        return fingerprint(table)

    def close(self):
        if self._con is not None:
            self._con.close()
            self._con = None


def check(table, sql, expected):
    """None when `table` (the Spark result) matches, else a reason."""
    if "error" in expected:
        return expected["error"]
    got = fingerprint(table)
    if got["columns"] != expected["columns"]:
        return f"columns differ: spark={got['columns']} " \
               f"duck={expected['columns']}"
    if got["rows"] != expected["rows"]:
        return f"rows differ: spark={got['rows']} duck={expected['rows']}"
    if got["sha256"] != expected["sha256"]:
        return "cell values differ from the oracle"
    return order_violation(sql, table)

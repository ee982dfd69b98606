"""Output checks: every answer the benchmark times is verified here, outside
the timed region.

- ad-hoc SQL (agent_session): the same statement on DuckDB over the same
  parquet files, row for row;
- YAML and pipeline tools: a digest pinned in pins.json for each grid point;
- introspection: expected rows derived from the parquet schemas;
- gate denials: must come back as an `isError` denial;
- catalog entries: the entry's `SparkEntry.oracleSql` on DuckDB, compared the
  way tools/check_oracle.py compares (columns sorted by name, row order kept,
  floats bitwise).
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

from workloads import TABLES, pin_key

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_FILE = os.path.join(HERE, "pins.json")
DENIAL_PREFIX = "statement class not permitted"


def load_pins():
    try:
        with open(PINS_FILE) as f:
            return json.load(f)
    except OSError:
        return {}


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _plain(v):
    """DuckDB value -> the value Spark's JSON rendering parses back to."""
    if isinstance(v, datetime.date):  # datetime.datetime included
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def canon_rows(rows):
    """Digest input for tool answers: one sorted-key JSON line per row, floats
    at 10 significant digits (parallel sums may differ in the last bits)."""
    def c(v):
        if isinstance(v, float):
            return format(v, ".10g")
        if isinstance(v, list):
            return [c(x) for x in v]
        if isinstance(v, dict):
            return {k: c(x) for k, x in v.items()}
        return v
    return "\n".join(json.dumps(c(r), sort_keys=True) for r in rows)


def digest(rows):
    return hashlib.sha256(canon_rows(rows).encode()).hexdigest()


class McpChecker:
    """Verifies one MCP response against the request's `check` kind."""

    def __init__(self, data_dir, tmp_dir, tool_names):
        self.con = connect(data_dir, tmp_dir)
        self.pins = load_pins()
        self.tool_names = set(tool_names)
        self.schema = {t: pq.read_schema(f"{data_dir}/{t}.parquet").names for t in TABLES}

    def check(self, req, resp):
        """Returns None when the answer is right, else a one-line reason."""
        if "error" in resp:
            return f"JSON-RPC error {resp['error']}"
        res = resp.get("result", {})
        kind = req["check"]
        if kind == "tools_list":
            got = {t["name"] for t in res.get("tools", [])}
            missing = self.tool_names - got
            return f"tools/list misses {sorted(missing)}" if missing else None
        texts = [c.get("text", "") for c in res.get("content", [])]
        if kind == "denied":
            ok = res.get("isError") and texts and texts[0].startswith(DENIAL_PREFIX)
            return None if ok else f"not denied: {texts[:1]}"
        if res.get("isError"):
            return f"unexpected isError: {texts[:1]}"
        rows = [json.loads(t) for t in texts]
        return getattr(self, "_" + kind)(req, rows)

    def _duckdb(self, req, rows):
        cur = self.con.execute(req["args"]["sql"])
        cols = [d[0] for d in cur.description]
        exp = cur.fetchmany(10000)
        if len(exp) != len(rows):
            return f"{len(rows)} rows, DuckDB has {len(exp)}"
        for i, (e, g) in enumerate(zip(exp, rows)):
            for c, v in zip(cols, e):
                if not _same(_plain(v), g.get(c)):
                    return f"row {i} column {c}: {g.get(c)!r} != DuckDB {_plain(v)!r}"
        return None

    def _pin(self, req, rows):
        key = pin_key(req["tool"], req["args"])
        want = self.pins.get(key)
        if want is None:
            return f"no pinned digest for {key}"
        return None if digest(rows) == want else f"digest mismatch for {key}"

    def _explain(self, req, rows):
        ok = len(rows) == 1 and "Physical Plan" in rows[0].get("plan", "")
        return None if ok else "EXPLAIN returned no physical plan"

    def _list_tables(self, req, rows):
        exp = [(t, c, i + 1) for t in sorted(req["tables"]) for i, c in enumerate(self.schema[t])]
        got = [(r.get("table_name"), r.get("column_name"), r.get("column_position")) for r in rows]
        return None if got == exp else f"list_tables returned {len(got)} rows, expected {len(exp)}"

    def _search(self, req, rows):
        q, n = req["args"]["query"], req["args"]["page_size"]
        exp = [(t, c) for t in sorted(self.schema) for c in self.schema[t]
               if q in ("*", "") or q in t or q in c][:n]
        got = [(r.get("table_name"), r.get("column_name")) for r in rows]
        return None if got == exp else f"search_catalog returned {len(got)} rows, expected {len(exp)}"


# ------------------------------------------------------------------ catalog

def _canon(v):
    # tools/check_oracle.py's canonical form
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(v).hex()
    return str(v)


def _canon_df(df):
    cols = sorted(df.columns)
    return cols, [[_canon(v) for v in row] for row in df[cols].itertuples(index=False)]


def _rows_digest(cols, rows):
    body = "\n".join(json.dumps(r) for r in rows)
    return hashlib.sha256((json.dumps(cols) + "\n" + body).encode()).hexdigest()


def _query_digest(con, sql):
    return _rows_digest(*_canon_df(con.execute(sql).fetchdf()))


class CatalogChecker:
    """Compares the catalog driver's parquet results with DuckDB oracles.
    Oracle answers are cached per (entry, oracle SQL, data stamp): the data
    does not depend on the workload seed, so each oracle runs once per
    checkout."""

    def __init__(self, data_dir, tmp_dir, oracles, cache_file):
        self.data_dir, self.tmp_dir = data_dir, tmp_dir
        self.oracles = oracles
        self.cache_file = cache_file
        self._con = None
        try:
            with open(cache_file) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}
        with open(os.path.join(data_dir, ".stamp")) as f:
            self.data_stamp = f.read()

    def _oracle_digest(self, name):
        sql = self.oracles[name]
        key = hashlib.sha256(f"{name}\n{sql}\n{self.data_stamp}".encode()).hexdigest()
        if key not in self.cache:
            if self._con is None:
                self._con = connect(self.data_dir, self.tmp_dir)
            self.cache[key] = _query_digest(self._con, sql)
        return self.cache[key]

    def check(self, name, result_dir):
        if name not in self.oracles:
            return f"{name}: no oracle"
        got = _query_digest(duckdb.connect(), f"SELECT * FROM '{result_dir}/*.parquet'")
        return None if got == self._oracle_digest(name) else f"{name}: differs from its DuckDB oracle"

    def save(self):
        tmp = self.cache_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.cache, f)
        os.replace(tmp, self.cache_file)

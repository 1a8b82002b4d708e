"""Output checks of the graft benchmark.

Every result the harness collects is compared with an answer built outside
the timed window:

* declared queries with a `SparkEntry.oracleSql` text: the DuckDB oracle,
  under `tools/parity.py`'s rules (same column names and order, same row
  order, same dtypes, equal values);
* `RollupRouter.fetchSeries` renders: an independent DuckDB recomputation
  (own glob translation, own window clamp, the `Det.avg4` formula);
* live routed reads: an unrouted DuckDB recomputation over the raw points
  the ingest path wrote (averages to 1e-9 relative: the routed plan divides
  an exact decimal sum, DuckDB accumulates doubles).

Values are compared in the harness's canonical JSON form (see Canon.scala).
"""
import base64
import datetime as dt
import decimal
import json
import math
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)
EPOCH_DATE = dt.date(1970, 1, 1)


def connect(data_dir=None):
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=2")
    if data_dir:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _canon(v):
    """A DuckDB value in the harness's canonical JSON shape."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return {"ts": (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds}
    if isinstance(v, dt.date):
        return {"date": (v - EPOCH_DATE).days}
    if isinstance(v, decimal.Decimal):
        return {"dec": str(v)}
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return [_canon(x) for x in v.values()]
    if isinstance(v, bytes):
        return {"bin": base64.b64encode(v).decode()}
    return v


def query(con, sql):
    rel = con.sql(sql)
    cols = [c for c in rel.columns]
    return {"columns": cols, "rows": [[_canon(v) for v in r] for r in rel.fetchall()]}


def _instant(v):
    """DATE and TIMESTAMP both land in pandas datetime64, so parity.py
    compares them as instants: a date equals the timestamp at its midnight."""
    if isinstance(v, dict) and "date" in v:
        return {"ts": v["date"] * 86_400_000_000}
    return v


def _same(x, y, rel_tol):
    x, y = _instant(x), _instant(y)
    if isinstance(x, dict) and isinstance(y, dict) and "dec" in x and "dec" in y:
        return decimal.Decimal(x["dec"]) == decimal.Decimal(y["dec"])
    if isinstance(x, list) and isinstance(y, list):
        return len(x) == len(y) and all(_same(a, b, rel_tol) for a, b in zip(x, y))
    if type(x) is not type(y):
        return False  # int vs float is a dtype drift, as in parity.py
    if isinstance(x, float) and rel_tol:
        return math.isclose(x, y, rel_tol=rel_tol, abs_tol=0.0)
    return x == y


def diff(got, want, rel_tol=0.0):
    """None when equal, else a one-line description of the first difference."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows != {len(want['rows'])}"
    for i, (a, b) in enumerate(zip(got["rows"], want["rows"])):
        for c, x, y in zip(got["columns"], a, b):
            if not _same(x, y, rel_tol):
                return f"row {i} col {c}: {x!r} != {y!r}"
    return None


def glob_regex(glob):
    """Graphite node globbing: * and ? stay inside a dot node, {a,b} is
    alternation, [..] a class, everything else literal."""
    out, i = [], 0
    while i < len(glob):
        c = glob[i]
        if c == "*":
            out.append("[^.]*")
        elif c == "?":
            out.append("[^.]")
        elif c == "{":
            j = glob.index("}", i)
            out.append("(" + "|".join(re.escape(p) for p in glob[i + 1:j].split(",")) + ")")
            i = j
        elif c == "[":
            j = glob.index("]", i)
            out.append(glob[i:j + 1])
            i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "".join(out)


# SchemaCatalog.Default: (seconds per point, retention seconds)
ARCHIVES = [(60, 60 * 1440), (3600, 3600 * 720), (86400, 86400 * 365)]


def render_sql(events_path, glob, from_s, until_s):
    step = next((s for s, r in ARCHIVES if r >= from_s), ARCHIVES[-1][0])
    avg4 = ("(((2*CAST(sum(CAST(value AS DECIMAL(18,4)) * 10000) AS BIGINT) + count(*))"
            " // (2 * count(*))) / 10000.0)")
    return f"""
WITH p AS (
  SELECT event_type || '.' || CAST(user_id % 150 AS VARCHAR) AS metric, ts, value
  FROM '{events_path}'),
w AS (SELECT max(ts) AS now FROM p)
SELECT metric,
  make_timestamp(epoch_us(ts) // 1000000 // {step} * {step} * 1000000) AS bucket,
  {avg4} AS v, count(*) AS n
FROM p, w
WHERE regexp_full_match(metric, '{glob_regex(glob)}')
  AND ts >= now - to_seconds({from_s}) AND ts <= now - to_seconds({until_s})
GROUP BY 1, 2 ORDER BY 1, 2"""


def live_read_sql(raw_dir, glob, lo_us, hi_us):
    return f"""
SELECT metric, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
  count(*) AS n, avg(value) AS avg_v, min(value) AS min_v, max(value) AS max_v
FROM read_parquet('{raw_dir}/*.parquet')
WHERE regexp_full_match(metric, '{glob_regex(glob)}')
  AND ts >= make_timestamp({lo_us}) AND ts < make_timestamp({hi_us})
GROUP BY 1, 2 ORDER BY 1, 2"""

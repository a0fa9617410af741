"""DuckDB re-derivations of the answers the program returned: the FinOps
ad-hoc SQL and spend totals, and the operator-suite results against
``SparkEntry.oracleSql``. Each comparison is one check."""
import datetime as dt
import decimal
import json
import math
import re

import duckdb

ISO_TS = re.compile(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:?\d{2})?$")


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET enable_progress_bar = false")
    return con


def canon(v):
    """A comparable form: datetimes as ``ts:<epoch micros>`` strings (UTC,
    compared exactly), decimals as floats, lists recursively, ISO timestamp
    strings parsed."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return f"ts:{round(v.timestamp() * 1e6)}"
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    if isinstance(v, str) and ISO_TS.match(v):
        s = v.replace(" ", "T").replace("Z", "+00:00")
        try:
            return canon(dt.datetime.fromisoformat(s))
        except ValueError:
            return v
    return v


def same(a, b, rel=1e-6, abs_=1e-6):
    a, b = canon(a), canon(b)
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y, rel, abs_) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k], rel, abs_) for k in a)
    return a == b


def _sort_key(row, cols):
    def k(v):
        v = canon(v)
        if v is None:
            return (0, "")
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return (1, float(f"{float(v):.6g}"))
        return (2, json.dumps(v, sort_keys=True, default=str))
    return tuple(k(row.get(c)) for c in cols)


def same_rows(want, got, ordered=False):
    """Compare two lists of row dicts (missing keys read as NULL). Returns
    None when they match, else a reason."""
    cols = sorted(set().union(*[r.keys() for r in want]) if want else set())
    got_cols = sorted(set().union(*[r.keys() for r in got]) if got else set())
    if not set(got_cols) <= set(cols):
        return f"columns differ: want {cols} got {got_cols}"
    if len(want) != len(got):
        return f"row count: want {len(want)} got {len(got)}"
    if not ordered:
        want = sorted(want, key=lambda r: _sort_key(r, cols))
        got = sorted(got, key=lambda r: _sort_key(r, cols))
    for i, (w, g) in enumerate(zip(want, got)):
        for c in cols:
            if not same(w.get(c), g.get(c)):
                return f"row {i} column {c}: want {w.get(c)!r} got {g.get(c)!r}"
    return None


def rows_of(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


# --------------------------------------------------------------------------
# finops_api


def finops_checks(acct, data_dir, responses, reference_date):
    con = connect()
    con.execute(f"""CREATE VIEW CUR AS SELECT * FROM read_parquet('{data_dir}/*/*.parquet',
                    hive_partitioning = true, hive_types = {{'BILLING_PERIOD': VARCHAR}})""")
    ref = dt.date.fromisoformat(reference_date)
    month = ref.replace(day=1)
    cutoff = dt.date(ref.year - 2, ref.month, ref.day)
    trend = {r["m"]: r["total"] for r in rows_of(con, f"""
        SELECT strftime(date_trunc('month', line_item_usage_start_date), '%Y-%m') AS m,
               SUM(line_item_unblended_cost) AS total
        FROM CUR WHERE line_item_unblended_cost > 0
          AND line_item_usage_start_date >= TIMESTAMPTZ '{cutoff} 00:00:00+00'
        GROUP BY 1""")}
    services = {r["service_name"]: r for r in rows_of(con, f"""
        SELECT product_servicecode AS service_name, SUM(line_item_unblended_cost) AS spend,
               COUNT(DISTINCT line_item_resource_id) AS resource_count
        FROM CUR WHERE line_item_unblended_cost > 0
          AND date_trunc('month', line_item_usage_start_date) = TIMESTAMPTZ '{month} 00:00:00+00'
        GROUP BY 1""")}
    cache = {}
    for r in responses:
        body = json.loads(r["body"])
        path = r["path"]
        if path.endswith("/sql/query"):
            sql = r["sql"]
            if sql not in cache:
                cache[sql] = rows_of(con, sql)
            why = same_rows(cache[sql], body.get("rows", []), ordered=True)
            acct.check(why is None, f"ad-hoc op {r['op']}: {why}")
        elif path.endswith("/spend/trend"):
            got = {str(x["month"])[:7]: x["total_spend"] for x in body.get("data", [])}
            ok = got.keys() == trend.keys() and all(same(trend[k], got[k], 1e-9, 1e-6) for k in got)
            acct.check(ok, f"spend/trend op {r['op']}: months or totals differ")
        elif path.endswith("/spend/services/top"):
            rows = body.get("data", [])
            top = sorted(services.values(), key=lambda x: -x["spend"])[:10]
            ok = len(rows) == len(top) and all(
                x["service_name"] in services
                and same(services[x["service_name"]]["spend"], x["spend"], 1e-9, 1e-6)
                and services[x["service_name"]]["resource_count"] == x["resource_count"]
                for x in rows)
            acct.check(ok, f"spend/services/top op {r['op']}: totals differ")


# --------------------------------------------------------------------------
# batch_suite


def batch_checks(acct, data_dir, oracle, responses):
    con = connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    for r in responses:
        q = r["query"]
        got = [json.loads(x) for x in r["rows"]]
        sql = oracle.get(q)
        if sql is None:
            acct.check(len(got) > 0, f"{q}: no rows")
            continue
        try:
            want = rows_of(con, sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            acct.check(False, f"{q}: oracle error {e}")
            continue
        why = same_rows(want, got)
        acct.check(why is None, f"{q}: {why}")

"""Correctness checks of a run's outputs against DuckDB over the raw
parquet inputs. Each check is {"name", "ok", "detail"}; a failed check
fails the run."""
import datetime as dt
import json
import re

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def chk(name, ok, detail=""):
    return {"name": name, "ok": bool(ok), "detail": "" if ok else detail}


def check(workload, rec, sf_dir, expected):
    """The run's own checks plus the DuckDB oracle checks for its
    workload; expected holds the query mix's results from mix_expected."""
    out = list(rec["checks"])
    con = connect(sf_dir)
    o = rec["outputs"]
    if workload == "pipeline_day":
        out += check_cycles(con, o) + check_reports(con, o)
    elif workload == "dashboard_session":
        out += check_dashboard(con, o) + check_mix(o["mix"], expected)
    return out


def parse_ts(s):
    return dt.datetime.fromisoformat(s)


def check_cycles(con, o):
    """Recompute every cycle from the raw events with the incremental
    runner's semantics: rows after the adjusted watermark (the last
    batch's max ts, truncated to the second, plus one second) and up to
    the cycle's "now", cleaned as Clean.cleanEvents does (non-null and
    non-zero value, non-null critical columns, one row per
    (ts, user_id, event_type, value)). The lake must hold exactly the sum."""
    cycles = {c["k"]: c for c in o["cycles"]}
    if not cycles:
        return []
    first = dt.datetime.fromisoformat(o["first_day"])
    lo = first
    checks, total = [], 0
    for k in range(max(cycles) + 1):
        now = first + dt.timedelta(hours=3 * (k + 1))
        n, mx = con.execute(
            """SELECT count(*), max(ts) FROM (
                 SELECT DISTINCT ts, user_id, event_type, value FROM events
                 WHERE value IS NOT NULL AND value <> 0 AND event_id IS NOT NULL
                   AND ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
                   AND ts > ? AND ts <= ?)""", [lo, now]).fetchone()
        got = cycles.get(k)
        if n == 0:
            checks.append(chk("cycle_rows", got is None, f"cycle {k}: lake committed rows, oracle has none"))
            continue
        checks.append(chk("cycle_rows", got is not None and got["rows"] == n
                          and parse_ts(got["lo"]) == lo,
                          f"cycle {k}: committed {got and got['rows']} from {got and got['lo']}, "
                          f"oracle {n} from {lo}"))
        total += n
        lo = mx.replace(microsecond=0) + dt.timedelta(seconds=1)
    checks.append(chk("lake_rows", o["lake_rows"] == total,
                      f"lake holds {o['lake_rows']} rows, oracle {total}"))
    return checks


REPORT_FIELDS = ["report_date", "total_revenue", "n_tx", "avg_tx", "best_truck", "best_revenue",
                 "worst_truck", "worst_revenue", "total_fees", "net_revenue"]


def q44_for(sql, day):
    """q44's oracle SQL with its pinned day replaced."""
    d = dt.date.fromisoformat(day)
    pinned = re.compile(r"year\(l_shipdate\) = \d+ AND month\(l_shipdate\) = \d+\s+AND day\(l_shipdate\) = \d+")
    if not pinned.search(sql) or "'2000-06-15' AS report_date" not in sql:
        raise ValueError("q44 oracle SQL no longer has the pinned-day shape")
    sql = pinned.sub(f"year(l_shipdate) = {d.year} AND month(l_shipdate) = {d.month} "
                     f"AND day(l_shipdate) = {d.day}", sql)
    return sql.replace("'2000-06-15' AS report_date", f"'{day}' AS report_date")


def check_reports(con, o):
    checks = []
    for r in o["reports"]:
        try:
            row = con.execute(q44_for(o["q44_sql"], r["day"])).fetchdf().iloc[0].to_dict()
        except Exception as e:  # noqa: BLE001 - a broken oracle is a failed check
            checks.append(chk("report", False, f"{r['day']}: oracle error {e}"))
            continue
        diff = {f: (r[f], row[f]) for f in REPORT_FIELDS if r[f] != row[f]}
        checks.append(chk("report", not diff, f"{r['day']}: report vs oracle {diff}"))
    return checks


def q55_for(sql, s):
    """q55's oracle SQL with the session's sidebar filters in place of the
    pinned ones."""
    pinned = re.compile(r"WHERE CAST\(l\.l_shipdate AS DATE\) BETWEEN DATE '[^']*' AND DATE '[^']*'"
                        r"\s*AND o\.o_orderpriority IN \([^)]*\)\)")
    if not pinned.search(sql):
        raise ValueError("q55 oracle SQL no longer has the pinned-filter shape")

    def in_list(xs):
        return ", ".join("'" + x.replace("'", "''") + "'" for x in xs)
    where = f"WHERE CAST(l.l_shipdate AS DATE) BETWEEN DATE '{s['from']}' AND DATE '{s['to']}'"
    if s["suppliers"]:
        where += f" AND s.s_name IN ({in_list(s['suppliers'])})"
    if s["priorities"]:
        where += f" AND o.o_orderpriority IN ({in_list(s['priorities'])})"
    return pinned.sub(lambda _: where + ")", sql)


def check_dashboard(con, o):
    checks = []
    for s in o["sessions"]:
        if s["kpis"] is None:
            continue  # the open failed; the failed operation already counts
        try:
            row = con.execute(q55_for(o["q55_sql"], s)).fetchdf().iloc[0].to_dict()
        except Exception as e:  # noqa: BLE001
            checks.append(chk("dashboard_kpis", False, f"{s['width']}: oracle error {e}"))
            continue
        diff = {f: (v, row[f]) for f, v in s["kpis"].items() if v != row[f]}
        checks.append(chk("dashboard_kpis", not diff, f"{s['width']} {s['from']}..{s['to']}: {diff}"))
    return checks


def norm(df):
    """Columns by name, datetimes (and date objects) as naive datetime64,
    lists as tuples, rows sorted: the same normalization as the repo's
    DuckDB gate."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[ns]")
        elif df[c].dtype == object and df[c].map(lambda v: hasattr(v, "year") or v is None).all():
            df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if hasattr(v, "__len__")
                                and not isinstance(v, (str, bytes)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def mix_frame(res):
    """A query-mix result from its JSON rows, dates and timestamps parsed
    and decimals as floats, as DuckDB returns them."""
    df = pd.DataFrame([json.loads(r) for r in res["rows"]], columns=res["columns"])
    for c, t in zip(res["columns"], res["types"]):
        if t in ("date", "timestamp", "timestamp_ntz"):
            df[c] = pd.to_datetime(df[c])
        elif t.startswith("decimal"):
            df[c] = df[c].astype(float)
    return df


def mix_expected(sf_dir, sqls):
    """DuckDB's result for each query of the mix, or the error it raised."""
    con = connect(sf_dir)
    out = {}
    for name, sql in sqls.items():
        try:
            out[name] = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - a broken oracle is a failed check
            out[name] = e
    return out


def check_mix(o, expected):
    """Each query-mix result equals DuckDB's result for its oracle SQL.
    A query that failed has no result; its failed operation counts."""
    checks = []
    for name, res in sorted(o["results"].items()):
        try:
            exp = expected.get(name, KeyError(f"no oracle result for {name}"))
            if isinstance(exp, Exception):
                raise exp
            pd.testing.assert_frame_equal(norm(mix_frame(res)), norm(exp), check_dtype=False,
                                          check_exact=True)
            checks.append(chk("mix_oracle", True))
        except Exception as e:  # noqa: BLE001
            checks.append(chk("mix_oracle", False, f"{name}: {str(e).splitlines()[:4]}"))
    return checks

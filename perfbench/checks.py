"""Untimed output checks, computed from the generated inputs with DuckDB.

The compare mirrors ``tools/oracle_check.py``: columns sorted by name,
pandas dtypes must match exactly, rows sorted by ``repr`` and compared
exactly.
"""
import datetime as dt
import glob
import json
import math

import duckdb

FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]
WATERMARK = {"logs": "dttm", "ab_user": "changed_on", "dashboards": "changed_on"}
COLD_START = "TIMESTAMP '2000-01-01 00:00:00'"

LOGS_REPAIRED = """SELECT id, coalesce(action, 'undefined') AS action,
  coalesce(user_id, -1) AS user_id, coalesce(json, 'undefined') AS json, dttm,
  coalesce(dashboard_id, -1) AS dashboard_id, coalesce(slice_id, -1) AS slice_id,
  coalesce(duration_ms, 0) AS duration_ms,
  coalesce(referrer, 'undefined') AS referrer, 'superset' AS source
FROM c_logs
WHERE dttm >= date_trunc('month', TIMESTAMP '{now}' - INTERVAL {months} MONTH)
QUALIFY row_number() OVER (PARTITION BY id ORDER BY dttm DESC) = 1"""

USERS_DIM = """SELECT id, username, first_name, coalesce(active, false) AS active
FROM c_ab_user
QUALIFY row_number() OVER (PARTITION BY id ORDER BY changed_on DESC) = 1"""

DASH_DIM = """SELECT id, coalesce(dashboard_title, 'undefined') AS dashboard_title,
  coalesce(published, false) AS published
FROM c_dashboards
QUALIFY row_number() OVER (PARTITION BY id ORDER BY changed_on DESC) = 1"""

LAKE_QUERIES = {
    "lake_views_by_dashboard": """SELECT d.dashboard_title, count(*) AS count
      FROM exp_logs l LEFT JOIN exp_dash d ON l.dashboard_id = d.id GROUP BY 1""",
    "lake_published_share": """SELECT d.published, l.action, count(*) AS count
      FROM exp_logs l LEFT JOIN exp_dash d ON l.dashboard_id = d.id GROUP BY 1, 2""",
    "lake_actions_by_user": """SELECT u.username, count(*) AS n,
      max(l.dttm) AS last_seen
      FROM exp_logs l LEFT JOIN exp_users u ON l.user_id = u.id GROUP BY 1""",
    "lake_recent_by_first_name": """SELECT u.first_name, count(*) AS n,
      CAST(sum(l.duration_ms) AS BIGINT) AS duration_ms
      FROM exp_logs l LEFT JOIN exp_users u ON l.user_id = u.id
      WHERE l.dttm >= TIMESTAMP '{recent}' GROUP BY 1""",
    "lake_active_monthly": """SELECT
      CAST(date_trunc('month', l.dttm) AS TIMESTAMP) AS month, u.active,
      count(DISTINCT l.user_id) AS users
      FROM exp_logs l LEFT JOIN exp_users u ON l.user_id = u.id GROUP BY 1, 2""",
}


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def compare(con, got_dir, sql):
    """None when the dumped parquet equals the SQL result, else a reason."""
    files = sorted(glob.glob(f"{got_dir}/*.parquet"))
    if not files:
        return "no output"
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
    want = con.execute(sql).df()
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    bad = [(c, str(got[c].dtype), str(want[c].dtype))
           for c in gc if str(got[c].dtype) != str(want[c].dtype)]
    if bad:
        return f"dtypes {bad}"
    g = sorted((tuple(_norm(v) for v in r) for r in got[gc].itertuples(index=False)),
               key=repr)
    w = sorted((tuple(_norm(v) for v in r) for r in want[wc].itertuples(index=False)),
               key=repr)
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    n_bad = sum(1 for a, b in zip(g, w) if a != b)
    return f"{n_bad} mismatched rows" if n_bad else None


def compare_in_db(con, got_dir, sql):
    """Like ``compare``, for results too large to sort in Python: column
    names and DuckDB types must match, and both sides must hold the same
    multiset of rows."""
    files = sorted(glob.glob(f"{got_dir}/*.parquet"))
    if not files:
        return "no output"
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS "
                f"SELECT * FROM read_parquet({files!r})")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {sql}")
    types = {t: dict(con.execute(f"SELECT column_name, column_type FROM "
                                 f"(DESCRIBE {t})").fetchall())
             for t in ("got", "want")}
    if sorted(types["got"]) != sorted(types["want"]):
        return f"columns {sorted(types['got'])} vs {sorted(types['want'])}"
    bad = [(c, t, types["want"][c]) for c, t in sorted(types["got"].items())
           if t != types["want"][c]]
    if bad:
        return f"types {bad}"
    cols = ", ".join(f'"{c}"' for c in sorted(types["got"]))
    (n_got,), (n_want,) = (con.execute(f"SELECT count(*) FROM {t}").fetchone()
                           for t in ("got", "want"))
    if n_got != n_want:
        return f"rows {n_got} vs {n_want}"
    (n_bad,) = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got "
                           f"EXCEPT ALL SELECT {cols} FROM want)").fetchone()
    return f"{n_bad} mismatched rows" if n_bad else None


def fixture_views(con, fx):
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx}/{t}.parquet')")


def oracle_entries(con, dump):
    """Compare every dumped entry that has oracle SQL: {name: reason|None}."""
    with open(f"{dump}/oracle_sql.json") as f:
        oracles = json.load(f)
    out = {}
    for name, sql in sorted(oracles.items()):
        try:
            out[name] = compare(con, f"{dump}/{name}", sql)
        except Exception as e:  # a failing oracle is a failed check
            out[name] = f"exception {e}"
    return out


def replay(con, rep, last_day):
    """Replay the daily job's watermark semantics over the source files.

    Fills tables c_<table> with every row a correct run commits through
    ``last_day`` and returns {day: {table: rows committed}}.
    """
    counts = {d: {} for d in range(last_day + 1)}
    for t, ts in WATERMARK.items():
        con.execute(f"CREATE OR REPLACE TABLE c_{t} AS SELECT * FROM "
                    f"read_parquet('{rep}/{t}/history.parquet') LIMIT 0")
        wm = COLD_START
        for d in range(last_day + 1):
            files = [f"{rep}/{t}/history.parquet"] + [
                f"{rep}/{t}/day_{k:04d}.parquet" for k in range(1, d + 1)]
            con.execute(f"""CREATE OR REPLACE TEMP TABLE batch AS
                SELECT * FROM read_parquet({files!r}) WHERE {ts} > {wm}
                QUALIFY row_number() OVER (PARTITION BY id ORDER BY {ts} DESC) = 1""")
            n, top = con.execute(f"SELECT count(*), max({ts}) FROM batch").fetchone()
            counts[d][t] = n
            con.execute(f"INSERT INTO c_{t} SELECT * FROM batch")
            if top is not None:
                wm = f"TIMESTAMP '{top}'"
    return counts


def day_now(anchor, day):
    return dt.datetime.fromisoformat(anchor) + dt.timedelta(days=day)


def expected_lake(con, rep, anchor, last_day, months):
    """Build views exp_logs / exp_users / exp_dash; return day counts."""
    counts = replay(con, rep, last_day)
    con.execute("CREATE OR REPLACE TABLE exp_logs AS " + LOGS_REPAIRED.format(
        now=day_now(anchor, last_day), months=months))
    con.execute("CREATE OR REPLACE TABLE exp_users AS " + USERS_DIM)
    con.execute("CREATE OR REPLACE TABLE exp_dash AS " + DASH_DIM)
    return counts


def check_days(counts, loaded):
    """Days whose committed row counts differ from the replay."""
    bad = []
    for rec in loaded:
        want = counts.get(rec["day"])
        if want is None or any(rec["loaded"].get(t) != n for t, n in want.items()):
            bad.append(rec["day"])
    return bad

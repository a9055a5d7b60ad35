"""Seeded input generator for the benchmark.

Two families of inputs, both a pure function of (seed, sizes):

* ``fixtures`` writes the ten fixture tables every ``SparkEntry.queries``
  entry reads (``region`` ... ``embeddings``), with the column types and
  value domains of the repository's sf0.1 fixtures, at a chosen scale.
* ``replication`` writes the Superset source tables the daily job
  replicates: a multi-month ``logs`` history modelled on the ``events``
  template, an ``ab_user`` dimension modelled on ``customer`` and a
  ``dashboards`` dimension modelled on ``part``, plus one delta file per
  simulated day. Deltas carry new rows, re-emitted keys (a newer version
  of an existing id), late rows (timestamp at or before the watermark),
  rows with a NULL watermark column and NULLs in repairable columns.

The engine only ever sees these files; expected answers are computed by
``checks.py`` from the same files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(values_us):
    return pa.array(np.asarray(values_us, dtype="int64"), type=pa.int64()).cast(
        pa.timestamp("us"))


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _us(s):
    return int((np.datetime64(s, "us") - EPOCH).astype("int64"))


DAY_US = 86_400_000_000

# --- fixture tables ------------------------------------------------------

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def fixtures(out, seed, sf, n_docs, n_vecs):
    """Write the ten fixture tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)

    def pick(choices, n, p=None):
        return pa.array(np.asarray(choices, dtype=object)[
            rng.choice(len(choices), n, p=p)].tolist(), type=pa.string())

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pick(names, n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    d0, d1 = _us("1995-01-01"), _us("2001-08-01")
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US + d0),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    s0, s1 = _us("1995-01-02"), _us("2001-11-04")
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _ts(rng.integers(0, (s1 - s0) // DAY_US + 1, n_li) * DAY_US + s0)})
    e0 = _us("2024-01-01")
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + e0
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), n)]))
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": pick(["en", "de", "es", "fr", "zh"], n_docs,
                     p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.01, (10, 64))
    v = centers[labels] + rng.normal(0.0, 0.125, (n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# --- replication source ---------------------------------------------------

LOG_ACTIONS = ["click", "error", "purchase", "signup", "view"]


def _logs(rng, ids, dttm, n_users, n_dash, null_share):
    n = len(ids)

    def nullify(arr, typ):
        mask = rng.random(n) < null_share
        return pa.array(arr, type=typ, mask=mask)

    acts = np.asarray(LOG_ACTIONS, dtype=object)[rng.integers(0, 5, n)]
    return {
        "id": pa.array(ids, pa.int32()),
        "action": nullify(acts.tolist(), pa.string()),
        "user_id": nullify(rng.integers(0, n_users, n), pa.int32()),
        "json": nullify([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        "dttm": dttm,
        "dashboard_id": nullify(rng.integers(0, n_dash, n), pa.int32()),
        "slice_id": nullify(rng.integers(0, 500, n), pa.int32()),
        "duration_ms": nullify(np.round(rng.exponential(50.0, n) * 10).astype("int32"),
                               pa.int32()),
        "referrer": nullify([f"/superset/dashboard/{k}/" for k in
                             rng.integers(0, n_dash, n)], pa.string()),
    }


def _users(rng, ids, changed_us):
    n = len(ids)

    def col(values, typ, null_share):
        return pa.array(values, type=typ, mask=rng.random(n) < null_share)

    first = np.asarray(["ann", "bob", "cy", "dee", "eve", "fay", "gus", "hal"],
                       dtype=object)[rng.integers(0, 8, n)]
    return {
        "id": pa.array(ids, pa.int32()),
        "first_name": first.tolist(),
        "last_name": [f"Customer#{i:09d}" for i in ids],
        "username": [f"user_{i}_{c // 1_000_000}" for i, c in zip(ids, changed_us)],
        "email": [f"user_{i}@example.com" for i in ids],
        "password": col(["x"] * n, pa.string(), 0.1),
        "active": col(rng.random(n) < 0.8, pa.bool_(), 0.05),
        "last_login": _ts(changed_us - rng.integers(0, 30, n) * DAY_US),
        "created_on": _ts(np.full(n, _us("2020-01-01"))),
        "changed_on": _ts(changed_us),
        "login_count": pa.array(rng.integers(0, 500, n), pa.int32()),
        "fail_login_count": col(rng.integers(0, 5, n), pa.int32(), 0.05),
        "created_by_fk": pa.array(np.full(n, 1), pa.int32()),
        "changed_by_fk": col(rng.integers(1, 10, n), pa.int32(), 0.05),
    }


def _dashboards(rng, ids, changed_us):
    n = len(ids)

    def col(values, typ, null_share):
        return pa.array(values, type=typ, mask=rng.random(n) < null_share)

    titles = [f"{ADJ[i % 8]} {NOUN[(i // 8) % 8]} board {i}" for i in ids]
    return {
        "created_on": _ts(np.full(n, _us("2020-01-01"))),
        "changed_on": _ts(changed_us),
        "id": pa.array(ids, pa.int32()),
        "dashboard_title": col(titles, pa.string(), 0.05),
        "position_json": ['{"rows": %d}' % k for k in rng.integers(1, 9, n)],
        "css": col([""] * n, pa.string(), 0.5),
        "description": col([f"Brand#{k}" for k in rng.integers(1, 26, n)],
                           pa.string(), 0.2),
        "slug": [f"dash-{i}" for i in ids],
        "json_metadata": ['{"v": %d}' % (c // DAY_US) for c in changed_us],
        "certified_by": col(["ops"] * n, pa.string(), 0.7),
        "certification_details": col(["ok"] * n, pa.string(), 0.7),
        "external_url": col(["u"] * n, pa.string(), 1.0),
        "created_by_fk": pa.array(np.full(n, 1), pa.int32()),
        "changed_by_fk": pa.array(rng.integers(1, 10, n), pa.int32()),
        "published": col(rng.random(n) < 0.6, pa.bool_(), 0.05),
        "is_managed_externally": pa.array(rng.random(n) < 0.1),
        "uuid": [f"00000000-0000-0000-0000-{i:012d}" for i in ids],
    }


def _unique_times(rng, lo_us, hi_us, n):
    """n distinct microsecond timestamps in [lo, hi): dedup ties are impossible."""
    t = np.unique(rng.integers(lo_us, hi_us, n + n // 50 + 8))
    while len(t) < n:
        t = np.unique(np.concatenate([t, rng.integers(lo_us, hi_us, n)]))
    return np.sort(rng.choice(t, n, replace=False))


def replication(out, seed, cfg):
    """Write history and per-day delta files for logs/ab_user/dashboards.

    cfg keys: months, history_rows, users, dashboards, days, delta_rows,
    reemit_share, late_share, null_ts_rows, null_share, user_updates,
    dash_updates. The history ends at ``anchor`` (end of day 0); day d
    covers [anchor + (d-1) days, anchor + d days).
    """
    rng = np.random.default_rng([seed, 2])
    anchor = _us(cfg["anchor"])
    start = _us(str((dt.date.fromisoformat(cfg["anchor"][:10]).replace(day=1)
                     - dt.timedelta(days=31 * (cfg["months"] - 1))).replace(day=1)))
    n_users, n_dash = cfg["users"], cfg["dashboards"]

    # logs history: ids 0..H-1 plus re-emitted versions of earlier ids
    H = cfg["history_rows"]
    ts = _unique_times(rng, start, anchor, H)
    n_re = int(H * cfg["reemit_share"])
    ids = np.arange(H)
    # a re-emitted key repeats an id whose first version is older
    later = rng.choice(np.arange(n_re, H), n_re, replace=False)
    ids[later] = rng.integers(0, later)
    _write(f"{out}/logs/history.parquet",
           _logs(rng, ids, _ts(ts), n_users, n_dash, cfg["null_share"]))
    next_log = H

    u_ids = np.arange(n_users)
    _write(f"{out}/ab_user/history.parquet",
           _users(rng, u_ids, _unique_times(rng, start, anchor, n_users)))
    d_ids = np.arange(n_dash)
    _write(f"{out}/dashboards/history.parquet",
           _dashboards(rng, d_ids, _unique_times(rng, start, anchor, n_dash)))
    next_user, next_dash = n_users, n_dash

    for d in range(1, cfg["days"] + 1):
        lo, hi = anchor + (d - 1) * DAY_US, anchor + d * DAY_US
        n_new = cfg["delta_rows"]
        n_re = int(n_new * cfg["reemit_share"])
        n_late = int(n_new * cfg["late_share"])
        n_null = cfg["null_ts_rows"]
        ids = np.concatenate([np.arange(next_log, next_log + n_new),
                              rng.integers(0, next_log, n_re),
                              np.arange(next_log + n_new, next_log + n_new + n_late),
                              np.arange(next_log + n_new + n_late,
                                        next_log + n_new + n_late + n_null)])
        next_log += n_new + n_late + n_null
        times = np.concatenate([
            _unique_times(rng, lo, hi, n_new + n_re),
            # late rows: stamped up to three days before the watermark
            _unique_times(rng, lo - 3 * DAY_US, lo - DAY_US // 2, n_late)])
        dttm = pa.array(np.concatenate([times, np.zeros(n_null, "int64")]),
                        type=pa.int64(),
                        mask=np.arange(len(ids)) >= len(times)).cast(pa.timestamp("us"))
        _write(f"{out}/logs/day_{d:04d}.parquet",
               _logs(rng, ids, dttm, n_users, n_dash, cfg["null_share"]))

        n_up, n_new_u = cfg["user_updates"], max(1, cfg["user_updates"] // 3)
        uid = np.concatenate([rng.choice(next_user, n_up, replace=False),
                              np.arange(next_user, next_user + n_new_u)])
        next_user += n_new_u
        _write(f"{out}/ab_user/day_{d:04d}.parquet",
               _users(rng, uid, _unique_times(rng, lo, hi, len(uid))))
        n_up, n_new_d = cfg["dash_updates"], max(1, cfg["dash_updates"] // 3)
        did = np.concatenate([rng.choice(next_dash, n_up, replace=False),
                              np.arange(next_dash, next_dash + n_new_d)])
        next_dash += n_new_d
        _write(f"{out}/dashboards/day_{d:04d}.parquet",
               _dashboards(rng, did, _unique_times(rng, lo, hi, len(did))))

    with open(f"{out}/meta.properties", "w") as f:
        for k in ("anchor", "days", "retention_months", "ttl_hours"):
            f.write(f"{k}={cfg[k]}\n")

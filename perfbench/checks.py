"""Output checkers, independent of the program under test.

Each checker returns a list of problem strings; an empty list means the
output is correct. The feature oracle and the snapshot oracle run in DuckDB
straight over the files the program wrote, so they share no code with it.
``self_test`` feeds each checker a deliberately corrupted output and
confirms it is rejected.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import duckdb

LOOKBACK_DAYS = 7  # OnlineSyncConfig.lookback_days default
FEATURE_COLS = ["event_count_7d", "event_count_30d", "last_event_days_ago", "event_type_counts"]


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _table_glob(vdir: str) -> str:
    return f"read_parquet('{vdir}/*/*.parquet', hive_partitioning = true)"


def oracle_features(events_dir: str, users: list[str], start: dt.date, end: dt.date) -> dict:
    """(user_id, day) -> feature tuple by the backfill's documented semantics
    (the shape of ``queries._FEATURES_SQL``)."""
    con = _con()
    con.execute("CREATE TEMP TABLE pick(user_id VARCHAR)")
    con.executemany("INSERT INTO pick VALUES (?)", [(u,) for u in users])
    rows = con.execute(
        f"""
        WITH ev AS (
          SELECT e.user_id, e.event_type, CAST(e.ts AS DATE) AS event_date
          FROM read_parquet('{events_dir}/*.parquet') e JOIN pick USING (user_id)
        ),
        days AS (
          SELECT CAST(unnest(generate_series(DATE '{start}', DATE '{end}',
                                             INTERVAL 1 DAY)) AS DATE) AS day
        ),
        grid AS (SELECT u.user_id, d.day FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN days d)
        SELECT g.user_id, g.day,
          CAST(SUM(CASE WHEN e.event_date >= g.day - 7 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(CASE WHEN e.event_date IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
          CAST(MIN(g.day - e.event_date) AS INTEGER),
          CAST(CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS VARCHAR)
        FROM grid g
        LEFT JOIN ev e
          ON g.user_id = e.user_id AND e.event_date <= g.day AND e.event_date >= g.day - 30
        GROUP BY g.user_id, g.day
        """
    ).fetchall()
    con.close()
    return {(r[0], r[1]): tuple(r[2:]) for r in rows}


def table_features(vdir: str, users: list[str], start: dt.date, end: dt.date) -> dict:
    con = _con()
    con.execute("CREATE TEMP TABLE pick(user_id VARCHAR)")
    con.executemany("INSERT INTO pick VALUES (?)", [(u,) for u in users])
    rows = con.execute(
        f"""
        SELECT t.user_id, CAST(t.day AS DATE), {", ".join("t." + c for c in FEATURE_COLS)}
        FROM {_table_glob(vdir)} t JOIN pick USING (user_id)
        WHERE CAST(t.day AS DATE) BETWEEN DATE '{start}' AND DATE '{end}'
        """
    ).fetchall()
    con.close()
    out: dict = {}
    for r in rows:
        k = (r[0], r[1])
        out[k] = None if k in out else tuple(r[2:])  # None marks a duplicate row
    return out


def compare_features(expected: dict, actual: dict) -> list[str]:
    problems = []
    for k in sorted(set(expected) | set(actual)):
        e, a = expected.get(k), actual.get(k)
        if e != a:
            problems.append(f"feature row {k}: expected {e}, got {a}")
    return problems[:5]


def check_backfill(events_dir: str, vdir: str, users: list[str], start: dt.date, end: dt.date) -> list[str]:
    return compare_features(
        oracle_features(events_dir, users, start, end),
        table_features(vdir, users, start, end),
    )


def training_rows(train_dir: str) -> list[tuple]:
    con = _con()
    rows = con.execute(
        f"""
        SELECT user_id, label, CAST(as_of_ts AS TIMESTAMP), CAST(day AS DATE)
        FROM read_parquet('{train_dir}/*/*.parquet', hive_partitioning = true)
        """
    ).fetchall()
    con.close()
    return rows


def check_training(rows: list[tuple], labels) -> list[str]:
    """Training rows are exactly the labels, and no feature ``day`` is later
    than the label's ``as_of_ts`` date."""
    problems = []
    want = sorted(
        (u, float(lab), ts.to_pydatetime())
        for u, lab, ts in labels[["user_id", "label", "as_of_ts"]].itertuples(index=False)
    )
    got = sorted((u, float(lab), ts) for u, lab, ts, _ in rows)
    if want != got:
        problems.append(f"training rows differ from labels ({len(got)} vs {len(want)} rows)")
    late = [r for r in rows if r[3] is not None and r[3] > r[2].date()]
    if late:
        problems.append(f"{len(late)} training rows use a feature day after as_of_ts, e.g. {late[0]}")
    return problems


def snapshot(vdir: str, as_of: dt.date) -> dict[str, dict]:
    """user_id -> the JSON document online sync should store for ``as_of``:
    latest row per user with day in [as_of - 7, as_of], nulls omitted."""
    con = _con()
    cols = ["user_id", "day", *FEATURE_COLS]
    rows = con.execute(
        f"""
        SELECT user_id, CAST(day AS DATE) AS day, {", ".join(FEATURE_COLS)}
        FROM {_table_glob(vdir)}
        WHERE CAST(day AS DATE) BETWEEN DATE '{as_of - dt.timedelta(days=LOOKBACK_DAYS)}' AND DATE '{as_of}'
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY day DESC) = 1
        """
    ).fetchall()
    con.close()
    out = {}
    for r in rows:
        doc = {c: (v.isoformat() if isinstance(v, dt.date) else v) for c, v in zip(cols, r)}
        out[r[0]] = {k: v for k, v in doc.items() if v is not None}
    return out


def check_kv(kv_dir: str, expected: dict[str, dict], prefix: str = "features__") -> list[str]:
    """Every key of the snapshot is stored with exactly its snapshot value."""
    problems = []
    for key, doc in expected.items():
        try:
            with open(os.path.join(kv_dir, f"{prefix}{key}.json")) as f:
                got = json.load(f)
        except FileNotFoundError:
            got = None
        if got != doc:
            problems.append(f"online store {key}: expected {doc}, got {got}")
            if len(problems) >= 5:
                break
    return problems


def allowed_versions(syncs: list[tuple[float, float, int]], send: float, done: float) -> list[int]:
    """Indices of the snapshots a read over [send, done] may observe: the
    last sync finished before it was sent, and every sync overlapping it."""
    before = [i for i, (_, end, _) in enumerate(syncs) if end <= send]
    out = before[-1:]
    out += [i for i, (start, end, _) in enumerate(syncs) if start < done and end > send]
    return out


def check_reads(
    rows: list[list],
    keys: list[str],
    absent: set[str],
    syncs: list[tuple[float, float, int]],
    snapshots: dict[int, dict[str, dict]],
) -> list[str]:
    """Every 200 body equals the key's snapshot value in one of the allowed
    snapshots (never a torn or stale payload); a 404 only for absent keys.
    ``syncs`` lists (start, end, snapshot id) of every online sync in the
    window, including the one that filled the store before reads began."""
    problems = []
    for step, k, due, send, done, status, body in rows:
        key = keys[k]
        if status == 404:
            if key not in absent:
                problems.append(f"404 for present key {key}")
            continue
        if status != 200:
            continue  # counted as failed, not as wrong
        if key in absent:
            problems.append(f"200 for absent key {key}")
            continue
        try:
            doc = json.loads(body)
        except ValueError:
            problems.append(f"unparseable body for {key}: {body[:80]!r}")
            continue
        ids = allowed_versions(syncs, send, done)
        ok = doc.get("user_id") == key and any(
            snapshots[syncs[i][2]].get(key) == doc.get("features") for i in ids
        )
        if not ok:
            problems.append(f"body for {key} matches no allowed snapshot: {body[:120]!r}")
        if len(problems) >= 5:
            break
    return problems


def self_test() -> list[str]:
    """Run each checker on a corrupted output; return the checkers that
    failed to notice."""
    missed = []
    d = dt.date(2024, 1, 5)
    good = {("u1", d): (1, 2, 0, "1"), ("u2", d): (0, 3, 9, "2")}
    bad = dict(good)
    bad[("u2", d)] = (0, 4, 9, "2")
    if compare_features(good, dict(good)) or not compare_features(good, bad):
        missed.append("compare_features")
    bad.pop(("u1", d))
    if not compare_features(good, bad):
        missed.append("compare_features (missing row)")

    import pandas as pd

    ts = pd.Timestamp("2024-01-05 10:00:00")
    labels = pd.DataFrame({"user_id": ["u1"], "label": [1.0], "as_of_ts": [ts]})
    ok_rows = [("u1", 1.0, ts.to_pydatetime(), d)]
    leak_rows = [("u1", 1.0, ts.to_pydatetime(), d + dt.timedelta(days=1))]
    if check_training(ok_rows, labels) or not check_training(leak_rows, labels):
        missed.append("check_training (leak)")
    if not check_training(ok_rows + ok_rows, labels):
        missed.append("check_training (duplicate)")

    snaps = {0: {"u1": {"user_id": "u1", "day": "2024-01-05", "event_count_7d": 1}},
             1: {"u1": {"user_id": "u1", "day": "2024-01-06", "event_count_7d": 2}}}
    syncs = [(0.0, 1.0, 0), (5.0, 6.0, 1)]
    keys = ["u1", "x1"]

    def row(k, t, status, features):
        body = json.dumps({"user_id": keys[k], "features": features}) if status == 200 else ""
        return [0, k, t, t, t + 0.01, status, body]

    good_rows = [row(0, 2.0, 200, snaps[0]["u1"]), row(0, 5.5, 200, snaps[1]["u1"]), row(1, 2.0, 404, None)]
    if check_reads(good_rows, keys, {"x1"}, syncs, snaps):
        missed.append("check_reads (false alarm)")
    import tempfile

    with tempfile.TemporaryDirectory() as kv:
        with open(os.path.join(kv, "features__u1.json"), "w") as f:
            json.dump(snaps[0]["u1"], f)
        if check_kv(kv, snaps[0]) or not check_kv(kv, snaps[1]):
            missed.append("check_kv")
    torn = dict(snaps[1]["u1"], event_count_7d=1)
    for name, rows in [
        ("torn", [row(0, 5.5, 200, torn)]),
        ("stale", [row(0, 7.0, 200, snaps[0]["u1"])]),
        ("404 present", [row(0, 2.0, 404, None)]),
    ]:
        if not check_reads(rows, keys, {"x1"}, syncs, snaps):
            missed.append(f"check_reads ({name})")
    return missed


if __name__ == "__main__":
    missed = self_test()
    print("checker self-test:", "ok" if not missed else f"MISSED {missed}")
    raise SystemExit(1 if missed else 0)

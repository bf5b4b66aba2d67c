"""Output checks that run outside the engine, after the JVM client exits.

dashboard: each query's first result equals its `SparkEntry.oracleSql`
run in DuckDB over the same generated tables (values exact, rows in order).
elt_lake: the final snapshot and the CDC mirror equal the logical state
replayed by `gen.lake_plan`, and the view equals a groupBy over the snapshot.
`dashboard` returns (query, message) pairs, `lake` failure messages.
"""
import json
import math
import os

import duckdb
import pandas as pd

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _same(a, b):
    if a is b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def _frames_equal(s, o):
    s = s.reindex(sorted(s.columns), axis=1)
    o = o.reindex(sorted(o.columns), axis=1)
    if list(s.columns) != list(o.columns):
        return f"columns differ: {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"{len(s)} rows, oracle {len(o)}"
    for c in s.columns:
        for i, (x, y) in enumerate(zip(s[c].tolist(), o[c].tolist())):
            if not _same(x, y):
                return f"column {c} row {i}: {x!r} vs oracle {y!r}"
    return None


def dashboard(tables, results):
    """[(query, message)] for every query whose rows differ from DuckDB."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet')")
    with open(f"{results}/oracle_sql.json") as f:
        oracle = json.load(f)
    bad = []
    for q in sorted(oracle):
        d = f"{results}/{q}"
        files = sorted(os.path.join(d, n) for n in os.listdir(d)
                       if n.endswith(".parquet")) if os.path.isdir(d) else []
        if not files:
            bad.append((q, "no result dumped"))
            continue
        try:
            spark = duckdb.connect().execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf()
            want = con.execute(oracle[q]).fetchdf()
        except Exception as e:  # a broken oracle or dump is a failed check
            bad.append((q, f"{type(e).__name__}: {e}"))
            continue
        msg = _frames_equal(spark, want)
        if msg:
            bad.append((q, msg))
    return bad


def lake(results, seed, cfg, rounds):
    """Failure messages for the final snapshot, mirror and view."""
    state = gen.lake_plan(None, seed, cfg["seed_rows"], rounds,
                          cfg["append"], cfg["upsert"], cfg["delete"])
    want = sorted(state.values())
    con = duckdb.connect()
    bad = []

    def rows(name):
        return [tuple(r) for r in con.execute(
            f"SELECT event_id, user_id, event_type, value FROM "
            f"read_parquet('{results}/{name}/*.parquet') ORDER BY event_id"
        ).fetchall()]

    for name in ("snapshot", "mirror"):
        got = rows(name)
        if got != want:
            diff = next((f"{a} vs {b}" for a, b in zip(got, want) if a != b),
                        "one is a prefix of the other")
            bad.append(f"{name}: {len(got)} rows, expected {len(want)}; {diff}")
    view = {r[0]: r[1:] for r in con.execute(
        f"SELECT event_type, n_rows, cnt_value, sum_value FROM "
        f"read_parquet('{results}/view/*.parquet')").fetchall()}
    direct = {r[0]: (r[1], r[2], None if r[3] is None else float(r[3]))
              for r in con.execute(
        f"SELECT event_type, count(*), count(value), "
        f"sum(CAST(value AS DECIMAL(18,2))) FROM "
        f"read_parquet('{results}/snapshot/*.parquet') GROUP BY 1").fetchall()}
    if view != direct:
        bad.append(f"view {view} differs from groupBy over the snapshot {direct}")
    return bad

"""Output checks, run by DuckDB over the same parquet the engine read.

Each check returns `(attempted, failed, detail)`: a wrong result counts in
`failed` exactly like an operation that threw.
"""

import hashlib
import os
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Analytics.cleaningRules in SQL, in order, with the engine's sequential
# attribution: a row counts against the first rule it fails, and a NULL
# predicate fails.
CLEANING_RULES = [
    ("nulls", "l_orderkey IS NOT NULL AND l_quantity IS NOT NULL "
              "AND l_extendedprice IS NOT NULL AND l_shipdate IS NOT NULL"),
    ("quantity", "l_quantity > 0"),
    ("price_pos", "l_extendedprice > 0"),
    ("price_cap", "l_extendedprice <= 100000"),
    ("discount", "l_discount BETWEEN 0.0 AND 1.0"),
]
EVENT_CRITICAL = ["ts", "user_id", "event_type", "value"]


def connect(data_dir, where=None):
    """A DuckDB connection with one view per corpus table; `where` maps a
    table to a filter its view applies."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
                    + (f" WHERE {where[t]}" if where and t in where else ""))
    return con


def digest(con, sql):
    """(row count, sorted column names, order-independent sha256) of a
    query result; values compared as text, columns sorted by name."""
    df = con.execute(sql).fetchdf()
    cols = sorted(df.columns)
    rows = sorted(map(tuple, df[cols].astype(str).values.tolist()))
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return len(rows), cols, h


def parquet_sql(path):
    return f"SELECT * FROM read_parquet('{path}/**/*.parquet')"


def expected_accounting(con):
    passed, exprs = [], []
    for name, pred in CLEANING_RULES:
        earlier = " AND ".join(f"coalesce({p}, false)" for p in passed) or "true"
        exprs.append(f"count(*) FILTER (WHERE ({earlier}) AND NOT coalesce({pred}, false))"
                     f" AS removed_{name}")
        passed.append(pred)
    row = con.execute(
        f"SELECT count(*) AS rows_in, {', '.join(exprs)}, count(*) FILTER (WHERE "
        f"{' AND '.join(f'coalesce({p}, false)' for p in passed)}) AS rows_out "
        "FROM lineitem").fetchdf().iloc[0].to_dict()
    acc = {k: int(v) for k, v in row.items()}
    acc["removed_total"] = sum(v for k, v in acc.items() if k.startswith("removed_"))
    return acc


def check_pipeline(data_dir, record):
    """Every op's accounting must equal DuckDB's; the last op's feeds must
    equal the Analytics oracles over the cleaned inputs, and each JSON twin
    must hold its parquet feed's rows."""
    ops = record["ops"]
    with connect(data_dir) as con:
        want = expected_accounting(con)
    failed = {i for i, o in enumerate(ops) if "error" in o or o.get("accounting") != want}
    chk = record["checks"]
    feed_oracle = {"top_parts": "q05_top_parts", "hourly_avg": "q06_hourly_avg",
                   "heatmap": "q11_heatmap", "metric_tiles": "q12_global_metrics",
                   "histogram": "q13_histogram", "payment_pie": "q15_value_counts"}
    bad = []
    # the feeds read the clean tables: run the oracles over the cleaned rows
    cleaned = {"lineitem": " AND ".join(p for _, p in CLEANING_RULES),
               "events": " AND ".join(f"{c} IS NOT NULL" for c in EVENT_CRITICAL)}
    with connect(data_dir, cleaned) as con:
        for feed, oracle in feed_oracle.items():
            path = os.path.join(chk["out"], "feeds", feed)
            got = digest(con, parquet_sql(path))
            if got != digest(con, chk["oracles"][oracle]):
                bad.append(feed)
            twin = con.execute(
                f"SELECT count(*) FROM read_json_auto('{path}_json/*.json')").fetchone()[0]
            if twin != got[0]:
                bad.append(feed + "_json")
    if bad:
        failed.add(len(ops) - 1)
    return len(ops), len(failed), {"accounting": want, "bad_feeds": bad}


def check_dashboard(data_dir, record):
    """Every interaction's typeSummary must equal the pf3 oracle text for
    its widget state, run by DuckDB over the raw events."""
    ops = record["ops"]
    failed = {i for i, o in enumerate(ops) if "error" in o}
    summaries = record["checks"]
    mismatched = 0
    # summaries hold the ops that returned, in op order
    done = [i for i, o in enumerate(ops) if "error" not in o]
    with connect(data_dir) as con:
        for i, s in zip(done, summaries):
            want = [list(r) for r in con.execute(s["sql"]).fetchall()]
            if want != s["rows"]:
                failed.add(i)
                mismatched += 1
    return len(ops), len(failed), {"interactions_checked": len(summaries),
                                   "mismatched": mismatched}


def check_registry(data_dir, record):
    """Per query: the output the first pass wrote must equal its oracle's
    digest where the query has one, and every later pass must count the
    same rows. A failed query fails its execution in every pass."""
    ops = record["ops"]
    outputs = record["checks"]
    failed_queries, detail = set(), {}
    con = connect(data_dir)
    for name, out in outputs.items():
        t0 = time.time()
        rows, cols, h = digest(con, parquet_sql(out["dir"]))
        counts = {q[4] for o in ops for q in o.get("queries", [])
                  if q[0] == name and q[4] is not None}
        ok = counts <= {rows} and rows > 0
        oracle = "none"
        if out["oracle"] is not None:
            oracle = "match" if digest(con, out["oracle"]) == (rows, cols, h) else "MISMATCH"
            ok = ok and oracle == "match"
        detail[name] = {"rows": rows, "digest": h[:16], "oracle": oracle, "ok": ok,
                        "check_s": round(time.time() - t0, 3)}
        if not ok:
            failed_queries.add(name)
    con.close()
    per_pass = len(outputs)
    failed = sum(per_pass if "error" in o else
                 sum(1 for q in o["queries"] if q[0] in failed_queries) for o in ops)
    return len(ops) * per_pass, failed, detail

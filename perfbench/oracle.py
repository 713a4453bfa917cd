"""DuckDB oracle for the queries workload, with the row comparison of
tools/check_oracle.py: each query's Spark result (a parquet directory) is
compared with its oracle SQL run in DuckDB over the same tables, after
sorting columns by name and rows by value."""
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import canon  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def check(results_dir, oracle_json, data_dir):
    """Returns a list of (query, ok, detail), one per oracle entry."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(oracle_json) as f:
        oracles = json.load(f)
    out = []
    for name, sql in sorted(oracles.items()):
        res = os.path.join(results_dir, name)
        if not os.path.isdir(res):
            out.append((name, False, "no Spark result"))
            continue
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{res}/*.parquet')")
            scols = [d[0] for d in s.description]
            srows = s.fetchall()
            d = con.execute(sql)
            dcols = [x[0] for x in d.description]
            drows = d.fetchall()
        except Exception as e:  # a failing oracle is a failed check, not a crash
            out.append((name, False, f"error: {e}"))
            continue
        sc, scn = canon(srows, scols)
        dc, dcn = canon(drows, dcols)
        if scn != dcn:
            out.append((name, False, f"columns spark={scn} duckdb={dcn}"))
        elif sc != dc:
            out.append((name, False, f"rows spark={len(sc)} duckdb={len(dc)}"))
        else:
            out.append((name, True, f"{len(sc)} rows"))
    return out
